#!/usr/bin/env python3
"""graft layered benchmark: one workload, one fresh JVM, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft and the
harness from source and prepares the inputs under the work directory
(`$CARGO_TARGET_DIR`, default `.bench_build`); later runs reuse them.
The harness JVM runs set-up, a cold pass and steady passes for
`--seconds`, then writes each query's result for the DuckDB oracle
check. With `--trace 1` it also reads Spark's listener, query-execution
and codegen counters and the run reports per-layer metrics instead of
end-to-end ones. See perfbench/README.md.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. The exit code is 0 only when every query ran and matched its
oracle; a checkout that cannot be built exits 2 without a result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

from bench import build, datagen, metrics, oracle  # noqa: E402

# Input scale per workload: star tables at `sf` (sf 1 = 6M lineitem rows)
# and `n_docs` corpus documents. See README.md for why these sizes.
WORKLOADS = {
    "retail_elt": {"sf": 0.01, "n_docs": 500},
    "corpus": {"sf": 0.01, "n_docs": 1000},
}
SETUPS = 5
MIN_STEADY = 2
HEAP = "3g"
DEADLINE_S = 150  # the harness JVM is stopped after this long


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _stop(proc):
    """Stop the JVM's process group and wait until it has ended."""
    if proc.poll() is not None:
        return
    os.killpg(proc.pid, signal.SIGTERM)
    try:
        proc.wait(timeout=10)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def run_jvm(cmd, cwd, out_path, timeout):
    """Run one JVM to completion; stop it at `timeout` (returning None) or
    when this process is interrupted or terminated."""
    with open(out_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            _stop(proc)


def harness_args(workload, data, out, oracle_out, seconds, trace, min_steady, setups,
                 launched_ms=None):
    args = ["--workload", workload, "--data", data, "--out", out,
            "--oracle-out", oracle_out, "--seconds", str(seconds), "--trace", str(trace),
            "--setups", str(setups), "--min-steady", str(min_steady)]
    if launched_ms is not None:
        args += ["--launched-ms", repr(launched_ms)]
    return args


def ensure_archive(classpath, work, workload, log_config):
    """A class-data-sharing archive of the classes one pass of `workload`
    loads, made once per build by a short untimed run on seed-0 inputs,
    so every timed JVM starts from the same mapped class set."""
    archive = os.path.join(work, "build", f"cds-{workload}.jsa")
    if os.path.exists(archive):
        return archive
    cfg = WORKLOADS[workload]
    data = os.path.join(work, "data", f"{workload}-prime")
    datagen.ensure(data, 0, cfg["sf"], cfg["n_docs"])
    rundir = os.path.join(work, "runs", f"prime-{workload}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(os.path.join(rundir, "tmp"))
    cmd = build.java_command(
        classpath, "perfbench.Harness",
        harness_args(workload, data, os.path.join(rundir, "result.json"),
                     os.path.join(rundir, "oracle"), 0, 0, 0, 1),
        heap=HEAP, tmp=os.path.join(rundir, "tmp"), archive=archive + ".tmp",
        create_archive=True, log_config=log_config)
    code = run_jvm(cmd, rundir, os.path.join(rundir, "jvm.log"), 600)
    if code == 0 and os.path.exists(archive + ".tmp"):
        os.rename(archive + ".tmp", archive)
        shutil.rmtree(rundir, ignore_errors=True)
        return archive
    log(f"class-data-sharing archive for {workload} not made (exit {code}); running without it")
    return None


def summarize(workload, seed, trace, values, result, failed, attempted, verdicts):
    """The human-readable report, to stdout ahead of the result line."""
    print(f"perfbench {workload} seed={seed} trace={trace}")
    for name, (value, unit, n) in values.items():
        print(f"  {name:<26} {value:>12.4f} {unit:<6} n={n}")
    if not trace:
        p90, n = metrics.percentile(metrics.steady_latencies_ms(result), 90)
        print(f"  {'query_p90_ms':<26} {p90:>12.4f} {'ms':<6} n={n} "
              f"(untracked: {n * 0.1:.1f} samples above it, fewer than 10)")
    frac, base = metrics.failed_frac(failed, attempted)
    print(f"  {'failed_frac':<26} {frac:>12.4f} ratio  n={base} ({failed} failed)")
    ok = sum(1 for v in verdicts.values() if v is None)
    print(f"  oracle: {ok}/{len(verdicts)} queries match")
    for q, v in sorted(verdicts.items()):
        if v is not None:
            print(f"    MISMATCH {q}: {v}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops and waits for its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    work = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    log_config = os.path.join(HERE, "harness", "log4j2.properties")
    try:
        classpath = build.build(root, work)
        archive = ensure_archive(classpath, work, a.workload, log_config)
    except (build.BuildError, OSError) as e:
        log(f"cannot build the benchmark here: {e}")
        return 2

    cfg = WORKLOADS[a.workload]
    data = os.path.join(work, "data", f"{a.workload}-s{a.seed}")
    manifest = datagen.ensure(data, a.seed, cfg["sf"], cfg["n_docs"])
    log(f"inputs {data}: " + ", ".join(
        f"{t}={e['rows']}" for t, e in sorted(manifest["tables"].items())))

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    rundir = os.path.join(work, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(os.path.join(rundir, "tmp"))
    result_path = os.path.join(rundir, "result.json")
    oracle_out = os.path.join(rundir, "oracle")
    launched_ms = time.time() * 1e3
    cmd = build.java_command(
        classpath, "perfbench.Harness",
        harness_args(a.workload, data, result_path, oracle_out, a.seconds, a.trace,
                     MIN_STEADY, SETUPS, launched_ms),
        heap=HEAP, tmp=os.path.join(rundir, "tmp"), archive=archive, log_config=log_config)
    jvm_log = os.path.join(rundir, "jvm.log")
    code = run_jvm(cmd, rundir, jvm_log, DEADLINE_S)
    jvm_s = time.time() - launched_ms / 1e3
    if code != 0 or not os.path.exists(result_path):
        with open(jvm_log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        log(f"harness JVM failed (exit {code}); log kept at {jvm_log}")
        return 2
    with open(result_path) as f:
        result = json.load(f)

    t0 = time.time()
    verdicts = oracle.check(root, data, oracle_out, result["queries"])
    log(f"harness JVM {jvm_s:.1f} s, oracle check {time.time() - t0:.1f} s")
    mismatches = sum(1 for v in verdicts.values() if v is not None)
    failures = result["failures"]
    attempted = int(result["attempted"]) + len(verdicts)
    failed = len(failures) + mismatches
    values = metrics.per_layer(result) if a.trace else metrics.end_to_end(result)
    residuals = [metrics.residual_frac(p) for p in metrics.passes(result["spans"])]
    if a.trace and max(residuals) > metrics.RESIDUAL_BOUND:
        failures.append(f"spans leave {max(residuals):.3%} of a pass unexplained "
                        f"(bound {metrics.RESIDUAL_BOUND:.0%})")
        failed += 1
    correct = failed == 0

    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    with open(os.path.join(work, "results", f"{tag}.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "metrics": {k: {"value": v, "unit": u, "n": n}
                               for k, (v, u, n) in values.items()},
                   "failures": failures, "oracle": verdicts}, f, indent=1)
    with open(os.path.join(work, "results", f"spans-{tag}.json"), "w") as f:
        json.dump([{k: s[k] for k in ("name", "kind", "module", "workload", "pass",
                                      "parent", "start_ms", "end_ms", "ok", "layer")}
                   for s in result["spans"]], f)
    shutil.rmtree(rundir, ignore_errors=True)

    summarize(a.workload, a.seed, a.trace, values, result, failed, attempted, verdicts)
    for msg in failures:
        print(f"  FAILED {msg}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, n) in values.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
