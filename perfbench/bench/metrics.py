"""Benchmark metrics from the harness's span file.

The harness records spans (name, kind, module, pass, parent, start_ms,
end_ms) and, in a traced run, each query span's layer counters. This
module turns them into the end-to-end metrics (every run) and the
per-layer metrics (traced runs). Per-layer values are computed per
steady pass and reported as the median over steady passes.
"""
import statistics

# graft module span -> per-layer metric name
MODULE_METRICS = {
    "io.ingest": "io.ingest_s",
    "preprocess": "preprocess_s",
    "model.star_fill": "model.star_fill_s",
    "checks.gate": "checks.gate_s",
    "report": "report.s",
    "ops.window": "ops.window_s",
    "ops.topk": "ops.topk_s",
    "ops.agg": "ops.agg_s",
    "dedup.neardup": "dedup.neardup_s",
    "dedup.containment": "dedup.containment_s",
    "text": "text.s",
    "sim.ssjoin": "sim.ssjoin_s",
    "functions.fingerprint": "functions.fingerprint_s",
}

# summed query-span layer counters -> per-layer metric name and unit
LAYER_SUMS = [
    ("plan_s", "plan.phases_s", "s"),
    ("compile_s", "codegen.compile_s", "s"),
    ("compiles", "codegen.classes", "count"),
    ("jobs", "sched.jobs", "count"),
    ("stages", "sched.stages", "count"),
    ("tasks", "sched.tasks", "count"),
    ("run_s", "exec.run_s", "s"),
    ("cpu_s", "exec.cpu_s", "s"),
    ("gc_s", "exec.gc_s", "s"),
    ("shuffle_write_mb", "shuffle.write_mb", "MB"),
    ("shuffle_read_mb", "shuffle.read_mb", "MB"),
    ("fetch_wait_s", "shuffle.fetch_wait_s", "s"),
    ("spill_mb", "spill.mb", "MB"),
    ("input_mb", "scan.input_mb", "MB"),
    ("output_mb", "output.mb", "MB"),
]

# the largest share of a traced pass its spans may leave unexplained
RESIDUAL_BOUND = 0.02


def percentile(values, q):
    """The q-th percentile (0-100) by linear interpolation between the
    closest ranks, and the number of samples it rests on."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), len(xs)


def interval_union(intervals, lo, hi):
    """Length of the union of [a, b] intervals after clipping to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in clipped:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def failed_frac(failed, attempted):
    """Failed operations over attempted ones; the base is returned too."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    return failed / attempted, attempted


def slot_util(run_s, threads, wall_s):
    """Executor run time as a share of the task slots the pass held."""
    return run_s / (threads * wall_s) if wall_s > 0 else 0.0


def duration_s(span):
    return (span["end_ms"] - span["start_ms"]) / 1e3


def passes(spans):
    """Per pass: the pass span and the spans it parents, by pass index."""
    out = {}
    for s in spans:
        if s["kind"] in ("cold", "steady"):
            out.setdefault(s["pass"], {"children": []})["span"] = s
    for s in spans:
        if s["parent"].startswith("pass") and s["pass"] in out:
            out[s["pass"]]["children"].append(s)
    return [out[k] for k in sorted(out)]


def steady_latencies_ms(result):
    """Every query latency of the steady passes, in ms."""
    return [duration_s(c) * 1e3 for p in passes(result["spans"])
            if p["span"]["kind"] == "steady"
            for c in p["children"] if c["kind"] == "query"]


def end_to_end(result):
    """name -> (value, unit, samples) for every end-to-end metric."""
    spans = result["spans"]
    ps = passes(spans)
    steady = [p for p in ps if p["span"]["kind"] == "steady"]
    if not ps or not steady:
        raise ValueError("the run has no cold and steady passes")
    setups = [duration_s(s) for s in spans if s["kind"] == "setup"]
    p50, n = percentile(steady_latencies_ms(result), 50)
    return {
        "setup_s": (statistics.median(setups), "s", len(setups)),
        "cold_s": (duration_s(ps[0]["span"]), "s", 1),
        "pass_s": (statistics.median(duration_s(p["span"]) for p in steady), "s", len(steady)),
        "query_p50_ms": (p50, "ms", n),
        "live_heap_mb": (result["live_heap_mb"], "MB", 1),
    }


def _pass_layers(p, jobs, threads):
    """Per-layer values of one traced pass."""
    wall = duration_s(p["span"])
    kids = p["children"]
    drain = sum(duration_s(c) for c in kids if c["kind"] == "trace")
    busy = wall - drain
    queries = [c for c in kids if c["kind"] == "query"]
    v = {m: 0.0 for m in MODULE_METRICS.values()}
    for q in queries:
        if q["module"] in MODULE_METRICS:
            v[MODULE_METRICS[q["module"]]] += duration_s(q)
    for key, name, _ in LAYER_SUMS:
        v[name] = sum(q["layer"].get(key, 0.0) for q in queries)
    releases = [c for c in kids if c["kind"] == "release"]
    v["cache.release_s"] = sum(duration_s(c) for c in releases)
    v["cache.live_entries"] = max([c["extra"].get("live_entries", 0.0) for c in releases] + [0.0])
    in_jobs = interval_union(jobs, p["span"]["start_ms"], p["span"]["end_ms"]) / 1e3
    v["driver.outside_jobs_s"] = max(busy - in_jobs, 0.0)
    v["sched.tasks_per_job"] = v["sched.tasks"] / v["sched.jobs"] if v["sched.jobs"] else 0.0
    v["exec.slot_util"] = slot_util(v["exec.run_s"], threads, busy)
    v["storage.peak_mb"] = max([q["layer"].get("storage_peak_mb", 0.0) for q in queries] + [0.0])
    v["spans.residual_frac"] = residual_frac(p)
    v["trace.pass_s"] = busy
    v["trace.drain_s"] = drain
    return v


def residual_frac(p):
    """Share of a pass's wall time not covered by its child spans."""
    wall = duration_s(p["span"])
    covered = sum(duration_s(c) for c in p["children"])
    return abs(wall - covered) / wall if wall > 0 else 0.0


def layer_units():
    units = {m: "s" for m in MODULE_METRICS.values()}
    units.update({name: unit for _, name, unit in LAYER_SUMS})
    units.update({
        "cache.release_s": "s", "cache.live_entries": "count",
        "driver.outside_jobs_s": "s", "sched.tasks_per_job": "count",
        "exec.slot_util": "ratio", "storage.peak_mb": "MB",
        "spans.residual_frac": "ratio", "trace.pass_s": "s", "trace.drain_s": "s",
    })
    return units


def per_layer(result):
    """name -> (value, unit, samples): medians over the traced steady passes."""
    steady = [p for p in passes(result["spans"]) if p["span"]["kind"] == "steady"]
    if not steady:
        raise ValueError("the run has no steady passes")
    threads = int(result["threads"])
    rows = [_pass_layers(p, result["jobs"], threads) for p in steady]
    return {name: (statistics.median(r[name] for r in rows), unit, len(rows))
            for name, unit in layer_units().items()}
