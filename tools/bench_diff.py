#!/usr/bin/env python3
"""Bench regression diff: compare Bench JSON lines (BENCH_LOCAL.json /
BENCH_r*.json) and flag per-query regressions.

Two-file mode (back-compat):
    bench_diff.py BASE.json NEW.json [--ratio 1.5] [--min-sec 0.5]

Multi-run median mode (the round-9/10 adjudication discipline, now a
flag instead of a by-hand argument):
    bench_diff.py base1.json base2.json ... --vs new1.json new2.json ...
                  [--solo=<dir of solo run*.json receipts>]

In median mode each side collapses to per-query MEDIANS first, and every
flagged query gets an explicit verdict (the r15 refinement of the r14
two-way split, which mislabeled moved medians as "median clean"):
  REGRESSION (reproduces k/n) -- the regression holds in at least half
      of the new runs individually, not just in the median. Since r18 a
      reproduced flag may be adjudicated by the SAME-code A/B the DRIFT
      class uses, but only the symmetric receipt pair (--solo AND
      --solo-base, interleaved on the same box) can clear it: solo-new
      wash-or-faster vs solo-base prints "adjudicated host drift" and
      passes; still-over CONFIRMS and fails; a lone --solo never clears
      a reproduced flag. r19 tightening (r18 ADVICE): the clear needs
      >= 2 runs per side (per-run values are printed), and a solo A/B
      that PARTIALLY reproduces (drift-ratio <= s/sb < gate) keeps the
      flag as corroborated. LIMITATION, by design: the solo cell runs
      only the flagged queries (SPARK_GRAFT_BENCH_ONLY), so a regression
      that exists only under full-suite context -- memory pressure,
      session-cache lifecycle interactions (the r5 q80/q81 tail) -- runs
      clean solo on both sides; such suspects need suite-level receipts
      (gc_sec, storage occupancy), not a solo clear.
  DRIFT (median moved) -- the median crossed the threshold with fewer
      than half the runs individually over it, OR sits above
      --drift-ratio (default 1.25) with EVERY run elevated (the
      consistent sub-gate movement the old gate mislabeled). NOT
      adjudicable from these runs alone: attach a solo re-run receipt
      via --solo=<dir> (run*.json files from a quiet-box
      SPARK_GRAFT_BENCH_ONLY run of the drifted queries). A solo median
      back inside the threshold prints DRIFT-adjudicated (host) and
      passes; a solo median still over escalates to REGRESSION; no solo
      data leaves the DRIFT unadjudicated and FAILS the gate -- the
      receipt is mandatory, not optional. With --solo-base a DRIFT gets
      the REGRESSION class's same-code A/B (one shared ladder: >= 2 runs
      per side and a positive solo-base median, or the flag stands),
      except that a PARTIAL reproduction clears it as a watch item.
  HOST-STALL (spikes k/n, median clean) -- one-off spikes: some run(s)
      exceed the threshold but the median does not. Not a code problem;
      re-run on a quiet box instead of re-litigating.
A query is flagged when newMed/baseMed >= ratio AND newMed-baseMed >=
min-sec (the min-sec floor keeps 0.1s->0.2s planner jitter out of the
report). Exits 1 on reproduced REGRESSIONs and unadjudicated or
solo-confirmed DRIFTs, so it can gate a commit.

Noise guards: a run whose gc_sec > 5% of value, or whose wall_sec exceeds
value by > 30%, is labeled CONTENDED -- treat its numbers as upper bounds
(SCALE.md benchmark-number caveat).
"""
import glob, json, os, statistics, sys


def load(path):
    with open(path) as f:
        for line in f:
            line = line.strip()
            i = line.find("{")
            if i >= 0:
                return json.loads(line[i:])
    raise SystemExit(f"{path}: no JSON line found")


def contended(b):
    val, gc, wall = b.get("value", 0), b.get("gc_sec", 0), b.get("wall_sec", 0)
    notes = []
    if val and gc > 0.05 * val:
        notes.append(f"gc_sec={gc:.1f} (> 5% of {val:.1f})")
    if val and wall > 1.3 * val:
        notes.append(f"wall_sec={wall:.1f} (> 1.3x value {val:.1f})")
    return notes


def report_errors_contention(label, runs):
    for i, b in enumerate(runs):
        tag = f"{label}[{i}]" if len(runs) > 1 else label
        for q, e in (b.get("errors") or {}).items():
            print(f"{tag} ERROR {q}: {e}")
        for note in contended(b):
            print(f"{tag} CONTENDED: {note}")


def per_run_values(runs):
    per_run = {}
    for b in runs:
        for q, v in b.get("queries", {}).items():
            per_run.setdefault(q, []).append(v)
    return per_run


def medians(runs):
    return {q: statistics.median(v) for q, v in per_run_values(runs).items()}


def fmt_runs(vals):
    return "[" + ", ".join(f"{v:.2f}" for v in vals) + "]"


# r18: the same-code A/B adjudication DRIFT gets applies to reproduced
# REGRESSIONs too, with the SAME criteria -- previously a host-window
# regression that reproduced in-suite could only be cleared by hand
# (the r17 judge did exactly that for 45 flags). Solo-new vs
# solo-base on the same box IS the stronger evidence: if the flagged
# query runs wash-or-faster on current code interleaved against the
# base worktree, the in-suite flag was the window, not the code.
# Requires BOTH receipts (--solo and --solo-base); a lone --solo is
# not accepted for a REGRESSION (a suite-vs-solo comparison can hide a
# real regression behind the session-cache asymmetry, so only the
# symmetric A/B may clear a reproduced flag).
# r19 (ADVICE r18): clearing via the solo A/B needs >= 2 interleaved
# runs per side (a 1v1 solo cell is one host-window sample, not an
# A/B) and prints the per-run values. A non-positive solo-base median
# is a corrupt receipt and clears nothing either. Caveat printed with
# every solo clear: the solo cell runs only the flagged queries, so a
# regression that manifests only under full-suite context (memory
# pressure, session-cache lifecycle like the r5 q80/q81 tail) runs
# clean solo on both sides and is NOT clearable this way -- corroborate
# suite-context suspects with suite-level receipts (gc_sec,
# storage-pool occupancy).
SOLO_CTX_CAVEAT = ("(caveat: solo cells can't clear suite-context-"
                   "dependent regressions -- see --help)")


def solo_ab(kind, head, r, sr, sbr, ratio, drift_ratio, min_sec):
    """The solo same-code A/B ladder for one flagged query of class
    `kind` ("REGRESSION" or "DRIFT"): `sr`/`sbr` are the per-run solo
    values on new/base code. Returns (flag_stands, verdict_line). A
    PARTIAL reproduction (drift-ratio <= s/sb < gate) corroborates a
    REGRESSION (it stands) but clears a DRIFT as a watch item."""
    if len(sr) < 2 or len(sbr) < 2:
        return True, (f"{head} -- solo receipts too thin to adjudicate "
                      f"(need >= 2 runs/side, have {len(sr)}/{len(sbr)}): "
                      f"{kind} stands")
    s, sb = statistics.median(sr), statistics.median(sbr)
    detail = (f"solo new {s:.2f}s {fmt_runs(sr)} vs solo base-code "
              f"{sb:.2f}s {fmt_runs(sbr)}")
    if sb <= 0:
        return True, (f"{head} -- solo base-code median is not positive "
                      f"({detail}): receipt unusable, {kind} stands")
    if s / sb >= min(r, ratio) and s - sb >= min_sec:
        return True, f"{head} -- same-code A/B CONFIRMS ({detail}): REGRESSION"
    if s / sb >= drift_ratio and s - sb >= min_sec:
        if kind == "REGRESSION":
            return True, (f"{head} -- same-code A/B PARTIALLY reproduces "
                          f"({detail}, {s / sb:.2f}x -- between drift-ratio "
                          f"and gate): corroborating evidence, REGRESSION "
                          f"stands")
        return False, (f"{head} -- same-code A/B PARTIAL ({detail}, "
                       f"{s / sb:.2f}x -- between drift-ratio and gate): "
                       f"cleared as drift, but treat as a watch item")
    return False, (f"{head} -- same-code A/B clean ({detail}): "
                   f"adjudicated host drift {SOLO_CTX_CAVEAT}")


def compare(base_runs, new_runs, solo=(), solo_base=(), ratio=1.5,
            min_sec=0.5, drift_ratio=1.25, out=print):
    """Median-mode verdicts over in-memory receipts (one dict per run;
    `solo`/`solo-base` are the --solo/--solo-base run receipts). Prints
    through `out`; returns (regression_failures, drift_failures)."""
    report_errors_contention("BASE", base_runs)
    report_errors_contention("NEW", new_runs)
    bq, nq = medians(base_runs), medians(new_runs)

    added = sorted(set(nq) - set(bq))
    removed = sorted(set(bq) - set(nq))
    if added:
        out(f"added ({len(added)}): {', '.join(added)}")
    if removed:
        out(f"removed ({len(removed)}): {', '.join(removed)}")

    solo_meds = medians(solo)
    # --solo-base: the SAME queries run solo with the BASE code on the
    # SAME box (git worktree at the base commit). Solo runs pay costs a
    # full-suite run amortizes elsewhere (session caches), so solo-new
    # vs suite-base is apples-to-oranges; solo-new vs solo-base is the
    # same-code-shape A/B that actually separates box drift from a code
    # regression. Preferred over the plain solo comparison when present.
    solo_runs, solo_base_runs = per_run_values(solo), per_run_values(solo_base)

    shared = sorted(set(bq) & set(nq))
    reproduced, drifts, stalls, improvements = [], [], [], []
    for q in shared:
        b, n = bq[q], nq[q]
        per_run = [r["queries"][q] for r in new_runs if q in r.get("queries", {})]
        over = sum(1 for v in per_run if b > 0 and v / b >= ratio and v - b >= min_sec)
        consistent = bool(per_run) and all(v > b for v in per_run)
        if b > 0 and n / b >= ratio and n - b >= min_sec:
            if len(per_run) == 1 or over * 2 >= len(per_run):
                reproduced.append((n / b, q, b, n, over, len(per_run)))
            else:
                drifts.append((n / b, q, b, n, over, len(per_run)))
        elif b > 0 and n / b >= drift_ratio and n - b >= min_sec and consistent:
            # the q130 class: under the full gate, but EVERY run sits above
            # base -- that is a moved median, not a spike, and saying
            # "median clean" would be false. Adjudicate with a solo receipt.
            drifts.append((n / b, q, b, n, over, len(per_run)))
        elif over:
            stalls.append((max(per_run) / b, q, b, n, over, len(per_run)))
        elif n > 0 and b / n >= ratio and b - n >= min_sec:
            improvements.append((b / n, q, b, n))
    regression_failures = []
    for r, q, b, n, k, t in sorted(reproduced, reverse=True):
        head = f"REGRESSION {q}: {b:.2f}s -> {n:.2f}s ({r:.1f}x, reproduces {k}/{t})"
        if q in solo_runs and q in solo_base_runs:
            stands, line = solo_ab("REGRESSION", head, r, solo_runs[q],
                                   solo_base_runs[q], ratio, drift_ratio, min_sec)
            if stands:
                regression_failures.append(q)
            out(line)
        else:
            regression_failures.append(q)
            out(head)
    drift_failures = []
    for r, q, b, n, k, t in sorted(drifts, reverse=True):
        head = (f"DRIFT {q}: median {b:.2f}s -> {n:.2f}s "
                f"({r:.1f}x, reproduces only {k}/{t})")
        if q in solo_runs and q in solo_base_runs:
            stands, line = solo_ab("DRIFT", head, r, solo_runs[q],
                                   solo_base_runs[q], ratio, drift_ratio, min_sec)
            if stands:
                drift_failures.append(q)
            out(line)
        elif q in solo_meds:
            s = solo_meds[q]
            if b > 0 and s / b >= min(r, ratio) and s - b >= min_sec:
                drift_failures.append(q)
                out(f"{head} -- solo receipt CONFIRMS ({s:.2f}s vs base "
                    f"{b:.2f}s): REGRESSION (caveat: a solo run pays "
                    f"session-cache fills the suite amortizes -- prefer "
                    f"--solo-base for a same-code A/B)")
            else:
                out(f"{head} -- solo receipt clean ({s:.2f}s vs base "
                    f"{b:.2f}s): adjudicated host drift")
        else:
            drift_failures.append(q)
            out(f"{head} -- UNADJUDICATED: no solo receipt (--solo=<dir> "
                f"with a quiet SPARK_GRAFT_BENCH_ONLY={q} run)")
    for r, q, b, n, k, t in sorted(stalls, reverse=True):
        out(f"HOST-STALL {q}: spikes {k}/{t}; median {n:.2f}s vs base "
            f"{b:.2f}s ({n / b:.2f}x, under the gate, runs straddle base) "
            f"-- re-run quiet, not a code verdict")
    for r, q, b, n in sorted(improvements, reverse=True):
        out(f"improved   {q}: {b:.2f}s -> {n:.2f}s ({r:.1f}x faster)")

    tb = sum(bq[q] for q in shared)
    tn = sum(nq[q] for q in shared)
    out(f"shared {len(shared)} queries ({len(base_runs)} base / "
        f"{len(new_runs)} new runs, medians): base {tb:.1f}s -> new {tn:.1f}s "
        f"({tn / tb:.2f}x)" if tb else "no shared queries")
    return regression_failures, drift_failures


def main():
    argv = sys.argv[1:]
    opts = dict(a.lstrip("-").split("=", 1) if "=" in a else (a.lstrip("-"), True)
                for a in argv if a.startswith("--") and a != "--vs")
    paths = [a for a in argv if not a.startswith("--") or a == "--vs"]
    if "--vs" in paths:
        cut = paths.index("--vs")
        base_paths, new_paths = paths[:cut], paths[cut + 1:]
    else:
        if len(paths) != 2:
            raise SystemExit(__doc__)
        base_paths, new_paths = paths[:1], paths[1:]
    if not base_paths or not new_paths:
        raise SystemExit(__doc__)

    def solo_dir(key):
        if key in opts and opts[key] is not True:
            files = sorted(glob.glob(os.path.join(opts[key], "run*.json")))
            if not files:
                raise SystemExit(f"--{key}={opts[key]}: no run*.json receipts")
            return [load(p) for p in files]
        return []
    regression_failures, drift_failures = compare(
        [load(p) for p in base_paths], [load(p) for p in new_paths],
        solo=solo_dir("solo"), solo_base=solo_dir("solo-base"),
        ratio=float(opts.get("ratio", 1.5)),
        min_sec=float(opts.get("min-sec", 0.5)),
        drift_ratio=float(opts.get("drift-ratio", 1.25)))
    sys.exit(1 if (regression_failures or drift_failures) else 0)


if __name__ == "__main__":
    main()
