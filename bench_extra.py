"""Query benchmark for the optimization rounds (bench.py is FROZEN for
measurement — this file is where iteration happens; see guide §1.4).

Usage:
  python bench_extra.py [--sf DIR] [--passes N] [--noop] [--explain OUTDIR] [query ...]

- times each named query (default: the full BENCH_QUERIES list) with the
  SAME methodology as bench.py (df.count(), min over passes) so numbers
  are directly comparable with the frozen harness;
- ``count_samples`` keeps every pass's time per query (median / spread
  of repeated runs; the label cache is cleared between passes, so a
  repeat times the compute, not a cache hit);
- each timed run is a stage span of ``perfbench/harness.py``'s
  ``Tracer``: ``count_stages`` holds the status-store counters of each
  query's fastest pass (jobs, stages, tasks, executor run time
  ``exec_s``, shuffle write and spill MB, ``busy`` = exec_s / (wall x
  cores)). The span's end is stamped before its counters are read, so
  they add nothing to the timing;
- ``--noop`` additionally times a noop-sink materialization (computes
  every column of every row — guide §1.4) per query;
- ``--explain OUTDIR`` writes ``<query>.txt`` with .explain("formatted")
  output per query (for plans/r06/*_before.txt / _after.txt).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ap = argparse.ArgumentParser(description="Time queries() entries the way bench.py does.")
    ap.add_argument("--sf", default=sf_dir, help="scale-factor data directory")
    ap.add_argument("--passes", type=int, default=1, help="timed passes; the min is reported")
    ap.add_argument("--noop", action="store_true", help="also time a noop-sink write per query")
    ap.add_argument("--explain", metavar="OUTDIR", help="write each query's formatted plan here")
    ap.add_argument("queries", nargs="*", metavar="query", help="default: bench.BENCH_QUERIES")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from bench import BENCH_QUERIES
    from cs588_data_science_bug_duplicate_detector_spark.session import get_spark
    from perfbench.harness import Tracer

    names = args.queries or list(BENCH_QUERIES)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench-extra", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # same warmup contract as bench.py
    warm_dir = re.sub(r"sf[\d.]+/?$", "sf0.001", args.sf)
    if not os.path.isdir(warm_dir):
        warm_dir = args.sf
    qs["minhash_clusters_fast"](spark, warm_dir).count()
    entrymod.clear_label_cache()

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        for name in names:
            df = qs[name](spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(plan)
            print(f"explain written: {name}")
        entrymod.clear_label_cache()

    modes = {"count": lambda df: df.count()}
    if args.noop:
        modes["noop"] = lambda df: df.write.format("noop").mode("overwrite").save()
    tr = Tracer("bench_extra", cpus)
    best = {m: {} for m in modes}
    samples = {m: {} for m in modes}
    stages = {m: {} for m in modes}
    for p in range(args.passes):
        if p:
            entrymod.clear_label_cache()
        for name in names:
            for mode, run in modes.items():
                with tr.span(f"{name} ({mode})", spark.sparkContext) as s:
                    run(qs[name](spark, args.sf))
                t = round(s["end"] - s["start"], 3)
                samples[mode].setdefault(name, []).append(t)
                if t <= best[mode].get(name, t):
                    best[mode][name] = t
                    stages[mode][name] = {k: round(v, 3) for k, v in s["counters"].items()}

    out = {
        "sf_dir": args.sf,
        "cpus": cpus,
        "passes": args.passes,
        "count_timings": best["count"],
        "total": round(sum(best["count"].values()), 3),
    }
    for mode in modes:
        if mode != "count":
            out[f"{mode}_timings"] = best[mode]
        out[f"{mode}_samples"] = samples[mode]
        out[f"{mode}_stages"] = stages[mode]
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
