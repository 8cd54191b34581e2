"""perfbench: the dedup engine's benchmark.

    python3 perfbench/run.py --workload batch_dedup --seed 1 --seconds 20 --trace 0

Runs one workload as a closed loop with one client on ``local[N]``
(N = min(4, usable CPUs, $SPARK_GRAFT_CPUS)), checks every pass against the
planted truth, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs one untraced and one traced pass, then
the workload's side layers (sidelayers.py), and reports the per-layer metrics
(see perfbench/README.md and BENCHMARK.json).

Inputs are generated from ``--seed`` and cached under perfbench/.cache;
everything else the run writes goes to perfbench/.work and is removed at the
end, except the span file of a traced run (perfbench/.work/traces/).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def declared_units(traced: bool) -> dict:
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cs588_data_science_bug_duplicate_detector_spark",
                                       "__init__.py")):
        print(f"perfbench: the dedup package is not next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import harness
    from workloads import WORKLOADS, layer_metrics

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    t_start = time.perf_counter()

    def log(msg):
        print(f"perfbench [{time.perf_counter() - t_start:7.2f}s] {msg}", file=sys.stderr, flush=True)

    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{run_id}")
    harness.pin_scratch(work)
    cores = harness.core_count()
    sampler = harness.RssSampler().start()
    cache = os.path.join(HERE, ".cache")
    wl = WORKLOADS[args.workload](cache, work, args.seed)
    side = wl.side_layers(cache) if args.trace else None
    pyzip = harness.package_zip(ROOT, os.path.join(work, "dedup.zip"))
    log(f"inputs ready; local[{cores}]")

    spark = None
    attempted = failed = 0
    passes, scores, failures = [], [], []
    tracer = harness.Tracer(run_id, cores)
    extra: dict = {}
    metrics: dict = {}
    try:
        # set-up: JVM launch + session + input registration + warm-up pass
        t0 = time.perf_counter()
        spark = harness.launch(work, pyzip, cores)
        wl.prepare(spark)
        launch_s = time.perf_counter() - t0
        wl.warmup(spark)
        setup_s = time.perf_counter() - t0
        warmup_s = setup_s - launch_s
        log(f"set-up: {setup_s:.2f}s (launch + prepare {launch_s:.2f}s, warm-up {warmup_s:.2f}s)")

        def one_pass(k, traced):
            nonlocal attempted, failed
            try:
                p = wl.traced_pass(spark, k, tracer) if traced else wl.run_pass(spark, k)
            except Exception:
                traceback.print_exc()
                attempted += 1
                failed += 1
                failures.append(f"pass {k} raised")
                return None
            attempted += len(p.op_s)
            log(f"pass {k}{' (traced)' if traced else ''}: {p.wall_s:.2f}s, ops "
                + ", ".join(f"{t:.2f}" for t in p.op_s))
            ok, score, why = wl.check(spark, p)
            if not ok:
                failed += len(p.op_s)
                failures.append(f"pass {k}: {why}")
            scores.append(score)
            return p

        if args.trace:
            untraced = one_pass(0, False)
            traced = one_pass(1, True)
            try:
                n_ops, why = side.run(spark, tracer)
            except Exception:
                traceback.print_exc()
                n_ops, why = 1, ["the side layers raised"]
            attempted += n_ops
            failed += n_ops if why else 0
            failures.extend(why)
            log(f"side layers: {n_ops} ops, {len(why)} failed gates")
            if untraced is not None and traced is not None:
                start, end = traced.out["span_window"]
                metrics = layer_metrics(tracer, [traced], scores[-1:])
                metrics.update({
                    "score.true_pairs": scores[-1]["true_pairs"],
                    "score.false_merge_pairs": scores[-1]["false_merge_pairs"],
                    "warmup.s": warmup_s,
                    "trace.spans": len(tracer.spans),
                    "trace.coverage": tracer.coverage(start, end),
                    "trace.overhead_s": traced.wall_s - untraced.wall_s,
                })
                extra = {"untraced_wall_s": untraced.wall_s, "traced_wall_s": traced.wall_s}
                if hasattr(wl, "pipeline_edges"):
                    extra.update({
                        "pipeline_stages": untraced.out["stages"],
                        "pipeline_edges": wl.pipeline_edges(spark, untraced),
                        "replay_edges": {n: metrics[n + ".edges"]
                                         for n in ("exact", "minhash", "simhash", "suffix")},
                    })
        else:
            deadline = time.perf_counter() + args.seconds
            k = 0
            while k == 0 or time.perf_counter() < deadline:
                p = one_pass(k, False)
                if p is not None:
                    passes.append(p)
                k += 1
            wall = harness.median(p.wall_s for p in passes)
            metrics = {
                "setup_s": setup_s,
                "wall_s": wall,
                "docs_per_s": wl.n_docs / wall if wall else 0.0,
                "op_p50_s": harness.median(t for p in passes for t in p.op_s),
                "pair_recall": min((s["pair_recall"] for s in scores), default=0.0),
                "pair_precision": min((s["pair_precision"] for s in scores), default=0.0),
            }
    except Exception:  # the engine broke outside a pass: report, don't hide
        traceback.print_exc()
        failures.append("the run raised outside a pass")
    finally:
        harness.shutdown(spark)
        peak_mb = sampler.stop()
    if not args.trace:
        metrics["peak_rss_mb"] = peak_mb
    else:
        trace_path = os.path.join(HERE, ".work", "traces", f"{args.workload}-seed{args.seed}-{run_id}.json")
        tracer.dump(trace_path, {"workload": args.workload, "seed": args.seed, "cores": cores,
                                 "scores": scores, "failures": failures, **extra})
    shutil.rmtree(work, ignore_errors=True)
    log("done; peak memory by process (MB): "
        + ", ".join(f"{b / harness.MB:.0f}" for b in sampler.peak_parts))

    units = declared_units(bool(args.trace))
    result = {
        "correct": not failures and attempted > 0 and set(metrics) == set(units),
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
                    for name, unit in units.items()},
    }
    for f in failures:
        print(f"perfbench: {f}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
