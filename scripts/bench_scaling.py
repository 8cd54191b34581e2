"""Scenario benchmarks for the dedup job, one subcommand per scenario.

Every Spark scenario runs as named stage spans of ``perfbench/harness.py``'s
``Tracer``: a span reports its wall seconds plus the status-store counters
of the jobs it ran (executor run time ``exec_s``, shuffle write and spill
MB, tasks, ``busy`` = exec_s / (wall x cores)) in the result's ``stages``
table. Each run prints one ``RESULT <json>`` line.

  scaling      N vs 4N executors: the same job on the same corpus at two
               CPU-pinned parallelism levels. Default: min of ``--repeats``
               legs per level -> BENCH/scaling.json; ``--paired K``: K
               adjacent (N, 4N) pairs -> BENCH/scaling_paired.json;
               ``--cores C``: one leg in this process.
  skew         the job on a corpus with ONE global boilerplate farm
               spanning every input split, next to the uniform corpus
               -> BENCH/skew.json. The hot-bucket cap + min-member star
               edges must keep runtime in the uniform band AND recover
               the farm as one cluster (``farm_recovered``).
  phases       one leg with each detector materialized in its own span;
               pin externally (``taskset -c 0-1 ... phases --cores 2``) and
               diff two widths to find the phases that do not parallelize.
  incremental  base index build (~1 - 1/split_mod of the corpus), one
               fold of the rest, and the batch reference; the fold's label
               and cluster counts must equal the batch's
               -> BENCH/incremental_1m.json.
  churn        many small folds with ``compact()`` midway: post-compaction
               folds may be at most 1.6x the early ones, and the final
               labels must match the batch reference
               -> BENCH/incremental_churn.json.
  kernel       outside Spark: the signature kernel and a pure-ALU burn in
               N and 4N pinned processes — the hardware ceiling for
               ``scaling``; anything the job loses beyond it is software.

Usage: python scripts/bench_scaling.py <scenario> [--help | options]
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.harness import Tracer  # noqa: E402

CORPUS = os.path.join(tempfile.gettempdir(), "dupdetect_scale_corpus")
SKEW_CORPUS = os.path.join(tempfile.gettempdir(), "dupdetect_skew_corpus")


def levels(text: str) -> tuple[int, int]:
    """``N,4N``: the two parallelism levels of a scaling comparison."""
    lo, hi = (int(x) for x in text.split(","))
    if hi != 4 * lo:
        raise argparse.ArgumentTypeError("levels must be N,4N")
    return lo, hi


def emit(out: dict) -> None:
    print("RESULT " + json.dumps(out), flush=True)


def save(path: str, out: dict) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
    emit(out)


def start(name: str, cores: int):
    from cs588_data_science_bug_duplicate_detector_spark.session import get_spark

    spark = get_spark(name, cores=cores, shuffle_partitions=2 * cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ensure_corpus(n_docs: int, cores: int, farm_frac: float | None = None) -> str:
    """Generate the (url, text, lang) corpus once per size, each in its own
    directory: uniform (planted clusters never cross a 5000-doc slice) or,
    with ``farm_frac``, one global farm. The output is deterministic and
    width-independent."""
    from cs588_data_science_bug_duplicate_detector_spark import datagen

    # datagen's default seed 42 is part of the corpus identity
    base, tag = (CORPUS, f"{n_docs}") if farm_frac is None else (SKEW_CORPUS, f"{n_docs}_{farm_frac}_42")
    path = os.path.join(base, tag)
    marker = os.path.join(path, f"_GEN_{tag}")
    if not os.path.exists(marker):
        spark = start("corpus-gen", cores)
        if farm_frac is None:
            pages = datagen.generate_pages_distributed(spark, n_docs).select("url", "text", "lang")
        else:
            pages = datagen.generate_skewed_pages_distributed(spark, n_docs, farm_frac=farm_frac)
        pages.write.mode("overwrite").parquet(path)
        spark.stop()
        open(marker, "w").close()
    return path


def read_docs(spark, corpus: str):
    from pyspark.sql import functions as F

    # doc ids are url hashes, as in the pipeline
    return spark.read.parquet(corpus).select(F.xxhash64("url").alias("doc_id"), "text")


def secs(span: dict) -> float:
    return span["end"] - span["start"]


def stage_table(tr: Tracer) -> dict:
    """Span name -> wall seconds + the span's status-store counters."""
    return {s["name"]: {"sec": round(secs(s), 3),
                        **{k: round(v, 3) for k, v in s.get("counters", {}).items()}}
            for s in tr.spans}


def detect(docs, cfg, tr: Tracer, split: bool = False) -> dict:
    """The staged job, as ``run_pipeline`` runs it for the exact, MinHash
    and SimHash detectors: ``sign`` runs ``incremental.sign_docs`` once
    (one Arrow pass for both signatures, plus the text md5), ``detect``
    runs ``incremental.detect_edges`` with an empty old side, ``cc``
    labels. With ``split``, one span per detector (a one-detector set)
    plus ``union_distinct``. This is also the batch reference the
    incremental scenarios check."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from cs588_data_science_bug_duplicate_detector_spark.operators.cc import connected_components
    from cs588_data_science_bug_duplicate_detector_spark.operators.incremental import (
        detect_edges,
        sign_docs,
    )
    from cs588_data_science_bug_duplicate_detector_spark.operators.minhash import release_cached_deps

    sc, detectors = docs.sparkSession.sparkContext, ("exact", "minhash", "simhash")
    with tr.span("sign", sc):
        sigs = sign_docs(docs, "doc_id", "text", cfg, detectors).withColumnRenamed("doc_id", "id")
        sigs.persist().count()
    old, parts = sigs.where(F.lit(False)), {}
    if split:
        for det in ("minhash", "simhash", "exact"):
            with tr.span(f"{det}_detect", sc):
                parts[det] = detect_edges(sigs, old, cfg, (det,))[0].persist()
                parts[det].count()
    with tr.span("union_distinct" if split else "detect", sc):
        parts = parts or {"all": detect_edges(sigs, old, cfg, detectors)[0]}
        edges = reduce(DataFrame.unionByName, parts.values()).select("src", "dst")
        edges = edges.distinct().persist()
        n_edges = edges.count()
    rounds: list[float] = []
    with tr.span("cc", sc) as cc:
        # edges are already distinct + persisted: skip CC's internal dedup shuffle
        labels = connected_components(edges, vertices=docs.select("doc_id"), pre_deduped=True,
                                      on_iteration=lambda i, n: rounds.append(tr.now()))
        n_labels = labels.count()
        sizes = labels.groupBy("cluster_id").count()
        n_clusters = sizes.count()
        max_cluster = sizes.agg(F.max("count")).collect()[0][0]
    for df in (sigs, edges, *parts.values()):
        df.unpersist()
        release_cached_deps(df)
    ticks = [cc["start"], *rounds]
    return {"edges": n_edges, "labels": n_labels, "clusters": n_clusters,
            "max_cluster": int(max_cluster or 0),
            "cc_rounds": [round(b - a, 2) for a, b in zip(ticks, ticks[1:])]}


def leg(cores: int, corpus: str, split: bool = False) -> dict:
    """One measured run of the staged job at ``local[cores]``."""
    from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig

    spark = start("scale-bench", cores)
    tr = Tracer(f"local{cores}", cores)
    # no repartition: the corpus files already split evenly (maxPartitionBytes)
    # and a hash exchange of the full text payload is the worst-scaling op on
    # this host (see BENCH/BASELINE.md shuffle microbenchmark)
    docs = read_docs(spark, corpus).persist()
    t0 = tr.now()
    if split:
        with tr.span("read_docs", spark.sparkContext):
            docs.count()
    res = detect(docs, DedupConfig(), tr, split)
    ends = {s["name"]: s["end"] for s in tr.spans}
    sec, detect_end = ends["cc"] - t0, ends["union_distinct" if split else "detect"]
    n_docs = spark.read.parquet(corpus).count()  # separate lineage, after timing
    spark.stop()
    stages = stage_table(tr)
    return {
        "cores": cores,
        "sec": round(sec, 2),
        "sign_sec": round(stages["sign"]["sec"], 2),
        "detect_sec": round(detect_end - t0, 2),  # cumulative: sign + detect
        "cc_sec": round(t0 + sec - detect_end, 2),
        "docs": n_docs,
        "docs_per_sec": round(n_docs / sec, 1),
        **res,
        "span_coverage": round(tr.coverage(t0, t0 + sec), 3),
        "stages": stages,
    }


def run_pinned(cores: int, n_docs: int) -> dict:
    """One ``scaling --cores`` leg in a child process pinned to cores
    0..cores-1: ``local[N]`` alone does not bound CPUs — the Python UDF
    workers run on extra cores and silently inflate the low-N leg."""
    prefix = ["taskset", "-c", f"0-{cores - 1}"] if shutil.which("taskset") else []
    env = dict(os.environ)
    # persisted sigs + band table + CC checkpoints outgrow an 8g heap at
    # 3M docs (observed: legs OOMing in the CC count); the caller may pin it
    env.setdefault("SPARK_DRIVER_MEM", "16g" if n_docs >= 2_000_000 else "8g")
    cmd = [sys.executable, os.path.abspath(__file__), "scaling", "--cores", str(cores), "--docs", str(n_docs)]
    proc = subprocess.run(prefix + cmd, capture_output=True, text=True, env=env)
    if proc.returncode != 0:
        # surface the child's failure: a swallowed stderr cost an unattended
        # 3M-doc run its second pair with zero diagnostics
        sys.stderr.write(f"--- child (cores={cores}) rc={proc.returncode} stderr tail ---\n")
        sys.stderr.write(proc.stderr[-4000:] + "\n")
        raise RuntimeError(f"leg cores={cores} failed rc={proc.returncode}")
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")][-1]
    print(line, flush=True)
    return json.loads(line[len("RESULT "):])


def scaling(a) -> None:
    if a.cores:
        emit(leg(a.cores, ensure_corpus(a.docs, a.cores)))
        return
    lo_c, hi_c = a.levels
    ensure_corpus(a.docs, hi_c)
    if a.paired:
        return paired(a, lo_c, hi_c)
    best: dict[int, dict] = {}
    for c in (lo_c, hi_c):
        for _ in range(max(1, a.repeats)):
            # shared-host noise: identical legs vary +-40% run to run;
            # min-of-R is the standard robust estimator
            run = run_pinned(c, a.docs)
            if c not in best or run["sec"] < best[c]["sec"]:
                best[c] = run
    lo, hi = best[lo_c], best[hi_c]
    save(a.out or "BENCH/scaling.json", {
        "docs": lo["docs"],
        f"local{lo_c}": lo,
        f"local{hi_c}": hi,
        "speedup_N_to_4N": round(lo["sec"] / hi["sec"], 3),
        "scaling_efficiency": round(lo["sec"] / hi["sec"] / 4.0, 3),
        "consistent_output": lo["labels"] == hi["labels"] and lo["clusters"] == hi["clusters"],
    })


def paired(a, lo_c: int, hi_c: int) -> None:
    """(N, 4N) legs back to back per pair; the MEDIAN of per-pair ratios is
    far less biased than min-of-independent-samples when co-tenant load
    drifts over minutes, since adjacent legs see similar host conditions."""
    pairs = []
    for i in range(a.paired):
        # alternate leg order per pair: monotone host drift inflates the
        # ratio when it speeds the SECOND leg and deflates it when it slows
        # it — alternating cancels the direction across pairs
        order = (hi_c, lo_c) if i % 2 == 0 else (lo_c, hi_c)
        try:
            sec = {c: run_pinned(c, a.docs)["sec"] for c in order}
        except RuntimeError as e:
            # a failed leg voids the pair, not the whole campaign
            print(json.dumps({"pair": i, "error": str(e)}), flush=True)
            continue
        pairs.append({"lo_sec": sec[lo_c], "hi_sec": sec[hi_c],
                      "efficiency": round(sec[lo_c] / sec[hi_c] / 4.0, 3)})
        print(json.dumps(pairs[-1]), flush=True)
    if not pairs:
        raise SystemExit("every pair failed — see stderr above")
    effs = sorted(p["efficiency"] for p in pairs)
    out = {"docs": a.docs, "pairs": pairs, "median_pair_efficiency": effs[len(effs) // 2],
           "best_pair_efficiency": effs[-1]}
    if len(effs) > 1:
        # bootstrap CI on the median: adjacent legs share host drift, the
        # pairs do not, so resampling pairs is the right unit (one pair has
        # no spread to resample)
        rng = random.Random(0)
        boots = sorted(sorted(rng.choices(effs, k=len(effs)))[len(effs) // 2] for _ in range(10_000))
        out["median_ci90"] = [boots[500], boots[9499]]
    save(a.out or "BENCH/scaling_paired.json", out)


def skew(a) -> None:
    # size the heap BEFORE the first session: legs run in this process and
    # the py4j JVM survives spark.stop(), so a later driver-memory conf is
    # silently ignored. 8g OOMs in the CC count at >=2M docs.
    if a.docs >= 2_000_000:
        os.environ.setdefault("SPARK_DRIVER_MEM", "16g")
    stride = max(2, int(round(1.0 / a.farm_frac)))
    farm_size = (a.docs + stride - 1) // stride
    out = {"docs": a.docs, "farm_frac": a.farm_frac, "expected_farm_size": farm_size,
           "skewed": leg(a.cores, ensure_corpus(a.docs, a.cores, a.farm_frac))}
    out["farm_recovered"] = out["skewed"]["max_cluster"] >= farm_size
    if not a.skip_uniform:
        out["uniform"] = leg(a.cores, ensure_corpus(a.docs, a.cores))
        out["skew_slowdown"] = round(out["skewed"]["sec"] / out["uniform"]["sec"], 3)
    save(a.out, out)


def phases(a) -> None:
    emit(leg(a.cores, ensure_corpus(a.docs, a.cores), split=True))


@contextmanager
def index_run(a, name: str):
    """Session, tracer, an empty ``DedupIndex`` in a temp dir and the docs."""
    from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig
    from cs588_data_science_bug_duplicate_detector_spark.operators.incremental import DedupIndex

    corpus = ensure_corpus(a.docs, a.cores)
    spark = start(name, a.cores)
    tmp = tempfile.mkdtemp(prefix=f"{name}_")
    try:
        yield Tracer(name, a.cores), DedupIndex(f"{tmp}/idx", DedupConfig()), read_docs(spark, corpus)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


def batch_reference(tr: Tracer, idx, docs, labels) -> tuple[dict, float]:
    """The folds' final labels must describe the same corpus as a
    from-scratch batch run: equal label and cluster counts (full row
    equality is the oracle-checked ``incremental_dedup`` query's job)."""
    from pyspark.sql import functions as F

    n, k = labels.agg(F.count("*"), F.countDistinct("cluster_id")).collect()[0]
    t0 = tr.now()
    ref = detect(docs, idx.cfg, tr)
    full_s = tr.now() - t0
    assert (n, k) == (ref["labels"], ref["clusters"]), (
        f"incremental ({n},{k}) != batch ({ref['labels']},{ref['clusters']})"
    )
    return {"docs_total": int(n), "clusters": int(k), "full_recompute_sec": round(full_s, 1)}, full_s


def incremental(a) -> None:
    """A fold costs ~O(|increment|) signature work plus touched-bucket
    joins, NOT a re-run of the corpus. The increment is spread by
    doc_id % split_mod, so planted dup clusters cross the split."""
    from pyspark.sql import functions as F

    with index_run(a, "bench_incremental") as (tr, idx, docs):
        sc = docs.sparkSession.sparkContext
        is_new = F.pmod(F.col("doc_id"), F.lit(a.split_mod)) == 0
        with tr.span("base_build", sc) as base:
            idx.add_increment(docs.where(~is_new), "doc_id", "text")
        with tr.span("incremental_fold", sc) as fold:
            labels = idx.add_increment(docs.where(is_new), "doc_id", "text")
        ref, full_s = batch_reference(tr, idx, docs, labels)
        emit({
            "metric": "incremental_fold_vs_full_recompute",
            **ref,
            "docs_in_increment": docs.where(is_new).count(),
            "base_build_sec": round(secs(base), 1),
            "incremental_fold_sec": round(secs(fold), 1),
            "fold_speedup_vs_recompute": round(full_s / secs(fold), 2),
            "cores": a.cores,
            "split_mod": a.split_mod,
            "stages": stage_table(tr),
        })


def churn(a) -> None:
    """The daily-crawl pattern is MANY SMALL increments: each fold unions
    every prior ``sigs/inc=N`` directory, so per-fold fixed cost grows with
    increment count unless ``compact()`` merges them."""
    from pyspark.sql import functions as F

    with index_run(a, "bench_churn") as (tr, idx, docs):
        sc = docs.sparkSession.sparkContext
        # residues over 2*folds buckets: base = the upper half (~50%), each
        # fold adds ONE residue — planted dup clusters cross every boundary
        # because doc ids are URL hashes, independent of the content
        res = F.pmod(F.col("doc_id"), F.lit(2 * a.folds))
        with tr.span("base_build", sc) as base:
            idx.add_increment(docs.where(res >= a.folds), "doc_id", "text")
        fold_secs = []
        for i in range(a.folds):
            if i == a.compact_at:
                with tr.span("compact", sc) as compact:
                    merged = idx.compact(docs.sparkSession)
            with tr.span(f"fold{i}", sc) as fold:
                labels = idx.add_increment(docs.where(res == i), "doc_id", "text")
            fold_secs.append(round(secs(fold), 2))
        ref, _ = batch_reference(tr, idx, docs, labels)
    pre, post = fold_secs[: a.compact_at], fold_secs[a.compact_at:]
    mean = lambda xs: sum(xs) / len(xs)
    ratio = round(mean(post) / mean(pre), 3)
    # flat-fold contract; a generous bound — folds are seconds-long Spark
    # job chains on a shared box
    assert ratio <= 1.6, (
        f"post-compaction folds {mean(post):.2f}s vs pre {mean(pre):.2f}s "
        f"(ratio {ratio}) — compaction did not keep fold time flat"
    )
    emit({
        "metric": "incremental_fold_churn",
        **ref,
        "folds": a.folds,
        "compact_after_fold": a.compact_at,
        "merged_increments": merged,
        "base_build_sec": round(secs(base), 1),
        "compact_sec": round(secs(compact), 1),
        "fold_secs": fold_secs,
        "mean_fold_pre_compact_sec": round(mean(pre), 2),
        "mean_fold_post_compact_sec": round(mean(post), 2),
        "post_over_pre_ratio": ratio,
        "cores": a.cores,
        "stages": stage_table(tr),
    })


def _kernel_worker(kind: str, docs: int, core: int) -> None:
    os.sched_setaffinity(0, {core})
    import numpy as np
    import pandas as pd

    from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig
    from cs588_data_science_bug_duplicate_detector_spark.functions import hashing

    rng = np.random.default_rng(7 + core)
    if kind == "kernel":
        texts = pd.Series([" ".join(f"w{x}" for x in rng.integers(0, 5000, size=180)) for _ in range(docs)])
        cfg = DedupConfig()  # shingle_k 5, num_perm 128, seed 42
        n_batches = max(1, docs // 10_000)
        per = docs // n_batches
        for i in range(n_batches):
            hashing.sign_batch(texts.iloc[i * per: (i + 1) * per], cfg, ("minhash", "simhash"))
    else:  # alu: xxhash-style integer mixing
        x = rng.integers(0, 2**62, size=2_000_000, dtype=np.int64).astype(np.uint64)
        with np.errstate(over="ignore"):
            for _ in range(docs // 100):
                x = x * np.uint64(0x9E3779B97F4A7C15)
                x ^= x >> np.uint64(29)


def kernel(a) -> None:
    """Each level runs ``level`` processes pinned to cores 0..level-1, all
    on the same synthetic batch; throughput = total docs / wall and
    efficiency(N->4N) = throughput_4N / (4 * throughput_N). Run it with the
    box otherwise idle."""
    def throughput(kind: str, level: int) -> float:
        procs = [mp.Process(target=_kernel_worker, args=(kind, a.docs_per_proc, c)) for c in range(level)]
        t0 = time.time()
        for p in procs:
            p.start()
        for p in procs:
            p.join()
        return level * a.docs_per_proc / (time.time() - t0)

    lo, hi = a.levels
    out = {}
    for kind in ("kernel", "alu"):
        tl = max(throughput(kind, lo) for _ in range(a.repeats))
        th = max(throughput(kind, hi) for _ in range(a.repeats))
        out[kind] = {f"docs_per_sec_{lo}c": round(tl, 1), f"docs_per_sec_{hi}c": round(th, 1),
                     "efficiency": round(th / (4 * tl), 3)}
    emit(out)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="scenario", required=True, metavar="scenario")

    def scenario(fn, help: str, docs: int | None = None, cores: int | None = None):
        p = sub.add_parser(fn.__name__, help=help)
        p.set_defaults(fn=fn)
        if docs:
            p.add_argument("--docs", type=int, default=docs, help="corpus size")
        if cores:
            p.add_argument("--cores", type=int, default=cores, help="local[N] width")
        return p

    p = scenario(scaling, "N vs 4N pinned legs", 400_000)
    p.add_argument("--cores", type=int, help="run ONE leg at this width in this process")
    p.add_argument("--all", action="store_true", help="both levels (the default without --cores)")
    # N vs 4N parallelism levels. Default 2 vs 8: SMT vCPUs share memory
    # bandwidth, so 8 vs 32 on a 32-vCPU host shows only ~1.5x more total
    # compute (pure-numpy burn) and cannot exhibit software scaling; 2 vs 8
    # sits in the linear region and is the honest stand-in
    p.add_argument("--levels", type=levels, default="2,8", help="N,4N")
    p.add_argument("--repeats", type=int, default=2, help="legs per level; the min is kept")
    p.add_argument("--paired", type=int, default=0, help="number of adjacent (N,4N) pairs")
    p.add_argument("--out", help="summary path (default BENCH/scaling.json, "
                                 "or BENCH/scaling_paired.json with --paired)")
    p = scenario(skew, "global boilerplate farm vs uniform corpus", 1_000_000, 32)
    p.add_argument("--farm-frac", type=float, default=0.1)
    p.add_argument("--skip-uniform", action="store_true", help="run the skewed leg only")
    p.add_argument("--out", default="BENCH/skew.json", help="summary path")
    p = scenario(phases, "one leg, one span per detector", 400_000)
    p.add_argument("--cores", type=int, required=True)
    p = scenario(incremental, "one fold vs full recompute", 1_000_000, 32)
    p.add_argument("--split-mod", type=int, default=11,
                   help="increment = doc_id %% split-mod == 0 (11 -> ~9%%, 101 -> ~1%%)")
    churn_p = scenario(churn, "many small folds, compact() midway", 120_000, 32)
    churn_p.add_argument("--folds", type=int, default=24)
    churn_p.add_argument("--compact-at", type=int, default=12, help="compact before this fold")
    p = scenario(kernel, "signature kernel + ALU burn outside Spark")
    p.add_argument("--levels", type=levels, default="2,8", help="N,4N")
    p.add_argument("--docs-per-proc", type=int, default=30_000)
    p.add_argument("--repeats", type=int, default=2)
    a = ap.parse_args()
    # compaction must land strictly inside the fold sequence: both the pre-
    # and post-compaction means need at least one fold
    if a.fn is churn and not 0 < a.compact_at < a.folds:
        churn_p.error(f"--compact-at must satisfy 0 < compact-at < folds ({a.folds})")
    a.fn(a)


if __name__ == "__main__":
    main()
