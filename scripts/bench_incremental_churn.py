"""Incremental-index churn benchmark (operators/incremental.py compact()).

The 100 TB daily-crawl pattern is MANY SMALL increments, not one: each
fold unions every prior ``sigs/inc=N`` directory, so per-fold fixed cost
(file listing, plan width, scan tasks) grows with increment count unless
``compact()`` periodically merges them. This script measures that curve:

  1. base build (~50% of the corpus, increment 0)
  2. N_FOLDS small folds (~2% each), timing each
  3. ``compact()`` midway, so the tail of the curve runs against a
     single merged signature dir

and asserts the post-compaction folds did not get slower than the early
folds (flat-fold contract; generous 1.6x bound — folds are seconds-long
Spark job chains on a shared box).

Usage: python scripts/bench_incremental_churn.py [--docs 120000]
       [--folds 24] [--compact-at 12] [--cores 32]
Prints ONE JSON line; numbers go to BENCH/incremental_churn.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench_scaling import CORPUS, ensure_corpus  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=120_000)
    ap.add_argument("--folds", type=int, default=24)
    ap.add_argument("--compact-at", type=int, default=12)
    ap.add_argument("--cores", type=int, default=32)
    args = ap.parse_args()
    # compaction must land strictly inside the fold sequence: both the
    # pre- and post-compaction means need at least one fold
    if not 0 < args.compact_at < args.folds:
        ap.error(f"--compact-at must satisfy 0 < compact-at < folds ({args.folds})")

    ensure_corpus(args.docs)

    from pyspark.sql import functions as F

    from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig
    from cs588_data_science_bug_duplicate_detector_spark.operators.incremental import DedupIndex
    from cs588_data_science_bug_duplicate_detector_spark.session import get_spark

    cfg = DedupConfig()
    spark = get_spark("bench-incremental-churn", cores=args.cores,
                      shuffle_partitions=2 * args.cores)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(CORPUS).select(
        F.xxhash64("url").alias("doc_id"), "text"
    )
    # residue split over 2*folds buckets: base = the upper half (~50%),
    # each fold adds ONE residue (~1/(2*folds) of the corpus) — planted
    # dup clusters cross every boundary because doc ids are URL hashes
    # (xxhash64(url)), independent of the content that makes docs dups
    mod = 2 * args.folds
    res = F.pmod(F.col("doc_id"), F.lit(mod))
    base_docs = docs.where(res >= args.folds)

    tmp = tempfile.mkdtemp(prefix="bench_churn_")
    fold_secs: list[float] = []
    try:
        idx = DedupIndex(f"{tmp}/idx", cfg)
        t0 = time.monotonic()
        idx.add_increment(base_docs, "doc_id", "text")
        base_s = time.monotonic() - t0

        compact_s = None
        for i in range(args.folds):
            if i == args.compact_at:
                t0 = time.monotonic()
                merged = idx.compact(spark)
                compact_s = time.monotonic() - t0
                spark.sparkContext.setJobDescription(None)
            inc = docs.where(res == i)
            spark.sparkContext.setJobDescription(f"churn fold {i}")
            t0 = time.monotonic()
            labels = idx.add_increment(inc, "doc_id", "text")
            fold_secs.append(round(time.monotonic() - t0, 2))
        spark.sparkContext.setJobDescription(None)

        n_docs, n_clusters = labels.agg(
            F.count("*"), F.countDistinct("cluster_id")
        ).collect()[0]
        pre = fold_secs[: args.compact_at]
        post = fold_secs[args.compact_at:]
        mean = lambda xs: sum(xs) / len(xs)
        flat_ratio = round(mean(post) / mean(pre), 3)
        assert flat_ratio <= 1.6, (
            f"post-compaction folds {mean(post):.2f}s vs pre {mean(pre):.2f}s "
            f"(ratio {flat_ratio}) — compaction did not keep fold time flat"
        )
        print(json.dumps({
            "metric": "incremental_fold_churn",
            "docs_total": int(n_docs),
            "clusters": int(n_clusters),
            "folds": args.folds,
            "compact_after_fold": args.compact_at,
            "merged_increments": merged,
            "base_build_sec": round(base_s, 1),
            "compact_sec": round(compact_s, 1),
            "fold_secs": fold_secs,
            "mean_fold_pre_compact_sec": round(mean(pre), 2),
            "mean_fold_post_compact_sec": round(mean(post), 2),
            "post_over_pre_ratio": flat_ratio,
            "cores": args.cores,
        }))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
