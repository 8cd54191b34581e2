"""spark-submit entry point for the incremental dedup index.

Fold a new crawl increment into a persisted DedupIndex (the daily-crawl
counterpart to the from-scratch scripts/run_pipeline.py):

    spark-submit --master <cluster> \\
        --py-files dist/dupdetect.zip \\
        scripts/incremental_update.py \\
        --index  <index root> \\
        --input  <new docs parquet (doc_id, text)> \\
        [--id-col doc_id] [--text-col text] [--compact] [--reliable-cc]

Local smoke:

    python scripts/incremental_update.py --index /tmp/idx --input /tmp/inc
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True, help="DedupIndex root directory")
    ap.add_argument("--input", required=True, help="new-increment docs (parquet dir)")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--cores", type=int, default=None,
                    help="local mode cores (ignored under a real master)")
    ap.add_argument("--reliable-cc", action="store_true",
                    help="reliable CC round checkpoints under <index>/_cc_checkpoints, "
                         "removed after the fold (survives executor loss)")
    ap.add_argument("--compact", action="store_true",
                    help="merge completed increment dirs after the fold")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig
    from cs588_data_science_bug_duplicate_detector_spark.operators.incremental import DedupIndex

    existing = SparkSession.getActiveSession()
    if existing is not None:
        spark = existing  # spark-submit provided the session/context
    else:
        from cs588_data_science_bug_duplicate_detector_spark.session import get_spark

        spark = get_spark("incremental-update", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")

    idx = DedupIndex(args.index, DedupConfig())
    docs = spark.read.parquet(args.input)
    labels = idx.add_increment(docs, args.id_col, args.text_col, reliable_cc=args.reliable_cc)
    merged = idx.compact(spark) if args.compact else 0
    meta = idx.meta()
    from pyspark.sql import functions as F

    n_clusters = labels.select(F.countDistinct("cluster_id")).collect()[0][0]
    print(json.dumps({
        "index": args.index,
        "n_increments": meta["n_increments"],
        "total_docs": meta["total_docs"],
        "n_clusters": int(n_clusters),
        "compacted_dirs": merged,
    }))


if __name__ == "__main__":
    main()
