"""The bucket-pairing core shared by the MinHash/LSH and SimHash detectors.

Both detectors reduce to the same tail: rows ``(band_key, id, *payload)``
— an LSH band, or a SimHash pigeonhole chunk folded into one long key —
are bucketed by key, hot buckets are capped, and the rest are paired.
``pair_buckets`` owns those rules once, for the batch run and the
incremental fold alike. Batch IS the fold with an empty old side
(``old = new.where(F.lit(False))``): the optimizer prunes the empty
branch before planning, so the batch plan keeps its single window
exchange and the core needs no batch-only branch.

Each detector keeps only its signing and its verify rule: MinHash splits
pairs by band-collision count (auto-accept vs estimated Jaccard), SimHash
filters on the Hamming distance between the ``sig`` payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bucket_window(rows: DataFrame, carry: tuple | list = ()) -> DataFrame:
    """One window pass over ``band_key``: + ``bucket_size``, + ``root``
    (min id), + ``root_<c>`` (the root row's ``c``) per ``carry`` column.

    One window, not a groupBy of sizes + a broadcast anti-join: that shape
    cost ~3 extra stage barriers per run, the main drag on N->4N scaling.
    Window, not ``groupBy(band_key).agg(collect_list(id))``: the
    aggregate measured ~20% faster on this phase (round 5, 1M docs) but
    holds each bucket as ONE in-memory array, so a pathological bucket (a
    parked-domain template with 10^9 members) OOMs the executor, while
    WindowExec's ExternalAppendOnlyUnsafeRowArray spills the partition to
    disk and finishes. The singleton drop in ``pair_buckets`` then beat
    the aggregate shape outright (21.3s vs 29.3s).
    """
    w = Window.partitionBy("band_key")
    return rows.select(
        "*",
        F.count("*").over(w).alias("bucket_size"),
        F.min("id").over(w).alias("root"),
        *[F.min(F.struct("id", c)).over(w)[c].alias(f"root_{c}") for c in carry],
    )


def self_pairs(rows: DataFrame, payload: list) -> DataFrame:
    """(src < dst) id pairs sharing a ``band_key``, at least one of them
    new, with ``src_<c>``/``dst_<c>`` per payload column. Keyed on the
    window's ``band_key`` partitioning, so the join is co-partitioned."""
    a, b = rows.alias("a"), rows.alias("b")
    return (
        a.join(b, "band_key")
        .where((F.col("a.id") < F.col("b.id")) & (F.col("a.is_new") | F.col("b.is_new")))
        .select(
            F.col("a.id").alias("src"),
            F.col("b.id").alias("dst"),
            *[F.col(f"{t}.{c}").alias(f"{end}_{c}") for c in payload
              for t, end in (("a", "src"), ("b", "dst"))],
        )
    )


def pair_buckets(new: DataFrame, old: DataFrame, cap: int, salt: int) -> tuple:
    """Bucket rows ``(band_key, id, *payload)`` -> ``(pairs, star, hot, deps)``.

    - ``pairs``: every (src < dst) pair of an under-cap bucket with >= 1
      new endpoint, one row per shared bucket — old-vs-old pairs were
      adjudicated by the run that first saw them, and their verdict rides
      in through the carried labels;
    - ``star``: hot-bucket (> ``cap``) edges root -> member for new
      members, and root -> every old member when the root itself is new
      (a from-scratch run stars root -> EVERY member, each edge verified
      on its own, so a single bridge could under-connect); plus, with
      ``salt > 1``, the pairs of id-hashed sub-buckets of each hot bucket
      (~c^2/salt pairs recover member <-> member recall the star trades
      away). Not deduplicated;
    - ``hot``: ``(band_key, bucket_size)`` per hot bucket;
    - ``deps``: the persisted bucket table, to release after use.

    ``pairs`` and ``star`` carry ``src_<c>``/``dst_<c>`` per payload column.
    A capped bucket of size c yields c-1 star edges, so connectivity
    survives the cap while the O(c^2) pairing does not.
    """
    payload = [c for c in new.columns if c not in ("band_key", "id")]
    # a bucket with no new member cannot emit a new pair: drop untouched
    # old buckets before any window or pairing work
    touched = new.select("band_key").distinct()
    rows = new.withColumn("is_new", F.lit(True)).unionByName(
        old.join(touched, "band_key", "left_semi").withColumn("is_new", F.lit(False))
    )
    # singleton buckets emit nothing (no pair, star, or hot row): drop them
    # at the window output, before the persist and the self-join — at 1M
    # docs half the band rows are singletons and the detect tail went
    # 36.9s -> 21.3s with a bit-identical edge set. The window itself
    # still sees every row, since sizes must count singletons.
    bw = (
        bucket_window(rows, [*payload, "is_new"])
        .where(F.col("bucket_size") >= 2)
        .persist()
    )
    hot_rows = bw.where(F.col("bucket_size") > cap)
    hot = hot_rows.select("band_key", "bucket_size").distinct()
    star = hot_rows.where(
        (F.col("id") != F.col("root")) & (F.col("is_new") | F.col("root_is_new"))
    ).select(
        F.col("root").alias("src"),
        F.col("id").alias("dst"),
        *[F.col(f"root_{c}").alias(f"src_{c}") for c in payload],
        *[F.col(c).alias(f"dst_{c}") for c in payload],
    )
    if salt > 1:
        salted = hot_rows.withColumn(
            "band_key", F.xxhash64("band_key", F.pmod(F.xxhash64("id"), F.lit(salt)))
        )
        star = star.unionByName(self_pairs(salted, payload))
    pairs = self_pairs(bw.where(F.col("bucket_size") <= cap), payload)
    return pairs, star, hot, [bw]
