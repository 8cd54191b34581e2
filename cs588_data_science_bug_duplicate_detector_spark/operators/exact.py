"""Exact-duplicate detection: md5 window, star edges to the min member.

The cheap pre-pass: identical text collapses via one md5 window instead
of flowing through LSH. Emits (min_member -> other) star edges that union
into the connected-components input, so exact-dup clusters compose with
near-dup clusters sharing members.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import _nonblank


def text_md5_col(text_col: str):
    """md5 of the text, NULL for content-less docs (NULL or whitespace-only
    text). md5(NULL) is NULL and NULL keys GROUP TOGETHER in Spark, so
    without the NULL every failed extraction in the corpus would merge into
    one cluster: "no content" is not "same content".

    Uses ``_nonblank`` (regex strip of ALL whitespace), not ``F.trim``:
    trim() removes only ASCII spaces, so '\\n'-only docs — the common
    output of a failed HTML extraction — would pass a trim-based check
    and weld every failed extraction into one md5('\\n') mega-cluster."""
    c = F.col(text_col)
    return F.when(_nonblank(c), F.md5(c.cast("binary")))


def exact_edges(new_hashes: DataFrame, old_hashes: DataFrame) -> DataFrame:
    """(id, text_md5) of new and old docs -> star edges with >= 1 new
    endpoint; NULL hashes never group.

    One window over the md5 groups the new side touches: each new
    non-root member gets root -> member, and a new root gets root -> the
    smallest old member (the other old members are connected to it
    already). Batch is the call with an empty old side, which the
    optimizer prunes, leaving one exchange.
    """
    new = new_hashes.where(F.col("text_md5").isNotNull()).withColumn("is_new", F.lit(True))
    old = old_hashes.join(new.select("text_md5").distinct(), "text_md5", "left_semi")
    w = Window.partitionBy("text_md5")
    rows = new.unionByName(old.withColumn("is_new", F.lit(False))).select(
        "id",
        "is_new",
        F.min("id").over(w).alias("root"),
        F.min(F.when(~F.col("is_new"), F.col("id"))).over(w).alias("old_min"),
    )
    dst = F.when(F.col("id") != F.col("root"), F.col("id")).otherwise(F.col("old_min"))
    return (
        rows.where(F.col("is_new"))
        .select(F.col("root").alias("src"), dst.alias("dst"))
        .where(F.col("dst").isNotNull())
    )


def exact_dup_edges(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    h = docs.select(F.col(id_col).alias("id"), text_md5_col(text_col).alias("text_md5"))
    return exact_edges(h, h.where(F.lit(False)))


def exact_dup_groups(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(text_hash, n_copies, canonical_id) for groups with >1 copy."""
    h = docs.select(F.col(id_col).alias("id"), text_md5_col(text_col).alias("text_hash"))
    return (
        h.where(F.col("text_hash").isNotNull())
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_copies"), F.min("id").alias("canonical_id"))
        .where(F.col("n_copies") > 1)
    )
