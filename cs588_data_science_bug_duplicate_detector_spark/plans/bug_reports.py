"""Reference-parity preprocessing lifecycle as one Spark program.

Re-expresses /root/reference/preprocess_data.py `main()`/`process_split`
(SURVEY.md §3.1) end-to-end:

  raw reports CSV  ──┐
  split CSV        ──┤  parse ';' duplicate lists (F2)     :68-90
                     │  edge list from id->dups (G1)       :107-114
                     │  filter edges to known issues (G2)  :131-134
                     │  union-find -> clusters (G3)        :116-142  ≙ CC
                     │  semi-join split members (P2)       :169-172
                     │  map issue->cluster (U2/J4)         :175
                     │  tagged augmentation x2 (F1/U1)     :20-65,179-184
                     │  select/rename 4 columns (P1)       :186-196
                     ▼
  processed(bug_id, duplicate_cluster_id, augmented_text_with_vlm,
            augmented_text_without_vlm)
  + dataset stats (A1-A3)                                  :211-224

Per-row Python in the reference becomes column expressions; the in-memory
union-find becomes ``operators/cc.py`` (a driver-side union-find for small
edge sets, the distributed large-star/small-star CC above) — label VALUES
differ (reference uses an arbitrary union root, we use the min member) but
the partition is identical, which is what every downstream consumer uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import parse_id_list, tagged_concat
from ..operators.cc import connected_components

# Section order from the reference's create_augmented_text
# (/root/reference/preprocess_data.py:20-65).
WITH_VLM_PAIRS = [
    ("PRODUCT", "Product"),
    ("COMPONENT", "Component"),
    ("OS", "Op_sys"),
    ("PRIORITY", "Priority"),
    ("SUMMARY", "Title"),
    ("DESCRIPTION", "Enhanced_Description"),
]
WITHOUT_VLM_PAIRS = [
    ("PRODUCT", "Product"),
    ("COMPONENT", "Component"),
    ("OS", "Op_sys"),
    ("PRIORITY", "Priority"),
    ("SUMMARY", "Title"),
    ("DESCRIPTION", "Description"),
]


def duplicate_edges(split_df: DataFrame) -> DataFrame:
    """(Issue_id, Duplicate) -> symmetric edge list restricted to known issues."""
    ids = split_df.select(F.col("Issue_id").cast("long").alias("known_id")).distinct()
    edges = (
        split_df.select(
            F.col("Issue_id").cast("long").alias("src"),
            F.explode(parse_id_list("Duplicate")).alias("dst"),
        )
        # reference drops dup ids outside the split (preprocess_data.py:131-134)
        .join(ids, F.col("dst") == F.col("known_id"), "left_semi")
    )
    return edges


def cluster_assignments(split_df: DataFrame) -> DataFrame:
    """(issue_id, duplicate_cluster_id): union-find semantics via CC;
    singletons get their own id (preprocess_data.py:136-141)."""
    vertices = split_df.select(F.col("Issue_id").cast("long").alias("id")).distinct()
    labels = connected_components(duplicate_edges(split_df), vertices=vertices)
    return labels.select(
        F.col("id").alias("issue_id"), F.col("cluster_id").alias("duplicate_cluster_id")
    )


def preprocess_split(bug_data: DataFrame, split_df: DataFrame) -> DataFrame:
    """Full process_split (preprocess_data.py:145-226): returns the 4-column
    processed table (README.md:349-358 shape)."""
    members = split_df.select(F.col("Issue_id").cast("long").alias("Issue_id")).distinct()
    selected = bug_data.withColumn("Issue_id", F.col("Issue_id").cast("long")).join(
        members, "Issue_id", "left_semi"
    )
    # NB: distinct name from Issue_id — Spark resolves case-insensitively
    labels = cluster_assignments(split_df).withColumnRenamed("issue_id", "lbl_id")
    return (
        selected.join(
            F.broadcast(labels), selected.Issue_id == labels.lbl_id, "left"
        )
        .select(
            F.col("Issue_id").alias("bug_id"),
            F.coalesce("duplicate_cluster_id", F.col("Issue_id")).alias("duplicate_cluster_id"),
            tagged_concat(WITH_VLM_PAIRS).alias("augmented_text_with_vlm"),
            tagged_concat(WITHOUT_VLM_PAIRS).alias("augmented_text_without_vlm"),
        )
    )


def dataset_stats(processed: DataFrame) -> dict:
    """preprocessing_stats semantics (preprocess_data.py:211-224)."""
    sizes = processed.groupBy("duplicate_cluster_id").agg(F.count("*").alias("n"))
    row = sizes.agg(
        F.count("*").alias("total_clusters"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).alias("clusters_multi"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("singletons"),
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).alias("reports_in_multi"),
        F.avg("n").alias("avg_cluster_size"),
        F.max("n").alias("max_cluster_size"),
    ).collect()[0]
    out = row.asDict()
    out["total_reports"] = processed.count()
    return out


def group_members(df: DataFrame, group_col: str, id_col: str) -> DataFrame:
    """Group -> sorted member id list (SURVEY.md A4 ≙ cluster_to_indices,
    /root/reference/src/data.py:80-90): one row per group with
    (group, n_members, member list + csv form for engine-neutral hashing)."""
    return df.groupBy(group_col).agg(
        F.count("*").alias("n_members"),
        F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        F.array_join(F.sort_array(F.collect_list(id_col)), ",").alias("member_ids_csv"),
    )
