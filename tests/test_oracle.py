"""Driver queries against their DuckDB oracles on the sf0.001 testdata,
compared as ``scripts/check_oracle.py`` compares them: the flagship labels,
the streaming and incremental checks, and the flagship flow under a
bucket cap small enough that the hot-bucket star path runs."""

import importlib.util
import os
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig
from cs588_data_science_bug_duplicate_detector_spark.functions import portable
from cs588_data_science_bug_duplicate_detector_spark.operators.cc import connected_components
from cs588_data_science_bug_duplicate_detector_spark.operators.exact import text_md5_col
from cs588_data_science_bug_duplicate_detector_spark.operators.incremental import detect_edges
from cs588_data_science_bug_duplicate_detector_spark.operators.minhash import (
    hot_bucket_stats,
    release_cached_deps,
)

SF = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py")
)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)


@pytest.fixture(scope="module")
def con():
    c = check_oracle.duck(SF)
    yield c
    c.close()


def _assert_matches(con, sdf, sql):
    res = con.execute(sql)
    ok_cols, a, b = check_oracle.compare(
        sdf.columns, sdf.collect(), [d[0] for d in res.description], res.fetchall()
    )
    assert ok_cols
    assert a == b


@pytest.mark.parametrize("name", ["minhash_clusters", "streaming_batch_equiv", "incremental_dedup"])
def test_query_matches_oracle(spark, con, name):
    _assert_matches(con, entrymod.queries()[name](spark, SF), entrymod.oracle_sql()[name])


def test_capped_flagship_matches_oracle(spark, con):
    """The portable signer through the batch detect step with a bucket cap
    that leaves hot buckets: the star edges and their verify equal the
    oracle's, whose band keys are verbatim strings, not hashes."""
    cfg = replace(DedupConfig(), bucket_cap=2)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").alias("id"), "text"
    )
    sigs = (
        portable.with_portable_minhash(docs, "text", cfg)
        .withColumn("text_md5", text_md5_col("text"))
        .drop("text")
    )
    edges, hot = detect_edges(sigs, sigs.where(F.lit(False)), cfg, ("exact", "minhash"))
    labels = connected_components(edges, vertices=docs.select("id")).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    _assert_matches(con, labels, portable.minhash_clusters_sql(cfg))
    assert hot_bucket_stats(hot["minhash"])["hot_buckets"] > 0
    release_cached_deps(edges)
