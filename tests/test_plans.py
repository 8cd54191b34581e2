"""Plan invariant 3b of ``scripts/audit_plans.py``, in tier-1: each batch
detector (MinHash, SimHash, exact) is the incremental fold with an empty
old side, and the optimizer prunes that side, so its window is fed by
exactly one hash exchange with no Union and no LeftSemi."""

import importlib.util
import os

import pytest
from pyspark.sql import functions as F

from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig
from cs588_data_science_bug_duplicate_detector_spark.datagen import generate_pages
from cs588_data_science_bug_duplicate_detector_spark.operators.exact import exact_dup_edges
from cs588_data_science_bug_duplicate_detector_spark.operators.minhash import (
    minhash_edges,
    release_cached_deps,
)
from cs588_data_science_bug_duplicate_detector_spark.operators.simhash import simhash_edges

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "audit_plans", os.path.join(ROOT, "scripts", "audit_plans.py")
)
audit_plans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(audit_plans)


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    # a parquet scan, as in the audit: the in-memory corpus is repartitioned,
    # which would add an exchange of its own below every detector
    path = str(tmp_path_factory.mktemp("plan_docs") / "docs")
    pages, _truth, _spans = generate_pages(spark, 200, seed=11)
    pages.select(F.xxhash64("url").alias("doc_id"), "text").write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("name", ["minhash", "simhash", "exact"])
def test_batch_detector_window_has_one_exchange(spark, docs, name):
    cfg = DedupConfig()
    if name == "minhash":
        edges = minhash_edges(docs, "doc_id", "text", cfg)[0]
    elif name == "simhash":
        edges = simhash_edges(docs, "doc_id", "text", cfg)
    else:
        edges = exact_dup_edges(docs, "doc_id", "text")
    try:
        audit_plans.batch_window_exchange(name, edges)
    finally:
        release_cached_deps(edges)
