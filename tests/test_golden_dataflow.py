"""Golden dataflow digests: pin what the engine computes above the kernel.

One seeded planted corpus, with caps small enough that hot buckets, star
edges and salted sub-buckets fire, goes through ``run_pipeline`` (all four
detectors) and through three ``DedupIndex`` folds with one ``compact()``
in between. The test records sha256 digests of the sorted edges, the
``detector_stats`` and the labels. Min-id labels and hash-keyed edges do
not depend on partitioning, so a digest moves only when an answer moves.
A change that moves one re-records it in the same commit and says why.

Batch and fold get separate label digests: a bucket that crosses a cap
between folds is the declared fold-vs-batch asymmetry
(``operators/incremental.py``).
"""

import hashlib
import json
import shutil

import pytest
from pyspark.sql import functions as F

from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig
from cs588_data_science_bug_duplicate_detector_spark.datagen import generate_pages
from cs588_data_science_bug_duplicate_detector_spark.operators import cc
from cs588_data_science_bug_duplicate_detector_spark.operators.incremental import DedupIndex
from cs588_data_science_bug_duplicate_detector_spark.plans.pipeline import run_pipeline
from cs588_data_science_bug_duplicate_detector_spark.sources.tableio import TableIO

CFG = DedupConfig(bucket_cap=8, simhash_chunk_cap=8, bucket_salt=2)

GOLDEN = {
    "edges": "1cc1d3bc44f2b24b43c7891ef6a93df67ce4180e693ee80297402f2638a2f844",
    "detector_stats": "0c4066c8012fef516b4f9b9cf7000f0236ee03d6f26a55246d0349ba5ddc7b1e",
    "labels": "752c9de1d22e36aaece2cb3516ec235dcb54ea4ad44f9ab054704e577bba5677",
    "fold_labels": "25578d3000c15c3ee2b258becb35153bf5bf40766be4f3a949eb59f47b312914",
}


def _digest_rows(df) -> str:
    rows = sorted(tuple(r) for r in df.collect())
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _pipeline_digests(spark, pages, wd) -> dict:
    run = run_pipeline(spark, pages, wd, CFG)
    edges = TableIO(wd).read(spark, "candidate_edges").select("src", "dst", "detector")
    stats = run.stats["detector_stats"]
    return {
        "edges": _digest_rows(edges),
        "detector_stats": hashlib.sha256(json.dumps(stats, sort_keys=True).encode()).hexdigest(),
        "labels": _digest_rows(run.labels.select("url", "doc_id", "cluster_id")),
        "_stats": stats,
        "_stages": run.stats["stages"],
    }


@pytest.fixture(scope="module")
def corpus(spark):
    pages, _, _ = generate_pages(spark, 400, seed=11)
    return pages.cache()


def test_pipeline_digests_pinned(spark, corpus, tmp_path, monkeypatch):
    got = _pipeline_digests(spark, corpus, str(tmp_path / "wd"))
    # the caps fire, so the pinned flow covers the hot-bucket star paths
    assert got["_stats"]["minhash"]["hot_buckets"] > 0
    assert got["_stats"]["simhash"]["hot_chunks"] > 0
    assert {k: got[k] for k in ("edges", "detector_stats", "labels")} == {
        k: GOLDEN[k] for k in ("edges", "detector_stats", "labels")
    }
    # the reliable star loop inside the pipeline labels exactly as the
    # driver-side union-find does: drop the labels stage, so the re-run
    # resumes the edges and recomputes only CC
    monkeypatch.setattr(cc, "_LOCAL_MAX_EDGES", -1)
    shutil.rmtree(tmp_path / "wd" / "component_labels")
    looped = _pipeline_digests(spark, corpus, str(tmp_path / "wd"))
    assert looped["_stages"]["candidate_edges"]["resumed"]
    assert not looped["_stages"]["component_labels"]["resumed"]
    assert looped["labels"] == GOLDEN["labels"]


def test_fold_digest_pinned(spark, corpus, tmp_path):
    docs = corpus.select(F.xxhash64("url").alias("doc_id"), "text").cache()
    idx = DedupIndex(str(tmp_path / "idx"), CFG)
    for i in range(3):
        if i == 2:
            assert idx.compact(spark) == 1
        labels = idx.add_increment(docs.where(F.pmod("doc_id", F.lit(3)) == i), "doc_id", "text")
    assert labels.count() == corpus.count()
    assert _digest_rows(labels.select("id", "cluster_id")) == GOLDEN["fold_labels"]
    docs.unpersist()
