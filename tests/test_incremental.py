"""Incremental dedup index: per-increment folds must reproduce the
from-scratch batch run over the concatenated corpus (operators/incremental.py
correctness contract), including across-increment duplicates, hot buckets,
and content-less docs."""

import pytest
from pyspark.sql import functions as F

from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig
from cs588_data_science_bug_duplicate_detector_spark.datagen import generate_pages
from cs588_data_science_bug_duplicate_detector_spark.operators.cc import connected_components
from cs588_data_science_bug_duplicate_detector_spark.operators.exact import exact_dup_edges
from cs588_data_science_bug_duplicate_detector_spark.operators.incremental import DedupIndex
from cs588_data_science_bug_duplicate_detector_spark.operators.minhash import minhash_edges
from cs588_data_science_bug_duplicate_detector_spark.operators.simhash import simhash_edges


def _batch_labels(docs, cfg):
    from cs588_data_science_bug_duplicate_detector_spark.operators.minhash import release_cached_deps

    edges, _hot = minhash_edges(docs, "doc_id", "text", cfg)
    sim = simhash_edges(docs, "doc_id", "text", cfg)
    all_edges = (
        edges.unionByName(exact_dup_edges(docs, "doc_id", "text"))
        .unionByName(sim)
        .distinct()
    )
    labels = connected_components(all_edges, vertices=docs.select("doc_id"))
    release_cached_deps(edges)
    release_cached_deps(sim)
    return labels


def _assert_labels_equal(inc_labels, batch_labels):
    """Both label sets use min-member cluster ids, so equal partitions
    mean equal (id, cluster_id) rows — assert the strong form."""
    j = inc_labels.select(
        "id", F.col("cluster_id").alias("ca")
    ).join(
        batch_labels.select("id", F.col("cluster_id").alias("cb")), "id", "full"
    )
    assert j.where(
        F.col("ca").isNull() | F.col("cb").isNull() | (F.col("ca") != F.col("cb"))
    ).count() == 0


def test_incremental_matches_batch_on_planted_corpus(spark, tmp_path):
    cfg = DedupConfig()
    pages, truth, _spans = generate_pages(spark, 450, seed=7)
    docs = pages.withColumn(
        "doc_id", F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    ).select("doc_id", "text").cache()

    idx = DedupIndex(str(tmp_path / "idx"), cfg)
    labels = None
    for i in range(3):  # doc_id % 3 splits planted clusters across increments
        labels = idx.add_increment(
            docs.where(F.col("doc_id") % 3 == i), "doc_id", "text"
        )
    assert idx.meta()["n_increments"] == 3
    # superseded label snapshots pruned: only v1 (predecessor) and v2 remain
    import os

    label_dirs = sorted(os.listdir(tmp_path / "idx" / "labels"))
    assert label_dirs == ["v1", "v2"]

    _assert_labels_equal(labels, _batch_labels(docs, cfg))

    # cross-increment planted dup pairs really did connect (non-vacuous:
    # truth pairs whose endpoints landed in different increments)
    tr = truth.select(
        F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long").alias("tid"),
        "true_cluster_id",
    )
    t = (
        tr.alias("x")
        .join(tr.alias("y"), "true_cluster_id")
        .where(
            (F.col("x.tid") < F.col("y.tid"))
            & ((F.col("x.tid") % 3) != (F.col("y.tid") % 3))
        )
        .select(F.col("x.tid").alias("qa"), F.col("y.tid").alias("qb"))
    )
    assert t.count() > 0
    la = labels.select(F.col("id").alias("qa"), F.col("cluster_id").alias("ca"))
    lb = labels.select(F.col("id").alias("qb"), F.col("cluster_id").alias("cb"))
    joined = t.join(la, "qa").join(lb, "qb")
    assert joined.where(F.col("ca") != F.col("cb")).count() == 0


def test_incremental_hot_bucket_and_blank_docs(spark, tmp_path):
    # bucket_salt exercises the salted sub-bucket pairing in BOTH the
    # batch path and the fold; simhash_chunk_cap pushes the farm past the
    # SimHash chunk cap too, so both detectors' hot-bucket and new-root
    # star edges run — equality below covers their agreement
    cfg = DedupConfig(bucket_cap=8, bucket_salt=4, simhash_chunk_cap=8)
    base = " ".join(f"tok{i}" for i in range(120))
    rows = [(i, f"{base} variant{i}") for i in range(60)]  # boilerplate farm
    rows += [(100, None), (101, "   "), (102, "wholly unrelated text here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    idx = DedupIndex(str(tmp_path / "idx"), cfg)
    labels = None
    for i in range(3):
        labels = idx.add_increment(
            docs.where(F.col("doc_id") % 3 == i), "doc_id", "text"
        )

    _assert_labels_equal(labels, _batch_labels(docs, cfg))
    # the farm is one cluster even through capped buckets; the blank/NULL
    # and unrelated docs stay singletons
    farm = labels.where(F.col("id") < 60)
    assert farm.select("cluster_id").distinct().count() == 1
    singles = labels.where(F.col("id") >= 100)
    assert singles.count() == 3
    assert singles.select("cluster_id").distinct().count() == 3


def test_incremental_char_shingle_mode(spark, tmp_path):
    """CJK-style unsegmented text: the index must store the same
    char-shingle MinHash signatures the batch detector computes (the
    dual-signature kernel branches on ``shingle_mode``)."""
    cfg = DedupConfig(shingle_mode="char")
    base = "吾輩は猫である名前はまだ無い何でも薄暗いじめじめした所でニャーニャー泣いていた事だけは記憶している" * 3
    rows = [(i, base + f"追記{i % 4}") for i in range(12)]
    rows += [(50, "全く別の内容の文書でありどの文書とも似ていない" * 5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    idx = DedupIndex(str(tmp_path / "idx"), cfg)
    labels = None
    for i in range(2):
        labels = idx.add_increment(
            docs.where(F.col("doc_id") % 2 == i), "doc_id", "text"
        )
    _assert_labels_equal(labels, _batch_labels(docs, cfg))
    # the near-identical CJK docs really did cluster (char shingles work)
    assert labels.where(F.col("id") < 12).select("cluster_id").distinct().count() == 1


def test_compact_preserves_index(spark, tmp_path):
    """Compaction merges increment dirs without changing the stored
    signatures, and folds after compaction still equal the batch run."""
    import os

    cfg = DedupConfig()
    rows = [(i, f"document number {i} body words {' '.join(str(j) for j in range(i % 7 + 5))}")
            for i in range(40)]
    rows += [(100 + i, rows[i][1]) for i in range(6)]  # cross-increment copies
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    idx = DedupIndex(str(tmp_path / "idx"), cfg)
    for i in range(3):
        idx.add_increment(docs.where(F.col("doc_id") % 4 == i), "doc_id", "text")

    before = idx.signatures(spark).orderBy("id").collect()
    merged = idx.compact(spark)
    assert merged == 2
    assert sorted(os.listdir(tmp_path / "idx" / "sigs")) == ["inc=0"]
    assert idx.signatures(spark).orderBy("id").collect() == before

    labels = idx.add_increment(docs.where(F.col("doc_id") % 4 == 3), "doc_id", "text")
    _assert_labels_equal(labels, _batch_labels(docs, cfg))


def test_index_guards(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "some text one"), (2, "other text two")], "doc_id long, text string"
    )
    idx = DedupIndex(str(tmp_path / "idx"), DedupConfig())
    # the reliable CC policy reaches the fold
    idx.add_increment(docs, "doc_id", "text", reliable_cc=True)

    # config mismatch refuses
    with pytest.raises(ValueError, match="fingerprint mismatch"):
        DedupIndex(str(tmp_path / "idx"), DedupConfig(bucket_cap=7)).add_increment(
            docs, "doc_id", "text"
        )
    # duplicate doc ids across increments refuse (labels can't cover them)
    with pytest.raises(ValueError, match="duplicate doc ids"):
        idx.add_increment(docs, "doc_id", "text")


def test_compact_crash_recovery(spark, tmp_path):
    """Round-6 crash contract: compaction is WAL-logged in meta.json, so a
    crash at any point after the intent write leaves an index that the
    next entry point (signatures/add_increment/compact) finishes
    idempotently — a partial signature index is never readable."""
    import json
    import os
    import shutil

    cfg = DedupConfig()
    rows = [(i, f"document number {i} body words {' '.join(str(j) for j in range(i % 7 + 5))}")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    root = str(tmp_path / "idx")
    idx = DedupIndex(root, cfg)
    for i in range(3):
        idx.add_increment(docs.where(F.col("doc_id") % 4 == i), "doc_id", "text")
    before = idx.signatures(spark).orderBy("id").collect()

    # simulate a crash mid-compaction: staged merge fully written + intent
    # recorded + ONE source dir already deleted, swap never ran
    staged = idx._staged_dir
    idx.signatures(spark, upto=3).write.mode("overwrite").parquet(staged)
    meta = idx.meta()
    meta["compact"] = {"merged": [0, 1, 2]}
    idx._write_meta(meta)
    shutil.rmtree(idx._sig_dir(1))

    # any entry point must first finish the compaction, then read a FULL index
    assert idx.signatures(spark).orderBy("id").collect() == before
    assert "compact" not in idx.meta()
    assert sorted(os.listdir(tmp_path / "idx" / "sigs")) == ["inc=0"]
    assert not os.path.isdir(staged)

    # crash BEFORE the intent write (staged garbage only): sources untouched,
    # staged is swept, signatures unchanged
    os.makedirs(os.path.join(staged, "junk"))
    assert idx.signatures(spark).orderBy("id").collect() == before
    assert not os.path.isdir(staged)

    # a staged dir without _SUCCESS while an intent exists is corruption ->
    # loud refusal, not a guess
    os.makedirs(staged)
    meta = idx.meta()
    meta["compact"] = {"merged": [0]}
    idx._write_meta(meta)
    with pytest.raises(RuntimeError, match="without _SUCCESS"):
        idx.signatures(spark)
    shutil.rmtree(staged)
    meta = idx.meta()
    meta.pop("compact")
    idx._write_meta(meta)

    # and folds after a recovered compaction still equal the batch run
    labels = idx.add_increment(docs.where(F.col("doc_id") % 4 == 3), "doc_id", "text")
    _assert_labels_equal(labels, _batch_labels(docs, cfg))


def test_reliable_cc_checkpoints_under_index_root_and_removed(spark, tmp_path, monkeypatch):
    """``reliable_cc=True`` writes CC's round files under the index root,
    and the fold removes them once the labels are written."""
    import os

    from cs588_data_science_bug_duplicate_detector_spark.operators import cc
    from cs588_data_science_bug_duplicate_detector_spark.operators import incremental

    # force the star loop: under the driver-side bound no round files
    monkeypatch.setattr(cc, "_LOCAL_MAX_EDGES", -1)
    root = tmp_path / "idx"
    left = []

    def spy(*args, **kwargs):
        out = cc.connected_components(*args, **kwargs)
        assert kwargs["reliable"] and kwargs["checkpoint_dir"] == str(root / "_cc_checkpoints")
        left.append(os.listdir(kwargs["checkpoint_dir"]))
        return out

    monkeypatch.setattr(incremental, "connected_components", spy)
    docs = spark.createDataFrame(
        [(i, f"shared body text number {i % 3} for the copies") for i in range(9)],
        "doc_id long, text string",
    )
    idx = DedupIndex(str(root), DedupConfig())
    for i in range(2):
        labels = idx.add_increment(docs.where(F.col("doc_id") % 2 == i), "doc_id", "text",
                                   reliable_cc=True)
    assert labels.select("cluster_id").distinct().count() == 3
    # each fold's CC left only its last round's files, until the fold removed them
    assert [len(x) for x in left] == [1, 1]
    assert not os.path.exists(root / "_cc_checkpoints")


def test_exact_rule_matches_md5_oracle(spark):
    """Exact dups against an oracle that shares no code with the rule:
    hashlib md5 groups of the non-blank texts, labeled by union-find, as
    partitions of ``exact_dup_edges`` (batch) and of a 3-increment
    ``incremental_exact_edges`` fold."""
    import hashlib

    from cs588_data_science_bug_duplicate_detector_spark.operators.cc import union_find_oracle
    from cs588_data_science_bug_duplicate_detector_spark.operators.exact import text_md5_col
    from cs588_data_science_bug_duplicate_detector_spark.operators.incremental import (
        incremental_exact_edges,
    )

    rows = [  # (doc_id, increment, text)
        (20, 0, "alpha page"), (30, 0, "alpha page"), (40, 1, "alpha page"),
        # a new doc whose smaller id becomes the root of an old group
        (50, 0, "beta page"), (60, 0, "beta page"), (5, 1, "beta page"), (7, 2, "beta page"),
        # copies that only meet across increments
        (70, 0, "gamma"), (8, 2, "gamma"), (90, 1, "delta"), (91, 2, "delta"),
        (1, 0, "unique one"), (2, 1, "unique two"),
        # content-less docs never group
        (100, 0, None), (101, 1, None), (102, 0, "   "), (103, 2, "   "),
        (104, 1, "\n"), (105, 2, "\n"), (106, 0, "\n\n"), (107, 2, " \t\n"),
    ]
    ids = [r[0] for r in rows]
    groups = {}
    for i, _inc, t in rows:
        if t is not None and t.strip():
            groups.setdefault(hashlib.md5(t.encode()).hexdigest(), []).append(i)
    oracle = union_find_oracle([(min(m), x) for m in groups.values() for x in m], ids)
    assert oracle[5] == 5 and oracle[60] == 5 and oracle[7] == 5  # new root of an old group
    assert all(oracle[i] == i for i in range(100, 108))

    docs = spark.createDataFrame(rows, "doc_id long, inc int, text string")
    batch = exact_dup_edges(docs, "doc_id", "text").collect()
    assert union_find_oracle(batch, ids) == oracle

    hashes = docs.select(F.col("doc_id").alias("id"), "inc", text_md5_col("text").alias("text_md5"))
    folded = []
    for n in range(3):
        new = hashes.where(F.col("inc") == n).drop("inc")
        old = hashes.where(F.col("inc") < n).drop("inc")
        out = incremental_exact_edges(new, old).collect()
        # every edge has a new endpoint and none repeats within a fold
        new_ids = {r[0] for r in rows if r[1] == n}
        assert all(r["src"] in new_ids or r["dst"] in new_ids for r in out)
        assert len(out) == len(set(out))
        folded += out
    assert union_find_oracle(folded, ids) == oracle


def test_incremental_update_script_runs_outside_the_repo(tmp_path):
    """``scripts/incremental_update.py`` started from another directory,
    without PYTHONPATH: the session puts the package root on the Python
    UDF workers' path, so signing the increment does not fail with
    ModuleNotFoundError in the workers."""
    import json
    import os
    import subprocess
    import sys

    import pandas as pd

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inp = tmp_path / "inc"
    inp.mkdir()
    text = "the quick brown fox jumps over the lazy dog near the river bank"
    pd.DataFrame({"doc_id": [1, 2, 3], "text": [text, text + " today", "unrelated words only"]}) \
        .to_parquet(inp / "part-0.parquet")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "scripts", "incremental_update.py"),
         "--index", str(tmp_path / "idx"), "--input", str(inp), "--cores", "1",
         "--reliable-cc"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["total_docs"] == 3 and summary["n_clusters"] == 2
    # the reliable fold removes its CC round files once the labels are written
    assert not os.path.exists(tmp_path / "idx" / "_cc_checkpoints")
