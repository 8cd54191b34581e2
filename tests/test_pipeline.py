"""Pipeline integration: checkpoint/resume contract + byte-identity invariant."""

import pytest
from pyspark.sql import functions as F

from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig
from cs588_data_science_bug_duplicate_detector_spark.datagen import generate_pages
from cs588_data_science_bug_duplicate_detector_spark.functions.extract import with_extracted_text
from cs588_data_science_bug_duplicate_detector_spark.plans.pipeline import run_pipeline


def _label_map(labels):
    return {r["url"]: r["cluster_id"] for r in labels.collect()}


@pytest.fixture(scope="module")
def pages(spark):
    pages, truth, spans = generate_pages(spark, 250, seed=42)
    return pages.cache(), truth, spans


def test_unknown_or_empty_detector_set_fails_fast(spark, pages, tmp_path_factory):
    """A typo like 'minhsah' must raise a clear ValueError at entry, not an
    IndexError deep inside the candidate-edges stage (the fingerprint would
    happily incorporate the typo and nothing upstream flags it)."""
    pages_df, _, _ = pages
    wd = str(tmp_path_factory.mktemp("wd_baddet"))
    with pytest.raises(ValueError, match="minhsah"):
        run_pipeline(spark, pages_df, wd, DedupConfig(), detectors=("minhsah",))
    with pytest.raises(ValueError, match="empty detector set"):
        run_pipeline(spark, pages_df, wd, DedupConfig(), detectors=())


def test_pipeline_end_to_end_and_resume(spark, pages, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("pipe"))
    pages_df, truth, _ = pages
    run1 = run_pipeline(spark, pages_df, wd, DedupConfig())
    lab1 = _label_map(run1.labels)
    assert len(lab1) == pages_df.count()
    assert all(not s["resumed"] for s in run1.stats["stages"].values())

    # full resume: every stage skipped, identical labels
    run2 = run_pipeline(spark, pages_df, wd, DedupConfig())
    assert all(s["resumed"] for s in run2.stats["stages"].values())
    assert _label_map(run2.labels) == lab1

    # truth recall through the pipeline surface (url-keyed)
    truth_pairs = set()
    by_cluster = {}
    for r in truth.collect():
        by_cluster.setdefault(r["true_cluster_id"], []).append(r["url"])
    for members in by_cluster.values():
        members.sort()
        truth_pairs.update(
            (a, b) for i, a in enumerate(members) for b in members[i + 1 :]
        )
    pred_by_cluster = {}
    for u, c in lab1.items():
        pred_by_cluster.setdefault(c, []).append(u)
    pred_pairs = set()
    for members in pred_by_cluster.values():
        members.sort()
        pred_pairs.update(
            (a, b) for i, a in enumerate(members) for b in members[i + 1 :]
        )
    recall = len(truth_pairs & pred_pairs) / len(truth_pairs)
    assert recall >= 0.99


def test_pipeline_mid_resume_recomputes_only_tail(spark, pages, tmp_path_factory):
    """Kill-and-rerun (north_rule): drop the final checkpoint; earlier stages
    resume, the tail recomputes, labels identical."""
    import shutil
    import os

    wd = str(tmp_path_factory.mktemp("pipe_mid"))
    pages_df, _, _ = pages
    run1 = run_pipeline(spark, pages_df, wd, DedupConfig())
    lab1 = _label_map(run1.labels)

    shutil.rmtree(os.path.join(wd, "component_labels"))
    run2 = run_pipeline(spark, pages_df, wd, DedupConfig())
    assert run2.stats["stages"]["documents"]["resumed"]
    assert run2.stats["stages"]["candidate_edges"]["resumed"]
    assert not run2.stats["stages"]["component_labels"]["resumed"]
    assert _label_map(run2.labels) == lab1


def test_config_change_invalidates_checkpoints(spark, pages, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("pipe_cfg"))
    pages_df, _, _ = pages
    run_pipeline(spark, pages_df, wd, DedupConfig())
    run2 = run_pipeline(spark, pages_df, wd, DedupConfig(bands=16, rows_per_band=8))
    assert not run2.stats["stages"]["documents"]["resumed"]


def test_extraction_byte_identity(spark, pages):
    """input_hint invariant: text extracted from html is byte-identical to the
    stored text column, per url, and stable across re-extraction."""
    pages_df, _, _ = pages
    ext = with_extracted_text(pages_df.drop("text"), "html", "text")
    joined = (
        ext.select("url", F.col("text").alias("extracted"))
        .join(pages_df.select("url", "text"), "url")
        .withColumn(
            "match", F.sha2(F.col("extracted"), 256) == F.sha2(F.col("text"), 256)
        )
    )
    n_bad = joined.where(~F.col("match")).count()
    assert n_bad == 0
    # determinism across runs
    h1 = sorted(
        ext.select(F.sha2("text", 256).alias("h")).collect()
    )
    ext2 = with_extracted_text(pages_df.drop("text"), "html", "text")
    h2 = sorted(ext2.select(F.sha2("text", 256).alias("h")).collect())
    assert h1 == h2


def test_detector_set_change_invalidates_edge_checkpoint(spark, pages, tmp_path_factory):
    """Resuming with a different detector set must rebuild signatures/edges
    (round-1 advice: the old fingerprint ignored `detectors`, silently
    reusing edges from the previous set)."""
    wd = str(tmp_path_factory.mktemp("pipe_det"))
    pages_df, _, _ = pages
    run_pipeline(spark, pages_df, wd, DedupConfig(), detectors=("exact", "minhash"))
    run2 = run_pipeline(
        spark, pages_df, wd, DedupConfig(), detectors=("exact", "minhash", "simhash")
    )
    assert not run2.stats["stages"]["candidate_edges"]["resumed"]
    assert run2.stats["stages"]["documents"]["resumed"]  # detector-independent stage


def test_repeated_detector_names_resume_the_same_checkpoints(spark, pages, tmp_path_factory):
    """A repeated detector name is the same detector set: same stage salts,
    so the other spelling resumes every stage, and stats list it once."""
    wd = str(tmp_path_factory.mktemp("pipe_dup_det"))
    pages_df, _, _ = pages
    run1 = run_pipeline(spark, pages_df, wd, DedupConfig(), detectors=("minhash", "minhash"))
    assert run1.stats["detectors"] == ["minhash"]
    run2 = run_pipeline(spark, pages_df, wd, DedupConfig(), detectors=("minhash",))
    assert all(s["resumed"] for s in run2.stats["stages"].values())
    assert _label_map(run2.labels) == _label_map(run1.labels)


def test_signatures_without_text_md5_are_recomputed(spark, pages, tmp_path_factory):
    """A workdir from before exact read text_md5 from the signatures
    checkpoint (no text_md5 column, stage salt ``documents[...]``) resumes
    its documents but recomputes signatures and edges instead of failing."""
    from cs588_data_science_bug_duplicate_detector_spark.operators.incremental import sign_docs
    from cs588_data_science_bug_duplicate_detector_spark.sources.tableio import TableIO

    wd = str(tmp_path_factory.mktemp("pipe_old_sigs"))
    pages_df, _, _ = pages
    dets = ("exact", "minhash")
    run1 = run_pipeline(spark, pages_df, wd, DedupConfig(), detectors=dets)
    io = TableIO(wd)
    old = sign_docs(io.read(spark, "documents"), "doc_id", "text", DedupConfig(), ("minhash",))
    io.write(old, "signatures")
    assert "text_md5" not in io.read(spark, "signatures").columns
    for name in ("signatures", "candidate_edges"):
        meta = io.read_meta(name)
        assert meta["input_fingerprint"].startswith("signatures.v2[exact,minhash]:")
        meta["input_fingerprint"] = meta["input_fingerprint"].replace("signatures.v2[", "documents[", 1)
        io.write_meta(name, meta)

    run2 = run_pipeline(spark, pages_df, wd, DedupConfig(), detectors=dets)
    stages = run2.stats["stages"]
    assert stages["documents"]["resumed"]
    assert not stages["signatures"]["resumed"] and not stages["candidate_edges"]["resumed"]
    assert "text_md5" in io.read(spark, "signatures").columns
    assert _label_map(run2.labels) == _label_map(run1.labels)


def test_content_change_invalidates_checkpoints(spark, pages, tmp_path_factory):
    """Same urls, different text -> new fingerprints (content-bearing
    checksum, not just the key column)."""
    wd = str(tmp_path_factory.mktemp("pipe_content"))
    pages_df, _, _ = pages
    run_pipeline(spark, pages_df, wd, DedupConfig())
    recrawled = pages_df.withColumn("text", F.concat(F.col("text"), F.lit(" edited")))
    run2 = run_pipeline(spark, recrawled, wd, DedupConfig())
    assert not run2.stats["stages"]["documents"]["resumed"]
    assert not run2.stats["stages"]["candidate_edges"]["resumed"]


def test_cap_metrics_surface_in_stats_and_meta(spark, tmp_path_factory):
    """Hot-bucket / window caps must land in detector_stats and the stage
    meta — silent truncation is not allowed to read as full coverage."""
    import json
    import os

    from cs588_data_science_bug_duplicate_detector_spark.operators.minhash import (
        hot_bucket_stats,
        lsh_edges,
        release_cached_deps,
    )
    from cs588_data_science_bug_duplicate_detector_spark.operators.simhash import hamming_edges
    from cs588_data_science_bug_duplicate_detector_spark.operators.suffix import window_cap_stats
    from cs588_data_science_bug_duplicate_detector_spark.sources.tableio import TableIO

    wd = str(tmp_path_factory.mktemp("pipe_caps"))
    base = " ".join(f"w{i}" for i in range(120))
    rows = [(f"https://ex.com/p/{i}", f"<html><main>{base}</main></html>") for i in range(30)]
    pages_df = spark.createDataFrame(rows, "url string, html string").withColumn(
        "html", F.col("html").cast("binary")
    )
    cfg = DedupConfig(bucket_cap=10, simhash_chunk_cap=10, max_windows_per_doc=4)
    run = run_pipeline(spark, pages_df, wd, cfg)
    det = run.stats["detector_stats"]
    assert det["minhash"]["hot_buckets"] > 0
    assert det["simhash"]["hot_chunks"] > 0
    # the summaries taken after the edge write are the caps of the
    # pipeline's own signatures, recomputed here from the checkpoint
    sigs = TableIO(wd).read(spark, "signatures")
    mh = sigs.select("doc_id", "minhash")
    mh_edges, mh_hot = lsh_edges(mh, mh.where(F.lit(False)), "doc_id", cfg)
    sh = sigs.select("doc_id", "simhash")
    sh_edges, sh_hot = hamming_edges(sh, sh.where(F.lit(False)), "doc_id", cfg)
    assert det["minhash"] == hot_bucket_stats(mh_hot)
    assert det["simhash"] == {
        k.replace("bucket", "chunk"): v for k, v in hot_bucket_stats(sh_hot).items()
    }
    release_cached_deps(mh_edges)
    release_cached_deps(sh_edges)
    assert det["suffix"]["windows_dropped"] > 0
    assert det["suffix"]["docs_capped"] == 30
    # the observed counters equal a direct aggregate over the documents
    docs = TableIO(wd).read(spark, "documents")
    assert det["suffix"] == window_cap_stats(docs, "doc_id", "text", cfg)
    with open(os.path.join(wd, "candidate_edges._meta.json")) as f:
        meta = json.load(f)
    assert meta["detector_stats"]["minhash"]["hot_buckets"] > 0
    # identical docs must still cluster together despite every cap firing
    labels = {r["cluster_id"] for r in run.labels.collect()}
    assert len(labels) == 1
    # id-collision audit metered into lineage (xxhash64(url) birthday bound)
    assert run.stats["id_collisions"] == 0
    with open(os.path.join(wd, "documents._meta.json")) as f:
        assert json.load(f)["id_collisions"] == 0


def test_suffix_counters_when_suffix_emits_no_edge(spark, tmp_path_factory):
    """With the default detectors, a corpus whose suffix detector emits no
    edge must finish and report the true window-cap counters. The cap
    observation sits below the window exchanges, and AQE prunes an empty
    stage together with it, so it never completes on such a corpus: the
    counters come from a direct aggregate. Two corpora: no doc reaches
    ``suffix_min_tokens`` (no windows at all), and 12 docs of 80 distinct
    tokens (31 window starts each, under the 512 cap, none shared)."""
    from cs588_data_science_bug_duplicate_detector_spark.sources.tableio import TableIO

    short = [
        (f"https://ex.com/s/{i}", f"short page number {i % 4} about the same thing again and again")
        for i in range(12)
    ]
    distinct = [
        (f"https://ex.com/d/{i}", " ".join(f"t{i}x{j}" for j in range(80))) for i in range(12)
    ]
    for rows, truth, n_clusters in (
        (short, {"windows_dropped": 0, "docs_capped": 0, "docs_windowed": 0}, 4),
        (distinct, {"windows_dropped": 0, "docs_capped": 0, "docs_windowed": 12}, 12),
    ):
        wd = str(tmp_path_factory.mktemp("pipe_no_suffix"))
        pages_df = spark.createDataFrame(rows, "url string, text string")
        run = run_pipeline(spark, pages_df, wd, DedupConfig(), resume=False)
        assert run.stats["detectors"] == ["exact", "minhash", "simhash", "suffix"]
        assert run.stats["detector_stats"]["suffix"] == truth
        edges = TableIO(wd).read(spark, "candidate_edges")
        assert edges.where(F.col("detector") == "suffix").count() == 0
        assert run.labels.select("cluster_id").distinct().count() == n_clusters


def test_keep_best_gate_protects_better_labels(spark, pages, tmp_path_factory):
    """W6 (≙ reference train.py:349-355): a worse re-run must NOT overwrite
    the better labels checkpoint; a better one must."""
    import os

    wd = str(tmp_path_factory.mktemp("pipe_best"))
    pages_df, _, _ = pages

    # first run: full detector set, quality scored by planted-pair recall
    # stand-in (here: fraction of docs in non-singleton clusters — any
    # monotone-ish score works for the gate contract)
    def quality(labels):
        n = labels.count()
        from pyspark.sql import functions as F

        multi = (
            labels.groupBy("cluster_id").count().where(F.col("count") > 1)
            .agg(F.coalesce(F.sum("count"), F.lit(0)).alias("m")).collect()[0]["m"]
        )
        return multi / n

    run1 = run_pipeline(spark, pages_df, wd, DedupConfig(), quality_fn=quality)
    assert run1.stats["keep_best"]["kept"] == "new"
    q1 = run1.stats["keep_best"]["new_quality"]
    lab1 = _label_map(run1.labels)

    # second run in a FRESH workdir state for edges (exact-only detectors ->
    # fewer dup pairs -> lower quality) but same best checkpoint dir
    run2 = run_pipeline(
        spark, pages_df, wd, DedupConfig(), detectors=("exact",), quality_fn=quality
    )
    assert run2.stats["keep_best"]["kept"] == "previous"
    assert run2.stats["keep_best"]["prev_quality"] == q1
    # labels returned ARE the protected better ones
    assert _label_map(run2.labels) == lab1
    assert os.path.exists(os.path.join(wd, "component_labels_best", "_SUCCESS"))


def test_keep_best_gate_resets_on_new_corpus(spark, pages, tmp_path_factory):
    """The gate compares quality only WITHIN a corpus: re-running the same
    workdir on different data must not return stale labels whose doc_ids
    belong to the old corpus, even when the old quality score was higher."""
    wd = str(tmp_path_factory.mktemp("pipe_best_fp"))
    pages_df, _, _ = pages

    run1 = run_pipeline(spark, pages_df, wd, DedupConfig(), quality_fn=lambda _: 0.9)
    assert run1.stats["keep_best"]["kept"] == "new"

    # same config, LOWER score, but a DIFFERENT corpus -> the stored best is
    # incomparable: gate resets and the new labels win
    smaller = pages_df.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    n_smaller = smaller.count()
    assert 0 < n_smaller < pages_df.count()
    run2 = run_pipeline(spark, smaller, wd, DedupConfig(), quality_fn=lambda _: 0.1)
    assert run2.stats["keep_best"]["kept"] == "new"
    assert run2.stats["keep_best"]["prev_quality"] is None
    assert run2.labels.count() == n_smaller

    # same corpus again: cross-run comparison is live once more
    run3 = run_pipeline(spark, smaller, wd, DedupConfig(), quality_fn=lambda _: 0.05)
    assert run3.stats["keep_best"]["kept"] == "previous"


def test_resumed_run_backfills_id_collisions(spark, pages, tmp_path_factory):
    """A fully-resumed run must still expose the doc_id collision audit in
    stats (round-3 advice: it silently vanished on resume)."""
    wd = str(tmp_path_factory.mktemp("pipe_backfill"))
    pages_df, _, _ = pages
    run1 = run_pipeline(spark, pages_df, wd, DedupConfig())
    assert run1.stats["id_collisions"] == 0
    run2 = run_pipeline(spark, pages_df, wd, DedupConfig())
    assert run2.stats["stages"]["documents"]["resumed"]
    assert run2.stats["id_collisions"] == 0


def test_keep_best_gate_survives_meta_upgrade(spark, pages, tmp_path_factory):
    """A best checkpoint written BEFORE the data_fingerprint key existed is
    indeterminate, not different: the first run after upgrade on the same
    corpus must still protect the stored best (round-4 advice: get() None
    != data_fp silently discarded it) and backfill the missing key."""
    import json
    import os

    wd = str(tmp_path_factory.mktemp("pipe_best_upgrade"))
    pages_df, _, _ = pages

    run1 = run_pipeline(spark, pages_df, wd, DedupConfig(), quality_fn=lambda _: 0.9)
    assert run1.stats["keep_best"]["kept"] == "new"

    # simulate a pre-upgrade checkpoint: strip the fingerprint key
    meta_path = os.path.join(wd, "component_labels_best._meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    fp = meta.pop("data_fingerprint")
    with open(meta_path, "w") as f:
        json.dump(meta, f)

    # same corpus, WORSE score: the legacy best must win, not be dropped
    run2 = run_pipeline(spark, pages_df, wd, DedupConfig(), quality_fn=lambda _: 0.1)
    assert run2.stats["keep_best"]["kept"] == "previous"
    # and the missing key is backfilled so later corpus changes still reset
    with open(meta_path) as f:
        assert json.load(f)["data_fingerprint"] == fp


def test_pipeline_cc_uses_reliable_checkpoints_and_survives_kill(
    spark, pages, tmp_path_factory, monkeypatch
):
    """Round-4 verdict #5: with a durable workdir the CC loop must use
    RELIABLE (disk) checkpoints under it, so executor loss mid-CC recovers
    from files instead of restarting the loop. Evidence: (a) a run killed
    MID-CC leaves round checkpoints on disk under the configured dir;
    (b) a COMPLETED pipeline cleans the superseded round files up (they
    are dead weight once the labels checkpoint is durably written);
    (c) the re-run resumes the completed stages and produces labels
    identical to an uninterrupted run."""
    import os

    from cs588_data_science_bug_duplicate_detector_spark.operators import cc
    from cs588_data_science_bug_duplicate_detector_spark.operators.cc import (
        connected_components,
    )

    wd = str(tmp_path_factory.mktemp("pipe_cc_reliable"))
    pages_df, _, _ = pages

    def session_state():
        return (
            spark.conf.get("spark.sql.shuffle.partitions"),
            spark.sparkContext._jsc.sc().getCheckpointDir().toString(),
        )

    # uninterrupted reference run in a separate workdir
    wd_ref = str(tmp_path_factory.mktemp("pipe_cc_reliable_ref"))
    before = session_state()
    ref = run_pipeline(spark, pages_df, wd_ref, DedupConfig())
    ref_labels = _label_map(ref.labels)
    ckpt_root = os.path.join(wd_ref, "_cc_checkpoints")
    assert not (os.path.isdir(ckpt_root) and os.listdir(ckpt_root)), (
        "completed pipeline must clean up superseded CC round checkpoints"
    )
    # CC reads and writes no session setting
    assert session_state() == before

    # kill MID-CC: a direct reliable CC run interrupted after round 0 still
    # leaves that round's files on disk (what a recovering executor reads)
    class Killed(RuntimeError):
        pass

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    kill_dir = os.path.join(wd, "_cc_kill")

    def killer(it, n):
        raise Killed()

    # four edges fall under the driver-side bound: force the star loop
    monkeypatch.setattr(cc, "_LOCAL_MAX_EDGES", -1)
    try:
        connected_components(
            edges, reliable=True, checkpoint_dir=kill_dir, on_iteration=killer
        )
        raise AssertionError("expected mid-CC kill")
    except Killed:
        pass
    assert session_state() == before
    assert "r1" in os.listdir(kill_dir)  # round 0's parquet files

    # the pipeline re-run over the same workdir completes and matches
    run2 = run_pipeline(spark, pages_df, wd_ref, DedupConfig())
    assert run2.stats["stages"]["component_labels"]["resumed"]
    assert _label_map(run2.labels) == ref_labels
