"""Single-doc inspection (reference inference_comparison parity)."""

from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig
from cs588_data_science_bug_duplicate_detector_spark.operators.inspect import (
    inspect_doc,
    retrieve_top_k,
)


def _corpus(spark):
    base = " ".join(f"w{i}" for i in range(100))
    near = " ".join(f"w{i}" for i in range(90)) + " " + " ".join(f"x{i}" for i in range(10))
    rows = [
        (1, base),
        (2, base),          # exact dup of 1
        (3, near),          # near dup of 1
        (4, " ".join(f"z{i}" for i in range(100))),  # unrelated
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_retrieve_top_k_ranks_duplicates_first(spark):
    docs = _corpus(spark)
    got = retrieve_top_k(docs, "doc_id", "text", query_id=1, cfg=DedupConfig(), k=5).collect()
    ids = [r["cand_id"] for r in got]
    assert ids[0] == 2  # exact dup: est_jaccard 1.0
    assert got[0]["est_jaccard"] == 1.0
    assert 3 in ids      # near dup shares buckets
    assert 4 not in ids  # unrelated never shares a bucket


def test_inspect_doc_marks_truth(spark):
    docs = _corpus(spark)
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "doc_id long, cluster_id long"
    )
    out = inspect_doc(docs, "doc_id", "text", 1, DedupConfig(), k=5, labels=labels)
    assert "QUERY DOC: 1" in out
    assert "✓ DUPLICATE" in out
    assert "Known Duplicates: 2" in out
    assert "Duplicates found in top-5: 2/2 (100.0%)" in out


def test_compare_configs_side_by_side(spark):
    """Two-config diff (≙ inference_baseline_vs_trained.py): a config with
    only 1 minhash permutation retrieves worse than the default; the summary
    reports both counts and a non-negative improvement delta."""
    from cs588_data_science_bug_duplicate_detector_spark.operators.inspect import compare_configs

    docs = _corpus(spark)
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "doc_id long, cluster_id long"
    )
    weak = DedupConfig(num_perm=4, bands=1, rows_per_band=4)
    out = compare_configs(
        docs, "doc_id", "text", 1, weak, DedupConfig(), k=5, labels=labels,
        name_a="WEAK (4 perms, 1 band)", name_b="PRODUCTION",
    )
    assert "QUERY DOC: 1" in out
    assert "TOP 5 RESULTS - WEAK (4 perms, 1 band)" in out
    assert "TOP 5 RESULTS - PRODUCTION" in out
    assert "Found in top-5 with PRODUCTION: 2/2 (100.0%)" in out
    assert "Improvement (PRODUCTION vs WEAK (4 perms, 1 band)):" in out


def test_parse_cfg_cli_overrides():
    """--compare spec parsing: literal values, tuples with embedded commas,
    and bare strings must round-trip into a valid DedupConfig (round-3
    advice: type(...)(v) iterated tuple strings char-by-char)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "inspect_doc", "/root/repo/scripts/inspect_doc.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    cfg = mod._parse_cfg(
        "num_perm=64,bands=16,rows_per_band=4,verify_threshold=0.5,"
        "k_values=(1,5),anchor_hash=md5"
    )
    assert cfg.num_perm == 64 and cfg.bands == 16 and cfg.rows_per_band == 4
    assert cfg.verify_threshold == 0.5
    assert cfg.k_values == (1, 5)
    assert cfg.anchor_hash == "md5"
