"""SimHash operator: pigeonhole chunk join finds all pairs within the
Hamming radius; verification rejects far pairs."""

from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig
from cs588_data_science_bug_duplicate_detector_spark.operators.simhash import (
    simhash_edges,
    with_simhash,
)


def _docs(spark):
    base = [f"tok{i}" for i in range(300)]
    variant = list(base)
    variant[150] = "changed"
    far = [f"other{i}" for i in range(300)]
    rows = [
        (1, " ".join(base)),
        (2, " ".join(base)),        # identical -> hamming 0
        (3, " ".join(variant)),     # 1-token diff -> tiny hamming
        (4, " ".join(far)),         # unrelated
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_edges_near_identical(spark):
    cfg = DedupConfig()
    edges = simhash_edges(_docs(spark), "doc_id", "text", cfg)
    got = {(r["src"], r["dst"]) for r in edges.collect()}
    assert (1, 2) in got
    assert (1, 3) in got and (2, 3) in got
    assert not any(4 in e for e in got)


def test_simhash_column_matches_kernel(spark):
    import pandas as pd

    from cs588_data_science_bug_duplicate_detector_spark.functions import hashing

    df = with_simhash(_docs(spark), "text")
    got = {r["doc_id"]: r["simhash"] for r in df.collect()}
    texts = {r["doc_id"]: r["text"] for r in _docs(spark).collect()}
    for doc_id, text in texts.items():
        flats = hashing.flat_token_hashes(hashing.tokenize_series(pd.Series([text])))
        assert got[doc_id] == int(hashing.simhash_signatures(flats)[0])
