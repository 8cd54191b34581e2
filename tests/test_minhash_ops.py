"""MinHash operator internals: band determinism, hot-bucket capping with
connectivity preservation, estimated-Jaccard verification."""

import pytest
from pyspark.sql import functions as F

from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig
from cs588_data_science_bug_duplicate_detector_spark.operators.minhash import (
    band_table,
    capped_band_table,
    minhash_edges,
    verify_pairs,
    with_minhash,
)


@pytest.fixture(scope="module")
def corpus(spark):
    base = " ".join(f"w{i}" for i in range(150))
    rows = [(i, base) for i in range(30)]  # 30 identical docs -> hot buckets
    rows += [(100 + i, f"unique doc number {i} " + " ".join(f"u{i}x{j}" for j in range(80))) for i in range(10)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_band_table_shape_and_determinism(spark, corpus):
    cfg = DedupConfig()
    sigs = with_minhash(corpus, "text", cfg)
    bands = band_table(sigs, "doc_id", cfg)
    assert bands.count() == corpus.count() * cfg.bands
    # identical docs -> identical band keys: the 30 clones share exactly
    # cfg.bands distinct keys, each bucket holding all 30
    clone_buckets = (
        bands.where(F.col("id") < 100)
        .groupBy("band_key")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert len(clone_buckets) == cfg.bands
    assert all(r["n"] == 30 for r in clone_buckets)


def test_hot_bucket_cap_preserves_connectivity(spark, corpus):
    cfg = DedupConfig(bucket_cap=10)  # 30 identical docs > cap
    sigs = with_minhash(corpus, "text", cfg)
    bw = capped_band_table(band_table(sigs, "doc_id", cfg), cfg)
    hot = bw.where(F.col("bucket_size") > cfg.bucket_cap).select("band_key").distinct()
    assert hot.count() == cfg.bands  # every band's bucket for the clones is hot
    ok = bw.where(F.col("bucket_size") <= cfg.bucket_cap)
    assert ok.where(F.col("id") < 100).count() == 0  # clones fully capped
    star = (
        bw.where((F.col("bucket_size") > cfg.bucket_cap) & (F.col("id") != F.col("root")))
        .select("root", "id")
        .distinct()
    )
    got = {(r["root"], r["id"]) for r in star.collect()}
    # min member 0 connects every other clone: linear, not quadratic
    assert got == {(0, i) for i in range(1, 30)}


def test_quadratic_pairs_avoided_under_cap(spark, corpus):
    cfg = DedupConfig(bucket_cap=10)
    edges, hot = minhash_edges(corpus, "doc_id", "text", cfg)
    e = edges.collect()
    clone_edges = [r for r in e if r["src"] < 100 and r["dst"] < 100]
    assert len(clone_edges) == 29  # star, not 30*29/2 pairs
    # unique docs produce no cross edges
    assert not [r for r in e if r["src"] >= 100 or r["dst"] >= 100]


def test_verify_rejects_low_similarity(spark):
    cfg = DedupConfig()
    a = " ".join(f"w{i}" for i in range(100))
    b = " ".join(f"w{i}" for i in range(60)) + " " + " ".join(f"z{i}" for i in range(40))
    docs = spark.createDataFrame([(1, a), (2, b), (3, a)], "doc_id long, text string")
    sigs = with_minhash(docs, "text", cfg)
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "src long, dst long")
    kept = verify_pairs(pairs, sigs, "doc_id", cfg).collect()
    kept_pairs = {(r["src"], r["dst"]) for r in kept}
    assert (1, 3) in kept_pairs  # identical -> est_jaccard 1.0
    assert (1, 2) not in kept_pairs  # ~0.45 token-shingle jaccard < 0.6 threshold
    est = {(r["src"], r["dst"]): r["est_jaccard"] for r in kept}
    assert est[(1, 3)] == 1.0


def test_bucket_salting_recovers_hot_bucket_pairs(spark):
    """north_rule explicit salting: in a hot bucket whose root fails the
    verify against everyone (template distractor with the smallest id),
    star-only capping loses true member<->member pairs; bucket_salt
    sub-bucket pairs recover them (pigeonhole guarantees >=2 of the 3 true
    dups share a salt), and connectivity edges never regress."""
    from cs588_data_science_bug_duplicate_detector_spark.operators.minhash import lsh_edges

    # num_perm=8, bands=2 x rows=4. Every doc shares band-0 slots [1,2,3,4]
    # (one hot bucket, root=id 1). Docs 2,3,7: pairwise 6/8 slots equal
    # (est J 0.75 >= 0.6) but each pair differs inside band 1 -> no band-1
    # bucket. Docs 4,5,6: unique band-1, only 4/8 vs anyone. Doc 1: 4/8 vs
    # everyone -> root verify fails for every star edge.
    band0 = [1, 2, 3, 4]
    rows = [
        (1, band0 + [90, 91, 92, 93]),
        (2, band0 + [50, 51, 10, 11]),
        (3, band0 + [50, 51, 20, 21]),
        (7, band0 + [50, 51, 30, 31]),
        (4, band0 + [60, 61, 62, 63]),
        (5, band0 + [70, 71, 72, 73]),
        (6, band0 + [80, 81, 82, 83]),
    ]
    sigs = spark.createDataFrame(rows, "doc_id long, minhash array<long>")
    base = dict(num_perm=8, bands=2, rows_per_band=4, bucket_cap=3)

    def edges(cfg):
        e, _hot = lsh_edges(sigs, sigs.where(F.lit(False)), "doc_id", cfg)
        out = {(r["src"], r["dst"]) for r in e.collect()}
        from cs588_data_science_bug_duplicate_detector_spark.operators.minhash import (
            release_cached_deps,
        )

        release_cached_deps(e)
        return out

    plain = edges(DedupConfig(**base))
    salted = edges(DedupConfig(**base, bucket_salt=2))
    true_pairs = {(2, 3), (2, 7), (3, 7)}
    assert not (plain & true_pairs)          # star-only: recall hole
    assert salted & true_pairs               # salting recovers >=1 true pair
    assert plain <= salted                   # never regresses
    # the 0.5-similarity distractor/root must not gain edges from salting
    assert not any(1 in p for p in salted)
