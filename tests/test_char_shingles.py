"""Char-shingle mode: CJK near-duplicates cluster; token mode (correctly)
refuses — the ASCII tokenizer yields zero tokens for unsegmented scripts,
so token-mode docs stay singletons instead of mega-merging."""

from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig
from cs588_data_science_bug_duplicate_detector_spark.operators.minhash import minhash_edges

ZH_A = "机器学习模型需要大量高质量的训练数据才能取得良好的效果" * 6
ZH_B = ZH_A[:-8] + "并且需要仔细清洗"          # near-dup of A
ZH_C = "今天天气很好我们一起去公园散步然后吃晚饭看电影休息" * 6  # unrelated


def _edges(spark, cfg):
    docs = spark.createDataFrame(
        [(1, ZH_A), (2, ZH_B), (3, ZH_C)], "doc_id long, text string"
    )
    e, _hot = minhash_edges(docs, "doc_id", "text", cfg)
    out = {(r["src"], r["dst"]) for r in e.collect()}
    from cs588_data_science_bug_duplicate_detector_spark.operators.minhash import (
        release_cached_deps,
    )

    release_cached_deps(e)
    return out


def test_char_mode_finds_cjk_near_dups(spark):
    got = _edges(spark, DedupConfig(shingle_mode="char"))
    assert (1, 2) in got
    assert not any(3 in p for p in got)


def test_token_mode_excludes_unsegmented_docs(spark):
    # zero ASCII tokens -> NULL signatures -> no candidates, no mega-merge
    assert _edges(spark, DedupConfig()) == set()


def test_pipeline_char_mode_clusters_cjk_near_dups(spark, tmp_path):
    # the default detector set signs through the one-pass dual kernel,
    # which must honour char mode exactly as the MinHash-only path does
    from cs588_data_science_bug_duplicate_detector_spark.plans.pipeline import run_pipeline

    pages = spark.createDataFrame(
        [("u/a", ZH_A), ("u/b", ZH_B), ("u/c", ZH_C)], "url string, text string"
    )
    for detectors in (("minhash",), ("minhash", "simhash")):
        run = run_pipeline(
            spark, pages, str(tmp_path / "_".join(detectors)),
            DedupConfig(shingle_mode="char"), detectors=detectors,
        )
        label = {r["url"]: r["cluster_id"] for r in run.labels.collect()}
        assert label["u/a"] == label["u/b"], detectors
        assert label["u/c"] != label["u/a"], detectors
