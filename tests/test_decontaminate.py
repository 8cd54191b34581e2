"""Decontamination (operators/decontaminate.py): planted 13-gram overlap,
key-mode equivalence."""

from pyspark.sql import functions as F

from cs588_data_science_bug_duplicate_detector_spark.operators.decontaminate import (
    contamination_report,
)

SPAN = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike"  # 13 tokens

DOCS = [
    (1, f"intro words here {SPAN} trailing content afterwards"),   # contains the span
    (2, f"a different prefix {SPAN} and a different suffix too"),  # same span -> same grams
    (3, "completely unrelated text with enough tokens to be a real document here"),
    (4, "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"),  # only 12 of 13
    (5, None),
]
EVALS = [(100, f"question: {SPAN} ?"), (200, "no overlap whatsoever in this benchmark example")]


def _frames(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    evals = spark.createDataFrame(EVALS, "eval_id long, text string")
    return docs, evals


def test_planted_overlap_flagged(spark):
    docs, evals = _frames(spark)
    rows = {r["doc_id"]: r for r in contamination_report(docs, evals).collect()}
    assert set(rows) == {1, 2}
    for d in (1, 2):
        assert rows[d]["n_shared_grams"] == 1  # exactly the planted 13-gram
        assert rows[d]["n_eval_docs"] == 1
        assert rows[d]["first_eval_id"] == 100


def test_hashed_and_string_keys_agree(spark):
    docs, evals = _frames(spark)
    a = sorted(map(tuple, contamination_report(docs, evals, hashed_keys=True).collect()))
    b = sorted(map(tuple, contamination_report(docs, evals, hashed_keys=False).collect()))
    assert a == b


def test_no_eval_overlap_empty_report(spark):
    docs, _ = _frames(spark)
    evals = spark.createDataFrame([(9, "nothing shared here at all")], "eval_id long, text string")
    assert contamination_report(docs, evals).count() == 0


def test_ngram_udf_matches_ngram_col(spark):
    """The round-6 Arrow gram builder must emit exactly the JVM
    expression's distinct grams (same tokenization, same first-occurrence
    order as array_distinct) — it feeds both this module and
    ngram_jaccard_pairs."""
    from pyspark.sql import functions as F

    from cs588_data_science_bug_duplicate_detector_spark.operators.ngram import (
        ngram_col,
        ngram_udf,
    )

    rows = [
        (0, "the cat sat on the mat the cat sat"),
        (1, "a b"),                      # shorter than n
        (2, None),                       # NULL text
        (3, ""),                         # empty
        (4, "X  y!!z xY z 9 x y z x y"),  # punctuation + case + repeats
        (5, "uno dos tres cuatro cinco seis"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (2, 3, 13):
        got = {
            r["doc_id"]: r["g"]
            for r in df.select("doc_id", ngram_udf(n)(F.col("text")).alias("g")).collect()
        }
        want = {
            r["doc_id"]: r["g"]
            for r in df.select("doc_id", ngram_col("text", n).alias("g")).collect()
        }
        assert got == want, (n, got, want)
