"""Benchmark decontamination: flag corpus documents that share long
token n-grams with an evaluation set.

The GPT-3/PaLM-style pre-training hygiene op: any document overlapping a
benchmark example on a 13-gram (the standard window) leaks eval answers
into training data and must be dropped or audited. The reference has no
counterpart (SURVEY §2 gap class); this composes the repo's existing
n-gram machinery (``operators/ngram.ngram_col``) with a broadcast join.

Scale shape: the EVAL side is small by nature (thousands of examples →
at most a few million distinct n-grams) and is explicitly
``F.broadcast``; the corpus side streams through a map-side hash join —
no shuffle of the 10^12-doc gram table at all. With ``hashed_keys=True``
(production default) both sides join on ``xxhash64(gram)`` longs, which
shrinks the broadcast ~10x vs raw 13-gram strings; a 2^-64 collision can
only over-flag (safe direction for a contamination audit). The driver
query runs ``hashed_keys=False`` so DuckDB replays the raw-string join
verbatim; both key modes are asserted pair-equal in pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ngram import ngram_udf


def _gram_table(df: DataFrame, id_col: str, text_col: str, n: int, hashed: bool,
                out_id: str) -> DataFrame:
    g = F.explode(ngram_udf(n)(F.col(text_col))).alias("gram")
    t = df.select(F.col(id_col).alias(out_id), g)
    if hashed:
        t = t.select(out_id, F.xxhash64("gram").alias("gram"))
    return t


def contamination_report(
    docs: DataFrame,
    evals: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
    n: int = 13,
    hashed_keys: bool = True,
) -> DataFrame:
    """(doc_id, n_shared_grams, n_eval_docs, first_eval_id) — one row per
    CONTAMINATED document (docs with zero overlap are absent; anti-join
    against this result to get the clean corpus). ``n_shared_grams``
    counts distinct offending n-grams, ``n_eval_docs`` distinct benchmark
    examples hit, ``first_eval_id`` the smallest (deterministic pointer
    for the audit trail)."""
    doc_grams = _gram_table(docs, id_col, text_col, n, hashed_keys, "doc_id")
    eval_grams = _gram_table(evals, eval_id_col, eval_text_col, n, hashed_keys, "eval_id").distinct()
    hits = doc_grams.join(F.broadcast(eval_grams), "gram")
    return hits.groupBy("doc_id").agg(
        F.countDistinct("gram").alias("n_shared_grams"),
        F.countDistinct("eval_id").alias("n_eval_docs"),
        F.min("eval_id").alias("first_eval_id"),
    )
