"""Text/string column functions — pure Catalyst expressions, no UDFs.

Re-expresses the reference's per-row Python string pipeline as column
expressions so they stay inside whole-stage codegen:

- ``tagged_concat``   ≙ create_augmented_text (/root/reference/preprocess_data.py:20-65):
  ``[PRODUCT] x\\n[COMPONENT] y\\n...`` skipping null/blank fields.
- ``parse_id_list``   ≙ parse_duplicate_list (/root/reference/preprocess_data.py:68-90):
  ';'-split -> trim -> drop ''/'NULL' -> cast long -> distinct.
- token / quality / language-ID helpers for the training-data-pipeline ops.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small per-language stopword lists for the heuristic language scorer.
STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "for", "with", "on"],
    "es": ["de", "la", "que", "el", "en", "los", "del", "las", "por", "un"],
    "de": ["der", "die", "und", "das", "von", "mit", "ist", "den", "im", "ein"],
    "fr": ["le", "de", "la", "et", "les", "des", "en", "du", "une", "est"],
}


def _strip(c: Column) -> Column:
    # Python str.strip() semantics: all whitespace, not just spaces
    # (Spark's trim() only removes ' ').
    return F.regexp_replace(c.cast("string"), r"^\s+|\s+$", "")


def _nonblank(c: Column) -> Column:
    return c.isNotNull() & (_strip(c) != "")


def tagged_concat(pairs: list[tuple[str, str]]) -> Column:
    """``[TAG] value`` lines joined by \\n, blank/null fields skipped.

    ``pairs`` is [(tag, column_name), ...] in output order — matches the
    reference's section order semantics (PRODUCT/COMPONENT/.../DESCRIPTION).
    concat_ws skips NULL elements, giving the blank-field-skipping behavior
    without any conditional row logic.
    """
    parts = [
        F.when(
            _nonblank(F.col(col)),
            F.concat(F.lit(f"[{tag}] "), _strip(F.col(col))),
        )
        for tag, col in pairs
    ]
    return F.concat_ws("\n", *parts)


def parse_id_list(c: Column | str) -> Column:
    """';'-separated id-list string -> array<long> (distinct, NULL-token dropped)."""
    col = F.col(c) if isinstance(c, str) else c
    # NB: one-arg lambda, not bare F.trim — transform() would pass (elem, idx)
    # to a two-parameter callable and trim() treats the 2nd arg as a char set.
    toks = F.transform(F.split(F.coalesce(col.cast("string"), F.lit("")), ";"), lambda x: F.trim(x))
    toks = F.filter(toks, lambda x: (x != "") & (F.upper(x) != "NULL"))
    ids = F.transform(toks, lambda x: x.try_cast("long"))  # ANSI-safe: bad tokens -> NULL
    ids = F.filter(ids, lambda x: x.isNotNull())
    return F.array_distinct(ids)


def tokens(c: Column | str) -> Column:
    """Lowercase alnum tokens as array<string> (empty array for blank text)."""
    col = F.col(c) if isinstance(c, str) else c
    arr = F.split(F.lower(F.coalesce(col, F.lit(""))), r"[^a-z0-9]+")
    return F.filter(arr, lambda x: x != "")


def token_count(c: Column | str) -> Column:
    return F.size(tokens(c))


def stopword_hits(c: Column | str, lang: str) -> Column:
    """Count of tokens (with multiplicity) that are stopwords of ``lang``."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(c), lambda x: F.array_contains(sw, x)))


def language_guess(c: Column | str) -> Column:
    """Argmax of per-language stopword-hit counts; 'und' when no hits."""
    col = F.col(c) if isinstance(c, str) else c
    scored = F.array(
        *[
            F.struct(stopword_hits(col, lang).alias("hits"), F.lit(lang).alias("lang"))
            for lang in sorted(STOPWORDS)
        ]
    )
    best = F.array_max(scored)  # struct compare: hits first, then lang (ties -> later lang)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(c: Column | str) -> Column:
    """[0,1] heuristic doc-quality score: length band + alpha ratio + stopword ratio."""
    col = F.col(c) if isinstance(c, str) else c
    n_tok = token_count(col).cast("double")
    n_chars = F.length(F.coalesce(col, F.lit(""))).cast("double")
    alpha_chars = F.length(F.regexp_replace(F.lower(col), r"[^a-z0-9 ]", "")).cast("double")
    alpha_ratio = F.when(n_chars > 0, alpha_chars / n_chars).otherwise(F.lit(0.0))
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    sw_ratio = F.when(
        n_tok > 0, stopword_hits(col, "en").cast("double") / n_tok
    ).otherwise(F.lit(0.0))
    sw_score = F.least(sw_ratio * 4.0, F.lit(1.0))
    return (len_score + alpha_ratio + sw_score) / 3.0
