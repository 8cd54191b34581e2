"""Exact n-gram Jaccard similarity join — SQL-expressible near-dup scoring.

The fully-relational cousin of the MinHash detector: explode distinct
token n-grams, group docs sharing a gram, count pairwise intersections,
compute |A∩B| / (|A|+|B|-|A∩B|). Quadratic in co-bucket sizes, so it's
the verification/oracle path, not the 10^12-doc path — but it's pure
DataFrame ops with a line-for-line DuckDB SQL equivalent, which makes it
the correctness anchor for the hash-based detectors.

Plan notes (round 6): grams are built once by an Arrow-batched pandas
kernel (``ngram_udf`` — the interpreted slice+concat lambda per gram was
the per-row hot loop), exploded as xxhash64 longs, and co-bucket pairs
come from a co-partitioned SELF-JOIN whose two branches share ONE
exchange, so the gram table is computed and shuffled once for the pairs
while pair generation stays inside whole-stage codegen. The sharing is an
AQE stage reuse: it shows only in the final plan printed after an action
(``plans/r06/ngram_jaccard_pairs_final.txt``, sf0.01: ReusedExchange (11)
reuses the gram Exchange (8)), not in the static plan
(``plans/r06/ngram_jaccard_pairs_after.txt``). The per-doc gram counts
are NOT served from it: they rescan and re-run the gram UDF (Scan (21) ->
ArrowEvalPython (25) in the same plan). The input
is also explicitly spread across the cluster first: a single parquet
file otherwise serializes the whole gram computation into one task.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def ngram_col(text_col: str, n: int):
    """array<string> of distinct token n-grams (JVM expression)."""
    toks = tokens(text_col)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array())
    return F.array_distinct(grams)


def ngram_udf(n: int):
    """Arrow-batched twin of :func:`ngram_col`: same distinct token
    n-grams (same tokenization regex, same first-occurrence order as
    array_distinct), built in one vectorized pandas pass instead of an
    interpreted slice+concat lambda per gram — the gram build is the
    per-row hot loop of this module and of decontamination (guide §4.2).
    Equality with ngram_col is pytest-gated (tests/test_decontaminate.py)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    from ..functions import hashing

    def _grams(texts: pd.Series) -> pd.Series:
        toks = hashing.tokenize_series(texts)
        out = []
        for t in toks:
            if len(t) >= n:
                out.append(
                    list(dict.fromkeys(" ".join(t[i : i + n]) for i in range(len(t) - n + 1)))
                )
            else:
                out.append([])
        return pd.Series(out)

    return pandas_udf(_grams, ArrayType(StringType()))


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    group_col: str | None = None,
) -> DataFrame:
    """(src, dst, jaccard) for pairs with n-gram Jaccard >= threshold.

    ``group_col`` (e.g. lang) restricts the join space — pairs across
    groups are never candidates.
    """
    cols = [F.col(id_col).alias("id"), ngram_udf(n)(F.col(text_col)).alias("grams")]
    if group_col:
        cols.append(F.col(group_col).alias("g"))
    # spread the gram computation: a single input file = a single task
    # otherwise owns ALL the tokenize/slice/concat work
    spread = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.repartition(spread).select(*cols)
    # key on xxhash64(gram), not the gram string: ~5x less key bandwidth on
    # the explode shuffle (8-byte longs vs ~20-40 byte strings). A 64-bit
    # collision between two DISTINCT grams of a doc pair overstates the
    # intersection by 1 — odds ~ (grams-per-doc)^2 / 2^64, negligible.
    exploded = base.select(
        "id",
        *(["g"] if group_col else []),
        F.explode(F.transform("grams", lambda s: F.xxhash64(s))).alias("gram"),
    )
    # Co-bucket pairs via a co-partitioned SELF-JOIN of the exploded gram
    # table: both join branches are the identical subplan, so AQE runs ONE
    # exchange and reuses its stage for the other branch (ReusedExchange in
    # the final plan, see the module docstring) — the gram computation and
    # shuffle are paid once for the pairs, and pair generation runs inside
    # whole-stage codegen. The round-5 groupBy+collect_list+nested-transform
    # shape avoided the second shuffle too, but (a) its pair builder was an INTERPRETED
    # higher-order lambda (the hot loop: a 500-member boilerplate co-bucket
    # is 125k interpreted struct builds per gram), and (b) it materialized
    # each co-bucket as one in-memory array in a single aggregation state —
    # the exact OOM-at-10^12-docs shape ``buckets.bucket_window``'s
    # round-5 note rejects. The self-join streams the same quadratic volume
    # through codegen with spill-safe operators instead. Measured at sf1.0:
    # 22.1s -> ~5s, bit-identical result (oracle-checked).
    group_keys = ["gram"] + (["g"] if group_col else [])
    a = exploded.alias("a")
    b = exploded.alias("b")
    # Pair rows carry ONLY (src, dst): the co-bucket volume is quadratic
    # (tens of millions of rows at sf1.0), so every byte per row is paid
    # millions of times — n_grams is functionally dependent on the id and
    # re-attaches after the count from a per-id aggregate (guide §2.3
    # "shuffle keys and metadata instead of payloads"). That aggregate is
    # planned from its own scan + gram UDF pass, not from the pairs'
    # exchange. AQE sees the tiny sizes table at runtime and plans a
    # broadcast join for the attach (one broadcast, reused for both ends).
    # SHUFFLE_HASH hint: sort-merge would sort both 10M-row sides before
    # merging; a per-partition hash build skips both sorts (~20% off the
    # join stage at sf1.0). Safe here: this operator is the documented
    # verification/oracle path (see module docstring), and the build side
    # is one shuffle partition of bare (id, gram) longs.
    pairs = (
        a.join(b.hint("shuffle_hash"), group_keys)
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
    )
    counts = pairs.groupBy("src", "dst").agg(F.count("*").alias("n_inter"))
    # grams are distinct per doc, so the doc's gram count is its row count
    # in the exploded table; docs with zero grams appear in no pair.
    sizes = exploded.groupBy("id").agg(F.count("*").alias("sz"))
    inter = (
        counts.join(sizes.select(F.col("id").alias("src"), F.col("sz").alias("na")), "src")
        .join(sizes.select(F.col("id").alias("dst"), F.col("sz").alias("nb")), "dst")
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("src", "dst", "jaccard")
    )
