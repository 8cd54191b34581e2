"""MinHash signatures + LSH banding + candidate-pair generation.

Replaces the reference's dense all-pairs similarity join
(``/root/reference/src/metrics.py:259-280`` — a matmul that cannot survive
10^12 docs) with: vectorized signature UDF -> band explode -> bucket
equi-join -> estimated-Jaccard verify. The similarity matrix is never
materialized (SURVEY.md J1).

Scale notes:
- signatures: one Arrow-batched pandas UDF, numpy segment reductions
  (functions/hashing.py) — the only Python hot path.
- banding: pure column exprs (slice + xxhash64), whole-stage codegen.
- bucket join: one window exchange on the folded band_key (buckets.py);
  hot buckets (boilerplate farms) are capped at cfg.bucket_cap with the
  drop LOGGED (a capped bucket of size c still yields c-1 star edges via
  its min member, so connectivity inside the bucket is preserved while
  the O(c^2) pair blowup is not).
- verify: estimated Jaccard from signature agreement — needs only the two
  128-slot signatures, no re-tokenization shuffle of full text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions import hashing
from .buckets import bucket_window, pair_buckets, self_pairs


def with_minhash(df: DataFrame, text_col: str, cfg: DedupConfig) -> DataFrame:
    return hashing.with_signatures(df, text_col, cfg, ("minhash",))


def with_dual_signatures(df: DataFrame, text_col: str, cfg: DedupConfig) -> DataFrame:
    """Add BOTH ``minhash`` and ``simhash`` columns in ONE Arrow pass: one
    JVM->Python text transfer and one tokenization shared by both kernels
    (``shingle_mode="char"``: MinHash over k-char shingles, SimHash over
    tokens), bit-identical to ``with_minhash`` + ``with_simhash``."""
    return hashing.with_signatures(df, text_col, cfg, ("minhash", "simhash"))


def band_table(sigs: DataFrame, id_col: str, cfg: DedupConfig,
               keep_cols: tuple = ()) -> DataFrame:
    """(id, band_key): one row per band per doc, JVM-side only.

    band_key folds the band index INTO the hash (xxhash64(band_id, slice)),
    so every downstream shuffle/join/group keys on a single long instead of
    (int, long) — ~30% less key bandwidth on the hottest table in the job.
    Cross-band collisions need a 64-bit hash collision: negligible.

    A key's value never reaches an output, only its grouping does, and
    barring that collision it groups exactly the rows that the DuckDB
    oracle's verbatim ``"<band>:<s0>,<s1>,..."`` key groups
    (functions/portable.py).
    """
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(cfg.bands - 1)),
        lambda b: F.xxhash64(
            b,
            F.slice(F.col("minhash"), b * F.lit(cfg.rows_per_band) + 1, cfg.rows_per_band),
        ),
    )
    # NULL signatures = content-less docs (zero tokens): never candidates
    return (
        sigs.where(F.col("minhash").isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.explode(bands).alias("band_key"),
            *keep_cols,  # e.g. the event-time column for streaming TTL
        )
    )


def capped_band_table(bands: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(band_key, id) + ``bucket_size`` + ``root`` (min id) per bucket: the
    bucket-pairing core's window (``buckets.bucket_window``), from which
    the cap split, the hot-bucket star edges and the pair self-join all
    derive."""
    return bucket_window(bands)


def _band_counts(pairs: DataFrame) -> DataFrame:
    return pairs.groupBy("src", "dst").agg(F.count("*").alias("n_bands"))


def candidate_pairs(bands: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Bucket equi-join -> (src < dst, n_bands) candidate pairs.

    ``n_bands`` (how many of the 32 bands collided) is a free by-product of
    the dedup aggregation and doubles as a coarse similarity estimate:
    P(band collision) = J^rows_per_band.
    """
    return _band_counts(self_pairs(bands.withColumn("is_new", F.lit(True)), []))


def estimated_jaccard_col(sig_a, sig_b, num_perm: int):
    matches = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return matches.cast("double") / F.lit(float(num_perm))


def verify_pairs(pairs: DataFrame, sigs: DataFrame, id_col: str, cfg: DedupConfig) -> DataFrame:
    """Attach estimated Jaccard; keep pairs >= cfg.verify_threshold.

    Signatures travel through the two joins as array<int> (low 31 bits per
    slot — 0x7FFFFFFF so the value fits a signed int under ANSI casting):
    equality of full slots implies equality of the truncation, and a false
    31-bit agreement (~2^-31/slot) shifts the 128-slot estimate by < 1e-7
    — while halving the largest shuffle payload in the verify phase.
    """
    s = sigs.select(
        F.col(id_col).alias("id"),
        F.transform(F.col("minhash"), lambda x: x.bitwiseAND(F.lit(0x7FFFFFFF)).cast("int")).alias("sig"),
    )
    scored = (
        pairs.join(s.withColumnRenamed("sig", "sig_a"), pairs.src == s.id)
        .drop("id")
        .join(s.withColumnRenamed("sig", "sig_b"), pairs.dst == F.col("id"))
        .drop("id")
        .withColumn("est_jaccard", estimated_jaccard_col(F.col("sig_a"), F.col("sig_b"), cfg.num_perm))
        .select("src", "dst", "est_jaccard")
    )
    return scored.where(F.col("est_jaccard") >= cfg.verify_threshold)


def hot_bucket_stats(hot: DataFrame) -> dict:
    """Summarize the hot-bucket table for stage lineage metrics: one
    collect. Cheap only while the persisted bucket table is filled — call
    AFTER the write that materializes the edges (else this job runs the
    bucket window itself, serially, ahead of that write) and BEFORE
    release_cached_deps, as ``run_pipeline``'s ``edges_meta`` does."""
    row = hot.agg(
        F.count("*").alias("hot_buckets"),
        F.coalesce(F.sum("bucket_size"), F.lit(0)).alias("rows_in_hot_buckets"),
        F.coalesce(F.max("bucket_size"), F.lit(0)).alias("max_bucket_size"),
    ).collect()[0]
    return {k: int(v) for k, v in row.asDict().items()}


def _attach_deps(df: DataFrame, deps: list) -> DataFrame:
    df._cached_deps = deps
    return df


def release_cached_deps(df: DataFrame) -> None:
    """Unpersist the intermediate DataFrames a builder attached to ``df``.

    Call AFTER materializing ``df`` (checkpoint write / count / collect) —
    long-lived sessions (bench loops, multi-split pipelines) otherwise
    accumulate cached band/pair blocks until LRU pressure.
    """
    for dep in getattr(df, "_cached_deps", []):
        try:
            dep.unpersist()
        except Exception:
            pass


def lsh_edges(new_sigs: DataFrame, old_sigs: DataFrame, id_col: str,
              cfg: DedupConfig) -> tuple[DataFrame, DataFrame]:
    """``buckets.pair_buckets`` over the band keys + MinHash's verify rule
    -> (edges, hot), every edge with >= 1 new endpoint. Batch is the call
    with an empty old side (``minhash_edges``).

    Hybrid verify: pairs colliding in >= ``auto_accept_bands`` bands (the
    quadratic bulk — exact dups, template farms) are accepted outright;
    only the statistically ambiguous low-match tail and the hot-bucket
    star edges pay the ``verify_pairs`` join. Edges include min-member
    star edges for capped hot buckets, so recall survives the cap. The
    returned edges carry ``_cached_deps`` (the persisted signature, bucket
    and pair tables) — callers should ``release_cached_deps`` after
    materializing.
    """
    # Persist the new signatures: they feed THREE plan branches (band
    # explode + the two verify joins), and without a persist each branch
    # re-runs the Arrow signature UDF — the most expensive per-row work in
    # the detector, paid 3x instead of 1x.
    new_sigs.persist()
    pairs, star, hot, deps = pair_buckets(
        band_table(new_sigs, id_col, cfg),
        band_table(old_sigs, id_col, cfg),
        cfg.bucket_cap, cfg.bucket_salt,
    )
    # persist: the auto/ambiguous split reads the pair table twice —
    # without it the whole bucket join runs twice
    pairs = _band_counts(pairs).persist()
    n = F.col("n_bands")
    auto = pairs.where(n >= cfg.auto_accept_bands).select("src", "dst")
    cand = pairs.where(n < cfg.auto_accept_bands).select("src", "dst").unionByName(star.distinct())
    # prune the old signatures to the candidate endpoints BEFORE the
    # verify joins: the endpoint set is O(touched), small enough to
    # broadcast, while a stored index is the largest payload of a fold
    ends = cand.select(F.col("src").alias(id_col)).unionByName(cand.select(F.col("dst").alias(id_col)))
    sigs = new_sigs.unionByName(old_sigs.join(ends.distinct(), id_col, "left_semi"))
    verified = verify_pairs(cand, sigs, id_col, cfg).select("src", "dst")
    return _attach_deps(auto.unionByName(verified).distinct(), [new_sigs, *deps, pairs]), hot


def minhash_edges(docs: DataFrame, id_col: str, text_col: str,
                  cfg: DedupConfig) -> tuple[DataFrame, DataFrame]:
    """Full detector-1 dataflow: docs -> verified candidate edges and the
    hot-bucket summary (``lsh_edges`` with an empty old side)."""
    sigs = with_minhash(docs.select(id_col, text_col), text_col, cfg)
    return lsh_edges(sigs, sigs.where(F.lit(False)), id_col, cfg)
