"""64-bit SimHash + Hamming-neighborhood candidate generation.

Detector 2 (north_star): near-identical pages (tiny body diffs on a huge
shared template). Candidate generation uses the pigeonhole principle:
split the 64-bit signature into ``cfg.simhash_chunks`` equal chunks; any
pair within Hamming distance <= chunks-1 must agree on at least one chunk,
so an equi-join per chunk has perfect recall for the target radius.
Verification is a JVM-side popcount on XOR — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions import hashing
from .buckets import pair_buckets
from .minhash import _attach_deps


def with_simhash(df: DataFrame, text_col: str) -> DataFrame:
    return hashing.with_signatures(df, text_col, DedupConfig(), ("simhash",))


def chunk_table(sigs: DataFrame, id_col: str, cfg: DedupConfig) -> DataFrame:
    """(id, sig, band_key) — one row per chunk per doc, in the bucket-table
    format of ``buckets.pair_buckets``. The pair (chunk_id, chunk_val)
    folds into ONE exact long key ``chunk_id << width | chunk_val`` —
    injective, so the buckets are exactly the per-chunk equi-join's."""
    width = cfg.simhash_bits // cfg.simhash_chunks
    mask = (1 << width) - 1
    keys = F.array(*[
        F.lit(i << width).cast("long").bitwiseOR(
            F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(F.lit(mask)))
        for i in range(cfg.simhash_chunks)
    ])
    return (
        sigs.where(F.col("simhash").isNotNull())  # content-less docs: never candidates
        .select(F.col(id_col).alias("id"), F.col("simhash").alias("sig"), F.explode(keys).alias("band_key"))
    )


def hamming_edges(new_sigs: DataFrame, old_sigs: DataFrame, id_col: str,
                  cfg: DedupConfig) -> tuple[DataFrame, DataFrame]:
    """``buckets.pair_buckets`` over the chunk keys + SimHash's verify rule
    -> (edges, hot): pairs and star edges within ``cfg.simhash_hamming_max``
    bits, a JVM-side popcount on the XOR of the carried ``sig`` payloads —
    no join, no Python. Hot chunk buckets (boilerplate farms agreeing on a
    chunk) are capped at ``cfg.simhash_chunk_cap`` like LSH buckets."""
    pairs, star, hot, deps = pair_buckets(
        chunk_table(new_sigs, id_col, cfg), chunk_table(old_sigs, id_col, cfg),
        cfg.simhash_chunk_cap, 1,
    )
    near = F.expr("bit_count(src_sig ^ dst_sig)") <= F.lit(cfg.simhash_hamming_max)
    return _attach_deps(pairs.unionByName(star).where(near).select("src", "dst").distinct(), deps), hot


def simhash_edges_from_sigs(sigs: DataFrame, id_col: str, cfg: DedupConfig) -> DataFrame:
    """sigs(id, simhash) -> verified Hamming<=cfg.simhash_hamming_max edges (src < dst).

    ``hamming_edges`` with an empty old side: min-member star edges for
    hot chunk buckets, Hamming-verified, linear instead of quadratic.
    Release via ``minhash.release_cached_deps``.
    """
    return hamming_edges(sigs, sigs.where(F.lit(False)), id_col, cfg)[0]


def simhash_edges(docs: DataFrame, id_col: str, text_col: str, cfg: DedupConfig) -> DataFrame:
    """docs -> verified Hamming<=cfg.simhash_hamming_max edges (src < dst)."""
    sigs = with_simhash(docs.select(id_col, text_col), text_col)
    return simhash_edges_from_sigs(sigs, id_col, cfg)
