"""Long-shared-span (substring) dedup via content-defined window anchors.

Detector 3 (north_star "suffix-array substring dedup"). A literal
distributed suffix array over 10^12 docs is a full global sort of every
suffix; the same SEMANTICS — "find pairs of documents sharing a verbatim
span of >= W tokens" — is reachable with winnowing-style anchors:

1. per token position, hash the ``anchor_k``-token gram starting there;
2. positions whose gram-hash ≡ 0 (mod anchor_mod) are anchors —
   CONTENT-defined, so the same text selects the same anchors no matter
   where it sits inside a document (offset-independent, unlike strided
   sampling);
3. at each anchor, hash the ``suffix_window``-token window; two documents
   sharing a window hash share a verbatim W-token span (hash collision
   odds negligible at 64 bits);
4. group by window hash -> min-member star edges (linear in group size —
   a boilerplate span shared by 10^6 docs must not emit 10^12 pairs).

Any shared span of length >= W + anchor_k * anchor_mod contains an anchor
with high probability; spans exactly W long can be missed between anchors
(documented recall trade; tighten anchor_mod to trade cost for recall).

Everything is pure column expressions (transform/filter/slice/hash)
inside whole-stage codegen — no Python at all in this detector. The
anchor-selection hash is configurable (``cfg.anchor_hash``): 'xxhash64'
(production default) or 'md5' (portable — the oracle-checked query mode,
bit-identical to the DuckDB SQL in functions/portable.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions.text import tokens


def _anchor_pred(gram: Column, cfg: DedupConfig) -> Column:
    """True where ``gram`` is an anchor position — content-defined.

    ``anchor_mod=1`` is the exhaustive AUDIT mode: every position anchors,
    so even spans exactly ``suffix_window`` tokens long (the documented
    recall trade of sparse anchoring) are caught — at ~anchor_mod× the
    window volume of the production setting. Short-circuited so the audit
    pass skips the anchor hash entirely."""
    if cfg.anchor_mod <= 1:
        return F.lit(True)
    if cfg.anchor_hash == "md5":
        # low nibble of md5 hex — portable: DuckDB computes the identical
        # value via CAST('0x' || substr(md5(g), 32, 1) AS BIGINT)
        nib = F.conv(F.substring(F.md5(gram.cast("binary")), 32, 1), 16, 10).cast("long")
        return nib % F.lit(cfg.anchor_mod) == 0
    return F.pmod(F.xxhash64(gram), F.lit(cfg.anchor_mod)) == 0


def _anchored_docs(docs: DataFrame, id_col: str, text_col: str,
                   cfg: DedupConfig) -> DataFrame:
    """(id, toks, n_anchors, pos_capped) for every doc that holds a full
    window: its anchor positions, capped at ``cfg.max_windows_per_doc``."""
    toks = tokens(text_col)
    df = (
        docs.select(F.col(id_col).alias("id"), toks.alias("toks"))
        .withColumn("n", F.size("toks"))
        # A doc shorter than one full window has no complete window: clamp
        # the admission floor to suffix_window even if suffix_min_tokens is
        # configured lower, else last_start goes negative and
        # sequence(0, negative) steps DOWNWARD into invalid slice starts.
        .where(F.col("n") >= max(cfg.suffix_min_tokens, cfg.suffix_window))
    )
    last_start = F.col("n") - F.lit(cfg.suffix_window)  # inclusive 0-based
    gram = lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, cfg.anchor_k))
    positions = F.filter(
        F.sequence(F.lit(0), last_start),
        lambda i: _anchor_pred(gram(i), cfg),
    )
    # materialize the anchor array once per row; n_anchors/slice read it
    df = df.withColumn("_pos", positions)
    return df.withColumn("n_anchors", F.size("_pos")).withColumn(
        "pos_capped", F.slice("_pos", 1, cfg.max_windows_per_doc)
    )


def _cap_counters(cfg: DedupConfig) -> list:
    """The window cap's counters over ``_anchored_docs`` rows."""
    over = F.col("n_anchors") - cfg.max_windows_per_doc  # windows beyond the cap
    return [
        F.sum(F.greatest(over, F.lit(0))).alias("windows_dropped"),
        F.sum((over > 0).cast("long")).alias("docs_capped"),
        F.count(F.lit(1)).alias("docs_windowed"),
    ]


def window_cap_stats(docs: DataFrame, id_col: str, text_col: str,
                     cfg: DedupConfig) -> dict:
    """``window_table``'s cap counters as a direct aggregate (one pass that
    re-tokenizes ``docs``)."""
    row = _anchored_docs(docs, id_col, text_col, cfg).agg(*_cap_counters(cfg)).collect()[0]
    return {k: int(v or 0) for k, v in row.asDict().items()}


def window_table(docs: DataFrame, id_col: str, text_col: str, cfg: DedupConfig,
                 observation=None) -> DataFrame:
    """(id, win_hash) for every content-defined anchor window in every doc.

    ``observation`` (pyspark Observation): when given, the window cap is
    METERED in the same pass — ``windows_dropped`` (anchors beyond
    cfg.max_windows_per_doc) and ``docs_capped`` land in the observation
    after the first action, so the cap is surfaced as lineage instead of
    silently reading as full coverage. The observation sits below the
    window exchanges: when a stage above it comes out empty (no window,
    or in ``suffix_edges`` no shared window), AQE prunes it from the final
    plan and it never completes; ``window_cap_stats`` gives the same
    counters by a direct aggregate.
    """
    df = _anchored_docs(docs, id_col, text_col, cfg)
    if observation is not None:
        df = df.observe(observation, *_cap_counters(cfg))
    # Hash the windows INSIDE the per-doc array, then explode only the
    # (id, win_hash) longs. The earlier explode-then-hash shape carried the
    # full token array (~2 KB/doc) into every anchor row — at 50k docs /
    # 1.9M anchors that is ~4 GB of materialized rows feeding one Project;
    # hashing first keeps the explode payload at 8 bytes per anchor
    # (measured: window phase 15.1s -> ~2s at sf1.0, identical hashes).
    win_hashes = F.transform(
        F.col("pos_capped"),
        lambda p: F.xxhash64(
            F.concat_ws(" ", F.slice(F.col("toks"), p + 1, cfg.suffix_window))
        ),
    )
    return (
        df.select("id", F.explode(win_hashes).alias("win_hash"))
        .distinct()
    )


def suffix_edges(docs: DataFrame, id_col: str, text_col: str, cfg: DedupConfig,
                 observation=None) -> DataFrame:
    """docs -> (src, dst) star edges between documents sharing a >=W-token span.

    min-over-window instead of groupBy+join-back: the window table is read
    once (tokenize+anchor-hash single pass — also where the cap
    observation, if any, meters drops), shuffled once by win_hash.
    """
    from pyspark.sql import Window

    wins = window_table(docs, id_col, text_col, cfg, observation=observation)
    root = F.min("id").over(Window.partitionBy("win_hash"))
    return (
        wins.withColumn("root", root)
        .where(F.col("id") != F.col("root"))
        .select(F.col("root").alias("src"), F.col("id").alias("dst"))
        .distinct()
    )
