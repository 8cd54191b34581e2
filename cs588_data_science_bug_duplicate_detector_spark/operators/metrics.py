"""Retrieval-quality metric kernels as one DataFrame program.

Same semantics as the reference's per-query Python loop
(``/root/reference/src/metrics.py:33-113,176-217``), re-expressed as
window functions + aggregations (SURVEY.md W1-W5, M1-M4):

- ranking: score desc, cand_id asc tie-break (deterministic)
- Recall@k: 1.0 iff any relevant candidate in the top-k (hit rate)
- MRR: 1/rank of first relevant over the FULL ranking, 0 if none
- AP@k: sum of precision-at-hit positions within top-k, divided by the
  TOTAL number of relevant candidates for the query (metrics.py:101-113)
- queries with zero relevant candidates are dropped from all means
  (metrics.py:187-189)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ranked_candidates(pairs: DataFrame) -> DataFrame:
    """pairs(query_id, cand_id, score, is_dup) -> + rank, cum_hits, n_rel.

    Dup-less queries are dropped. ``n_rel`` is an UNORDERED window over the
    same query_id partitioning the rank window needs — so the (typically
    quadratic) ``pairs`` input is computed once and shuffled once. The
    earlier groupBy+join shape ran the upstream join twice and paid a third
    exchange to marry the counts back (the round-2 bench regression).
    """
    wq = Window.partitionBy("query_id")
    w = wq.orderBy(F.desc("score"), F.asc("cand_id"))
    hit = F.when(F.col("is_dup"), 1).otherwise(0)
    return (
        pairs.withColumn("n_rel", F.sum(hit).over(wq))
        .where(F.col("n_rel") > 0)
        .withColumn("rank", F.row_number().over(w))
        .withColumn("cum_hits", F.sum(hit).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    )


def _finalize_metrics(per_query: DataFrame, k_values: tuple) -> DataFrame:
    """per_query(rr, n_rel, hit_k..., psum_k...) -> one row per k.

    Shared by the all-pairs path and the 1-D kernel path so the FINAL
    aggregation expressions (and therefore the query result down to float
    behavior) are identical in both."""
    one = per_query.agg(
        *[F.avg(f"hit_{k}").alias(f"r_{k}") for k in k_values],
        *[F.avg(F.col(f"psum_{k}") / F.col("n_rel")).alias(f"m_{k}") for k in k_values],
        F.avg("rr").alias("mrr"),
        F.count("*").alias("num_queries"),
    )
    stacked = ", ".join(f"{k}, r_{k}, m_{k}" for k in k_values)
    return one.select(
        F.expr(f"stack({len(k_values)}, {stacked}) AS (k, recall_at_k, map_at_k)"),
        "mrr",
        "num_queries",
    )


def per_query_metrics(pairs: DataFrame, k_values: tuple = (1, 5, 10, 20)) -> DataFrame:
    """(query_id, rr, n_rel, hit_k..., psum_k...) from a ranked all-pairs
    candidate table — the per-query half of :func:`retrieval_metrics`."""
    r = ranked_candidates(pairs)
    return r.groupBy("query_id").agg(
        F.max(F.when(F.col("is_dup"), 1.0 / F.col("rank")).otherwise(0.0)).alias("rr"),
        F.first("n_rel").alias("n_rel"),
        *[
            F.max(
                F.when(F.col("is_dup") & (F.col("rank") <= k), 1.0).otherwise(0.0)
            ).alias(f"hit_{k}")
            for k in k_values
        ],
        *[
            F.sum(
                F.when(
                    F.col("is_dup") & (F.col("rank") <= k),
                    F.col("cum_hits").cast("double") / F.col("rank"),
                ).otherwise(0.0)
            ).alias(f"psum_{k}")
            for k in k_values
        ],
    )


def retrieval_metrics(pairs: DataFrame, k_values: tuple = (1, 5, 10, 20)) -> DataFrame:
    """One row per k: (k, recall_at_k, map_at_k, mrr, num_queries).

    One aggregation computes every k's mean at once, then ``stack`` melts
    the single row into per-k rows — the expensive upstream (typically an
    all-pairs or candidate join feeding ``pairs``) runs exactly ONCE, not
    once per k (round-1 verdict: the k-loop rebuilt the quadratic join 4x).
    """
    return _finalize_metrics(per_query_metrics(pairs, k_values), k_values)


# ---------------------------------------------------------------------------
# 1-D candidate-score specialization (guide §1.2: fix the algorithm first)
# ---------------------------------------------------------------------------
#
# When the candidate score is a monotone function of |value_a - value_b|
# within a group (the declared retrieval query: score = 1/(1 + |Δn_chars|)
# within lang, tie-break cand_id asc), the per-query ranking is a 1-D
# nearest-neighbor problem: the top-k candidates and the rank of the first
# relevant candidate are computable from SORTED per-group arrays in
# O(n·k + n·log n) per group — the O(n²) pair materialization (500M rows at
# 50k docs) is structurally unnecessary. Exact, not approximate: score is
# strictly decreasing in the integer distance d (1/(1+d) is monotone in
# IEEE double for d < 2^53), so ordering by (score DESC, cand_id ASC) is
# ordering by (d ASC, cand_id ASC).


def _metrics_1d_kernel(pdf, k_values: tuple, n_salt: int):
    """Per-(group, salt) numpy kernel: emits one row per query doc of this
    salt slice with n_rel > 0 — (query_id, rr, n_rel, hit_k..., psum_k...),
    value-identical to the all-pairs per_query_metrics() frame."""
    import numpy as np
    import pandas as pd

    k_values = tuple(k_values)
    kmax = max(k_values)
    cols = ["query_id", "rr", "n_rel"] + [f"hit_{k}" for k in k_values] + [
        f"psum_{k}" for k in k_values
    ]
    empty = pd.DataFrame({c: pd.Series(dtype="int64" if c in ("query_id", "n_rel") else "float64") for c in cols})
    if len(pdf) == 0:
        return empty
    if pdf["v"].isna().any():
        # NULL values make the pair score NULL (NULLS-LAST tail ranking);
        # that regime is not implemented here — callers with nullable value
        # columns must use the all-pairs path.
        raise ValueError("retrieval_metrics_1d: NULL value column not supported")
    salt_val = int(pdf["salt"].iloc[0])
    ids_raw = pdf["id"].to_numpy(np.int64)
    v_raw = pdf["v"].to_numpy(np.int64)
    # factorize labels; NULL labels get UNIQUE negative codes: a NULL label
    # equals nothing (SQL: NULL = x is never TRUE), including another NULL
    s_codes, _ = pd.factorize(pdf["s"], use_na_sentinel=True)
    s_codes = s_codes.astype(np.int64)
    nulls = np.nonzero(s_codes < 0)[0]
    if len(nulls):
        s_codes[nulls] = -2 - np.arange(len(nulls), dtype=np.int64)

    order = np.lexsort((ids_raw, v_raw))
    C, I, S = v_raw[order], ids_raw[order], s_codes[order]
    n = len(C)
    V, gstart = np.unique(C, return_index=True)
    gend = np.append(gstart[1:], n)
    m = len(V)

    # per-source blocks, each sorted by (v, id)
    so2 = np.lexsort((ids_raw, v_raw, s_codes))
    S2, C2, I2 = s_codes[so2], v_raw[so2], ids_raw[so2]
    blk_codes, blk_start = np.unique(S2, return_index=True)
    blk_end = np.append(blk_start[1:], n)
    blk_of = {int(c): (int(a), int(b)) for c, a, b in zip(blk_codes, blk_start, blk_end)}

    L = kmax + 1  # top-(kmax+1) of the full universe covers top-kmax minus any one doc

    _tops_cache: dict = {}

    def group_top(gi: int):
        """Positions (into C/I/S) of the universe top-L by (|c-V[gi]|, id)."""
        hit = _tops_cache.get(gi)
        if hit is not None:
            return hit
        take = []
        a, b = int(gstart[gi]), int(gend[gi])
        take.extend(range(a, min(b, a + L)))
        lo, hi = gi - 1, gi + 1
        while len(take) < L and (lo >= 0 or hi < m):
            dl = V[gi] - V[lo] if lo >= 0 else None
            dr = V[hi] - V[gi] if hi < m else None
            need = L - len(take)
            if dr is None or (dl is not None and dl < dr):
                a, b = int(gstart[lo]), int(gend[lo])
                take.extend(range(a, min(b, a + need)))
                lo -= 1
            elif dl is None or dr < dl:
                a, b = int(gstart[hi]), int(gend[hi])
                take.extend(range(a, min(b, a + need)))
                hi += 1
            else:
                # equidistant level: merge the two id-sorted runs by id
                la, lb = int(gstart[lo]), int(gend[lo])
                ra, rb = int(gstart[hi]), int(gend[hi])
                runl = list(range(la, min(lb, la + need)))
                runr = list(range(ra, min(rb, ra + need)))
                merged = sorted(runl + runr, key=lambda p: I[p])[:need]
                take.extend(merged)
                lo -= 1
                hi += 1
        out = np.asarray(take, dtype=np.int64)
        _tops_cache[gi] = out
        return out

    def fallback_rr(qpos: int, gi: int) -> float:
        """1/rank of the first relevant candidate when it is beyond the
        top-L list: find the best same-source candidate (min |Δ|, then min
        id) and COUNT the candidates ranked before it."""
        v, s, qid = int(C[qpos]), int(S[qpos]), int(I[qpos])
        lo, hi = blk_of[s]
        Cs, Is = C2[lo:hi], I2[lo:hi]
        a = int(np.searchsorted(Cs, v, "left"))
        b = int(np.searchsorted(Cs, v, "right"))
        if b - a >= 2:  # another same-source doc at distance 0
            best = int(Is[a]) if int(Is[a]) != qid else int(Is[a + 1])
            ga, gb = int(gstart[gi]), int(gend[gi])
            eq_before = int(np.searchsorted(I[ga:gb], best))
            if qid < best:
                eq_before -= 1  # self is not a candidate
            return 1.0 / (1 + eq_before)
        dl = v - int(Cs[a - 1]) if a > 0 else None
        dr = int(Cs[b]) - v if b < len(Cs) else None
        if dl is not None and (dr is None or dl <= dr):
            d = dl
        else:
            d = dr
        cand_ids = []
        if dl == d:
            la = int(np.searchsorted(Cs, v - d, "left"))
            cand_ids.append(int(Is[la]))
        if dr == d:
            cand_ids.append(int(Is[b]))
        best = min(cand_ids)
        # candidates with |Δ| < d (self included in the interval: subtract it)
        less = int(np.searchsorted(C, v + d, "left")) - int(
            np.searchsorted(C, v - d, "right")
        ) - 1
        eq_before = 0
        for w in (v - d, v + d):
            wa = int(np.searchsorted(C, w, "left"))
            wb = int(np.searchsorted(C, w, "right"))
            if wb > wa:
                eq_before += int(np.searchsorted(I[wa:wb], best))
        return 1.0 / (1 + less + eq_before)

    out_rows = {c: [] for c in cols}
    blk_sizes = {int(c): int(b - a) for c, a, b in zip(blk_codes, blk_start, blk_end)}
    gi_of_pos = np.searchsorted(V, C)  # group index per sorted position
    ks = np.asarray(k_values)
    for qpos in range(n):
        qid = int(I[qpos])
        if qid % n_salt != salt_val:
            continue
        s = int(S[qpos])
        n_rel = blk_sizes[s] - 1
        if n_rel <= 0:
            continue
        gi = int(gi_of_pos[qpos])
        lst = group_top(gi)
        cids = I[lst]
        mask = cids != qid
        cpos = lst[mask][:kmax]
        crel = S[cpos] == s
        rel_idx = np.nonzero(crel)[0]
        hits = np.zeros(len(k_values))
        psums = np.zeros(len(k_values))
        if len(rel_idx):
            first = int(rel_idx[0])
            rr = 1.0 / (first + 1)
            hits[:] = (first < ks).astype(np.float64)
            cum = np.cumsum(crel)
            for j, k in enumerate(k_values):
                sel = rel_idx[rel_idx < k]
                if len(sel):
                    psums[j] = float(np.sum(cum[sel].astype(np.float64) / (sel + 1)))
        else:
            rr = fallback_rr(qpos, gi)
        out_rows["query_id"].append(qid)
        out_rows["rr"].append(rr)
        out_rows["n_rel"].append(n_rel)
        for j, k in enumerate(k_values):
            out_rows[f"hit_{k}"].append(float(hits[j]))
            out_rows[f"psum_{k}"].append(float(psums[j]))
    if not out_rows["query_id"]:
        return empty
    return pd.DataFrame(out_rows)


def per_query_metrics_1d(
    docs: DataFrame,
    k_values: tuple = (1, 5, 10, 20),
    id_col: str = "doc_id",
    group_col: str = "lang",
    value_col: str = "n_chars",
    label_col: str = "source",
    n_salt: int | None = None,
) -> DataFrame:
    """Exact per-query metrics frame for the 1-D score family, without the
    all-pairs join: candidates of q = same-group docs (minus q) ranked by
    (|value - value_q| ASC, id ASC); relevant = same label.

    Each group's docs are replicated across ``n_salt`` salt slices so the
    per-query work parallelizes beyond the group count (guide §2.5 —
    synthetic salt key; deterministic, derived from the id). Requires a
    non-null value column (raises otherwise — see kernel).
    """
    if n_salt is None:
        par = docs.sparkSession.sparkContext.defaultParallelism
        n_salt = max(4, par // 2)
    base = docs.where(F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("g"),
        F.col(id_col).cast("long").alias("id"),
        F.col(value_col).cast("long").alias("v"),
        F.col(label_col).alias("s"),
    )
    rep = base.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    schema = ", ".join(
        ["query_id long", "rr double", "n_rel long"]
        + [f"hit_{k} double" for k in k_values]
        + [f"psum_{k} double" for k in k_values]
    )
    kv = tuple(k_values)

    def _apply(pdf):
        return _metrics_1d_kernel(pdf, kv, n_salt)

    return rep.groupBy("g", "salt").applyInPandas(_apply, schema)


def retrieval_metrics_1d(
    docs: DataFrame,
    k_values: tuple = (1, 5, 10, 20),
    id_col: str = "doc_id",
    group_col: str = "lang",
    value_col: str = "n_chars",
    label_col: str = "source",
    n_salt: int | None = None,
) -> DataFrame:
    """Drop-in replacement for
    ``retrieval_metrics(all_pairs_within_group(docs), k_values)`` when the
    score is 1/(1+|Δvalue|) within group and relevance is label equality —
    identical output (same final aggregation expressions via
    ``_finalize_metrics``), O(n·k) instead of O(n²) per group."""
    per_query = per_query_metrics_1d(
        docs, k_values, id_col, group_col, value_col, label_col, n_salt
    )
    return _finalize_metrics(per_query, k_values)
