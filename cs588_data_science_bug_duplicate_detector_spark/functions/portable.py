"""Portable (engine-agnostic) hash kernels + their DuckDB SQL mirrors.

The driver's correctness gate compares every ``queries()`` entry against a
DuckDB oracle running on the same parquet. The production signature
kernels (``functions/hashing.py``) are Arrow-batched numpy over pandas'
siphash — fast, but not expressible in SQL, which left the three flagship
detector queries as weaker rows-only checks in round 1.

This module closes that gap: the SAME detector dataflow (shingle ->
signature -> band/chunk bucket join -> hot-bucket cap + star edges ->
verify -> connected components) computed from md5-derived hashes that
both engines evaluate identically:

- 31-bit shingle hash  = int(hex[0:8] of md5(shingle)) mod (2^31 - 1)
- MinHash slot_j       = min over shingles of (a_j * h + b_j) mod (2^31-1)
  (products stay < 2^62 — ANSI-overflow-safe in both engines)
- 64-bit token hash    = int(hex[0:8]) : int(hex[8:16]) of md5(token)
- SimHash              = per-bit majority vote over token hashes
- suffix anchors       = positions whose ANCHOR_K-gram md5 low nibble
                         ≡ 0 (mod anchor_mod)

Spark side: ``portable_sign_batch`` (hashlib md5 + the production
block-walk reductions) behind the engine's one signature UDF,
``hashing.with_signatures``; pure Catalyst for the suffix anchors. A
full-Catalyst signature variant (md5/conv + transform/array_min over 128
perm literals) was tried and measured 2-3x SLOWER at sf0.1: Spark
higher-order functions are interpreted per element, not
whole-stage-codegen'd, so 128 lambda evaluations per shingle lose badly
to one numpy reduceat pass — the Arrow kernel is the right shape.
DuckDB side: generated SQL built by the ``*_sql`` functions below
(DuckDB parses ``'0x..'`` hex casts). Downstream is the production
code: the flagship runs the pipeline's batch detect step,
``operators.incremental.detect_edges`` over the exact and MinHash
detectors; the SimHash twin runs
``operators.simhash.simhash_edges_from_sigs`` (both hash rules on the
shared bucket-pairing core ``operators.buckets.pair_buckets``); then
``operators.suffix.suffix_edges`` and
``operators.cc.connected_components`` — so banding, skew caps,
verification, and the iterative CC loop are all value-checked against
the oracle, not just the hash kernels. The oracle's band keys are the
verbatim ``"<band>:<slots>"`` strings (DuckDB has no xxhash64); the
Spark side's hashed keys group the same rows.

Equivalence of the two hash families (siphash fast path vs md5 portable
path) at the planted-cluster level is pytest-gated in
``tests/test_portable.py``.

Reference parity: same semantics the reference derives from its learned
encoder + dense similarity (/root/reference/src/metrics.py:259-280) and
union-find clustering (/root/reference/preprocess_data.py:116-142).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..config import DedupConfig
from . import hashing

# 2^31 - 1 (Mersenne prime): keeps a*h+b < 2^62 in signed 64-bit — safe
# under ANSI overflow checking in Spark and DuckDB alike.
P31 = 2_147_483_647

# DuckDB token expression — MUST stay semantically identical to
# functions.text.tokens(): lower -> split on [^a-z0-9]+ -> drop empties.
TOKENS_SQL = (
    "list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[^a-z0-9]+'), x -> x <> '')"
)


# ---------------------------------------------------------------------------
# Spark-side kernels (Arrow-batched; md5 via hashlib, reductions via numpy)
# ---------------------------------------------------------------------------

def perms31(num_perm: int, seed: int) -> tuple[list[int], list[int]]:
    """Seeded (a, b) permutation constants in [1,P31) / [0,P31) — embedded
    as literals in BOTH the Spark expression and the generated SQL."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, P31, size=num_perm, dtype=np.int64)
    b = rng.integers(0, P31, size=num_perm, dtype=np.int64)
    return [int(x) for x in a], [int(x) for x in b]


def _md5_h64(flat: np.ndarray) -> np.ndarray:
    """uint64 of the first 8 md5-digest bytes (big-endian) per string —
    exactly (hex[0:8] << 32) | hex[8:16], the portable 64-bit token hash;
    its top 32 bits are hex[0:8], the portable shingle hash before mod P31
    (DuckDB: CAST('0x'||substr(md5(s),..) AS BIGINT)).

    Round-6 kernel notes (values unchanged, pytest/oracle-gated):
    - the hex slices are byte-aligned slices of the raw digest —
      int.from_bytes over digest() skips the hexdigest string build and
      the int(hex, 16) parse (~2x per hash);
    - repeated strings (natural-text tokens repeat heavily; duplicate docs
      repeat whole shingle runs) are hashed ONCE via factorize + gather.
    """
    if len(flat) == 0:
        return np.empty(0, dtype=np.uint64)
    codes, uniq = pd.factorize(pd.Series(flat, dtype=object), use_na_sentinel=False)
    md5 = hashlib.md5
    vals = np.fromiter(
        (int.from_bytes(md5(s.encode("utf-8")).digest()[:8], "big") for s in uniq),
        dtype=np.uint64,
        count=len(uniq),
    )
    return vals[codes]


def portable_sign_batch(texts: pd.Series, cfg: DedupConfig, kernels) -> pd.DataFrame:
    """The portable family's batch function, same contract as
    ``hashing.sign_batch`` (one tokenization, requested kernels only, the
    same content-less rule) over md5-derived hashes both engines evaluate:

    - MinHash: 31-bit shingle hashes (hex[0:8] mod P31) + (a*h+b) mod P31
      slot mins (products < 2^62: identical int64 arithmetic in numpy,
      Spark SQL and DuckDB — no wraparound), over the production shingle
      segmentation (``hashing._segments``: short docs -> one whole-doc
      shingle);
    - SimHash: per-bit majority over 64-bit token hashes (hi = hex[0:8],
      lo = hex[8:16]; bit j = (lo>>j)&1 for j<32 else (hi>>(j-32))&1 —
      exactly the DuckDB oracle's CASE arithmetic), through the production
      vote ``hashing.simhash_signatures``.
    """
    toks = hashing.tokenize_series(texts)
    empty = (toks.str.len() == 0).to_numpy()
    cols = {}
    if "minhash" in kernels:
        a, b = (np.asarray(p, dtype=np.int64) for p in perms31(cfg.num_perm, cfg.seed))
        flat, offsets = hashing._segments(toks, cfg.shingle_k)
        h = (_md5_h64(flat) >> np.uint64(32)).astype(np.int64) % P31
        cols["minhash"] = (hashing.minhash_reduce(h, offsets, a, b, mod=P31), empty)
    if "simhash" in kernels:
        cols["simhash"] = (hashing.simhash_signatures(hashing.flat_token_hashes(toks, _md5_h64)), empty)
    return hashing.signature_frame(cols)


def with_portable_minhash(df: DataFrame, text_col: str, cfg: DedupConfig) -> DataFrame:
    """Portable MinHash signature column (array<long>, cfg.num_perm slots).

    Same (id, minhash) contract as operators.minhash.with_minhash, so the
    production banding/verify operators consume it unchanged. Values are
    bit-identical to an eager Python recomputation (tests/test_portable.py)
    and to the DuckDB oracle SQL.
    """
    return hashing.with_signatures(df, text_col, cfg, ("minhash",), portable_sign_batch)


def with_portable_simhash(df: DataFrame, text_col: str) -> DataFrame:
    """Portable 64-bit SimHash (long): one Arrow-batched kernel pass,
    bit-identical to the eager Python oracle and the DuckDB SQL."""
    return hashing.with_signatures(df, text_col, DedupConfig(), ("simhash",), portable_sign_batch)


# ---------------------------------------------------------------------------
# DuckDB oracle SQL builders
# ---------------------------------------------------------------------------

def _toks_cte(source_sql: str = "documents") -> str:
    return f"t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM {source_sql})"


def minhash_clusters_sql(cfg: DedupConfig, source_sql: str = "documents") -> str:
    """Full flagship oracle: portable MinHash -> bands -> capped bucket join
    -> auto-accept / signature verify / hot-bucket star edges -> union exact
    dup edges -> connected components (recursive CTE, min-member labels)."""
    a, b = perms31(cfg.num_perm, cfg.seed)
    perm_rows = ", ".join(f"({j}, {a[j]}, {b[j]})" for j in range(cfg.num_perm))
    k, r = cfg.shingle_k, cfg.rows_per_band
    n_eq = (
        f"list_sum(list_transform(range(1, {cfg.num_perm + 1}), "
        f"i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))"
    )
    return f"""
WITH RECURSIVE
docs AS (SELECT doc_id, text FROM {source_sql}),
{_toks_cte('docs')},
sh AS (
  -- content-less docs (zero tokens) are excluded: never candidates
  SELECT doc_id,
    CASE WHEN len(toks) >= {k}
           THEN list_transform(range(1, len(toks) - {k} + 2),
                               i -> array_to_string(toks[i:i+{k - 1}], ' '))
         ELSE [array_to_string(toks, ' ')] END AS shingles
  FROM t WHERE len(toks) >= 1),
hs AS (
  SELECT doc_id,
         list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) % {P31}) AS hs
  FROM sh),
perms(j, a, b) AS (VALUES {perm_rows}),
slots AS (
  SELECT doc_id, j, MIN((a * h + b) % {P31}) AS slot
  FROM (SELECT doc_id, unnest(hs) AS h FROM hs) CROSS JOIN perms
  GROUP BY doc_id, j),
sig AS (SELECT doc_id, list(slot ORDER BY j) AS sig FROM slots GROUP BY doc_id),
bands AS (
  SELECT doc_id,
         CAST(bi AS VARCHAR) || ':' || array_to_string(sig[{r}*bi+1:{r}*bi+{r}], ',') AS band_key
  FROM sig CROSS JOIN (SELECT unnest(range(0, {cfg.bands})) AS bi)),
bsz AS (SELECT band_key, COUNT(*) AS n FROM bands GROUP BY band_key),
hot AS (SELECT band_key FROM bsz WHERE n > {cfg.bucket_cap}),
okb AS (SELECT b.* FROM bands b ANTI JOIN hot USING (band_key)),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, COUNT(*) AS n_bands
  FROM okb a JOIN okb b USING (band_key)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
members AS (SELECT b.band_key, b.doc_id FROM bands b SEMI JOIN hot USING (band_key)),
roots AS (SELECT band_key, MIN(doc_id) AS root FROM members GROUP BY band_key),
star AS (
  SELECT DISTINCT r.root AS src, m.doc_id AS dst
  FROM members m JOIN roots r USING (band_key) WHERE m.doc_id <> r.root),
amb AS (
  SELECT src, dst FROM pairs WHERE n_bands < {cfg.auto_accept_bands}
  UNION ALL SELECT src, dst FROM star),
ver AS (
  SELECT p.src, p.dst
  FROM amb p JOIN sig sa ON sa.doc_id = p.src JOIN sig sb ON sb.doc_id = p.dst
  WHERE {n_eq} / {float(cfg.num_perm)} >= {cfg.verify_threshold}),
cdocs AS (SELECT doc_id, text FROM docs
          WHERE text IS NOT NULL AND regexp_replace(text, '^\\s+|\\s+$', '', 'g') <> ''),
exg AS (SELECT md5(text) AS h, MIN(doc_id) AS root, COUNT(*) AS n FROM cdocs GROUP BY md5(text)),
ex AS (
  SELECT g.root AS src, d.doc_id AS dst
  FROM cdocs d JOIN exg g ON md5(d.text) = g.h
  WHERE g.n > 1 AND d.doc_id <> g.root),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM pairs WHERE n_bands >= {cfg.auto_accept_bands}
    UNION ALL SELECT src, dst FROM ver
    UNION ALL SELECT src, dst FROM ex)),
esym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach AS (
  SELECT doc_id AS id, doc_id AS lab FROM docs
  UNION
  SELECT e.dst AS id, r.lab FROM reach r JOIN esym e ON e.src = r.id)
SELECT id AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY id ORDER BY doc_id
"""


def simhash_candidates_sql(cfg: DedupConfig, source_sql: str = "documents") -> str:
    """Oracle for the portable SimHash detector: per-bit majority signature
    -> 16-bit pigeonhole chunk join (hot chunks capped to star edges) ->
    Hamming<=max verify."""
    width = cfg.simhash_bits // cfg.simhash_chunks
    assert width == 16 and cfg.simhash_chunks == 4, "oracle mirrors the 4x16 layout"
    chunk_cols = ", ".join(
        f"MAX(CASE WHEN chunk_id = {c} THEN chunk_val END) AS c{c}" for c in range(4)
    )
    ham = " + ".join(f"bit_count(xor(sa.c{c}, sb.c{c}))" for c in range(4))
    return f"""
WITH
docs AS (SELECT doc_id, text FROM {source_sql}),
{_toks_cte('docs')},
tt AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),  -- content-less docs excluded
th AS (
  SELECT doc_id, n,
         CAST('0x' || substr(m, 1, 8) AS BIGINT) AS hi,
         CAST('0x' || substr(m, 9, 8) AS BIGINT) AS lo
  FROM (SELECT doc_id, len(toks) AS n, unnest(list_transform(toks, x -> md5(x))) AS m FROM tt)),
bitcnt AS (
  SELECT doc_id, j,
         SUM(CASE WHEN j < 32 THEN (lo >> j) & 1 ELSE (hi >> (j - 32)) & 1 END) AS c,
         MIN(n) AS n
  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS j)
  GROUP BY doc_id, j),
chunks AS (
  SELECT doc_id, j // 16 AS chunk_id,
         SUM(CASE WHEN 2 * c > n THEN (1 << (j % 16)) ELSE 0 END) AS chunk_val
  FROM bitcnt GROUP BY doc_id, j // 16),
sigs AS (SELECT doc_id, {chunk_cols} FROM chunks GROUP BY doc_id),
csz AS (SELECT chunk_id, chunk_val, COUNT(*) AS n FROM chunks GROUP BY 1, 2),
hot AS (SELECT chunk_id, chunk_val FROM csz WHERE n > {cfg.simhash_chunk_cap}),
okc AS (SELECT c.* FROM chunks c ANTI JOIN hot USING (chunk_id, chunk_val)),
cand AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM okc a JOIN okc b USING (chunk_id, chunk_val)
  WHERE a.doc_id < b.doc_id),
members AS (SELECT c.chunk_id, c.chunk_val, c.doc_id FROM chunks c SEMI JOIN hot USING (chunk_id, chunk_val)),
roots AS (SELECT chunk_id, chunk_val, MIN(doc_id) AS root FROM members GROUP BY 1, 2),
star AS (
  SELECT DISTINCT r.root AS src, m.doc_id AS dst
  FROM members m JOIN roots r USING (chunk_id, chunk_val) WHERE m.doc_id <> r.root),
allc AS (SELECT src, dst FROM cand UNION SELECT src, dst FROM star)
SELECT DISTINCT p.src, p.dst
FROM allc p JOIN sigs sa ON sa.doc_id = p.src JOIN sigs sb ON sb.doc_id = p.dst
WHERE {ham} <= {cfg.simhash_hamming_max}
ORDER BY src, dst
"""


def _hyperplane_buckets_sql(dim: int, n_bits: int, n_tables: int, seed: int) -> str:
    """(vec_id, tbl, bucket) CTE body: hyperplane-sign buckets with plane
    constants from the SAME seeded rng as operators.ann.hyperplane_multi_udf
    (table t uses rng(seed + t)), embedded as DuckDB literals."""
    table_selects = []
    for t in range(n_tables):
        rng = np.random.default_rng(seed + t)
        planes = rng.standard_normal((dim, n_bits))
        bits = []
        for j in range(n_bits):
            vec = ", ".join(repr(float(planes[i][j])) for i in range(dim))
            bits.append(
                f"CASE WHEN list_inner_product(v, [{vec}]) > 0 THEN {1 << j} ELSE 0 END"
            )
        bucket = " + ".join(bits)
        table_selects.append(f"SELECT vec_id, {t} AS tbl, {bucket} AS bucket FROM e")
    return "\nUNION ALL\n".join(table_selects)


def ann_lsh_sql(
    dim: int,
    k: int = 3,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    max_query_id: int = 50,
) -> str:
    """Oracle for operators.ann.lsh_topk: hyperplane-sign buckets (plane
    constants from the same seeded rng, embedded as literals), bucket
    equi-join candidates, exact cosine rescore, per-query top-k.

    Sign parity across engines: summation order may differ in the last ulp,
    but a sign flip needs |dot| ~ 1e-13 on O(1)-magnitude gaussian dots —
    vanishing at test scale (same argument as the embedding_knn ordering
    parity, which is hash-green).
    """
    buckets_sql = _hyperplane_buckets_sql(dim, n_bits, n_tables, seed)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bk AS ({buckets_sql}),
cand AS (
  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
  FROM bk a JOIN bk b USING (tbl, bucket) WHERE a.vec_id <> b.vec_id),
scored AS (
  SELECT c.qid, c.nid, list_cosine_similarity(ea.v, eb.v) AS s
  FROM cand c JOIN e ea ON ea.vec_id = c.qid JOIN e eb ON eb.vec_id = c.nid),
ranked AS (
  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid ASC) AS rnk
  FROM scored)
SELECT qid AS query_id, rnk, nid AS neighbor_id
FROM ranked WHERE rnk <= {k} AND qid < {max_query_id}
ORDER BY query_id, rnk
"""


def ann_lsh_allcorpus_sql(
    dim: int,
    k: int = 3,
    n_bits: int = 6,
    n_tables: int = 2,
    seed: int = 42,
    bucket_cap: int = 8,
) -> str:
    """Oracle for operators.ann.lsh_topk in ALL-CORPUS mode with the
    hot-bucket candidate cap (round-4 scale guard): every vector probes,
    but within each (table, bucket) only the ``bucket_cap`` smallest
    vec_ids serve as candidates — the id-ranked truncation reproduced
    verbatim with a row_number window, so the cap path itself is
    value-checked against an independent engine."""
    buckets_sql = _hyperplane_buckets_sql(dim, n_bits, n_tables, seed)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bk AS ({buckets_sql}),
capped AS (
  SELECT vec_id, tbl, bucket FROM (
    SELECT vec_id, tbl, bucket,
           row_number() OVER (PARTITION BY tbl, bucket ORDER BY vec_id) AS rn
    FROM bk)
  WHERE rn <= {bucket_cap}),
cand AS (
  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
  FROM bk a JOIN capped b USING (tbl, bucket) WHERE a.vec_id <> b.vec_id),
scored AS (
  SELECT c.qid, c.nid, list_cosine_similarity(ea.v, eb.v) AS s
  FROM cand c JOIN e ea ON ea.vec_id = c.qid JOIN e eb ON eb.vec_id = c.nid),
ranked AS (
  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid ASC) AS rnk
  FROM scored)
SELECT qid AS query_id, rnk, nid AS neighbor_id
FROM ranked WHERE rnk <= {k}
ORDER BY query_id, rnk
"""


def suffix_span_edges_sql(cfg: DedupConfig, source_sql: str = "documents") -> str:
    """Oracle for the suffix/long-shared-span detector with md5 anchors:
    positions whose ANCHOR_K-gram md5 low nibble ≡ 0 (mod anchor_mod) are
    anchors; first max_windows anchors per doc; shared W-token windows ->
    min-member star edges."""
    W, K = cfg.suffix_window, cfg.anchor_k
    return f"""
WITH
docs AS (SELECT doc_id, text FROM {source_sql}),
{_toks_cte('docs')},
d AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= {cfg.suffix_min_tokens}),
pos AS (SELECT doc_id, toks, unnest(range(0, n - {W} + 1)) AS p FROM d),
anch AS (
  SELECT doc_id, toks, p FROM pos
  WHERE CAST('0x' || substr(md5(array_to_string(toks[p+1:p+{K}], ' ')), 32, 1) AS BIGINT)
        % {cfg.anchor_mod} = 0),
capped AS (
  SELECT doc_id, toks, p FROM (
    SELECT doc_id, toks, p, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rn FROM anch)
  WHERE rn <= {cfg.max_windows_per_doc}),
wins AS (SELECT DISTINCT doc_id, array_to_string(toks[p+1:p+{W}], ' ') AS win FROM capped),
wr AS (SELECT win, MIN(doc_id) AS root, COUNT(*) AS n FROM wins GROUP BY win)
SELECT DISTINCT r.root AS src, w.doc_id AS dst
FROM wins w JOIN wr r USING (win)
WHERE r.n > 1 AND w.doc_id <> r.root
ORDER BY src, dst
"""


def ann_ivf_sql(
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    max_query_id: int = 50,
) -> str:
    """Oracle for operators.ivf.ivf_topk in portable mode: centroids are
    the n_centroids vectors with the smallest md5(id) hex (identical order
    in both engines), numbered by that sample order; assignment = nearest
    centroid (cosine, ties by cid), probes = n_probe nearest; candidates
    from the inverted-list equi-join; exact rescore + per-query top-k.
    Cosine ordering parity across engines: same argument as embedding_knn
    (a flip needs a sim gap ~1e-13 on gaussian data)."""
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
         v AS cv
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_centroids}),
assign AS (
  SELECT nid, nvec, cid FROM (
    SELECT b.vec_id AS nid, b.v AS nvec, c.cid,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.cid ASC) AS pr
    FROM e b CROSS JOIN cents c) WHERE pr = 1),
probe AS (
  SELECT query_id, qvec, cid FROM (
    SELECT q.vec_id AS query_id, q.v AS qvec, c.cid,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.cid ASC) AS pr
    FROM e q CROSS JOIN cents c WHERE q.vec_id < {max_query_id}) WHERE pr <= {n_probe}),
cand AS (
  SELECT p.query_id, a.nid, list_cosine_similarity(p.qvec, a.nvec) AS s
  FROM probe p JOIN assign a USING (cid) WHERE p.query_id <> a.nid),
ranked AS (
  SELECT query_id, nid,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, nid ASC) AS rnk
  FROM cand)
SELECT query_id, rnk, nid AS neighbor_id FROM ranked WHERE rnk <= {k}
ORDER BY query_id, rnk
"""
