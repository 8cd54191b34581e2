"""Signing: the engine's one signature UDF and its vectorized kernels.

Every signing path goes through ``with_signatures``: the batch pipeline
and the fold (``incremental.sign_docs``), the stream's in-stream banding
and its signature log, and the portable twins the DuckDB oracle replays.
It is ONE pandas UDF. Its batch function (``sign_batch``, or
``portable.portable_sign_batch`` for the md5 family) tokenizes and
token-hashes once per Arrow batch, runs only the requested kernels
(MinHash over token or char shingles, SimHash, or both), and NULLs the
signatures of content-less docs in one place (``signature_frame``).
This is the engine's only Python hot path: the reference's batched
encoder call becomes batched signature computation (SURVEY.md U3).

Everything is vectorized over the whole Arrow batch: one hash call over
the concatenated tokens of all rows, then per-doc segment reductions
(``np.minimum.reduceat`` slot minima for MinHash, a per-doc bit vote for
SimHash) over doc-aligned, cache-sized blocks (``doc_blocks``) — no
per-row Python in the inner loop.

Determinism: pandas' siphash with a pinned 16-byte key + numpy
``default_rng(seed)`` permutations. Stable across processes/machines
(no PYTHONHASHSEED dependence), which the checkpoint/resume contract
requires. Signature values are pinned by golden digests
(``tests/test_hashing.py``); a change that moves them bumps
``KERNEL_VERSION``.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..config import DedupConfig

# pd.util.hash_array requires a 16-character key.
_HASH_KEY = "dupdetect-v1-key"

_TOKEN_RE = re.compile(r"[a-z0-9]+")


def hash64(values: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit hash of an object array of strings -> uint64."""
    arr = np.asarray(values, dtype=object)
    if arr.size == 0:
        return np.empty(0, dtype=np.uint64)
    return pd.util.hash_array(arr, hash_key=_HASH_KEY, categorize=False)


def minhash_perms(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(a, b) multiply-shift permutation params; a odd, arithmetic mod 2^64."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, np.iinfo(np.uint64).max, size=num_perm, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, np.iinfo(np.uint64).max, size=num_perm, dtype=np.uint64)
    return a, b


def tokenize_series(texts: pd.Series) -> pd.Series:
    """Lowercase alnum tokens per row — vectorized pandas str op."""
    return texts.fillna("").str.lower().str.findall(_TOKEN_RE)


# Bump when signature VALUES change (hash family / combine / constants):
# DedupConfig.fingerprint() folds this in, so persisted signatures
# (pipeline checkpoints, DedupIndex) from an older kernel can never be
# mixed with newly-signed increments; re-record the golden digests in
# tests/test_hashing.py in the same commit. v2 = token-hash rolling-combine
# shingles (replaced the v1 joined-string shingle hashing).
KERNEL_VERSION = 2

_MIX_M1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX_M2 = np.uint64(0x94D049BB133111EB)
# fixed shingle hash for zero-token docs (signature_frame NULLs the signature;
# the constant only keeps every reduceat segment non-empty)
_EMPTY_SHINGLE = np.uint64(0x9E3779B97F4A7C15)


def _mix64(z: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized — full-avalanche mix of the linear
    shingle combine so the multiply-shift MinHash permutations downstream
    see uniform 64-bit keys."""
    z = z ^ (z >> np.uint64(30))
    z = z * _MIX_M1
    z = z ^ (z >> np.uint64(27))
    z = z * _MIX_M2
    return z ^ (z >> np.uint64(31))


def _shingle_weights(k: int) -> np.ndarray:
    """k odd position weights for the rolling shingle combine (seeded by k:
    stable across processes, distinct per shingle width)."""
    rng = np.random.default_rng(0x5317C0DE ^ k)
    return rng.integers(1, np.iinfo(np.uint64).max, size=k, dtype=np.uint64) | np.uint64(1)


def _starts(counts: np.ndarray) -> np.ndarray:
    """Segment start offsets for per-doc item counts (exclusive cumsum)."""
    offsets = np.zeros(len(counts), dtype=np.int64)
    if len(counts) > 1:
        np.cumsum(counts[:-1], out=offsets[1:])
    return offsets


def flat_token_hashes(token_lists: pd.Series,
                      hash_fn=hash64) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(hashes, counts, offsets): one 64-bit ``hash_fn`` hash per token,
    flattened over the batch — the ONE string-hashing pass both signature
    kernels share. Empty docs contribute zero tokens (counts[i] == 0)."""
    from itertools import chain

    counts = np.fromiter((len(t) for t in token_lists), dtype=np.int64, count=len(token_lists))
    flat = np.asarray(list(chain.from_iterable(token_lists)), dtype=object)
    return hash_fn(flat), counts, _starts(counts)


def shingle_hashes_from_tokens(
    h: np.ndarray, counts: np.ndarray, offsets: np.ndarray, shingle_k: int
) -> tuple[np.ndarray, np.ndarray]:
    """k-shingle hashes as a position-weighted rolling combine over token
    hashes — no shingle STRINGS are ever built. The v1 kernel spent more
    time constructing ' '.join(...) shingle strings and siphashing them
    (~0.9 µs/shingle) than on everything else in the signature phase;
    this is ~5 vector ops per token instead, with the token hashing cost
    shared with SimHash.

    Same segment contract as ``_segments``: docs with >= k tokens get
    cnt-k+1 shingles; shorter non-empty docs one whole-doc shingle (the
    weight prefix — never collides with a full k-window except at 2^-64);
    empty docs one fixed constant (NULLed by ``signature_frame``).
    Distinct token sequences map to distinct hashes up to 64-bit collisions,
    exactly like the string family they replace.
    """
    n = len(counts)
    ntok = len(h)
    k = shingle_k
    W = _shingle_weights(k)
    m = np.where(counts >= k, counts - k + 1, 1)
    sh_offsets = _starts(m)
    out = np.empty(int(m.sum()), dtype=np.uint64)
    with np.errstate(over="ignore"):
        big = counts >= k
        if big.any() and ntok >= k:
            S = W[0] * h[: ntok - k + 1]
            for i in range(1, k):
                S += W[i] * h[i : ntok - k + 1 + i]
            # a window is a doc's shingle iff its first and last token live
            # in the same doc; window positions ascend in doc order, and so
            # do the big docs' output slots — one masked scatter each side
            did = np.repeat(np.arange(n, dtype=np.int64), counts)
            valid = did[: ntok - k + 1] == did[k - 1 :]
            out[np.repeat(big, m)] = _mix64(S[valid])
        for c in range(1, k):  # short non-empty docs, vectorized per length
            sel = counts == c
            if not sel.any():
                continue
            offs = offsets[sel]
            Sc = W[0] * h[offs]
            for i in range(1, c):
                Sc = Sc + W[i] * h[offs + i]
            out[sh_offsets[sel]] = _mix64(Sc)
        empty = counts == 0
        if empty.any():
            out[sh_offsets[empty]] = _EMPTY_SHINGLE
    return out, sh_offsets


def _segments(token_lists: pd.Series, shingle_k: int) -> tuple[np.ndarray, np.ndarray]:
    """Flatten per-doc k-shingles into one object array + segment offsets.

    Docs shorter than k tokens contribute a single shingle (the whole doc);
    empty docs contribute the empty-string shingle so every segment is
    non-empty (reduceat requirement) and every doc gets a signature.
    """
    shingles: list[str] = []
    counts = np.empty(len(token_lists), dtype=np.int64)
    for i, toks in enumerate(token_lists):
        n = len(toks)
        if n >= shingle_k:
            start = len(shingles)
            shingles.extend(" ".join(toks[j : j + shingle_k]) for j in range(n - shingle_k + 1))
            counts[i] = len(shingles) - start
        elif n:
            shingles.append(" ".join(toks))
            counts[i] = 1
        else:
            shingles.append("")
            counts[i] = 1
    return np.asarray(shingles, dtype=object), _starts(counts)


def char_segments(texts: pd.Series, shingle_k: int) -> tuple[np.ndarray, np.ndarray]:
    """k-CHARACTER sliding shingles (whitespace collapsed, lowercased) —
    the MinHash unit for unsegmented scripts (CJK), where token shingles
    degenerate to zero tokens. Same (flat, offsets) contract as
    ``_segments``; blank docs contribute the empty shingle (NULLed by
    ``signature_frame``)."""
    shingles: list[str] = []
    counts = np.empty(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        t = " ".join((t or "").lower().split())
        n = len(t)
        if n >= shingle_k:
            start = len(shingles)
            shingles.extend(t[j : j + shingle_k] for j in range(n - shingle_k + 1))
            counts[i] = len(shingles) - start
        else:
            shingles.append(t)  # whole (short or empty) doc
            counts[i] = 1
    return np.asarray(shingles, dtype=object), _starts(counts)


# Shingle-block size for the permutation reduction: hc + hv at 32k shingles
# is 2 x 256 KB — resident in a per-core L2 across all num_perm passes.
# The unblocked loop re-streamed the FULL batch hash array from DRAM once
# per permutation (~7 MB x 128 at 10k-doc Arrow batches = ~1.8 GB of
# traffic per batch per worker): with many concurrent workers the box goes
# memory-bandwidth-bound and ADDING workers made the job slower (measured
# local[32] 2x slower than local[8] on the same 1M-doc corpus). Blocking
# turns that into one DRAM pass over h + the signature writes. The same
# math governs real executors: task slots x per-slot bandwidth is the
# budget at 10^12 docs, and the kernel should spend it once, not 128x.
_REDUCE_BLOCK = 32768


def doc_blocks(offsets: np.ndarray, total: int):
    """Yield (start_doc, end_doc, lo, hi): runs of whole docs holding
    >= _REDUCE_BLOCK items each (a single mega-doc is its own block), so a
    per-doc reduction over ``items[lo:hi]`` is bit-identical to one over
    the whole batch — blocks split only BETWEEN docs."""
    n_docs = len(offsets)
    start_doc = 0
    while start_doc < n_docs:
        lo = int(offsets[start_doc])
        end_doc = int(np.searchsorted(offsets, lo + _REDUCE_BLOCK, side="left"))
        end_doc = max(end_doc, start_doc + 1)
        hi = int(offsets[end_doc]) if end_doc < n_docs else total
        yield start_doc, end_doc, lo, hi
        start_doc = end_doc


def minhash_reduce(h: np.ndarray, offsets: np.ndarray, a: np.ndarray, b: np.ndarray,
                   mod: int | None = None) -> np.ndarray:
    """(n_docs, num_perm) int64 slot minima of ``a_j * h + b_j`` per doc
    segment, over ``doc_blocks``. uint64 ``h`` wraps mod 2^64 (the
    multiply-shift family); ``mod`` reduces each product first (the
    portable family's mod P31, exact in int64)."""
    sig = np.empty((len(offsets), len(a)), dtype=h.dtype)
    with np.errstate(over="ignore"):
        for start_doc, end_doc, lo, hi in doc_blocks(offsets, len(h)):
            hc = h[lo:hi]
            offs = offsets[start_doc:end_doc] - lo
            for j in range(len(a)):
                hv = a[j] * hc + b[j]
                if mod is not None:
                    hv %= mod
                sig[start_doc:end_doc, j] = np.minimum.reduceat(hv, offs)
    return sig.view(np.int64)


def minhash_signatures(flats: tuple[np.ndarray, np.ndarray, np.ndarray], shingle_k: int,
                       a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n_docs, num_perm) int64 token-shingle MinHash matrix from the
    batch's token hashes (``flat_token_hashes``)."""
    sh, sh_offsets = shingle_hashes_from_tokens(*flats, shingle_k)
    return minhash_reduce(sh, sh_offsets, a, b)


def shingle_set(text: str, shingle_k: int) -> set:
    """Reference-style eager shingle set for one doc (test oracle / verify)."""
    toks = _TOKEN_RE.findall((text or "").lower())
    if len(toks) >= shingle_k:
        return {" ".join(toks[j : j + shingle_k]) for j in range(len(toks) - shingle_k + 1)}
    return {" ".join(toks)} if toks else {""}


def simhash_signatures(flats: tuple[np.ndarray, np.ndarray, np.ndarray]) -> np.ndarray:
    """64-bit SimHash per doc (int64 view) from 64-bit token hashes
    (hashes, counts, offsets), vectorized over the batch.

    Token hash bits vote +1/-1 per position; sign of the per-doc sum
    gives the signature bit. Zero-token docs get signature 0 (they are
    NULL-masked by the batch function either way).
    """
    h, counts, offsets = flats
    # Bit matrix via FLAT unpackbits over doc_blocks. Two measured facts
    # (4.5M tokens / 20k docs): (a) axis=1 unpackbits walks the array
    # row-by-row and ran ~7-10x slower than one flat pass over the same
    # bytes (3.1s vs 0.45s); (b) materializing the whole (total, 64) bit
    # matrix costs a 64x-inflated DRAM write (page-fault bound on first
    # touch) — blocking into ~2 MB L2-resident chunks with the per-doc
    # short-row .sum loop is faster still (0.31s) AND keeps the kernel's
    # bandwidth footprint flat at high worker counts, the same argument as
    # minhash_reduce. Bit-identical to the unblocked version.
    # (The earlier shifted-uint64 variant was worse than all of these.)
    h8 = h.view(np.uint8)
    ones = np.empty((len(counts), 64), dtype=np.int64)
    for start_doc, end_doc, lo, hi in doc_blocks(offsets, len(h)):
        bits = np.unpackbits(h8[lo * 8 : hi * 8], bitorder="little").reshape(-1, 64)
        for i in range(start_doc, end_doc):
            s = int(offsets[i] - lo)
            ones[i] = bits[s : s + int(counts[i])].sum(axis=0)
    # majority vote: bit set iff ones > tokens/2 (tie -> 0), ≙ sum(±1) > 0
    majority = (2 * ones) > counts[:, None]
    shifts = np.arange(64, dtype=np.uint64)
    sig = (majority.astype(np.uint64) << shifts).sum(axis=1, dtype=np.uint64)
    return sig.view(np.int64)


def signature_frame(cols: dict) -> pd.DataFrame:
    """{name: (signatures, empty)} -> the batch function's output frame:
    one object column per name, a row per doc, NULL where ``empty``.

    Content-less docs (no tokens; blank text for char shingles) get a NULL
    signature: all of them share one degenerate signature otherwise, which
    collides in EVERY band / chunk, auto-accepts, and welds every failed
    extraction on earth into one mega-cluster. The band and chunk tables
    drop NULL signatures, so such docs stay singletons; the DuckDB oracle
    SQL mirrors the rule for the portable family (``len(toks) >= 1``)."""
    frame = {}
    for name, (sig, empty) in cols.items():
        out = pd.Series(list(sig) if sig.ndim == 2 else sig, dtype=object)
        out[empty] = None
        frame[name] = out
    return pd.DataFrame(frame)


def sign_batch(texts: pd.Series, cfg: DedupConfig, kernels) -> pd.DataFrame:
    """The signing batch function: one column per kernel in ``kernels``
    ("minhash", "simhash") for one Arrow batch of texts under ``cfg``.

    One tokenization and one token-hashing pass feed every requested
    token kernel; a kernel that is not requested is not computed, and
    char-shingle MinHash alone (``cfg.shingle_mode == "char"``) never
    tokenizes."""
    char_mode = cfg.shingle_mode == "char"
    flats = None
    if "simhash" in kernels or not char_mode:
        flats = flat_token_hashes(tokenize_series(texts))
    cols = {}
    if "minhash" in kernels:
        a, b = minhash_perms(cfg.num_perm, cfg.seed)
        if char_mode:
            flat, offsets = char_segments(texts, cfg.shingle_k)
            blank = (texts.fillna("").str.strip().str.len() == 0).to_numpy()
            cols["minhash"] = (minhash_reduce(hash64(flat), offsets, a, b), blank)
        else:
            cols["minhash"] = (minhash_signatures(flats, cfg.shingle_k, a, b), flats[1] == 0)
    if "simhash" in kernels:
        cols["simhash"] = (simhash_signatures(flats), flats[1] == 0)
    return signature_frame(cols)


_SQL_TYPES = {"minhash": "array<long>", "simhash": "long"}


def with_signatures(df: DataFrame, text_col: str, cfg: DedupConfig, kernels,
                    batch=sign_batch) -> DataFrame:
    """``df`` plus one signature column per kernel in ``kernels``, from ONE
    Arrow UDF pass over ``text_col``: one JVM->Python text transfer, then
    ``batch`` (``sign_batch``, or the portable family's twin) per Arrow
    batch. Every signing path — batch, fold, stream, the portable twins —
    goes through here."""
    kernels = tuple(kernels)

    def _sign(texts: pd.Series) -> pd.DataFrame:
        return batch(texts, cfg, kernels)

    udf = pandas_udf(_sign, ", ".join(f"{k} {_SQL_TYPES[k]}" for k in kernels))
    return (
        df.withColumn("_sig", udf(F.col(text_col)))
        .withColumns({k: F.col(f"_sig.{k}") for k in kernels})
        .drop("_sig")
    )
