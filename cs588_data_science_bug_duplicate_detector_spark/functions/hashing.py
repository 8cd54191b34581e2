"""Deterministic vectorized hashing kernels (numpy/pandas, Arrow-batch side).

These run INSIDE pandas UDFs — the engine's only Python hot path
(SURVEY.md U3: the reference's batched ``model.encode``,
``/root/reference/evaluate.py:71-108``, becomes batched signature
computation). Everything is vectorized over the whole Arrow batch:
one ``pd.util.hash_array`` call over the concatenated shingles of all
rows, then segment reductions with ``np.minimum.reduceat`` /
``np.add.reduceat`` — no per-row Python in the inner loop.

Determinism: pandas' siphash with a pinned 16-byte key + numpy
``default_rng(seed)`` permutations. Stable across processes/machines
(no PYTHONHASHSEED dependence), which the checkpoint/resume contract
requires.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

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
# mixed with newly-signed increments. v2 = token-hash rolling-combine
# shingles (replaced the v1 joined-string shingle hashing).
KERNEL_VERSION = 2

_MIX_M1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX_M2 = np.uint64(0x94D049BB133111EB)
# fixed shingle hash for zero-token docs (signature is NULL-masked upstream;
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


def flat_token_hashes(token_lists: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(hashes, counts, offsets): one 64-bit hash per token, flattened over
    the batch — the ONE string-hashing pass both signature kernels share.
    Empty docs contribute zero tokens (counts[i] == 0)."""
    from itertools import chain

    n = len(token_lists)
    counts = np.fromiter((len(t) for t in token_lists), dtype=np.int64, count=n)
    flat = list(chain.from_iterable(token_lists))
    offsets = np.zeros(n, dtype=np.int64)
    if n > 1:
        np.cumsum(counts[:-1], out=offsets[1:])
    return hash64(np.asarray(flat, dtype=object)), counts, offsets


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
    empty docs one fixed constant (masked to NULL signatures upstream).
    Distinct token sequences map to distinct hashes up to 64-bit collisions,
    exactly like the string family they replace.
    """
    n = len(counts)
    ntok = len(h)
    k = shingle_k
    W = _shingle_weights(k)
    m = np.where(counts >= k, counts - k + 1, 1)
    sh_offsets = np.zeros(n, dtype=np.int64)
    if n > 1:
        np.cumsum(m[:-1], out=sh_offsets[1:])
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
    offsets = np.zeros(len(counts), dtype=np.int64)
    if len(counts) > 1:
        np.cumsum(counts[:-1], out=offsets[1:])
    return np.asarray(shingles, dtype=object), offsets


def char_segments(texts: pd.Series, shingle_k: int) -> tuple[np.ndarray, np.ndarray]:
    """k-CHARACTER sliding shingles (whitespace collapsed, lowercased) —
    the MinHash unit for unsegmented scripts (CJK), where token shingles
    degenerate to zero tokens. Same (flat, offsets) contract as
    ``_segments``; blank docs contribute the empty shingle and are masked
    to NULL signatures upstream."""
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
    offsets = np.zeros(len(counts), dtype=np.int64)
    if len(counts) > 1:
        np.cumsum(counts[:-1], out=offsets[1:])
    return np.asarray(shingles, dtype=object), offsets


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


def _blocked_minhash_reduce(
    h: np.ndarray, offsets: np.ndarray, n_docs: int, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """num_perm minimum.reduceat passes over document-aligned shingle blocks
    (values are bit-identical to the unblocked reduction — docs are
    independent, blocks split only BETWEEN docs)."""
    num_perm = len(a)
    sig = np.empty((n_docs, num_perm), dtype=np.uint64)
    n = len(h)
    start_doc = 0
    with np.errstate(over="ignore"):
        while start_doc < n_docs:
            lo = int(offsets[start_doc])
            # grow the block to >= _REDUCE_BLOCK shingles, whole docs only
            # (a single mega-doc becomes its own block)
            end_doc = int(np.searchsorted(offsets, lo + _REDUCE_BLOCK, side="left"))
            end_doc = max(end_doc, start_doc + 1)
            hi = int(offsets[end_doc]) if end_doc < n_docs else n
            hc = h[lo:hi]
            offs = offsets[start_doc:end_doc] - lo
            for j in range(num_perm):
                hv = a[j] * hc + b[j]  # wraps mod 2^64 (multiply-shift family)
                sig[start_doc:end_doc, j] = np.minimum.reduceat(hv, offs)
            start_doc = end_doc
    return sig.view(np.int64)


def minhash_signatures_from_segments(
    flat: np.ndarray, offsets: np.ndarray, n_docs: int, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Shared reduce: hash the flat shingle array once, then blocked
    minimum.reduceat per permutation (see _blocked_minhash_reduce)."""
    h = hash64(flat)
    return _blocked_minhash_reduce(h, offsets, n_docs, a, b)


def minhash_signatures(
    texts: pd.Series, shingle_k: int, a: np.ndarray, b: np.ndarray,
    token_lists: pd.Series | None = None,
    token_flats: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None,
) -> np.ndarray:
    """(n_docs, num_perm) int64 MinHash signature matrix for a batch of texts.

    Pass ``token_lists`` to reuse an existing tokenization, and/or
    ``token_flats`` (from :func:`flat_token_hashes`) to also reuse the
    token hashing — the dual-signature path shares BOTH with SimHash."""
    if token_flats is None:
        if token_lists is None:
            token_lists = tokenize_series(texts)
        if len(token_lists) == 0:
            return np.empty((0, len(a)), dtype=np.int64)
        token_flats = flat_token_hashes(token_lists)
    h, counts, offsets = token_flats
    if len(counts) == 0:
        return np.empty((0, len(a)), dtype=np.int64)
    sh, sh_offsets = shingle_hashes_from_tokens(h, counts, offsets, shingle_k)
    return _blocked_minhash_reduce(sh, sh_offsets, len(counts), a, b)


def shingle_set(text: str, shingle_k: int) -> set:
    """Reference-style eager shingle set for one doc (test oracle / verify)."""
    toks = _TOKEN_RE.findall((text or "").lower())
    if len(toks) >= shingle_k:
        return {" ".join(toks[j : j + shingle_k]) for j in range(len(toks) - shingle_k + 1)}
    return {" ".join(toks)} if toks else {""}


def simhash_signatures(
    texts: pd.Series,
    token_lists: pd.Series | None = None,
    token_flats: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None,
) -> np.ndarray:
    """64-bit SimHash per doc (int64 view), vectorized over the batch.

    Token hash bits vote +1/-1 per position; sign of the per-doc sum
    gives the signature bit. Zero-token docs get signature 0 (they are
    NULL-masked upstream either way). ``token_flats`` (from
    :func:`flat_token_hashes`) reuses the token hashing the MinHash
    kernel also consumes.
    """
    if token_flats is None:
        if token_lists is None:
            token_lists = tokenize_series(texts)
        if len(token_lists) == 0:
            return np.empty(0, dtype=np.int64)
        token_flats = flat_token_hashes(token_lists)
    h, counts, offsets = token_flats
    n = len(counts)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    # Bit matrix via FLAT unpackbits over doc-aligned blocks. Two measured
    # facts (4.5M tokens / 20k docs): (a) axis=1 unpackbits walks the array
    # row-by-row and ran ~7-10x slower than one flat pass over the same
    # bytes (3.1s vs 0.45s); (b) materializing the whole (total, 64) bit
    # matrix costs a 64x-inflated DRAM write (page-fault bound on first
    # touch) — blocking into ~2 MB L2-resident chunks with the per-doc
    # short-row .sum loop is faster still (0.31s) AND keeps the kernel's
    # bandwidth footprint flat at high worker counts, the same argument as
    # _blocked_minhash_reduce. Bit-identical to the unblocked version.
    # (The earlier shifted-uint64 variant was worse than all of these.)
    h8 = h.view(np.uint8)
    ntok = len(h)
    ones = np.empty((n, 64), dtype=np.int64)
    start_doc = 0
    while start_doc < n:
        lo = int(offsets[start_doc])
        end_doc = int(np.searchsorted(offsets, lo + _REDUCE_BLOCK, side="left"))
        end_doc = max(end_doc, start_doc + 1)
        hi = int(offsets[end_doc]) if end_doc < n else ntok
        bits = np.unpackbits(h8[lo * 8 : hi * 8], bitorder="little").reshape(-1, 64)
        for i in range(start_doc, end_doc):
            s = int(offsets[i] - lo)
            ones[i] = bits[s : s + int(counts[i])].sum(axis=0)
        start_doc = end_doc
    # majority vote: bit set iff ones > tokens/2 (tie -> 0), ≙ sum(±1) > 0
    majority = (2 * ones) > counts[:, None]
    shifts = np.arange(64, dtype=np.uint64)
    sig = (majority.astype(np.uint64) << shifts).sum(axis=1, dtype=np.uint64)
    return sig.view(np.int64)


def dual_signatures(
    texts: pd.Series, shingle_k: int, a: np.ndarray, b: np.ndarray,
    token_lists: pd.Series | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(minhash matrix, simhash vector) for one batch — ONE tokenization
    AND one token-hashing pass shared by both kernels (together they are
    the bulk of the signature phase, which dominates the whole job at
    scale). Pass ``token_lists`` to reuse an existing tokenization."""
    if token_lists is None:
        token_lists = tokenize_series(texts)
    if len(token_lists) == 0:
        return np.empty((0, len(a)), dtype=np.int64), np.empty(0, dtype=np.int64)
    flats = flat_token_hashes(token_lists)
    return (
        minhash_signatures(texts, shingle_k, a, b, token_flats=flats),
        simhash_signatures(texts, token_flats=flats),
    )
