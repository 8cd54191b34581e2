"""Unit tests for the vectorized hashing kernels against eager oracles."""

import numpy as np
import pandas as pd

from cs588_data_science_bug_duplicate_detector_spark.functions import hashing


def _texts():
    return pd.Series(
        [
            "the quick brown fox jumps over the lazy dog again and again",
            "the quick brown fox jumps over the lazy dog again and again today",
            "",
            "short",
            "completely different content about spark dataframes and shuffles",
        ]
    )


def test_hash64_deterministic():
    a = hashing.hash64(np.array(["abc", "def"], dtype=object))
    b = hashing.hash64(np.array(["abc", "def"], dtype=object))
    assert np.array_equal(a, b)
    assert a.dtype == np.uint64
    assert a[0] != a[1]


def _doc_shingle_hashes(text: str, k: int) -> np.ndarray:
    """Naive per-doc shingle hashes under the v2 token-hash rolling-combine
    family — recomputed from scratch (no batching, no segment machinery)."""
    toks = hashing._TOKEN_RE.findall((text or "").lower())
    W = hashing._shingle_weights(k)
    if not toks:
        return np.array([hashing._EMPTY_SHINGLE], dtype=np.uint64)
    h = hashing.hash64(np.array(toks, dtype=object))
    with np.errstate(over="ignore"):
        # accumulate in uint64 ARRAYS: python sum() would promote
        # np.uint64 + int to float64 and silently corrupt the hash
        width = min(len(toks), k)
        n_wins = max(len(toks) - k + 1, 1)
        wins = np.zeros(n_wins, dtype=np.uint64)
        for i in range(width):
            wins += W[i] * h[i : i + n_wins]
        return hashing._mix64(wins)


def test_minhash_matches_per_doc_oracle():
    """Batched segment-reduce signatures == naive per-doc min over perms,
    with the shingle hashes recomputed doc-by-doc (exercises the batched
    window-validity/scatter machinery against a trivial reference)."""
    a, b = hashing.minhash_perms(32, 42)
    texts = _texts()
    sig = hashing.minhash_signatures(texts, 3, a, b)
    assert sig.shape == (len(texts), 32)
    for i, t in enumerate(texts):
        h = np.unique(_doc_shingle_hashes(t, 3))  # set semantics like shingle_set
        with np.errstate(over="ignore"):
            expect = np.array(
                [np.min(a[j] * h + b[j]) for j in range(32)], dtype=np.uint64
            ).view(np.int64)
        assert np.array_equal(sig[i], expect), f"doc {i}"


def test_minhash_distinct_shingle_sequences_differ():
    """Position weighting: reordered token windows hash differently (a
    commutative combine would weld 'a b c' and 'c b a' shingles)."""
    sh1 = _doc_shingle_hashes("alpha beta gamma", 3)
    sh2 = _doc_shingle_hashes("gamma beta alpha", 3)
    assert sh1[0] != sh2[0]
    # short-doc prefix combine never equals the same tokens inside a full
    # k-window family (different width => different weight count)
    s_short = _doc_shingle_hashes("alpha beta", 3)
    assert s_short[0] not in set(sh1.tolist())


def test_minhash_estimates_jaccard():
    a, b = hashing.minhash_perms(256, 42)
    texts = _texts()
    sig = hashing.minhash_signatures(texts, 3, a, b)
    s0, s1 = hashing.shingle_set(texts[0], 3), hashing.shingle_set(texts[1], 3)
    true_j = len(s0 & s1) / len(s0 | s1)
    est_j = (sig[0] == sig[1]).mean()
    assert abs(est_j - true_j) < 0.12
    # unrelated docs ~ 0
    assert (sig[0] == sig[4]).mean() < 0.1


def test_minhash_exact_dup_identical_signature():
    a, b = hashing.minhash_perms(64, 42)
    sig = hashing.minhash_signatures(pd.Series(["same text here okay", "same text here okay"]), 3, a, b)
    assert np.array_equal(sig[0], sig[1])


def test_simhash_near_identical_low_hamming():
    texts = pd.Series(
        [
            " ".join(f"tok{i}" for i in range(200)),
            " ".join(f"tok{i}" if i != 100 else "CHANGED" for i in range(200)),
            " ".join(f"other{i}" for i in range(200)),
        ]
    )
    sig = hashing.simhash_signatures(texts)
    mask = (1 << 64) - 1  # signed int64 signatures: popcount the 64-bit pattern
    near = bin((int(sig[0]) ^ int(sig[1])) & mask).count("1")
    far = bin((int(sig[0]) ^ int(sig[2])) & mask).count("1")
    assert near <= 3
    assert far > 10


def test_simhash_batch_matches_single():
    texts = _texts()
    batch = hashing.simhash_signatures(texts)
    for i, t in enumerate(texts):
        single = hashing.simhash_signatures(pd.Series([t]))
        assert single[0] == batch[i]


def test_empty_and_edge_inputs():
    a, b = hashing.minhash_perms(16, 42)
    assert hashing.minhash_signatures(pd.Series([], dtype=object), 5, a, b).shape == (0, 16)
    assert hashing.simhash_signatures(pd.Series([], dtype=object)).shape == (0,)
    sig = hashing.minhash_signatures(pd.Series([None, ""]), 5, a, b)
    assert np.array_equal(sig[0], sig[1])  # null == empty text


def test_dual_signatures_match_individual_kernels():
    import numpy as np
    import pandas as pd

    from cs588_data_science_bug_duplicate_detector_spark.functions import hashing

    texts = pd.Series(["a b c d e f g", "", "x y", "a b c d e f g h i j k l m"])
    a, b = hashing.minhash_perms(16, 42)
    mh, sh = hashing.dual_signatures(texts, 5, a, b)
    assert np.array_equal(mh, hashing.minhash_signatures(texts, 5, a, b))
    assert np.array_equal(sh, hashing.simhash_signatures(texts))


def test_blocked_minhash_reduce_matches_unblocked():
    """The cache-blocked permutation reduction must be bit-identical to the
    naive full-array loop across block boundaries: docs that straddle the
    _REDUCE_BLOCK edge, a single mega-doc larger than one block, and
    single-shingle docs."""
    import numpy as np

    from cs588_data_science_bug_duplicate_detector_spark.functions import hashing

    rng = np.random.default_rng(3)
    a, b = hashing.minhash_perms(16, 7)
    # segment sizes chosen to straddle blocks: many mid docs + one mega-doc
    sizes = [1, 5, hashing._REDUCE_BLOCK - 3, 7, hashing._REDUCE_BLOCK * 2 + 11, 2, 1]
    total = sum(sizes)
    h = rng.integers(0, 2**63, size=total, dtype=np.uint64)
    offsets = np.zeros(len(sizes), dtype=np.int64)
    np.cumsum(np.asarray(sizes[:-1]), out=offsets[1:])

    got = hashing._blocked_minhash_reduce(h, offsets, len(sizes), a, b)
    want = np.empty((len(sizes), len(a)), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(len(a)):
            hv = a[j] * h + b[j]
            want[:, j] = np.minimum.reduceat(hv, offsets)
    assert np.array_equal(got, want.view(np.int64))


def test_kernel_version_changes_config_fingerprint(monkeypatch):
    """Persisted signatures (checkpoints, DedupIndex) must invalidate when
    the signature hash family changes: KERNEL_VERSION is part of every
    DedupConfig fingerprint."""
    from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig

    fp = DedupConfig().fingerprint()
    monkeypatch.setattr(hashing, "KERNEL_VERSION", hashing.KERNEL_VERSION + 1)
    assert DedupConfig().fingerprint() != fp
