"""Unit tests for the vectorized hashing kernels against eager oracles."""

import hashlib

import numpy as np
import pandas as pd
import pytest

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


def _flats(texts: pd.Series):
    return hashing.flat_token_hashes(hashing.tokenize_series(texts))


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
    sig = hashing.minhash_signatures(_flats(texts), 3, a, b)
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
    sig = hashing.minhash_signatures(_flats(texts), 3, a, b)
    s0, s1 = hashing.shingle_set(texts[0], 3), hashing.shingle_set(texts[1], 3)
    true_j = len(s0 & s1) / len(s0 | s1)
    est_j = (sig[0] == sig[1]).mean()
    assert abs(est_j - true_j) < 0.12
    # unrelated docs ~ 0
    assert (sig[0] == sig[4]).mean() < 0.1


def test_minhash_exact_dup_identical_signature():
    a, b = hashing.minhash_perms(64, 42)
    texts = pd.Series(["same text here okay", "same text here okay"])
    sig = hashing.minhash_signatures(_flats(texts), 3, a, b)
    assert np.array_equal(sig[0], sig[1])


def test_simhash_near_identical_low_hamming():
    texts = pd.Series(
        [
            " ".join(f"tok{i}" for i in range(200)),
            " ".join(f"tok{i}" if i != 100 else "CHANGED" for i in range(200)),
            " ".join(f"other{i}" for i in range(200)),
        ]
    )
    sig = hashing.simhash_signatures(_flats(texts))
    mask = (1 << 64) - 1  # signed int64 signatures: popcount the 64-bit pattern
    near = bin((int(sig[0]) ^ int(sig[1])) & mask).count("1")
    far = bin((int(sig[0]) ^ int(sig[2])) & mask).count("1")
    assert near <= 3
    assert far > 10


def test_simhash_batch_matches_single():
    texts = _texts()
    batch = hashing.simhash_signatures(_flats(texts))
    for i, t in enumerate(texts):
        single = hashing.simhash_signatures(_flats(pd.Series([t])))
        assert single[0] == batch[i]


def test_empty_and_edge_inputs():
    a, b = hashing.minhash_perms(16, 42)
    assert hashing.minhash_signatures(_flats(pd.Series([], dtype=object)), 5, a, b).shape == (0, 16)
    assert hashing.simhash_signatures(_flats(pd.Series([], dtype=object))).shape == (0,)
    sig = hashing.minhash_signatures(_flats(pd.Series([None, ""])), 5, a, b)
    assert np.array_equal(sig[0], sig[1])  # null == empty text


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

    got = hashing.minhash_reduce(h, offsets, a, b)
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


def _golden_batch() -> pd.Series:
    """The fixed batch behind the pinned signature digests: NULL, empty,
    whitespace-only, zero tokens but not blank, CJK (no ASCII tokens),
    docs shorter than shingle_k (in tokens and in chars), a near-dup
    pair, and long docs whose shingles and tokens straddle _REDUCE_BLOCK
    (one is larger than a whole block). Tokens come from a pure-Python
    LCG so the batch never depends on a library's random stream."""
    x = 20261019

    def doc(n_tokens: int) -> str:
        nonlocal x
        out = []
        for _ in range(n_tokens):
            x = (x * 1103515245 + 12345) % 2**31
            out.append(f"t{x % 2500}")
        return " ".join(out)

    base = doc(300)
    near = base.replace(base.split()[150], "CHANGED", 1)
    return pd.Series(
        [None, "", " \t\n", "!!!", "日本語の文書です。重複検出のテスト。日本語の文書です。",
         "two words", "Four tokens, exactly here!", "abc", base, near,
         doc(9000), doc(15000), doc(12000), doc(40000), doc(7), "The QUICK brown-fox; jumps!"],
        dtype=object,
    )


def _digest(col) -> str:
    h = hashlib.sha256()
    for v in col:
        h.update(b"N" if v is None else b"V" + np.asarray(v, dtype=np.int64).tobytes())
    return h.hexdigest()


# sha256 of each kernel's batch output over _golden_batch() (None -> "N",
# else "V" + the int64 bytes). A change that moves any value must bump
# KERNEL_VERSION and re-record these in the same commit.
GOLDEN = {
    "minhash": "ba25ab893b3836597d6adb092c59610d77ae8fc11437d126d65d1c53fc020a72",
    "minhash_char": "b04d09d734896d4e272cdead5b0eb6a91147a93294db1c61f7332ddac924eb75",
    "simhash": "bc4b4f708e660bd723879634793205f8f264c343fd254dfa78c9d776f1193017",
    "portable_minhash": "2d0ce201b25ad42572e136eeebe2553e27c71dcbd009194ff6bc35d65fb220f1",
    "portable_simhash": "03103256cff6214919f2504714b3f6fd406ce7bb9187daa86efcc3a4c0c3039d",
}


def _sign(family: str, mode: str, kernels: tuple, texts: pd.Series) -> dict:
    """{kernel: the batch function's output column} for one signing request."""
    from dataclasses import replace

    from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig
    from cs588_data_science_bug_duplicate_detector_spark.functions import portable

    batch = portable.portable_sign_batch if family == "portable" else hashing.sign_batch
    out = batch(texts, replace(DedupConfig(), shingle_mode=mode), kernels)
    return {k: out[k] for k in out.columns}


@pytest.mark.parametrize(
    "family,mode,kernels",
    [
        ("fast", "token", ("minhash",)),
        ("fast", "char", ("minhash",)),
        ("fast", "token", ("simhash",)),
        ("fast", "token", ("minhash", "simhash")),
        ("fast", "char", ("minhash", "simhash")),
        ("portable", "token", ("minhash",)),
        ("portable", "token", ("simhash",)),
    ],
    ids=["minhash", "minhash_char", "simhash", "dual", "dual_char",
         "portable_minhash", "portable_simhash"],
)
def test_signature_values_pinned(family, mode, kernels):
    """Each signing request reproduces the pinned values, and asking for
    both kernels gives each kernel's values alone (the sign stage's
    one-pass dual request is bit-identical to two single requests)."""
    texts = _golden_batch()
    n_tokens = sum(len(hashing._TOKEN_RE.findall(t.lower())) for t in texts.dropna())
    assert n_tokens > 2 * hashing._REDUCE_BLOCK  # the batch straddles the block walk
    out = _sign(family, mode, kernels, texts)
    assert sorted(out) == sorted(kernels)
    prefix = "portable_" if family == "portable" else ""
    for k in kernels:
        key = prefix + k + ("_char" if k == "minhash" and mode == "char" else "")
        assert len(out[k]) == len(texts)
        assert _digest(out[k]) == GOLDEN[key], key


def test_sign_batch_computes_only_the_requested_kernels(monkeypatch):
    """The sign stage pays only for what it asks: char-shingle MinHash alone
    never tokenizes, and a kernel nobody requested never runs. An empty
    batch yields an empty frame with the requested columns."""
    from dataclasses import replace

    from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig

    def _boom(*_a, **_k):
        raise AssertionError("computed a kernel that was not requested")

    texts = pd.Series(["alpha beta gamma delta epsilon zeta", None, "!!!"], dtype=object)
    cfg = DedupConfig()
    with monkeypatch.context() as m:
        m.setattr(hashing, "tokenize_series", _boom)
        m.setattr(hashing, "simhash_signatures", _boom)
        out = hashing.sign_batch(texts, replace(cfg, shingle_mode="char"), ("minhash",))
    assert list(out.columns) == ["minhash"] and out["minhash"][2] is not None
    with monkeypatch.context() as m:
        m.setattr(hashing, "minhash_reduce", _boom)
        assert list(hashing.sign_batch(texts, cfg, ("simhash",)).columns) == ["simhash"]
    with monkeypatch.context() as m:
        m.setattr(hashing, "simhash_signatures", _boom)
        assert list(hashing.sign_batch(texts, cfg, ("minhash",)).columns) == ["minhash"]
    empty = hashing.sign_batch(pd.Series([], dtype=object), cfg, ("minhash", "simhash"))
    assert list(empty.columns) == ["minhash", "simhash"] and len(empty) == 0
