"""One-Permutation-Hashing minhash scheme (config.MINHASH_SCHEME =
'oph-densified'): kernel oracle, densification contract, estimator
quality, and the strided band layout that undoes fill-run correlation.
"""

import numpy as np

import simhash_spark.config as C
from simhash_spark import reference as R


def _brute_oph(ids: np.ndarray) -> np.ndarray:
    """Per-row python oracle for one row's densified-OPH signature."""
    B = C.NUM_PERM
    h = R._mix64(ids.astype(np.uint64))
    bins = (h >> R._OPH_BIN_SHIFT).astype(int)
    vals = ((h >> np.uint64(26)) & np.uint64(0x7FFFFFFF)) % R._P31
    grid = [None] * B
    for b, v in zip(bins, vals):
        if grid[b] is None or v < grid[b]:
            grid[b] = int(v)
    out = []
    for j in range(B):
        k = j
        while grid[k % B] is None:
            k += 1
        out.append(grid[k % B])
    return np.array(out, dtype=np.int64)


def test_oph_kernel_matches_python_oracle():
    rng = np.random.default_rng(5)
    texts = ["".join(rng.choice(list("abcdef "), 40)) for _ in range(50)]
    norms = R.normalize_batch(texts)
    sigs = R.minhash_from_norm(norms)
    for i, nm in enumerate(norms):
        ids = R.shingle_ids(nm)
        if len(ids) == 0:
            assert (sigs[i] == C.MINHASH_EMPTY).all()
        else:
            assert (sigs[i] == _brute_oph(ids)).all(), nm


def test_oph_invariants():
    m = R.minhash_batch(["abcdefgh ijklmnop", "abcdefgh ijklmnop", "zzzz yyyy xxxx", "", None])
    assert (m[0] == m[1]).all()                      # deterministic
    assert (m[3] == C.MINHASH_EMPTY).all()           # empty -> sentinel row
    assert (m[4] == C.MINHASH_EMPTY).all()           # None == empty
    assert (m[0] != m[2]).mean() > 0.8               # disjoint sets disagree
    nonempty = m[:3]
    assert (nonempty >= 0).all() and (nonempty < C.MINHASH_PRIME).all()


def test_oph_estimates_jaccard():
    """Collision fraction across the 128 bins ~ true Jaccard (the
    densified-OPH unbiasedness property the banding math relies on)."""
    base = "the quick brown fox jumps over the lazy dog " * 6
    pairs = [
        (base + "alpha beta gamma delta", base + "alpha beta gamma zzzzz"),
        (base, base[: len(base) // 2]),
        (base + "xx", "a completely different transcript " * 8),
    ]
    for ta, tb in pairs:
        na, nb = R.normalize_batch([ta, tb])
        sig = R.minhash_from_norm([na, nb])
        est = float((sig[0] == sig[1]).mean())
        true = float(R.jaccard_batch([na], [nb])[0])
        assert abs(est - true) < 0.17, (est, true)


def test_oph_band_layout_strided():
    """oph bands take slots {j, j+32, j+64, j+96} — asserted against a
    hand-rolled polyhash so a silent layout swap fails loudly."""
    rng = np.random.default_rng(7)
    sigs = rng.integers(0, C.MINHASH_PRIME, size=(3, C.NUM_PERM), dtype=np.int64)

    def poly(v):  # v: (n, BANDS, ROWS) uint64
        acc = np.zeros(v.shape[:2], dtype=np.uint64)
        for r in range(C.ROWS):
            acc = acc * R._MIX_MUL + v[:, :, r]
        acc = acc * R._MIX_MUL + np.arange(C.BANDS, dtype=np.uint64)[None, :]
        return R._mix64(acc).astype(np.int64)

    got = R.minhash_band_hashes(sigs)
    v = sigs.astype(np.uint64).reshape(3, C.ROWS, C.BANDS).transpose(0, 2, 1)
    assert (got == poly(v)).all()


def test_oph_duplicate_shingles_dont_change_signature():
    """min-per-bin is multiset-insensitive: feeding the same id twice via
    the row-ids entry point must not move any slot."""
    ids = np.array([11, 99, 11, 42, 99], dtype=np.uint64)
    once = np.array([11, 99, 42], dtype=np.uint64)
    s_dup = R._minhash_oph_densified(ids, np.array([0, 5]), 1)
    s_once = R._minhash_oph_densified(once, np.array([0, 3]), 1)
    assert (s_dup == s_once).all()
