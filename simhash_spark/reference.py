"""Pure-numpy reference encoder — the recall/golden-vector oracle.

Implements the pinned signature spec (config.py / SURVEY.md §2.2), playing
the role of "the reference encoder" from BASELINE.json: it generalizes the
reference's SimHashDocumentEncoder semantics
(/root/reference/src/Htm/SimHashDocumentEncoder.hsc:40-67 glue over
htm.core's encoder: tokenize -> hash each feature -> per-bit +/-weight
voting -> select active bits) into classic 64-bit sign-threshold SimHash,
plus MinHash over char k-shingles and substring grams.

Everything here is BATCH-oriented (list/Series in, numpy array out) so the
Spark pandas UDFs in functions/signatures.py call these exact functions —
Spark output and oracle output are the same code path, by construction.
No Spark imports in this module (tests import it without a JVM).
"""

from __future__ import annotations

import hashlib
import unicodedata
from collections.abc import Iterable, Sequence

import numpy as np

from simhash_spark import config as C

# ---------------------------------------------------------------------------
# Normalization & tokenization
# ---------------------------------------------------------------------------


def normalize_text(text: str | None) -> str:
    """NFC + casefold + collapse whitespace runs to single spaces."""
    if text is None:
        return ""
    t = unicodedata.normalize("NFC", text).casefold()
    return " ".join(t.split())


def normalize_batch(texts: Iterable[str | None]) -> list[str]:
    return [normalize_text(t) for t in texts]


def tokenize(norm_text: str) -> list[str]:
    """Whitespace tokenization of already-normalized text (reference
    tokenizes on whitespace: htm.core SimHashDocumentEncoder, public)."""
    return norm_text.split()


def char_shingles(norm_text: str, k: int) -> list[str]:
    """Overlapping char k-shingles of normalized text (spaces included).
    Texts shorter than k yield the whole text as a single shingle (if
    non-empty)."""
    n = len(norm_text)
    if n == 0:
        return []
    if n <= k:
        return [norm_text]
    return [norm_text[i : i + k] for i in range(n - k + 1)]


# ---------------------------------------------------------------------------
# Stable 64-bit feature hash
# ---------------------------------------------------------------------------

_HASH_CACHE: dict[str, int] = {}
_HASH_CACHE_MAX = 1 << 20


def hash64(feature: str) -> int:
    """Stable 64-bit hash of a feature string (blake2b, personalized).
    Returns uint64-range Python int. The reference uses SHA-3 via digestpp
    (/root/reference/.gitmodules:4-6); any strong stable hash preserves the
    SimHash guarantees — blake2b is the stdlib's fastest."""
    h = _HASH_CACHE.get(feature)
    if h is None:
        h = int.from_bytes(
            hashlib.blake2b(
                feature.encode("utf-8"), digest_size=8, person=C.HASH_PERSON
            ).digest(),
            "little",
        )
        if len(_HASH_CACHE) < _HASH_CACHE_MAX:
            _HASH_CACHE[feature] = h
    return h


def hash64_batch(features: Sequence[str]) -> np.ndarray:
    """Vectorized-ish stable hash: dedup to uniques, hash each unique once,
    gather. Returns uint64 array aligned with ``features``.

    NUL safety: pandas' ``factorize`` on str objects uses a C-string hash
    table that stops at embedded NUL bytes, so ``'0'`` and ``'0\\x00'``
    collapse to one unique when they share a batch (signatures became
    batch-composition-dependent — VERDICT r2 #1). ``factorize`` is only
    used on batches proven NUL-free; otherwise a plain dict dedup (Python
    str hashing is NUL-exact) takes over. The falsifying example is pinned
    in tests/test_properties.py."""
    if len(features) == 0:
        return np.empty(0, dtype=np.uint64)
    if any("\x00" in f for f in features):
        uniq: dict[str, int] = {}
        sd = uniq.setdefault
        codes = np.fromiter(
            (sd(f, len(uniq)) for f in features), dtype=np.int64, count=len(features)
        )
        uniques: Sequence[str] = list(uniq)
    else:
        import pandas as pd

        codes, uniques = pd.factorize(np.asarray(features, dtype=object), sort=False)
    uh = np.fromiter((hash64(u) for u in uniques), dtype=np.uint64, count=len(uniques))
    return uh[codes]


# ---------------------------------------------------------------------------
# Vectorized feature hashing (v2 — the dedup-signature hot path)
#
# The v1 path hashed every unique feature STRING with a per-string
# hashlib.blake2b call (plus per-row Python slicing to materialize the
# shingle strings) — measured as the dominant cost of the bands stage at
# 2M rows (VERDICT r3 #3). v2 never materializes a feature string: each
# batch's normalized texts are flattened into ONE codepoint array
# (a single C-level utf-32 encode), and every feature — char k-gram or
# whitespace token — is a (start, end) SPAN hashed with a position-
# independent polynomial over (codepoint+1) values, finalized with
# splitmix64:
#
#   S[t]   = sum_{u<t} (c[u]+1) * Minv^u      (prefix sums, uint64 wrap)
#   h(i,j) = mix64( (S[j]-S[i]) * M^i  ^  (j-i)*LEN_MIX )
#
# M odd => invertible mod 2^64, so (S[j]-S[i])*M^i depends only on the
# span's characters relative to its start: equal strings hash equal at
# any position/row, exactly the contract the string hash had. Identical
# ids across feature kinds (a 3-char token vs a char-3 shingle of the
# same text) still collapse, preserving v1's feature-map semantics.
#
# Changing the feature hash changes signature VALUES: the pinned
# semantics fingerprint carries feature_hash="span-poly-v2" and the
# golden vectors are regenerated by bin/regen_golden.py (documented
# procedure). The ML/SDR path (sdr_encode, ml._encode_bits) deliberately
# stays on blake2b/hash64_batch — its reference-sample parity bar is
# pinned to those values.
# ---------------------------------------------------------------------------

_POLY_M = np.uint64(0x9E3779B97F4A7C15)  # odd golden-ratio multiplier
_POLY_MINV = np.uint64(pow(0x9E3779B97F4A7C15, -1, 1 << 64))
_LEN_MIX = np.uint64(0xD1B54A32D192ED03)


#: codepoints per internal processing chunk. The vectorized span path is
#: ~5x FASTER on bounded chunks than on one huge batch: per-chunk
#: temporaries are same-sized, so the allocator reuses warm pages instead
#: of faulting fresh ones (measured 20k-row batches: 514 rows/s unchunked
#: -> 6,200 rows/s at ~1k-row chunks — the superlinear collapse was
#: page-fault churn on tens of fresh multi-MB arrays, not compute).
_CHUNK_CP = 300_000


def _chunk_bounds(norms: Sequence[str], target_cp: int = _CHUNK_CP) -> list[tuple[int, int]]:
    """Row ranges [(r0, r1), ...] of ~target_cp total codepoints each."""
    bounds: list[tuple[int, int]] = []
    r0, acc = 0, 0
    for i, t in enumerate(norms):
        acc += len(t) + 1
        if acc >= target_cp and i + 1 > r0:
            bounds.append((r0, i + 1))
            r0, acc = i + 1, 0
    if r0 < len(norms) or not bounds:
        bounds.append((r0, len(norms)))
    return bounds


def _flatten_norms(norms: Sequence[str]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch of normalized texts -> (codepoints, row_start, lens) where
    rows are separated by one NUL codepoint (spans never bridge rows:
    every span generator below stays inside [row_start, row_start+len)).
    ONE Python-level encode for the whole batch."""
    n = len(norms)
    lens = np.fromiter((len(t) for t in norms), dtype=np.int64, count=n)
    joined = "\x00".join(norms)
    c = (
        np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
        if joined
        else np.empty(0, dtype=np.uint32)
    )
    row_start = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens + 1, out=row_start[1:])  # row i at [row_start[i], +lens[i])
    return c, row_start[:-1], lens


def _span_prefix(c: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Prefix arrays for O(1)-per-span hashing: S (len n+1) and pw=M^i."""
    n = len(c)
    pw = np.empty(n + 1, dtype=np.uint64)
    pw[0] = 1
    np.cumprod(np.full(n, _POLY_M, dtype=np.uint64), out=pw[1:])
    pinv = np.empty(n, dtype=np.uint64)
    if n:
        pinv[0] = 1
        np.cumprod(np.full(n - 1, _POLY_MINV, dtype=np.uint64), out=pinv[1:])
    S = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum((c.astype(np.uint64) + np.uint64(1)) * pinv, out=S[1:])
    return S, pw


def _span_hash(
    S: np.ndarray, pw: np.ndarray, i: np.ndarray, j: np.ndarray
) -> np.ndarray:
    """Position-independent hash of spans [i, j) -> uint64 ids."""
    base = (S[j] - S[i]) * pw[i]
    return _mix64(base ^ ((j - i).astype(np.uint64) * _LEN_MIX))


def _kgram_spans(
    row_start: np.ndarray, lens: np.ndarray, k: int, whole_if_short: bool
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-row char-k-gram spans -> (row_idx, i, j).

    whole_if_short=True reproduces char_shingles: a nonempty row shorter
    than k yields ONE whole-row span. False reproduces substring_grams:
    rows shorter than k yield nothing."""
    if whole_if_short:
        n_spans = np.where(lens == 0, 0, np.maximum(lens - k + 1, 1))
    else:
        n_spans = np.maximum(lens - k + 1, 0)
    total = int(n_spans.sum())
    if total == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, e
    row_idx = np.repeat(np.arange(len(lens), dtype=np.int64), n_spans)
    ends = np.cumsum(n_spans)
    offs = np.arange(total, dtype=np.int64) - np.repeat(ends - n_spans, n_spans)
    i = row_start[row_idx] + offs
    j = i + np.minimum(lens, k)[row_idx]
    return row_idx, i, j


def _token_spans(
    c: np.ndarray, row_start: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Whitespace-token spans over the flat array -> (row_idx, i, j).
    Tokens are maximal runs of chars that are neither ' ' nor the NUL row
    separator (normalized text is single-space separated)."""
    nb = (c != np.uint32(32)) & (c != np.uint32(0))
    if not nb.any():
        e = np.empty(0, dtype=np.int64)
        return e, e, e
    start_mask = nb.copy()
    start_mask[1:] = nb[1:] & ~nb[:-1]
    end_mask = nb.copy()
    end_mask[:-1] = nb[:-1] & ~nb[1:]
    i = np.flatnonzero(start_mask)
    j = np.flatnonzero(end_mask) + 1
    row_idx = np.searchsorted(row_start, i, side="right") - 1
    return row_idx, i, j


# ---------------------------------------------------------------------------
# SimHash (64-bit, feature-weight bit-voting, sign threshold)
# ---------------------------------------------------------------------------


def _simhash_from_hashed(
    flat_hashes: np.ndarray,
    flat_weights: np.ndarray | None,
    row_starts: np.ndarray,
    n_rows: int,
) -> np.ndarray:
    """Core bit-vote kernel. flat_* are per-feature arrays sorted by row;
    row_starts[i] is the offset of row i's first feature (len n_rows+1).
    Returns int64 signatures (two's-complement of the packed 64 bits).

    ``flat_weights=None`` means UNIT weights — one vote per OCCURRENCE.
    Because the simhash feature weight is the occurrence count,
    sum_over_unique(count * bit) == sum_over_occurrences(bit), so feeding
    raw (un-deduplicated) occurrences with unit weights yields
    bit-identical signatures while skipping the per-bit multiply (and,
    at the caller, the O(n log n) lexsort dedup that used to build the
    counts — the kernel's former top cost).

    Memory-light: one pass per bit position (64 reduceats over the flat
    feature arrays) instead of materializing an (n_features, 64) vote
    matrix. vote_sum_bit = 2*sum(w where bit set) - sum(w)."""
    out = np.zeros(n_rows, dtype=np.int64)
    if len(flat_hashes) == 0:
        return out
    nonempty = row_starts[:-1] < row_starts[1:]
    if not nonempty.any():
        return out
    # reduceat boundaries from NONEMPTY rows only: every index is then
    # strictly increasing and < len(flat), so no segment is truncated.
    # (Clipping all starts to len-1 silently dropped the LAST feature of
    # the final nonempty row whenever empty rows trailed the batch —
    # found by hypothesis, tests/test_properties.py.)
    ne_idx = row_starts[:-1][nonempty]
    packed = np.zeros(int(nonempty.sum()), dtype=np.uint64)
    if flat_weights is None:
        totw = np.diff(row_starts)[nonempty].astype(np.uint64)
        one = np.uint64(1)
        two = np.uint64(2)
        for bit in range(C.SIG_BITS):
            s1 = np.add.reduceat((flat_hashes >> np.uint64(bit)) & one, ne_idx)
            bitval = two * s1 > totw  # sign threshold; ties -> 0
            packed |= bitval.astype(np.uint64) << np.uint64(bit)
    else:
        w = flat_weights.astype(np.int64)
        totw = np.add.reduceat(w, ne_idx)
        for bit in range(C.SIG_BITS):
            wb = w * ((flat_hashes >> np.uint64(bit)) & np.uint64(1)).astype(np.int64)
            s1 = np.add.reduceat(wb, ne_idx)
            bitval = (2 * s1 - totw) > 0  # sign threshold; ties -> 0
            packed |= bitval.astype(np.uint64) << np.uint64(bit)
    out[nonempty] = packed.astype(np.int64)
    return out


def simhash_features(norm_text: str) -> dict[str, int]:
    """Feature -> weight map: word tokens ∪ char-3-shingles, weight =
    occurrence count (generalizes tokenSimilarity=true: char-level
    sub-hashing gives typo tolerance; SURVEY.md §2.2)."""
    feats: dict[str, int] = {}
    for tok in tokenize(norm_text):
        feats[tok] = feats.get(tok, 0) + 1
    for sh in char_shingles(norm_text, C.CHAR_SHINGLE_K):
        feats[sh] = feats.get(sh, 0) + 1
    return feats


def simhash64_from_norm(norms: Sequence[str]) -> np.ndarray:
    """64-bit SimHash signatures for ALREADY-normalized texts -> int64.

    v2 vectorized: features (word tokens ∪ char-3-shingles, weight =
    occurrence count — simhash_features semantics) are SPANS of the
    batch's flat codepoint array hashed with the position-independent
    span hash; the per-row (id -> count) map is one lexsort + run-length
    pass. No per-row Python, no string materialization. Processed in
    ~_CHUNK_CP-codepoint chunks (allocator warm-page reuse; results are
    per-row, so chunking is value-exact)."""
    bounds = _chunk_bounds(norms)
    if len(bounds) > 1:
        return np.concatenate(
            [_simhash64_chunk(norms[r0:r1]) for r0, r1 in bounds]
        )
    return _simhash64_chunk(norms)


def _simhash64_chunk(norms: Sequence[str]) -> np.ndarray:
    n = len(norms)
    c, row_start, lens = _flatten_norms(norms)
    S, pw = _span_prefix(c)
    trow, ti, tj = _token_spans(c, row_start)
    grow, gi, gj = _kgram_spans(row_start, lens, C.CHAR_SHINGLE_K, True)
    row_starts = np.zeros(n + 1, dtype=np.int64)
    if len(trow) + len(grow) == 0:
        return _simhash_from_hashed(np.empty(0, np.uint64), None, row_starts, n)
    # Occurrence voting: because weight == occurrence count, the unique-
    # feature dedup (a lexsort over every span — formerly 44% of this
    # kernel) is value-neutral; feed ALL occurrences with unit weights.
    # The token and gram span streams are each already sorted by row, so
    # grouping by row is a vectorized two-run interleave, not a sort.
    ids_t = _span_hash(S, pw, ti, tj)
    ids_g = _span_hash(S, pw, gi, gj)
    cnt_t = np.bincount(trow, minlength=n).astype(np.int64)
    cnt_g = np.bincount(grow, minlength=n).astype(np.int64)
    np.cumsum(cnt_t + cnt_g, out=row_starts[1:])
    flat = np.empty(len(ids_t) + len(ids_g), dtype=np.uint64)
    st_t = np.zeros(n + 1, np.int64)
    np.cumsum(cnt_t, out=st_t[1:])
    st_g = np.zeros(n + 1, np.int64)
    np.cumsum(cnt_g, out=st_g[1:])
    if len(trow):
        flat[row_starts[trow] + (np.arange(len(trow)) - st_t[trow])] = ids_t
    if len(grow):
        flat[
            row_starts[grow] + cnt_t[grow] + (np.arange(len(grow)) - st_g[grow])
        ] = ids_g
    return _simhash_from_hashed(flat, None, row_starts, n)


def simhash64_batch(texts: Iterable[str | None]) -> np.ndarray:
    """64-bit SimHash signatures for a batch of raw texts -> int64 array."""
    return simhash64_from_norm(normalize_batch(texts))


def simhash64(text: str | None) -> int:
    return int(simhash64_batch([text])[0])


# ---------------------------------------------------------------------------
# MinHash (densified one-permutation hashing over char-5-shingle ids)
# ---------------------------------------------------------------------------

_P31 = np.uint64(C.MINHASH_PRIME)


def shingle_ids(norm_text: str) -> np.ndarray:
    """Distinct char-5-shingle ids in [0, MINHASH_PRIME) -> uint64 array."""
    _, ids, _ = _row_distinct_shingle_ids([norm_text])
    return ids


def _row_distinct_shingle_ids(
    norms: Sequence[str],
    distinct: bool = True,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch shingling: -> (row_idx, ids, starts) where ids are DISTINCT
    per row, sorted by (row, id); starts has len n+1. v2: shingles are
    spans of the flat codepoint array hashed vectorized (span-poly-v2),
    then deduped per row via lexsort — no per-row Python at all.
    Chunked like simhash (per-row results concatenate exactly).

    ``distinct=False`` skips the dedup lexsort and returns ALL shingle
    occurrences in text order (still grouped by row) — for consumers
    that are multiset-insensitive (min-per-bin OPH minhash)."""
    bounds = _chunk_bounds(norms)
    if len(bounds) > 1:
        rows_l, ids_l, starts_l = [], [], [np.zeros(1, dtype=np.int64)]
        for r0, r1 in bounds:
            ri, xi, si = _row_distinct_shingle_chunk(norms[r0:r1], distinct)
            rows_l.append(ri + r0)
            ids_l.append(xi)
            starts_l.append(si[1:] + starts_l[-1][-1])
        return (
            np.concatenate(rows_l),
            np.concatenate(ids_l),
            np.concatenate(starts_l),
        )
    return _row_distinct_shingle_chunk(norms, distinct)


def _row_distinct_shingle_chunk(
    norms: Sequence[str],
    distinct: bool = True,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    n = len(norms)
    starts = np.zeros(n + 1, dtype=np.int64)
    c, row_start, lens = _flatten_norms(norms)
    row_idx, i, j = _kgram_spans(row_start, lens, C.MINHASH_SHINGLE_K, True)
    if len(i) == 0:
        return np.empty(0, np.int64), np.empty(0, np.uint64), starts
    S, pw = _span_prefix(c)
    flat_ids = _span_hash(S, pw, i, j) % np.uint64(C.MINHASH_PRIME)
    if distinct:
        order = np.lexsort((flat_ids, row_idx))
        rs, ids_s = row_idx[order], flat_ids[order]
        keep = np.ones(len(ids_s), dtype=bool)
        keep[1:] = (rs[1:] != rs[:-1]) | (ids_s[1:] != ids_s[:-1])
        rs, x = rs[keep], ids_s[keep]
    else:
        rs, x = row_idx, flat_ids  # already row-grouped (span order)
    counts = np.bincount(rs, minlength=n)
    np.cumsum(counts, out=starts[1:])
    return rs, x, starts


def jaccard_batch(norms_a: Sequence[str], norms_b: Sequence[str]) -> np.ndarray:
    """Exact per-row Jaccard of char-5-shingle sets between two equal-
    length batches — fully vectorized (no per-pair Python): both sides'
    distinct (row, id) pairs are concatenated and sorted; an id appearing
    twice for a row is an intersection hit."""
    n = len(norms_a)
    ra, ia, sa = _row_distinct_shingle_ids(norms_a)
    rb, ib, sb = _row_distinct_shingle_ids(norms_b)
    ca = (sa[1:] - sa[:-1]).astype(np.float64)
    cb = (sb[1:] - sb[:-1]).astype(np.float64)
    rows = np.concatenate([ra, rb])
    ids = np.concatenate([ia, ib])
    if len(ids):
        order = np.lexsort((ids, rows))
        rs, vs = rows[order], ids[order]
        dup = (rs[1:] == rs[:-1]) & (vs[1:] == vs[:-1])
        inter = np.bincount(rs[1:][dup], minlength=n).astype(np.float64)
    else:
        inter = np.zeros(n)
    union = ca + cb - inter
    out = np.zeros(n, dtype=np.float64)
    nz = union > 0
    out[nz] = inter[nz] / union[nz]
    out[(ca == 0) & (cb == 0)] = 1.0  # two empty shingle sets are identical
    return out


def minhash_from_norm(norms: Sequence[str]) -> np.ndarray:
    """(n, NUM_PERM) int64 minhash signatures for ALREADY-normalized
    texts. Empty shingle set -> all-MINHASH_EMPTY row.

    The per-row shingle dedup is skipped: min-per-bin is multiset-
    insensitive (values pytest-pinned identical) and the lexsort was the
    batch's top cost."""
    _, x, starts = _row_distinct_shingle_ids(norms, distinct=False)
    return _minhash_oph_densified(x, starts, len(norms))


def _minhash_oph_densified(x: np.ndarray, starts: np.ndarray, n: int) -> np.ndarray:
    """One-Permutation Hashing with circular densification: per-row
    shingle ids (flat, row-grouped, ``starts`` len n+1; duplicates
    allowed) -> (n, NUM_PERM) int64 signatures.

    ONE splitmix64 avalanche per shingle; bin = top log2(NUM_PERM) bits,
    value = a disjoint 31-bit slice reduced mod MINHASH_PRIME (values
    stay < MINHASH_PRIME, so the empty-row sentinel is never produced).
    Per-row min per bin via one np.minimum.at scatter — O(shingles)
    total (A/B'd against sorted-reduceat: scatter 1.7 s vs 8.6 s on a
    13M-shingle batch).
    Empty bins (a row with s shingles leaves ~NUM_PERM*exp(-s/NUM_PERM)
    of its bins empty) are filled from the NEXT NON-EMPTY bin to the
    right, circularly — densified OPH (Shrivastava & Li, ICML'14), which
    restores the collision property E[1{h_i(A)=h_i(B)}] = J(A,B) for
    every bin, so downstream banding math is unchanged. Rows with zero
    shingles stay all-MINHASH_EMPTY."""
    B = C.NUM_PERM
    assert B & (B - 1) == 0, "OPH binning needs power-of-two NUM_PERM"
    out = np.full((n, B), C.MINHASH_EMPTY, dtype=np.int64)
    if len(x) == 0:
        return out
    counts = starts[1:] - starts[:-1]
    rs = np.repeat(np.arange(n, dtype=np.int64), counts)
    h = _mix64(x)
    bins = (h >> _OPH_BIN_SHIFT).astype(np.int64)
    vals = (h >> np.uint64(26)) & np.uint64(0x7FFFFFFF)
    vals %= _P31  # map the single value 2^31-1 -> 0: sentinel stays unreachable
    grid = np.full(n * B, _OPH_EMPTY, dtype=np.uint64)
    np.minimum.at(grid, rs * B + bins, vals)
    grid = grid.reshape(n, B)
    nonempty = counts > 0
    g = grid[nonempty]
    # circular next-non-empty forward fill: double the bin axis, compute
    # for each position the index of the first filled bin at-or-after it
    # (right-to-left running min over candidate indices), then gather.
    ext = np.concatenate([g, g], axis=1)
    cand = np.where(ext != _OPH_EMPTY, np.arange(2 * B, dtype=np.int64)[None, :], 1 << 30)
    nxt = np.minimum.accumulate(cand[:, ::-1], axis=1)[:, ::-1][:, :B]
    out[nonempty] = np.take_along_axis(ext, nxt, axis=1).astype(np.int64)
    return out


_OPH_BIN_SHIFT = np.uint64(64 - int(C.NUM_PERM).bit_length() + 1)  # 57 for 128 bins
_OPH_EMPTY = np.uint64(0xFFFFFFFFFFFFFFFF)


def minhash_batch(texts: Iterable[str | None]) -> np.ndarray:
    return minhash_from_norm(normalize_batch(texts))


def minhash(text: str | None) -> np.ndarray:
    return minhash_batch([text])[0]


# ---------------------------------------------------------------------------
# Banding
# ---------------------------------------------------------------------------

_MIX_MUL = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd constant


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — vectorized avalanche mix on uint64."""
    x = np.asarray(x, dtype=np.uint64).copy()
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def minhash_band_hashes(sigs: np.ndarray) -> np.ndarray:
    """(n, NUM_PERM) minhash -> (n, BANDS) int64 band hashes.
    band_hash = mix64(polyhash of the ROWS values + band index).

    Band j takes the slots STRIDED BANDS apart ({j, j+32, j+64, j+96}):
    densification fills runs of adjacent bins from one donor shingle, so
    4 consecutive slots would often hash 1 shingle (band collision prob
    ~J instead of ~J^4, candidate inflation for sparse rows); striding
    puts each band's slots 32 bins apart, past typical run lengths."""
    n = sigs.shape[0]
    v = sigs.astype(np.uint64).reshape(n, C.ROWS, C.BANDS).transpose(0, 2, 1)
    acc = np.zeros((n, C.BANDS), dtype=np.uint64)
    for r in range(C.ROWS):
        acc = acc * _MIX_MUL + v[:, :, r]
    acc = acc * _MIX_MUL + np.arange(C.BANDS, dtype=np.uint64)[None, :]
    return _mix64(acc).astype(np.int64)


# packed-bkey layout (MUST match operators/lsh._pack_bkey):
#   det_id(2b, bits 62-63) | band_id(5b, bits 57-61) | hash low 57 bits
_BKEY_HASH_MASK = np.uint64((1 << 57) - 1)
_BKEY_DET_MH = np.uint64(2) << np.uint64(62)
_BKEY_DET_GRAM = np.uint64(3) << np.uint64(62)


def mh_gram_bkeys_batch(norms: Sequence[str]) -> list[np.ndarray]:
    """FUSED minhash-band + substring-gram packed band keys, one int64
    array per row (layout above — bit-identical to lsh._pack_bkey's JVM
    packing, pytest-pinned). Fusing the two detectors into one kernel
    shares the flatten/prefix pass and halves the Arrow text transfer of
    the bands stage (VERDICT r3 #3); band semantics are unchanged —
    minhash_band_hashes over the OPH signature, content-sampled grams."""
    out: list[np.ndarray] = []
    for r0, r1 in _chunk_bounds(norms):
        out.extend(_mh_gram_bkeys_chunk(norms[r0:r1]))
    return out


def mh_gram_bkeys_flat_batch(norms: Sequence[str]) -> tuple[np.ndarray, np.ndarray]:
    """FLAT layout of mh_gram_bkeys_batch: (values, per_row_counts) with
    ``values`` the rows' key arrays concatenated in row order (same
    per-row key order as the list form — np.split on cumsum(counts)
    reproduces it exactly; pytest-pinned). This is the mapInArrow bands
    kernel's shape: the flat int64 array becomes an Arrow column with
    zero per-row Python/pandas materialization (VERDICT r4 #5)."""
    flats: list[np.ndarray] = []
    counts: list[np.ndarray] = []
    for r0, r1 in _chunk_bounds(norms):
        f, c = _mh_gram_bkeys_chunk_flat(norms[r0:r1])
        flats.append(f)
        counts.append(c)
    if not flats:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(flats), np.concatenate(counts)


def _mh_gram_bkeys_chunk(norms: Sequence[str]) -> list[np.ndarray]:
    flat, counts = _mh_gram_bkeys_chunk_flat(norms)
    return np.split(flat, np.cumsum(counts)[:-1])


def _mh_gram_bkeys_chunk_flat(norms: Sequence[str]) -> tuple[np.ndarray, np.ndarray]:
    n = len(norms)
    c, row_start, lens = _flatten_norms(norms)
    S, pw = _span_prefix(c)

    # minhash leg — same steps as _row_distinct_shingle_chunk +
    # _minhash_oph_densified, sharing this chunk's prefix arrays. No
    # per-row dedup lexsort (formerly 55% of this kernel): min-per-bin is
    # multiset-insensitive (pytest-pinned,
    # test_oph_duplicate_shingles_dont_change_signature) and the span
    # stream is already row-sorted, so duplicates only add linear scatter
    # work.
    row_idx, i, j = _kgram_spans(row_start, lens, C.MINHASH_SHINGLE_K, True)
    starts = np.zeros(n + 1, dtype=np.int64)
    if len(i):
        ids5 = _span_hash(S, pw, i, j) % np.uint64(C.MINHASH_PRIME)
        np.cumsum(np.bincount(row_idx, minlength=n), out=starts[1:])
        sigs = _minhash_oph_densified(ids5, starts, n)
    else:
        sigs = _minhash_oph_densified(np.empty(0, np.uint64), starts, n)
    bh = minhash_band_hashes(sigs).astype(np.uint64)  # (n, BANDS)
    band_ids = (np.arange(C.BANDS, dtype=np.uint64) << np.uint64(57))[None, :]
    mh_keys = (_BKEY_DET_MH | band_ids | (bh & _BKEY_HASH_MASK)).astype(np.int64)

    # gram leg — _substring_grams_chunk steps on the same prefix arrays.
    grow, gi, gj = _kgram_spans(row_start, lens, C.GRAM_K, False)
    if len(gi):
        gids = _span_hash(S, pw, gi, gj)
        gkeep = gids % np.uint64(C.GRAM_STRIDE) == 0
        gids, grow = gids[gkeep], grow[gkeep]
        gorder = np.lexsort((gids, grow))
        grs, gvs = grow[gorder], gids[gorder]
        guniq = np.ones(len(grs), dtype=bool)
        guniq[1:] = (grs[1:] != grs[:-1]) | (gvs[1:] != gvs[:-1])
        grs, gvs = grs[guniq], gvs[guniq]
        gkeys = (_BKEY_DET_GRAM | (gvs & _BKEY_HASH_MASK)).astype(np.int64)
        gram_counts = np.bincount(grs, minlength=n).astype(np.int64)
    else:
        grs = np.empty(0, dtype=np.int64)
        gkeys = np.empty(0, dtype=np.int64)
        gram_counts = np.zeros(n, dtype=np.int64)

    # flat assembly, no per-row Python: row r's slice is its BANDS mh
    # keys followed by its (row-sorted) gram keys — identical order to
    # the old per-row concatenate.
    B = C.BANDS
    counts = gram_counts + B
    starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    out = np.empty(int(starts[-1]), dtype=np.int64)
    mh_pos = starts[:-1, None] + np.arange(B, dtype=np.int64)[None, :]
    out[mh_pos.ravel()] = mh_keys.ravel()
    if len(gkeys):
        gstarts = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(gram_counts, out=gstarts[1:])
        gpos = (starts[:-1] + B)[grs] + (
            np.arange(len(gkeys), dtype=np.int64) - gstarts[:-1][grs]
        )
        out[gpos] = gkeys
    return out, counts


_BLOCK_OFFSETS = tuple(
    sum(C.SIM_BLOCK_WIDTHS[:i]) for i in range(C.SIM_BLOCKS)
)


def simhash_blocks(sigs: np.ndarray) -> np.ndarray:
    """(n,) int64 simhash -> (n, SIM_BLOCKS) int64 variable-width blocks
    (widths from config.SIM_BLOCK_WIDTHS, LSB-first)."""
    u = np.asarray(sigs, dtype=np.int64).astype(np.uint64)
    out = np.empty((len(u), C.SIM_BLOCKS), dtype=np.int64)
    for j, (off, width) in enumerate(zip(_BLOCK_OFFSETS, C.SIM_BLOCK_WIDTHS)):
        mask = np.uint64((1 << width) - 1)
        out[:, j] = ((u >> np.uint64(off)) & mask).astype(np.int64)
    return out


def simhash_table_keys(sigs: np.ndarray) -> np.ndarray:
    """(n,) int64 simhash -> (n, SIM_TABLES) int64 LSH-table keys: each
    key packs one (SIM_BLOCKS - HAM_D)-block combination (Manku-style).
    Pigeonhole: hamming(a,b) <= HAM_D => >= SIM_BLOCKS-HAM_D clean blocks
    => at least one combination is entirely clean => equal key in that
    table. Keys include the table index, so one flat (band_hash) column
    suffices."""
    blocks = simhash_blocks(sigs).astype(np.int64)
    out = np.empty((len(blocks), C.SIM_TABLES), dtype=np.int64)
    for t, combo in enumerate(C.SIM_TABLE_COMBOS):
        key = np.full(len(blocks), np.int64(t))
        for b in combo:
            key = (key << np.int64(C.SIM_BLOCK_WIDTHS[b])) | blocks[:, b]
        out[:, t] = key
    return out


def substring_grams(norm_text: str) -> np.ndarray:
    """Content-sampled hashed GRAM_K-char grams for substring-containment
    candidate generation (MOSS/winnowing-style mod-sampling).

    A gram at offset i is EMITTED iff hash(gram) % GRAM_STRIDE == 0 —
    sampling is decided by gram CONTENT, so a verbatim shared span
    produces identical sampled grams on both sides regardless of its
    offset in either text (alignment-free). A >= SUBSTR_MIN_LEN=64-char
    shared span holds 49 gram positions; miss probability
    (1-1/8)^49 ~ 0.14%. Returns distinct uint64 gram ids."""
    return substring_grams_batch([norm_text])[0]


def substring_grams_batch(norms: Sequence[str]) -> list[np.ndarray]:
    """Batch substring_grams: flat span-hash passes over ~_CHUNK_CP
    chunks (v2 vectorized), per-row distinct sampled gram ids out."""
    bounds = _chunk_bounds(norms)
    if len(bounds) > 1:
        out: list[np.ndarray] = []
        for r0, r1 in bounds:
            out.extend(_substring_grams_chunk(norms[r0:r1]))
        return out
    return _substring_grams_chunk(norms)


def _substring_grams_chunk(norms: Sequence[str]) -> list[np.ndarray]:
    n = len(norms)
    c, row_start, lens = _flatten_norms(norms)
    row_idx, i, j = _kgram_spans(row_start, lens, C.GRAM_K, False)
    if len(i) == 0:
        return [np.empty(0, dtype=np.uint64)] * n
    S, pw = _span_prefix(c)
    ids = _span_hash(S, pw, i, j)
    keep = ids % np.uint64(C.GRAM_STRIDE) == 0
    ids, row_idx = ids[keep], row_idx[keep]
    order = np.lexsort((ids, row_idx))
    rs, vs = row_idx[order], ids[order]
    uniq = np.ones(len(rs), dtype=bool)
    uniq[1:] = (rs[1:] != rs[:-1]) | (vs[1:] != vs[:-1])
    rs, vs = rs[uniq], vs[uniq]
    counts = np.bincount(rs, minlength=n)
    return np.split(vs, np.cumsum(counts)[:-1])


def _sliding_min_u64(vals: np.ndarray, w: int) -> np.ndarray:
    """Min of every length-w window of a uint64 array, O(n) via the
    two-pass block trick (per-block prefix mins from the left + suffix
    mins from the right; a window spans at most two blocks)."""
    n = len(vals)
    if n < w:
        return np.empty(0, dtype=np.uint64)
    pad = (-n) % w
    if pad:
        vals = np.concatenate(
            [vals, np.full(pad, np.uint64(0xFFFFFFFFFFFFFFFF))]
        )
    blocks = vals.reshape(-1, w)
    pre = np.minimum.accumulate(blocks, axis=1).ravel()
    suf = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.minimum(suf[: n - w + 1], pre[w - 1 : n])


def winnowed_fingerprints_batch(
    norms: Sequence[str], w_gram: int, w_win: int
) -> list[np.ndarray]:
    """Per-row DISTINCT winnowed fingerprints: the min span-hash of every
    ``w_win``-window of consecutive ``w_gram``-char gram hashes
    (winnowing — Schleimer, Wilkerson & Aiken, SIGMOD 2003; public).

    GUARANTEE (their Theorem, value-only form): two texts sharing a
    verbatim run of length >= w_gram + w_win - 1 select at least one
    IDENTICAL fingerprint — the run contains a full hash-window on both
    sides with the same hash sequence, whose min value both emit. An
    EXACT candidate index for that span threshold (zero sampling miss —
    unlike mod-``GRAM_STRIDE`` sampling), at ~2/(w_win+1) the density
    of full gram emission. Ties in a window are value-ties, so keeping
    VALUES (not positions) sidesteps tie-breaking entirely.

    Flat across the batch like every kernel here: one encode, one
    prefix pass, one sliding-min, windows bridging rows discarded;
    used by operators/overlap.py (operator-local index — the pipeline's
    pinned GRAM_K/GRAM_STRIDE semantics are untouched)."""
    bounds = _chunk_bounds(norms)
    if len(bounds) > 1:
        out: list[np.ndarray] = []
        for r0, r1 in bounds:
            out.extend(_winnowed_fp_chunk(norms[r0:r1], w_gram, w_win))
        return out
    return _winnowed_fp_chunk(norms, w_gram, w_win)


def _winnowed_fp_chunk(
    norms: Sequence[str], w_gram: int, w_win: int
) -> list[np.ndarray]:
    n = len(norms)
    empty = [np.empty(0, dtype=np.uint64)] * n
    c, row_start, lens = _flatten_norms(norms)
    row_idx, i, j = _kgram_spans(row_start, lens, w_gram, False)
    if len(i) == 0:
        return empty
    S, pw = _span_prefix(c)
    ids = _span_hash(S, pw, i, j)
    # sliding min over the FLAT gram-hash stream (per-row sequences are
    # contiguous in it); windows bridging rows are discarded by the
    # endpoint row check.
    mins = _sliding_min_u64(ids, w_win)
    m = len(mins)
    if m == 0:
        return empty
    valid = row_idx[:m] == row_idx[w_win - 1 :]
    vrow, vfp = row_idx[:m][valid], mins[valid]
    if len(vfp) == 0:
        return empty
    order = np.lexsort((vfp, vrow))
    rs, vs = vrow[order], vfp[order]
    uniq = np.ones(len(rs), dtype=bool)
    uniq[1:] = (rs[1:] != rs[:-1]) | (vs[1:] != vs[:-1])
    rs, vs = rs[uniq], vs[uniq]
    counts = np.bincount(rs, minlength=n)
    return np.split(vs, np.cumsum(counts)[:-1])


# ---------------------------------------------------------------------------
# Pairwise measures & brute-force oracle
# ---------------------------------------------------------------------------


def popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized popcount on uint64 (numpy 1.26 lacks bitwise_count)."""
    x = np.ascontiguousarray(x, dtype=np.uint64)
    shape = x.shape
    bits = np.unpackbits(x.reshape(-1).view(np.uint8))
    return bits.reshape(-1, 64).sum(axis=1).astype(np.int64).reshape(shape)


def hamming64(a: int | np.ndarray, b: int | np.ndarray) -> int | np.ndarray:
    x = np.bitwise_xor(np.asarray(a, dtype=np.int64), np.asarray(b, dtype=np.int64))
    cnt = popcount64(np.atleast_1d(x).astype(np.uint64))
    return int(cnt[0]) if np.isscalar(a) or np.asarray(a).ndim == 0 else cnt


def jaccard(norm_a: str, norm_b: str) -> float:
    sa, sb = shingle_ids(norm_a), shingle_ids(norm_b)
    if len(sa) == 0 and len(sb) == 0:
        return 1.0
    if len(sa) == 0 or len(sb) == 0:
        return 0.0
    inter = len(np.intersect1d(sa, sb, assume_unique=True))
    return inter / (len(sa) + len(sb) - inter)


def substring_contained(norm_a: str, norm_b: str, min_len: int = C.SUBSTR_MIN_LEN) -> bool:
    """True if the shorter of (a, b) has >= min_len chars and is a verbatim
    substring of the longer."""
    short, long_ = (norm_a, norm_b) if len(norm_a) <= len(norm_b) else (norm_b, norm_a)
    return len(short) >= min_len and short in long_


def brute_force_dup_pairs(texts: Sequence[str | None]) -> set[tuple[int, int]]:
    """All (i, j) i<j satisfying the VERIFY rule (hamming<=HAM or
    jaccard>=J or substring containment) — the recall denominator.
    O(n^2) but vectorized (popcount sweep + indicator-matrix matmul for
    all-pairs jaccard); fine up to a few thousand rows."""
    norms = normalize_batch(texts)
    sigs = simhash64_batch(texts)
    n = len(norms)
    pairs: set[tuple[int, int]] = set()
    u = sigs.astype(np.uint64)

    # 1) hamming sweep, vectorized per row.
    for i in range(n):
        ham = popcount64(u[i] ^ u[i + 1 :])
        for off in np.nonzero(ham <= C.VERIFY_HAMMING_MAX)[0]:
            pairs.add((i, i + 1 + int(off)))

    # 2) all-pairs jaccard via indicator matmul: |A∩B| = M @ M.T with M the
    # doc x unique-shingle 0/1 matrix; |A∪B| = |A|+|B|-|A∩B|.
    sets = [shingle_ids(t) for t in norms]
    sizes = np.array([len(s) for s in sets], dtype=np.int64)
    all_ids = np.concatenate([s for s in sets if len(s)]) if sizes.sum() else np.empty(0, np.uint64)
    if len(all_ids):
        uniq = np.unique(all_ids)
        m = np.zeros((n, len(uniq)), dtype=np.float32)
        for i, s in enumerate(sets):
            if len(s):
                m[i, np.searchsorted(uniq, s)] = 1.0
        inter = m @ m.T  # (n, n) float32 intersection sizes
        union = sizes[:, None] + sizes[None, :] - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            jac = np.where(union > 0, inter / union, 0.0)
        ii, jj = np.nonzero(np.triu(jac >= C.VERIFY_JACCARD_MIN, k=1))
        for a, b in zip(ii.tolist(), jj.tolist()):
            pairs.add((a, b))
    # both-empty texts are identical => jaccard 1 by convention.
    empties = [i for i in range(n) if sizes[i] == 0]
    for x in range(len(empties)):
        for y in range(x + 1, len(empties)):
            pairs.add((empties[x], empties[y]))

    # 3) substring containment for remaining eligible pairs.
    lens = np.array([len(t) for t in norms])
    elig = np.nonzero(lens >= C.SUBSTR_MIN_LEN)[0]
    for ai in range(len(elig)):
        i = int(elig[ai])
        for bi in range(ai + 1, len(elig)):
            j = int(elig[bi])
            if (i, j) in pairs:
                continue
            a, b = norms[i], norms[j]
            short, long_ = (a, b) if len(a) <= len(b) else (b, a)
            if short in long_:
                pairs.add((i, j))
    return pairs


# ---------------------------------------------------------------------------
# SDR-parity mode (reference defaults: size=600, sparsity=0.2 -> top-120)
# ---------------------------------------------------------------------------


def sdr_encode(text: str | None) -> np.ndarray:
    """Fixed-sparsity SDR variant matching the reference encoder's shape:
    600-wide vote vector, top-120 columns by vote sum are active
    (htm.core SimHashDocumentEncoder semantics, public). Returns sorted
    active-bit indices. Used only by parity tests."""
    nt = normalize_text(text)
    feats = simhash_features(nt)
    votes = np.zeros(C.SDR_SIZE, dtype=np.int64)
    if feats:
        names = list(feats.keys())
        weights = np.asarray(list(feats.values()), dtype=np.int64)
        hs = hash64_batch(names)
        # Derive SDR_SIZE vote bits per feature by expanding the 64-bit hash
        # with splitmix64 rounds (needs ceil(600/64)=10 words).
        words = np.empty((len(hs), 10), dtype=np.uint64)
        cur = hs.copy()
        for w in range(10):
            words[:, w] = cur
            cur = _mix64(cur + np.uint64(w + 1))
        shifts = np.arange(64, dtype=np.uint64)
        bits = ((words[:, :, None] >> shifts[None, None, :]) & np.uint64(1)).reshape(
            len(hs), 640
        )[:, : C.SDR_SIZE]
        votes = ((2 * bits.astype(np.int64) - 1) * weights[:, None]).sum(axis=0)
    # top-ACTIVE_BITS by vote, ties broken by lower index (stable argsort).
    order = np.argsort(-votes, kind="stable")
    return np.sort(order[: C.SDR_ACTIVE_BITS])
