"""Spark pandas-UDF output must equal the numpy reference EXACTLY
(signatures are deterministic integers — SURVEY.md §5.2 item 1)."""

import json
import os

import numpy as np
from pyspark.sql import functions as F

from simhash_spark import config as C
from simhash_spark import reference as R
from simhash_spark.functions.signatures import (
    hamming_col,
    minhash_bands_udf,
    minhash_udf,
    normalize_udf,
    simhash64_udf,
    simhash_table_key_cols,
    substring_grams_udf,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "vectors", "golden.json")


def _texts():
    with open(GOLDEN) as f:
        g = json.load(f)
    return [v["text"] for v in g["vectors"]]


def test_normalize_udf_matches_reference(spark):
    texts = _texts() + ["MIXED Case nbsp", "é combining acute", None]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r.n for r in df.select(normalize_udf("text").alias("n")).collect()]
    want = [R.normalize_text(t) for t in texts]
    assert got == want


def test_simhash_udf_matches_reference(spark):
    texts = _texts()
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        r.s
        for r in df.select(
            simhash64_udf(normalize_udf("text")).alias("s")
        ).collect()
    ]
    want = R.simhash64_batch(texts).tolist()
    assert got == want


def test_profile_udf_matches_chained_form(spark):
    """The fused normalize+simhash UDF must be bit-identical to the
    chained normalize_udf -> simhash64_udf path (and include NUL-bearing
    text — the round-2 factorize regression class)."""
    from simhash_spark.functions.signatures import profile_udf

    texts = _texts() + ["MIXED Case nbsp", "é combining acute", "0", "0\x00", None]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = (
        df.select(profile_udf("text").alias("p"))
        .select("p.norm_text", "p.simhash")
        .collect()
    )
    want_norm = [R.normalize_text(t) for t in texts]
    want_sig = R.simhash64_from_norm(want_norm).tolist()
    assert [r.norm_text for r in got] == want_norm
    assert [r.simhash for r in got] == want_sig


def test_minhash_udf_matches_reference(spark):
    texts = _texts()
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r.m for r in df.select(minhash_udf(normalize_udf("text")).alias("m")).collect()]
    want = R.minhash_batch(texts)
    assert np.array_equal(np.array(got), want)


def test_minhash_bands_udf_matches_reference(spark):
    texts = _texts()
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        r.b for r in df.select(minhash_bands_udf(normalize_udf("text")).alias("b")).collect()
    ]
    want = R.minhash_band_hashes(R.minhash_batch(texts))
    assert np.array_equal(np.array(got), want)


def test_substring_grams_udf_matches_reference(spark):
    texts = _texts()
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r.g for r in df.select(substring_grams_udf(normalize_udf("text")).alias("g")).collect()]
    want = [R.substring_grams(R.normalize_text(t)).astype("int64").tolist() for t in texts]
    assert got == want


def test_hamming_col_matches_reference(spark):
    rng = np.random.default_rng(5)
    a = rng.integers(-(2**63), 2**63 - 1, size=200, dtype=np.int64)
    b = rng.integers(-(2**63), 2**63 - 1, size=200, dtype=np.int64)
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(a, b)], "a long, b long"
    )
    got = [r.h for r in df.select(hamming_col("a", "b").alias("h")).collect()]
    want = R.hamming64(a, b).tolist()
    assert got == want


def test_simhash_table_key_cols_match_reference(spark):
    rng = np.random.default_rng(6)
    sigs = rng.integers(-(2**63), 2**63 - 1, size=100, dtype=np.int64)
    df = spark.createDataFrame([(int(s),) for s in sigs], "simhash long")
    cols = simhash_table_key_cols("simhash")
    got = np.array(
        df.select(*[c.alias(f"k{i}") for i, c in enumerate(cols)]).collect()
    )
    want = R.simhash_table_keys(sigs)
    assert np.array_equal(got, want)


def test_jaccard_udf_matches_reference(spark):
    texts = _texts()
    import itertools

    pairs = list(itertools.islice(itertools.combinations(texts, 2), 80))
    df = spark.createDataFrame(pairs, "ta string, tb string")
    from simhash_spark.functions.signatures import jaccard_udf

    got = [
        r.j
        for r in df.select(
            jaccard_udf(normalize_udf("ta"), normalize_udf("tb")).alias("j")
        ).collect()
    ]
    want = [
        R.jaccard(R.normalize_text(a), R.normalize_text(b)) for a, b in pairs
    ]
    assert np.allclose(got, want, atol=0, rtol=0)


def test_fused_mh_gram_bkeys_match_jvm_packing(spark):
    """The fused mh+gram mapInArrow kernel emits PRE-PACKED, pre-exploded
    (id, bkey) rows; they must be bit-identical to the un-fused path
    (minhash_bands_udf / substring_grams_udf exploded + lsh._pack_bkey
    JVM shifts) — the packing layout is load-bearing for every
    downstream keyed op. Covers string AND cid id columns, empty/None/
    long rows."""
    from simhash_spark.functions.signatures import mh_gram_bkeys_exploded
    from simhash_spark.operators.lsh import _pack_bkey

    texts = _texts() + ["", "ab", "x" * 70, None]
    base = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "clip_id string, text string"
    ).select("clip_id", normalize_udf("text").alias("norm_text"))
    for df, id_col in [
        (base, "clip_id"),
        (base.select(F.xxhash64("clip_id").alias("cid"), "norm_text"), "cid"),
    ]:
        fused = sorted(map(tuple, mh_gram_bkeys_exploded(df, id_col=id_col).collect()))
        mh = df.select(
            id_col,
            F.posexplode(minhash_bands_udf("norm_text")).alias("band_id", "band_hash"),
        ).select(id_col, _pack_bkey(2, F.col("band_id"), F.col("band_hash")).alias("bkey"))
        gr = df.select(
            id_col, F.explode(substring_grams_udf("norm_text")).alias("band_hash")
        ).select(id_col, _pack_bkey(3, 0, F.col("band_hash")).alias("bkey"))
        want = sorted(map(tuple, mh.unionByName(gr).collect()))
        assert fused == want


def test_flat_bands_kernel_matches_list_form():
    """reference.mh_gram_bkeys_flat_batch == np.split of the list form,
    row order and per-row key order included."""
    import numpy as np

    from simhash_spark import reference as R

    norms = [R.normalize_text(t) for t in _texts()] + ["", "a", "hello hello"]
    flat, counts = R.mh_gram_bkeys_flat_batch(norms)
    rebuilt = np.split(flat, np.cumsum(counts)[:-1])
    want = R.mh_gram_bkeys_batch(norms)
    assert len(rebuilt) == len(want)
    for a, b in zip(rebuilt, want):
        assert np.array_equal(a, b)
