"""Vectorized signature functions — Arrow-batched pandas UDFs.

Each UDF delegates to the pure-numpy reference encoder (reference.py), so
Spark pipeline output and the recall oracle are the SAME code path — exact
integer equality by construction (SURVEY.md §5.2 item 1).

These replace the reference's per-record FFI hop
(/root/reference/src/Htm/SimHashDocumentEncoder.hsc:62-67 — one
Haskell->C++ call per record) with Arrow batches: the single biggest
architectural win of the Spark-first rewrite (SURVEY.md §3).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from simhash_spark import config as C
from simhash_spark import reference as R


@F.pandas_udf(T.StringType())
def normalize_udf(s: pd.Series) -> pd.Series:
    """NFC + casefold + whitespace-collapse — the reference kernel
    itself (reference.normalize_batch), so Spark and oracle share one
    code path. One Python pass per string: the previous 4-step pandas
    .str chain (normalize/casefold/split/join) walked every string four
    times through object-dtype machinery — measured 2.15x slower for
    identical output (r6)."""
    vals = [t if isinstance(t, str) else None for t in s.tolist()]
    return pd.Series(R.normalize_batch(vals), index=s.index, dtype="object")


@F.pandas_udf(T.LongType())
def simhash64_udf(norm: pd.Series) -> pd.Series:
    """64-bit SimHash over normalized text (feature-weight bit-voting,
    generalizing /root/reference SimHashDocumentEncoder semantics)."""
    return pd.Series(R.simhash64_from_norm(norm.fillna("").tolist()), dtype="int64")


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("norm_text", T.StringType()),
            T.StructField("simhash", T.LongType()),
        ]
    )
)
def profile_udf(s: pd.Series) -> pd.DataFrame:
    """FUSED normalize + simhash in one Arrow crossing. Chaining
    normalize_udf -> simhash64_udf puts two DEPENDENT Python evals in the
    plan (each row crosses JVM->Py->JVM twice); this computes both from
    the raw text in a single batch with the identical kernels, so the
    profile stage pays one crossing. Output values are bit-identical to
    the chained form (same reference.py code path — one-pass normalize,
    see normalize_udf)."""
    vals = [t if isinstance(t, str) else None for t in s.tolist()]
    norm = R.normalize_batch(vals)
    sig = pd.Series(R.simhash64_from_norm(norm), dtype="int64")
    return pd.DataFrame({"norm_text": pd.Series(norm, dtype="object"), "simhash": sig})


@F.pandas_udf(T.ArrayType(T.LongType()))
def minhash_udf(norm: pd.Series) -> pd.Series:
    """NUM_PERM minhash values over char-5-shingles of normalized text."""
    sigs = R.minhash_from_norm(norm.fillna("").tolist())
    return pd.Series(list(sigs))


@F.pandas_udf(T.ArrayType(T.LongType()))
def minhash_bands_udf(norm: pd.Series) -> pd.Series:
    """BANDS band-hashes directly from normalized text (fuses minhash +
    banding in one Arrow batch — 32 longs per row cross the UDF boundary
    instead of 128)."""
    sigs = R.minhash_from_norm(norm.fillna("").tolist())
    return pd.Series(list(R.minhash_band_hashes(sigs)))


def mh_gram_bkeys_exploded(
    df, id_col: str = "cid", text_col: str = "norm_text"
):
    """FUSED minhash-band + gram detector as a ``mapInArrow`` operator:
    (id, norm_text) -> PRE-EXPLODED (id, bkey) rows carrying PACKED
    int64 band keys (lsh bkey layout) for both detectors.

    One Arrow crossing serves both detectors, and the kernel shares a
    single flatten/prefix pass (reference.mh_gram_bkeys_flat_batch).
    Its flat (values, counts) output becomes the Arrow column DIRECTLY
    — no pandas Series-of-lists, no Arrow LargeList assembly, no JVM
    generate/explode; ids replicate via one Arrow take. The packing is
    pytest-pinned against lsh._pack_bkey's JVM shifts."""
    import numpy as np
    import pyarrow as pa

    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("bkey", T.LongType()),
        ]
    )

    def gen(batches):
        for batch in batches:
            texts = batch.column(1).to_pylist()
            flat, counts = R.mh_gram_bkeys_flat_batch(
                [t if t is not None else "" for t in texts]
            )
            idx = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
            ids = batch.column(0).take(pa.array(idx, pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(flat, pa.int64())], names=[id_col, "bkey"]
            )

    return df.select(id_col, text_col).mapInArrow(gen, out_schema)


@F.pandas_udf(T.ArrayType(T.LongType()))
def substring_grams_udf(norm: pd.Series) -> pd.Series:
    """Content-sampled gram ids for the substring detector's inverted
    index. Returned as signed int64 (two's-complement of uint64 ids)."""
    return pd.Series(
        [
            a.astype("int64").tolist()
            for a in R.substring_grams_batch(norm.fillna("").tolist())
        ]
    )


@F.pandas_udf(T.DoubleType())
def jaccard_udf(norm_a: pd.Series, norm_b: pd.Series) -> pd.Series:
    """Exact char-5-shingle Jaccard between two normalized texts
    (verification path — runs on candidate pairs only). Vectorized batch
    kernel: both sides shingled+hashed once, intersections counted via
    one lexsort — no per-pair Python."""
    return pd.Series(
        R.jaccard_batch(norm_a.fillna("").tolist(), norm_b.fillna("").tolist()),
        dtype="float64",
    )


@F.pandas_udf(T.BooleanType())
def substring_contained_udf(norm_a: pd.Series, norm_b: pd.Series) -> pd.Series:
    """True if the shorter side (>= SUBSTR_MIN_LEN chars) is a verbatim
    substring of the longer (verification path)."""
    return pd.Series(
        [
            R.substring_contained(a, b)
            for a, b in zip(norm_a.fillna(""), norm_b.fillna(""))
        ],
        dtype="bool",
    )


# ---------------------------------------------------------------------------
# JVM-side (no-UDF) column expressions — stay inside whole-stage codegen
# ---------------------------------------------------------------------------


def hamming_col(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two int64 simhash columns — pure JVM:
    bit_count(a ^ b), whole-stage-codegen'd (no Python)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.bit_count(a.bitwiseXOR(b))


def simhash_table_key_cols(sig: Column | str) -> list[Column]:
    """SIM_TABLES Manku-style LSH-table keys of a simhash column — pure
    JVM (shifts + masks), matching reference.simhash_table_keys: each key
    packs the table index + one (SIM_BLOCKS-HAM_D)-block combination."""
    sig = F.col(sig) if isinstance(sig, str) else sig
    offsets = [sum(C.SIM_BLOCK_WIDTHS[:i]) for i in range(C.SIM_BLOCKS)]
    blocks = [
        F.shiftrightunsigned(sig, offsets[j]).bitwiseAND(
            F.lit((1 << C.SIM_BLOCK_WIDTHS[j]) - 1)
        )
        for j in range(C.SIM_BLOCKS)
    ]
    keys = []
    for t, combo in enumerate(C.SIM_TABLE_COMBOS):
        key = F.lit(t).cast("long")
        for b in combo:
            key = F.shiftleft(key, C.SIM_BLOCK_WIDTHS[b]).bitwiseOR(blocks[b])
        keys.append(key)
    return keys


def norm_text_col(text: Column | str) -> Column:
    """JVM-side normalization for SQL-oracle-comparable paths: lower +
    trim + collapse whitespace. NOTE: this is NOT the pinned pipeline
    normalization (no NFC/casefold) — use normalize_udf in the pipeline;
    this exists for oracle-checkable queries where DuckDB must reproduce
    it exactly."""
    text = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
