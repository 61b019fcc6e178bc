"""Sharded corpus writer contract (data-scaling series input).

The large-corpus scaling runs (bin/big_scaling_pair.py) build their
corpora by TILING fixed 500k-row shards, so the properties that make
the comparison valid are pinned here: globally unique offset clip_ids,
per-shard determinism identical to a direct ``make_clips(seed+k,
id_offset)`` call, and a Spark-readable directory layout.
"""

import glob
import os

import pyarrow.parquet as pq

from simhash_spark.sources.synth import make_clips, write_clips_parquet_sharded


def test_sharded_writer_ids_unique_and_deterministic(tmp_path):
    d = str(tmp_path / "corpus")
    write_clips_parquet_sharded(d, 4000, shard_rows=1000, workers=4)

    parts = sorted(glob.glob(os.path.join(d, "clips.parquet", "*.parquet")))
    assert len(parts) == 4

    ids = pq.read_table(
        os.path.join(d, "clips.parquet"), columns=["clip_id"]
    ).column("clip_id").to_pylist()
    assert len(ids) == 4000 and len(set(ids)) == 4000

    # shard k == make_clips(shard_rows, seed+k, id_offset=k*shard_rows)
    direct, _ = make_clips(1000, seed=42 + 2, id_offset=2000)
    shard = pq.read_table(parts[2])
    assert direct["clip_id"].tolist() == shard.column("clip_id").to_pylist()
    assert direct["transcript"].tolist() == shard.column("transcript").to_pylist()

    # truth ids refer to clips that exist
    truth = pq.read_table(os.path.join(d, "truth_pairs.parquet"))
    id_set = set(ids)
    assert truth.num_rows > 0
    assert all(a in id_set and b in id_set
               for a, b in zip(truth.column("a").to_pylist(),
                               truth.column("b").to_pylist()))


def test_sharded_writer_rejects_non_multiple(tmp_path):
    import pytest

    with pytest.raises(ValueError):
        write_clips_parquet_sharded(str(tmp_path / "x"), 1500, shard_rows=1000)


def test_sharded_corpus_spark_readable(spark, tmp_path):
    d = str(tmp_path / "corpus")
    write_clips_parquet_sharded(d, 2000, shard_rows=1000, workers=2)
    df = spark.read.parquet(os.path.join(d, "clips.parquet"))
    assert df.count() == 2000
    assert set(df.columns) == {"clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"}
