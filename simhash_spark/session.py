"""SparkSession builder with scale-aware defaults.

Local mode is for correctness tests + the two-parallelism-level scaling
bench; the same config block is what we'd ship to a 1000-executor cluster
via spark-submit (AQE, skew-join, Arrow, explicit shuffle partitions).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "simhash-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cores}]"
    if shuffle_partitions is None:
        # local[N] -> N; a real cluster would set 2-3x total cores.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cores)
        shuffle_partitions = cores if n == "*" else int(n)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # G1 (the JVM default), explicitly: controlled A-B on the full
        # 2M-row pipeline at local[8] measured ParallelGC 1356 s vs G1
        # 1205 s (64g heap), and the standalone PPJoin query 114 s vs
        # 41 s.
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseG1GC")
    )
    # Shuffle/spill files land in spark.local.dir (default /tmp — the
    # box's single disk). On a real cluster this is per-node NVMe that
    # scales with node count; the scaling bench's --shm mode points it at
    # tmpfs for the same reason the corpus/checkpoints go there (see
    # bin/scaling_bench.py module doc). Measured A-B below in
    # BENCH/BASELINE.md.
    # AQE post-shuffle coalescing target: 16m, not Spark's 64m default.
    # The pair-dedupe aggregation is cache-locality-bound: at 64m AQE
    # coalesces its reduce side into few fat tasks whose per-task
    # string-keyed hash tables (millions of live groups x concurrent
    # tasks) thrash the shared LLC. A 3x2 interleaved fresh-JVM A/B on
    # the isolated stage at 8 cores (BENCH/cp-stage-n2000000-oph-t8-
    # adv.json) measured the dedupe stage's run-CPU HALVED (211-242 ->
    # 109-137 s at identical bytes), GC 3-4x lower, task skew gone
    # (max/median 4.7 -> 1.8), stage wall -14%. Same argument holds on a
    # real cluster: per-task working sets should track L2/LLC share, not
    # IO-optimal block size. Env-overridable: the right share depends on
    # the deployment's cache size.
    adv_mb = os.environ.get("SPARK_GRAFT_ADVISORY_MB", "16")
    b = b.config(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", f"{int(adv_mb)}m"
    )
    # AQE coalescing floor: Spark's 1m default lets a BYTE-tiny but
    # CPU-dense exchange (candidate pairs at ~40 B/row feeding a pandas
    # UDF or a codegen'd contains()) coalesce to 1-5 tasks — the
    # parallelismFirst target is max(total/defaultParallelism,
    # minPartitionSize), so a 2 MB exchange can never spread past 2
    # tasks at the 1m floor regardless of its compute cost (measured:
    # the suffix-array confirm at sf0.1 ran 5 tasks x 79 s instead of
    # 32 x ~0.6 s). 64k keeps such stages at full width; at real data
    # sizes total/parallelism dominates and the floor is inert —
    # interleaved A/B on the full 2M pipeline at T8 measured 64k vs 1m
    # a wash (169.0 vs 171.1 s mean, BENCH/ab-min-psize-t8-n2000000
    # .json), while the byte-tiny gate queries improved up to 6x.
    min_psize = os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k")
    b = b.config(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize", min_psize
    )
    # Shuffle/spill/broadcast IO codec (spark.io.compression.codec).
    # Unset -> Spark's own default (lz4). zstd compresses the shuffle
    # ~30-40% smaller for more CPU — a candidate win on memory-
    # bandwidth-bound hosts (fewer bytes through the saturated
    # controllers) and on network-bound clusters; env-selectable so the
    # trade is settled by interleaved A/B, not guessed
    # (bin/env_ab.py SPARK_GRAFT_IO_CODEC lz4,zstd,...).
    codec = os.environ.get("SPARK_GRAFT_IO_CODEC")
    if codec:
        b = b.config("spark.io.compression.codec", codec)
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
