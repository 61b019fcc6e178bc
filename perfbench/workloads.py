"""The benchmark's workloads. Each is a closed loop with one client: one
pipeline pass or one gate query in flight at a time, from a single
driver process on ``local[nproc]``.

* ``batch_mixed`` — ``DedupPipeline.run`` on the FIXTURES mix of
  ``synth.make_clips``, a fresh checkpoint directory per pass. Signature
  kernels, the band table and the band self-join carry the load.
* ``gate_dedup`` — the seven dedup-family gate queries of
  ``__spark_entry__.queries()`` on a generated ``documents`` table: the
  only workload that runs the PPJoin, substring, overlap/suffix-array,
  audio-fingerprint and decontamination operators. ``doc_dup_clusters``
  runs the same pipeline on documents, where the dense token-set overlap
  of the corpus makes the verify stage and the pair dedupe carry the load.

Every run reports every end-to-end metric; the traced run (``--trace 1``)
reports every per-layer metric, with 0 for a layer the workload never
enters (``entry.*`` on ``batch_mixed``).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager, nullcontext

import inputs
from probes import Engine, Host, Tracer

RECALL_MIN = 0.99

GATE_QUERIES = [
    "jaccard_neardup_pairs",
    "substring_pairs",
    "overlap_span_pairs",
    "audio_dup_pairs",
    "decontam_ngram_hits",
    "doc_dup_clusters",
    # resumes the checkpoint doc_dup_clusters just committed, as in bench.py
    "dedup_survivors",
]

#: corpus rows per workload when ``--size`` is not given
DEFAULT_SIZE = {"batch_mixed": 6_000, "gate_dedup": 1_000}


class Run:
    """State shared by one benchmark run: the session, its probes and the
    operation counters."""

    def __init__(self, work: str, seed: int, seconds: float, size: int, trace: bool):
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.trace = trace
        self.cache = os.path.join(work, "cache")
        self.tmp = tempfile.gettempdir()
        self.attempted = 0
        self.failed = 0
        self.rss_mb = 0.0
        self.spark = None

    def start(self):
        from simhash_spark.session import get_spark

        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = get_spark(
            app="perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra={
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.driver.extraJavaOptions": f"-XX:+UseG1GC -Djava.io.tmpdir={self.tmp}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.engine = Engine(self.spark)
        self.host = Host(self.spark.sparkContext._gateway.proc.pid)
        return self.spark

    def log(self, what: str, wall: float) -> None:
        print(f"perfbench: {what} {wall:.2f} s", file=sys.stderr, flush=True)

    def sample_rss(self) -> None:
        self.rss_mb = max(self.rss_mb, self.host.worker_peak_rss_mb())

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def stop(self) -> None:
        """Stop the session, the JVM and its Python workers, and wait for
        each to end."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway, proc = sc._gateway, sc._gateway.proc
        workers = self.host.workers()
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        deadline = time.time() + 30
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.1)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, 9)
        self.spark = None


def _check_clusters(cl, ids: set, eligible) -> tuple[bool, float]:
    """Clusters cover every input id exactly once, and the share of
    eligible truth pairs that share a cluster is at least RECALL_MIN."""
    covered = len(cl) == len(ids) and cl["clip_id"].is_unique and set(cl["clip_id"]) == ids
    label = dict(zip(cl["clip_id"], cl["cluster_id"]))
    hit = sum(1 for a, b in eligible if label.get(a) is not None and label.get(a) == label.get(b))
    recall = hit / len(eligible) if eligible else 1.0
    if not covered:
        print(f"perfbench: clusters do not cover the {len(ids)} inputs exactly once", file=sys.stderr)
    if recall < RECALL_MIN:
        print(f"perfbench: dup_pair_recall {recall:.4f} < {RECALL_MIN}", file=sys.stderr)
    return covered and recall >= RECALL_MIN, recall


@contextmanager
def instrument(tracer: Tracer):
    """Spans around ``DedupPipeline.run``, every ``CheckpointStore.write``
    and the pipeline's ``connected_components`` call, installed at
    runtime and removed on exit. A stage write computes exactly one stage
    (its inputs are read back from committed parquet), so each write span
    owns that stage's work; the CC driver path runs eagerly inside its
    call, so it gets its own span."""
    import simhash_spark.plans.pipeline as P
    from simhash_spark.sources.tableio import CheckpointStore

    orig = (CheckpointStore.write, P.DedupPipeline.run, P.connected_components)

    def write(self, stage, df, *a, **k):
        spill = tracer.engine.spill_mb() if stage == "candidate_pairs" else None
        with tracer.span("store.write", stage=stage) as s:
            out = orig[0](self, stage, df, *a, **k)
        if spill is not None:
            s["spill_mb"] = tracer.engine.spill_mb() - spill
        return out

    def run(self, clips):
        tracer.engine.reset_heap_peak()
        with tracer.span("pipeline.run") as s:
            out = orig[1](self, clips)
        s["jvm_peak_heap_mb"] = tracer.engine.heap_peak_mb()
        return out

    def cc(*a, **k):
        with tracer.span("cc.connected_components"):
            return orig[2](*a, **k)

    CheckpointStore.write, P.DedupPipeline.run, P.connected_components = write, run, cc
    try:
        yield
    finally:
        CheckpointStore.write, P.DedupPipeline.run, P.connected_components = orig


def _pipeline_layers(run: Run, tracer: Tracer, store) -> dict:
    """Per-layer metrics of the one traced pipeline pass in ``tracer``,
    plus stand-alone write and read timings of each committed stage."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from simhash_spark.plans.pipeline import STAGES
    from simhash_spark.sources.tableio import CheckpointStore

    w = {s["stage"]: s for s in tracer.find("store.write")}
    man = {st: store.read_manifest(st) for st in STAGES}
    metrics = store.metrics()

    def last(name, default=0):
        vals = [m["value"] for m in metrics if m["metric"] == name]
        return vals[-1] if vals else default

    # dedup_survivors resumes the committed pipeline: keep the pass that ran
    pr = max(tracer.find("pipeline.run"), key=lambda s: s["wall_s"])
    (cc,) = tracer.find("cc.connected_components")
    cl = pq.read_table(man["clusters"]["data_dir"]).to_pandas()
    sizes = cl["cluster_id"].value_counts()
    pairs_in = man["candidate_pairs"]["rows"]
    pairs_out = man["verified_pairs"]["rows"]
    out = {
        "signatures.profile_s": w["profile"]["wall_s"],
        "signatures.profile_py_cpu_s": w["profile"]["py_cpu_s"],
        "lsh.bands_s": w["bands"]["wall_s"],
        "lsh.bands_py_cpu_s": w["bands"]["py_cpu_s"],
        "lsh.band_rows": man["bands"]["rows"],
        "lsh.bands_shuffle_write_mb": w["bands"]["shuffle_write_mb"],
        "lsh.cp_s": w["candidate_pairs"]["wall_s"],
        "lsh.cp_task_s": w["candidate_pairs"]["task_s"],
        "lsh.cp_gc_s": w["candidate_pairs"]["gc_s"],
        "lsh.cp_shuffle_read_mb": w["candidate_pairs"]["shuffle_read_mb"],
        "lsh.cp_spill_mb": w["candidate_pairs"]["spill_mb"],
        "lsh.candidate_pairs": pairs_in,
        "lsh.hot_groups": last("lsh_hot_band_groups"),
        "verify.s": w["verified_pairs"]["wall_s"],
        "verify.py_cpu_s": w["verified_pairs"]["py_cpu_s"],
        "verify.shuffle_read_mb": w["verified_pairs"]["shuffle_read_mb"],
        "verify.pairs_in": pairs_in,
        "verify.pairs_out": pairs_out,
        "verify.yield": pairs_out / pairs_in if pairs_in else 0.0,
        "cc.s": cc["wall_s"],
        "cc.edges": last("cc_fastpath_edges", pairs_out),
        "cc.components": int((sizes >= 2).sum()),
        "cc.path_loop": int(any(m["metric"] == "cc_changed" for m in metrics)),
    }
    for st in STAGES:
        out[f"pipeline.stage.{st}_s"] = w[st]["wall_s"]
    out.update(
        {
            "pipeline.spark_jobs": pr["jobs"],
            "pipeline.jvm_cpu_s": pr["jvm_cpu_s"],
            "pipeline.py_cpu_s": pr["py_cpu_s"],
            "pipeline.gc_s": pr["gc_s"],
            "pipeline.jvm_peak_heap_mb": pr["jvm_peak_heap_mb"],
        }
    )
    # stand-alone commit and scan of every stage: write_s includes the scan
    # of the committed source, which read_s times on its own
    spark = run.spark
    scratch = CheckpointStore(spark, tempfile.mkdtemp(dir=run.tmp))
    n_bytes = n_files = 0
    for st in STAGES:
        m = man[st]
        for root, _d, names in os.walk(m["data_dir"]):
            for name in names:
                if name.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(root, name))
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        with tracer.span("tableio.write", stage=st):
            scratch.write(st, spark.read.schema(schema).parquet(m["data_dir"]))
        with tracer.span("tableio.read", stage=st):
            store.read(st).write.format("noop").mode("overwrite").save()
    shutil.rmtree(scratch.base, ignore_errors=True)
    out.update(
        {
            "tableio.write_s": tracer.total("tableio.write"),
            "tableio.read_s": tracer.total("tableio.read"),
            "tableio.bytes_written_mb": n_bytes / 2**20,
            "tableio.files_written": n_files,
        }
    )
    return out


def batch_mixed(run: Run) -> dict:
    import pyarrow.parquet as pq

    from simhash_spark.plans.pipeline import DedupPipeline

    path = inputs.mixed_clips(run.cache, run.size, run.seed)
    eligible = inputs.load_eligible(path)
    src = os.path.join(path, "clips.parquet")
    ids = set(pq.read_table(src, columns=["clip_id"]).column(0).to_pylist())

    t0 = time.time()
    spark = run.start()
    start_s = time.time() - t0
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # the corpus is one parquet file; without the repartition the
    # signature stage would run on the file's one or two splits
    clips = spark.read.parquet(src).select("clip_id", "transcript").repartition(n_part, "clip_id")
    recalls: list[float] = []

    def one_pass() -> float:
        ckpt = tempfile.mkdtemp(dir=run.tmp)
        try:
            t = time.time()
            pipe = DedupPipeline(spark, ckpt)
            pipe.run(clips)
            wall = time.time() - t
            ok, recall = _check_clusters(pipe.store.read("clusters").toPandas(), ids, eligible)
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        run.op(ok)
        recalls.append(recall)
        run.sample_rss()
        run.log("pipeline pass", wall)
        return wall

    cold = one_pass()
    setup_s = start_s + cold
    walls: list[float] = []
    # at least two passes: the JIT still speeds up the first warm pass, so
    # a median over one pass on a slow host and two on a fast one would
    # differ by the pass count alone
    while sum(walls) < run.seconds or len(walls) < 2:
        walls.append(one_pass())

    if not run.trace:
        return {
            "setup_s": setup_s,
            "clips_per_s": statistics.median(run.size / w for w in walls),
            "dup_pair_recall": min(recalls),
            "worker_peak_rss_mb": run.rss_mb,
        }

    tracer = Tracer(run.engine, run.host)
    ckpt = tempfile.mkdtemp(dir=run.tmp)
    with instrument(tracer):
        pipe = DedupPipeline(spark, ckpt)
        pipe.run(clips)
    (traced,) = tracer.find("pipeline.run")
    ok, _ = _check_clusters(pipe.store.read("clusters").toPandas(), ids, eligible)
    run.op(ok)
    out = {
        "session.start_s": start_s,
        "session.cold_pass_extra_s": cold - statistics.median(walls),
        **_pipeline_layers(run, tracer, pipe.store),
        **{f"entry.{q}_s": 0.0 for q in GATE_QUERIES},
        "entry.spark_jobs": 0,
        "trace.overhead_ratio": traced["wall_s"] / statistics.median(walls),
    }
    run.tracer = tracer
    return out


class _TimedDuck:
    """DuckDB connection whose ``sql`` results arrive fully fetched, with
    the time spent in DuckDB summed, so the oracle's own time stays out of
    the set-up measurement."""

    class _Result:
        def __init__(self, columns, rows):
            self.columns, self._rows = columns, rows

        def fetchall(self):
            return self._rows

    def __init__(self, con):
        self.con, self.spent = con, 0.0

    def sql(self, query):
        t = time.time()
        rel = self.con.sql(query)
        res = self._Result(rel.columns, rel.fetchall())
        self.spent += time.time() - t
        return res


def gate_dedup(run: Run) -> dict:
    import duckdb
    import pandas as pd

    sf = inputs.documents(run.cache, run.size, run.seed)
    eligible = inputs.load_eligible(sf)
    ids = set(pd.read_parquet(os.path.join(sf, "documents.parquet"), columns=["doc_id"])["doc_id"].astype(str))

    t0 = time.time()
    spark = run.start()
    start_s = time.time() - t0

    import __spark_entry__ as E
    from oracle_check import compare_one
    from simhash_spark.sources.tableio import CheckpointStore
    from simhash_spark.util import releasing

    qs, oracle = E.queries(), E.oracle_sql()
    duck = _TimedDuck(duckdb.connect())
    duck.con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{os.path.join(sf, 'documents.parquet')}'"
    )

    def drop_cache(name: str) -> None:
        # as bench.py: every run of these two recomputes its detector
        if name == "doc_dup_clusters":
            ckpt = E._PIPE_CKPTS.pop(sf, None)
            if ckpt:
                shutil.rmtree(ckpt, ignore_errors=True)
        if name == "overlap_span_pairs":
            E._SPAN_CACHE.pop(sf, None)

    # cold pass = the oracle check, once per run and outside the timed passes
    t = time.time()
    for q in GATE_QUERIES:
        drop_cache(q)
        problems, _ = compare_one(spark, duck, q, qs[q], oracle[q], sf)
        for p in problems:
            print(f"perfbench: oracle mismatch in {q}: {p}", file=sys.stderr)
        run.op(not problems)
        run.sample_rss()
    cold = time.time() - t - duck.spent
    run.log("oracle check pass, DuckDB time excluded", cold)
    run.log("DuckDB oracle time", duck.spent)
    setup_s = start_s + cold

    recalls: list[float] = []

    def one_pass(tracer: Tracer | None = None) -> float:
        wall = 0.0
        for q in GATE_QUERIES:
            drop_cache(q)
            with tracer.span(f"entry.{q}") if tracer else nullcontext():
                t = time.time()
                with releasing(qs[q](spark, sf)) as df:
                    df.count()
                wall += time.time() - t
            run.log(q, time.time() - t)
            run.op(True)
            run.sample_rss()
        run.log("gate pass", wall)
        return wall

    def check_pass() -> None:
        # the clusters stage doc_dup_clusters committed in the pass; a
        # failure counts against that query
        cl = CheckpointStore(spark, E._PIPE_CKPTS[sf]).read("clusters").toPandas()
        ok, recall = _check_clusters(cl, ids, eligible)
        recalls.append(recall)
        run.failed += 0 if ok else 1

    walls: list[float] = []
    while sum(walls) < run.seconds or not walls:
        walls.append(one_pass())
        check_pass()

    if not run.trace:
        return {
            "setup_s": setup_s,
            "clips_per_s": statistics.median(run.size / w for w in walls),
            "dup_pair_recall": min(recalls),
            "worker_peak_rss_mb": run.rss_mb,
        }

    tracer = Tracer(run.engine, run.host)
    with instrument(tracer), tracer.span("gate.pass") as gp:
        traced = one_pass(tracer)
    check_pass()
    store = CheckpointStore(spark, E._PIPE_CKPTS[sf])
    out = {
        "session.start_s": start_s,
        "session.cold_pass_extra_s": cold - statistics.median(walls),
        **_pipeline_layers(run, tracer, store),
        **{f"entry.{q}_s": tracer.total(f"entry.{q}") for q in GATE_QUERIES},
        "entry.spark_jobs": gp["jobs"],
        "trace.overhead_ratio": traced / statistics.median(walls),
    }
    run.tracer = tracer
    return out


WORKLOADS = {"batch_mixed": batch_mixed, "gate_dedup": gate_dedup}
