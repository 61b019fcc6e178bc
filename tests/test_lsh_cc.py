"""LSH candidate generation + connected components unit tests."""

from pyspark.sql import functions as F

from simhash_spark.functions.signatures import normalize_udf, simhash64_udf
from simhash_spark.operators.cc import assign_clusters, connected_components
from simhash_spark.operators.lsh import build_bands, candidate_pairs


def _norm_sig(spark, rows):
    df = spark.createDataFrame(rows, "clip_id string, transcript string")
    norm = df.select("clip_id", normalize_udf("transcript").alias("norm_text"))
    sigs = norm.select("clip_id", simhash64_udf("norm_text").alias("simhash"))
    return norm, sigs


def _cidmap(norm):
    """cid -> clip_id for translating the interior int64 pair ids back
    to the fixture's string ids (same xxhash64 the engine derives)."""
    return {
        r.cid: r.clip_id
        for r in norm.select(
            "clip_id", F.xxhash64("clip_id").alias("cid")
        ).collect()
    }


def _str_pairs(pairs_df, m):
    """candidate_pairs rows -> {frozenset-style sorted string tuples}."""
    return {tuple(sorted((m[r.a], m[r.b]))) for r in pairs_df.collect()}


def test_candidate_pairs_cover_near_dups(spark):
    long = " ".join(f"word{i}" for i in range(40))
    rows = [
        ("a", long),
        ("b", long),                              # exact dup
        ("c", long.replace("word20", "wordXX")),  # hamming-near dup
        ("d", "totally different thing entirely"),
    ]
    norm, sigs = _norm_sig(spark, rows)
    bands = build_bands(norm, sigs)
    pairs = _str_pairs(candidate_pairs(bands), _cidmap(norm))
    assert ("a", "b") in pairs
    assert ("a", "c") in pairs or ("b", "c") in pairs
    assert not any("d" in p for p in pairs)


def test_exact_groups_use_linear_star_edges(spark):
    # 50 identical rows: full pairwise would be 1225 pairs; star = 49.
    rows = [(f"c{i:03d}", "identical transcript text") for i in range(50)]
    norm, sigs = _norm_sig(spark, rows)
    bands = build_bands(norm, sigs)
    pairs = candidate_pairs(bands).collect()
    exact_pairs = [p for p in pairs if p.det == "exact"]
    assert len(exact_pairs) == 49
    m = _cidmap(norm)
    hubs = {m[p.a] for p in exact_pairs}
    # star shape: ONE hub (the min-cid member — hub identity is an
    # arbitrary deterministic pick; linearity is the contract)
    assert len(hubs) == 1 and hubs <= {f"c{i:03d}" for i in range(50)}


def test_hot_band_cap_stars_and_logs(spark):
    rows = [(f"h{i:03d}", f"shared prefix words number{i}") for i in range(30)]
    norm, sigs = _norm_sig(spark, rows)
    bands = build_bands(norm, sigs)
    metrics = []
    pairs = candidate_pairs(
        bands,
        band_group_cap=5,
        metrics_sink=lambda n, v, **t: metrics.append((n, v)),
    )
    n_pairs = pairs.count()
    # hot accounting rides the caller's own pass (deferred Observation);
    # a direct consumer flushes it explicitly (CheckpointStore.write
    # does this automatically).
    from simhash_spark.util import flush_deferred_metrics

    flush_deferred_metrics(pairs)
    # cap=5 on 30 near-identical rows: no O(n^2) blowup (<< 435 full pairs
    # per band x 30+ shared bands), and drops were logged.
    assert n_pairs < 500
    logged = dict(metrics)
    assert logged.get("lsh_hot_band_groups", 0) > 0
    assert logged.get("lsh_hot_band_rows_starred", 0) > 0


def test_max_pairs_per_group_stars_and_logs(spark):
    # 30 near-identical rows share bands of size ~30 -> 435 pairs/group;
    # a pair cap of 50 must divert those groups to linear star edges.
    rows = [(f"h{i:03d}", f"shared prefix words number{i}") for i in range(30)]
    norm, sigs = _norm_sig(spark, rows)
    bands = build_bands(norm, sigs)
    metrics = []
    capped_df = candidate_pairs(
        bands,
        band_group_cap=10_000,          # row cap NOT hit
        max_pairs_per_group=50,         # pair cap IS hit
        metrics_sink=lambda n, v, **t: metrics.append((n, v)),
    )
    capped = capped_df.collect()
    from simhash_spark.util import flush_deferred_metrics

    flush_deferred_metrics(capped_df)
    uncapped = candidate_pairs(bands, band_group_cap=10_000).count()
    assert len(capped) < uncapped
    assert any(p.starred == 1 for p in capped)
    logged = dict(metrics)
    assert logged.get("lsh_hot_band_groups", 0) > 0


def _mk_bkey(det_id: int, band_id: int, band_hash: int) -> int:
    """Python-side twin of lsh._pack_bkey (two's-complement wrap)."""
    v = (det_id << 62) | (band_id << 57) | (band_hash & ((1 << 57) - 1))
    return v - (1 << 64) if v >= (1 << 63) else v


def test_source_gate_drops_unverifiable_pairs_and_logs(spark, tmp_path):
    # Hand-crafted band table: (x,y) share ONE mh band (mh_hits=1 — can
    # never pass the tier-2 jaccard gate), (g,h) share ONE gram
    # (gram_hits=1 < gram_hits_min), (p,q) share TWO mh bands (kept).
    rows = [
        ("x", _mk_bkey(2, 0, 111)), ("y", _mk_bkey(2, 0, 111)),
        ("g", _mk_bkey(3, 0, 222)), ("h", _mk_bkey(3, 0, 222)),
        ("p", _mk_bkey(2, 1, 333)), ("q", _mk_bkey(2, 1, 333)),
        ("p", _mk_bkey(2, 2, 444)), ("q", _mk_bkey(2, 2, 444)),
    ]
    bands = spark.createDataFrame(rows, "clip_id string, bkey long")
    ungated = {(r.a, r.b) for r in candidate_pairs(bands, gate=False).collect()}
    assert ungated == {("x", "y"), ("g", "h"), ("p", "q")}
    gated = {(r.a, r.b) for r in candidate_pairs(bands).collect()}
    assert gated == {("p", "q")}

    # The drop count is an Observation riding the caller's own
    # materialization (no extra job); CheckpointStore.write flushes it.
    from simhash_spark.sources.tableio import CheckpointStore

    metrics = []
    pairs = candidate_pairs(
        bands, metrics_sink=lambda n, v, **t: metrics.append((n, v, t))
    )
    CheckpointStore(spark, str(tmp_path / "gate-ckpt")).write("candidate_pairs", pairs)
    logged = [(n, v) for n, v, _ in metrics if n == "ungated_pairs_dropped"]
    assert logged == [("ungated_pairs_dropped", 2)]


def test_candidate_pairs_explicit_partitioning(spark):
    # north_rule: explicit partition counts — the band keys must be
    # hash-repartitioned to the requested count before the self-join.
    rows = [(f"p{i:02d}", f"text body {i} with shared shingles") for i in range(12)]
    norm, sigs = _norm_sig(spark, rows)
    bands = build_bands(norm, sigs)
    plan = candidate_pairs(bands, partitions=7)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(bkey" in plan and ", 7)" in plan


def test_connected_components_known_graphs(spark):
    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "d"),   # chain -> one component
            ("x", "y"),                            # separate pair
            ("m", "n"), ("n", "o"), ("m", "o"),   # triangle
        ],
        "a string, b string",
    )
    labels = {r.clip_id: r.cluster_id for r in connected_components(edges).collect()}
    assert labels == {
        "a": "a", "b": "a", "c": "a", "d": "a",
        "x": "x", "y": "x",
        "m": "m", "n": "m", "o": "m",
    }


def test_assign_clusters_singletons(spark):
    all_ids = spark.createDataFrame([("a",), ("b",), ("z",)], "clip_id string")
    cc = spark.createDataFrame([("a", "a"), ("b", "a")], "clip_id string, cluster_id string")
    got = {r.clip_id: r.cluster_id for r in assign_clusters(all_ids, cc).collect()}
    assert got == {"a": "a", "b": "a", "z": "z"}


def test_cc_converges_on_long_chain(spark):
    n = 33
    edges = spark.createDataFrame(
        [(f"v{i:02d}", f"v{i+1:02d}") for i in range(n - 1)], "a string, b string"
    )
    labels = connected_components(edges, max_iters=n + 2).collect()
    assert {r.cluster_id for r in labels} == {"v00"}


def test_cc_durable_checkpoint_and_resume(spark, tmp_path):
    """Kill mid-loop (max_iters exhausted) -> the durable labels table is
    committed; a second call RESUMES from it and converges to the exact
    fixpoint."""
    from simhash_spark.sources.tableio import CheckpointStore

    n = 12
    edges = spark.createDataFrame(
        [(f"v{i:02d}", f"v{i+1:02d}") for i in range(n - 1)], "a string, b string"
    )
    store = CheckpointStore(spark, str(tmp_path / "cc"))
    metrics = []
    sink = lambda name, v, **t: metrics.append((name, v))
    import pytest

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            edges, max_iters=3, store=store, checkpoint_every=1, metrics_sink=sink
        )
    assert store.is_committed("cc_labels")  # survived the "crash"
    partial = {r.id: r.comp for r in store.read("cc_labels").collect()}
    assert any(v != k for k, v in partial.items())  # progress was saved

    metrics.clear()
    labels = connected_components(
        edges, max_iters=n + 2, store=store, checkpoint_every=3, metrics_sink=sink
    ).collect()
    assert {r.cluster_id for r in labels} == {"v00"}
    assert ("cc_resume", 1) in metrics  # continued from the checkpoint
    # resumed run needs fewer rounds than a fresh one (3 already done)
    rounds = sum(1 for name, _ in metrics if name == "cc_changed")
    assert rounds <= n - 3


def _persistent_rdd_ids(sc) -> set:
    ids = set()
    it = sc._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        ids.add(it.next()._1())
    return ids


def test_cc_frees_localcheckpoints_when_store_backed(spark, tmp_path):
    from simhash_spark.sources.tableio import CheckpointStore

    before = _persistent_rdd_ids(spark.sparkContext)
    edges = spark.createDataFrame(
        [(f"w{i}", f"w{i+1}") for i in range(6)], "a string, b string"
    )
    store = CheckpointStore(spark, str(tmp_path / "ccfree"))
    connected_components(edges, store=store).collect()
    leaked = _persistent_rdd_ids(spark.sparkContext) - before
    assert leaked == set()


def test_cc_cleanup_spares_concurrent_caches(spark, tmp_path):
    """CC's round cleanup must unpersist ONLY its own localCheckpoints:
    a DataFrame another component persisted (or localCheckpointed) while
    CC iterates must stay cached and readable (ADVICE r2 — the global
    getPersistentRDDs set-diff attributed bystander blocks to 'this
    round' and dropped them)."""
    from simhash_spark.sources.tableio import CheckpointStore

    before = _persistent_rdd_ids(spark.sparkContext)
    bystander = spark.range(100).toDF("v").persist()
    assert bystander.count() == 100  # materialize the cache
    side_ckpt = spark.range(50).toDF("w").localCheckpoint()
    assert side_ckpt.count() == 50
    # track ONLY the RDDs this test created: earlier tests' leftover
    # blocks hold no live references, so the ContextCleaner may drop
    # them at any JVM GC mid-run — asserting on the full persistent set
    # is flaky by construction.
    ours = _persistent_rdd_ids(spark.sparkContext) - before

    edges = spark.createDataFrame(
        [(f"x{i}", f"x{i+1}") for i in range(8)], "a string, b string"
    )
    store = CheckpointStore(spark, str(tmp_path / "ccspare"))
    connected_components(edges, store=store).collect()

    still = _persistent_rdd_ids(spark.sparkContext)
    assert ours <= still  # nothing of ours was dropped
    assert bystander.storageLevel.useMemory  # still marked persistent
    assert side_ckpt.count() == 50  # localCheckpoint data still readable
    bystander.unpersist()


def _hot_metrics(bands, band_group_cap):
    """lsh_hot_band_groups / lsh_hot_band_rows_starred as candidate_pairs
    reports them after one materialization of its output."""
    from simhash_spark.util import flush_deferred_metrics

    metrics = {}
    df = candidate_pairs(
        bands,
        band_group_cap=band_group_cap,
        metrics_sink=lambda n, v, **t: metrics.setdefault(n, v),
    )
    df.count()
    flush_deferred_metrics(df)
    return metrics["lsh_hot_band_groups"], metrics["lsh_hot_band_rows_starred"]


def _hot_truth(bands, band_group_cap):
    """The same two numbers from a plain groupBy count over the band
    table: non-exact groups over the cap, and their rows."""
    hot = (
        bands.groupBy("bkey")
        .count()
        .filter(
            (F.shiftrightunsigned("bkey", 62) != 0) & (F.col("count") > band_group_cap)
        )
        .agg(F.count("*").alias("groups"), F.sum("count").alias("rows"))
        .first()
    )
    return hot["groups"], hot["rows"] or 0


def test_hot_stats_deferred_matches_eager(spark):
    """The Observation-riding hot-band accounting equals a groupBy count
    of the over-cap groups computed here."""
    rows = [(f"h{i:03d}", f"shared prefix words number{i}") for i in range(30)]
    norm, sigs = _norm_sig(spark, rows)
    bands = build_bands(norm, sigs)
    got = _hot_metrics(bands, 5)
    assert got == _hot_truth(bands, 5)
    assert got[0] > 0 and got[1] > got[0]


def test_hot_stats_exact_at_a_million_groups(spark):
    """Integer accounting holds at >= 10^6 hot groups: a UDF-free band
    table of 10^6 mh groups of 3 rows plus 10^5 gram groups of 2 rows,
    every one forced onto the star path by band_group_cap=1, and exact
    groups (never counted as hot) alongside."""
    n_mh, n_gram, n_exact = 1_000_000, 100_000, 1_000
    def det_key(det_id, group):
        return F.shiftleft(F.lit(det_id).cast("long"), 62).bitwiseOR(group.cast("long"))

    mh = spark.range(3 * n_mh).select(
        F.col("id").alias("cid"), det_key(2, F.col("id") / 3).alias("bkey")
    )
    gram = spark.range(2 * n_gram).select(
        (F.col("id") + 10 * n_mh).alias("cid"), det_key(3, F.col("id") / 2).alias("bkey")
    )
    exact = spark.range(2 * n_exact).select(
        F.col("id").alias("cid"), (F.col("id") % n_exact).alias("bkey")
    )
    bands = mh.unionByName(gram).unionByName(exact)
    want = (n_mh + n_gram, 3 * n_mh + 2 * n_gram)
    assert _hot_truth(bands, 1) == want
    assert _hot_metrics(bands, 1) == want


def test_cc_driver_fastpath_matches_loop(spark, tmp_path):
    """r6: the n_edges_hint-gated driver union-find must produce labels
    identical to the iterative loop, including min-string-id semantics
    and the durable store commit."""
    from simhash_spark.sources.tableio import CheckpointStore

    edge_rows = (
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("m", "n"), ("n", "o"), ("m", "o")]
        + [(f"v{i:02d}", f"v{i+1:02d}") for i in range(12)]
    )
    edges = spark.createDataFrame(edge_rows, "a string, b string")
    loop = {r.clip_id: r.cluster_id for r in connected_components(edges).collect()}
    fast = {
        r.clip_id: r.cluster_id
        for r in connected_components(edges, n_edges_hint=len(edge_rows)).collect()
    }
    assert fast == loop

    # store-backed: labels committed durably, readable after the run
    store = CheckpointStore(spark, str(tmp_path / "ccfast"))
    metrics = []
    out = connected_components(
        edges,
        store=store,
        n_edges_hint=len(edge_rows),
        metrics_sink=lambda n, v, **t: metrics.append((n, v)),
    )
    assert {r.clip_id: r.cluster_id for r in out.collect()} == loop
    assert store.is_committed("cc_labels")
    assert any(n == "cc_fastpath_edges" for n, _ in metrics)

    # resume: a committed (partial) labels table is folded in exactly
    store2 = CheckpointStore(spark, str(tmp_path / "ccfast2"))
    partial = spark.createDataFrame(
        [("b", "a"), ("c", "b")], "id string, comp string"
    )
    store2.write("cc_labels", partial)
    metrics2 = []
    out2 = connected_components(
        edges,
        store=store2,
        n_edges_hint=len(edge_rows),
        metrics_sink=lambda n, v, **t: metrics2.append((n, v)),
    )
    assert {r.clip_id: r.cluster_id for r in out2.collect()} == loop
    assert ("cc_resume", 1) in metrics2

    # over-ceiling hint falls back to the loop (no driver collect)
    import simhash_spark.operators.cc as cc_mod

    old = cc_mod.CC_DRIVER_MAX_EDGES
    try:
        cc_mod.CC_DRIVER_MAX_EDGES = 3
        out3 = {
            r.clip_id: r.cluster_id
            for r in connected_components(edges, n_edges_hint=len(edge_rows)).collect()
        }
        assert out3 == loop
    finally:
        cc_mod.CC_DRIVER_MAX_EDGES = old
