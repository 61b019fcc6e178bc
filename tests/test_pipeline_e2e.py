"""End-to-end pipeline: recall >= 0.99 vs the reference encoder's pairs,
resume idempotency, pass-through invariant (SURVEY.md §5.2 items 3-5)."""

import json
import os

import pytest

from simhash_spark import reference as R
from simhash_spark.config import EngineConfig
from simhash_spark.functions.audio import check_passthrough
from simhash_spark.plans.pipeline import STAGES, DedupPipeline


@pytest.fixture(scope="module")
def pipeline_run(spark, clips_small, tmp_path_factory):
    clips_pd, truth = clips_small
    clips = spark.createDataFrame(clips_pd)
    d = str(tmp_path_factory.mktemp("ckpt"))
    pipe = DedupPipeline(spark, d, EngineConfig(partitions=4))
    clusters = pipe.run(clips)
    return pipe, clips, clips_pd, truth, clusters


def test_recall_against_reference_encoder(pipeline_run):
    pipe, clips, clips_pd, truth, clusters = pipeline_run
    ids = clips_pd["clip_id"].tolist()
    ref = R.brute_force_dup_pairs(clips_pd["transcript"].tolist())
    ref_pairs = {tuple(sorted((ids[i], ids[j]))) for i, j in ref}
    found = {(r.a, r.b) for r in pipe.dup_pairs_from_clusters().collect()}
    recall = len(ref_pairs & found) / len(ref_pairs)
    assert len(ref_pairs) > 50  # the corpus must actually contain dups
    assert recall >= 0.99, f"recall={recall:.4f} missed={sorted(ref_pairs - found)[:5]}"


def test_every_clip_assigned_exactly_once(pipeline_run):
    _, clips, clips_pd, _, clusters = pipeline_run
    assert clusters.count() == len(clips_pd)
    assert clusters.select("clip_id").distinct().count() == len(clips_pd)


def test_resume_is_noop_and_identical(pipeline_run, spark):
    pipe, clips, *_ , clusters = pipeline_run
    before = sorted((r.clip_id, r.cluster_id) for r in clusters.collect())
    again = pipe.run(clips)
    after = sorted((r.clip_id, r.cluster_id) for r in again.collect())
    assert before == after


def test_resume_after_partial_failure(pipeline_run):
    pipe, clips, *_, clusters = pipeline_run
    before = sorted((r.clip_id, r.cluster_id) for r in clusters.collect())
    pipe.store.invalidate_from(STAGES, "verified_pairs")
    after = sorted((r.clip_id, r.cluster_id) for r in pipe.run(clips).collect())
    assert before == after


def test_semantics_mismatch_refused(pipeline_run):
    pipe, clips, *_ = pipeline_run
    mpath = os.path.join(pipe.store.base, "bands", "MANIFEST.json")
    m = json.load(open(mpath))
    m["semantics"]["num_perm"] = 1
    json.dump(m, open(mpath, "w"))
    with pytest.raises(RuntimeError, match="different signature semantics"):
        pipe.run(clips)
    # restore for other tests
    m["semantics"]["num_perm"] = 128
    json.dump(m, open(mpath, "w"))


def test_bytes_passthrough_invariant(pipeline_run, spark):
    """clusters joined back to the source leaves bytes/transcript
    untouched: decoded-PCM SNR >= 30 dB + transcript equality."""
    pipe, clips, *_ , clusters = pipeline_run
    # the engine's output view: cluster assignments re-joined to payload
    result = clusters.join(clips, "clip_id").select(
        "clip_id", "bytes", "transcript", "cluster_id"
    )
    violations = check_passthrough(clips, result, min_snr_db=30.0)
    assert violations.count() == 0


def test_lineage_and_metrics_written(pipeline_run):
    pipe, *_ = pipeline_run
    lineage_path = os.path.join(pipe.store.base, "_lineage.jsonl")
    events = [json.loads(line) for line in open(lineage_path)]
    committed = {e["stage"] for e in events if e["event"] == "stage_commit"}
    assert committed == set(STAGES)
    # per-file (per-partition) row counts present
    assert all(e["files"] for e in events if e["event"] == "stage_commit")
    metrics = pipe.store.metrics()
    names = {m["metric"] for m in metrics}
    assert {"lsh_hot_band_groups", "pipeline_wall_sec"} <= names
    # CC reports its work either way: per-round convergence metrics from
    # the iterative loop, or the bounded-graph driver fast path (r6).
    assert {"cc_changed", "cc_fastpath_edges"} & names


def test_string_id_key_matches_cid_default(pipeline_run, tmp_path, monkeypatch):
    """ID_KEY=clip_id (the string-keyed interior verify's collision guard
    names as its remediation) clusters the corpus exactly like the cid
    default."""
    import simhash_spark.config as C

    pipe, clips, *_, clusters = pipeline_run
    monkeypatch.setattr(C, "ID_KEY", "clip_id")
    monkeypatch.setitem(C.SEMANTICS, "id_key", "legacy-string")
    spipe = DedupPipeline(pipe.spark, str(tmp_path / "ckpt-str"), EngineConfig(partitions=4))
    got = spipe.run(clips)
    assert "cid" not in spipe.store.read("profile").columns
    assert dict(spipe.store.read("bands").dtypes)["clip_id"] == "string"
    want = sorted((r.clip_id, r.cluster_id) for r in clusters.collect())
    assert sorted((r.clip_id, r.cluster_id) for r in got.collect()) == want
