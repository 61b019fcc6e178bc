#!/usr/bin/env python
"""Hot-band skew drill at bench scale (VERDICT r4 #3).

The star/cap machinery (operators/lsh.py: band_group_cap,
max_pairs_per_group, star edges, source-side gating) is pytest-proven at
toy scale. This drill plants a PATHOLOGICAL corpus at bench scale and
shows candidate generation stays LINEAR:

  skewed corpus = the cached uniform 2M synth corpus with
    - 15%% of rows' transcripts replaced by ONE identical boilerplate
      paragraph (one ~300k-row mega-group in EVERY detector: exact,
      sim, every minhash band, every sampled gram), and
    - 5%% replaced by the empty string (the all-empty-signature band),
  chosen deterministically by clip_id hash. Audio bytes are irrelevant
  (the pipeline column-prunes them), so both legs run on 2-column
  (clip_id, transcript) tables and the drill costs MBs, not GBs.

Both corpora run the full pipeline back-to-back, interleaved
(s,u,u,s), fresh JVM per leg. PASS = the skewed legs' candidate_pairs
stage wall is within ~2x of uniform (a 300k-row band would emit 4.5e10
pairs if enumerated — linearity means the caps fired), with the star
diversions visible in the metrics table, never silent.

Usage: python bin/skew_bench.py --rows 2000000 --cores 32 --shm
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LEG = r"""
import json, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from simhash_spark.session import get_spark
from simhash_spark.config import EngineConfig
from simhash_spark.plans.pipeline import DedupPipeline

spark = get_spark(app="skew-{leg}", master="local[{cores}]",
                  shuffle_partitions={sp},
                  extra={{"spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024)}})
clips = spark.read.parquet({corpus!r})
ckpt = tempfile.mkdtemp(prefix="skew-ckpt-", dir={ckpt_base!r})
try:
    t0 = time.time()
    pipe = DedupPipeline(spark, ckpt, EngineConfig(partitions={sp}, collect_stats=True))
    clusters = pipe.run(clips)
    n_clusters = clusters.select("cluster_id").distinct().count()
    wall = time.time() - t0
    walls = {{}}
    import glob, os as _os
    for m in glob.glob(_os.path.join(ckpt, "*", "MANIFEST.json")):
        d = json.load(open(m))
        walls[_os.path.basename(_os.path.dirname(m))] = round(d.get("wall_sec", 0.0), 1)
    metrics = [m for m in pipe.store.metrics()
               if m["metric"] in ("lsh_hot_band_groups",
                                   "lsh_hot_band_rows_starred",
                                   "ungated_pairs_dropped",
                                   "candidate_pairs_rows")]
    n_pairs = pipe.store.read("candidate_pairs").count()
    print("RESULT " + json.dumps({{
        "leg": "{leg}", "wall_sec": round(wall, 1), "stage_walls": walls,
        "candidate_pairs": n_pairs, "clusters": n_clusters,
        "metrics": metrics,
    }}))
finally:
    shutil.rmtree(ckpt, ignore_errors=True)
"""


def prepare_corpora(src: str, base: str, rows: int) -> tuple[str, str]:
    """2-column uniform + skewed corpora derived from the cached corpus."""
    import duckdb

    uni = os.path.join(base, f"skew-uniform-n{rows}")
    skew = os.path.join(base, f"skew-skewed-n{rows}")
    boiler = (
        "this is the shared boilerplate paragraph that appears verbatim in a "
        "huge fraction of the corpus rows and therefore floods one band group "
        "of every detector simhash minhash and substring alike with the same "
        "key over and over again"
    )
    src_glob = os.path.join(src, "clips.parquet")
    if os.path.isdir(src_glob):
        src_glob = os.path.join(src_glob, "*.parquet")
    if not (
        os.path.exists(os.path.join(uni, "_DONE"))
        and os.path.exists(os.path.join(skew, "_DONE"))
    ):
        con = duckdb.connect()
        os.makedirs(uni, exist_ok=True)
        os.makedirs(skew, exist_ok=True)
        con.execute(
            f"copy (select clip_id, transcript from read_parquet('{src_glob}')) "
            f"to '{uni}/clips.parquet' (format parquet, row_group_size 131072)"
        )
        con.execute(
            f"""copy (
                select clip_id,
                       case when hash(clip_id) % 100 < 15 then '{boiler}'
                            when hash(clip_id) % 100 < 20 then ''
                            else transcript end as transcript
                from read_parquet('{src_glob}')
            ) to '{skew}/clips.parquet' (format parquet, row_group_size 131072)"""
        )
        open(os.path.join(uni, "_DONE"), "w").close()
        open(os.path.join(skew, "_DONE"), "w").close()
    return uni, skew


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=2_000_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--shm", action="store_true")
    ap.add_argument("--src", default=None, help="cached synth corpus dir")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from simhash_spark.config import partitions_for_rows

    cache = "/dev/shm/simhash-bench-clips" if args.shm else "/tmp/simhash-bench-clips"
    src = args.src or os.path.join(cache, f"scaling-n{args.rows}-seed42")
    base = "/dev/shm/simhash-skew" if args.shm else "/tmp/simhash-skew"
    os.makedirs(base, exist_ok=True)
    uni, skew = prepare_corpora(src, base, args.rows)
    sp = partitions_for_rows(args.rows, floor=8)

    results = []
    for leg, corpus in (("skew", skew), ("uniform", uni), ("uniform", uni), ("skew", skew)):
        code = LEG.format(
            repo=REPO,
            leg=leg,
            cores=args.cores,
            sp=sp,
            corpus=os.path.join(corpus, "clips.parquet"),
            ckpt_base=base,
        )
        print(f"leg: {leg} ...", file=sys.stderr)
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, timeout=7200
        )
        if out.returncode != 0:
            raise RuntimeError(f"{leg} leg failed:\n{out.stderr[-3000:]}")
        for line in out.stdout.splitlines():
            if line.startswith("RESULT "):
                r = json.loads(line[len("RESULT ") :])
                results.append(r)
                print(f"  {json.dumps(r)[:300]}", file=sys.stderr)
                break
        else:
            raise RuntimeError(f"{leg} leg printed no RESULT:\n{out.stderr[-2000:]}")

    def med(leg, key):
        vals = sorted(r["stage_walls"].get(key, 0) for r in results if r["leg"] == leg)
        return vals[len(vals) // 2]

    report = {
        "mode": "skew-drill",
        "rows": args.rows,
        "cores": args.cores,
        "partitions": sp,
        "skew_mix": {"boilerplate_pct": 15, "empty_pct": 5},
        "legs": results,
        "cp_wall_skew_vs_uniform": [
            med("skew", "candidate_pairs"),
            med("uniform", "candidate_pairs"),
        ],
        "pipeline_wall_skew_vs_uniform": [
            sorted(r["wall_sec"] for r in results if r["leg"] == "skew"),
            sorted(r["wall_sec"] for r in results if r["leg"] == "uniform"),
        ],
        "ts": time.time(),
    }
    out_path = args.out or os.path.join(REPO, "BENCH", f"skew-n{args.rows}.json")
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
