#!/usr/bin/env python
"""Order-balanced 2<->8 scaling pairs at a LARGER corpus (crash-safe).

The shipped-engine N->4N verdict (BENCH/BASELINE.md) is measured at 2M
rows, where it reads 0.765 against the host's 1.34x CPU-inflation
ceiling. This runner re-scores the same pair at 4x the data (default
8M rows, sharded corpus tiling the fixed 500k-row distribution, see
synth.write_clips_parquet_sharded) to separate the two candidate causes:

- if the ratio RISES toward/past 0.8, the 2M shortfall was partly
  fixed per-leg overhead (startup, stage commits) that more work
  amortizes away;
- if the ratio HOLDS ~0.765 independent of corpus size, that is one
  more line of evidence that the ceiling is the host's memory
  bandwidth (a per-instruction-stream property, size-invariant), not
  the plan.

Legs run in the given order (default 8,2,2,8 — one pair in each leg
order so box drift cancels), fresh JVM per leg, tmpfs everywhere,
persisted after every leg so a dead session resumes where it stopped.

Usage: python bin/big_scaling_pair.py [--rows 8000000] [--legs 8,2,2,8]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "bin"))

from scaling_bench import run_at  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=8_000_000)
    ap.add_argument("--legs", default="8,2,2,8")
    ap.add_argument("--shard-rows", type=int, default=500_000)
    ap.add_argument("--gen-workers", type=int, default=4)
    ap.add_argument("--tag", default="2to8")
    args = ap.parse_args()

    from simhash_spark.sources.synth import write_clips_parquet_sharded

    cache = "/dev/shm/simhash-bench-clips"
    ckpt_base = "/dev/shm/simhash-bench-ckpt"
    local_dir = "/dev/shm/simhash-bench-local"
    for d in (ckpt_base, local_dir):
        os.makedirs(d, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", local_dir)

    corpus = os.path.join(
        cache, f"datascale-n{args.rows}-shard{args.shard_rows}-seed42"
    )
    clips_path = os.path.join(corpus, "clips.parquet")
    marker = os.path.join(corpus, "_DONE")
    if not os.path.exists(marker):
        print(f"generating n={args.rows} (sharded x{args.shard_rows}) ...",
              file=sys.stderr)
        t0 = time.time()
        write_clips_parquet_sharded(
            corpus,
            args.rows,
            shard_rows=args.shard_rows,
            workers=args.gen_workers,
            dur_ms_range=(100, 200),
        )
        open(marker, "w").write("ok")
        print(f"generated in {time.time() - t0:.0f}s", file=sys.stderr)

    out_path = os.path.join(
        REPO, "BENCH", f"scaling-{args.tag}-n{args.rows}-shm.json"
    )
    legs = []
    if os.path.exists(out_path):
        legs = json.load(open(out_path)).get("legs", [])
    seq = [int(c) for c in args.legs.split(",")]
    for i, cores in enumerate(seq):
        if i < len(legs):
            print(f"leg {i} local[{cores}] already recorded, skipping",
                  file=sys.stderr)
            continue
        print(f"leg {i}: local[{cores}] ...", file=sys.stderr)
        r = run_at(cores, clips_path, ckpt_base, None, args.rows)
        r["order"] = i
        legs.append(r)
        _write(out_path, args, legs)
        print(json.dumps({k: r[k] for k in ("cores", "wall_sec", "rows_per_sec",
                                            "gc_sec", "host_steal_pct")}),
              file=sys.stderr)
    _write(out_path, args, legs)
    print(json.dumps(json.load(open(out_path))["pairs"], indent=1))


def _write(out_path: str, args, legs: list) -> None:
    # pair legs in arrival order: consecutive (8,2) or (2,8) -> one pair
    pairs = []
    i = 0
    while i + 1 < len(legs):
        a, b = legs[i], legs[i + 1]
        lo, hi = (a, b) if a["cores"] < b["cores"] else (b, a)
        if lo["cores"] * 4 == hi["cores"]:
            eff = (lo["wall_sec"] / hi["wall_sec"]) / 4.0
            pairs.append(
                {
                    "order": f"{a['cores']}-first",
                    "t_low": round(lo["wall_sec"], 1),
                    "t_high": round(hi["wall_sec"], 1),
                    "efficiency": round(eff, 3),
                }
            )
            i += 2
        else:
            i += 1
    with open(out_path, "w") as f:
        json.dump(
            {
                "protocol": "order-balanced 2<->8 pairs, sharded tiled corpus, "
                "data-sized partitions, tmpfs corpus+ckpt+local.dir, fresh JVM "
                "per leg",
                "rows": args.rows,
                "pairs": pairs,
                "legs": legs,
            },
            f,
            indent=1,
        )
        f.write("\n")


if __name__ == "__main__":
    main()
