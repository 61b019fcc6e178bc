"""Dedup benchmark: one command, named workloads, correctness checks.

    python3 perfbench/run.py --workload batch_mixed --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a separate traced pass (spans are written to
``.perfbench/traces/``). Inputs are generated from ``--seed`` and cached
under ``.perfbench/cache/``; all scratch files stay under ``.perfbench/``.
``--size`` overrides the corpus rows (e.g. ``--size 200000 --seed 42`` on
``batch_mixed`` reproduces the bench.py clips corpus). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def _host_ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _pin_host(tmp: str) -> dict:
    """Core count, driver heap, scratch and worker paths for this run.
    The heap is sized to the host (30% of its RAM, 2-24 GB) unless
    SPARK_GRAFT_DRIVER_MEM is set: the engine's 24g default exceeds a
    small host's RAM."""
    cores = len(os.sched_getaffinity(0))
    ram = _host_ram_gb()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(24, max(2, int(ram * 0.3)))}g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, os.path.join(ROOT, "tests")]
        + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return {"nproc": cores, "ram_gb": round(ram, 1), "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"]}


def _git_head() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None)
    args = ap.parse_args()

    missing = [
        p
        for p in ("simhash_spark", "__spark_entry__.py", os.path.join("tests", "oracle_check.py"))
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    size = args.size or workloads.DEFAULT_SIZE[args.workload]

    os.makedirs(WORK, exist_ok=True)
    for name in os.listdir(WORK):  # scratch left by killed runs
        if name.startswith("run-") and not os.path.exists(f"/proc/{name.split('-')[1]}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    tmp = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=WORK)
    host = _pin_host(tmp)
    run = workloads.Run(WORK, args.seed, args.seconds, size, bool(args.trace))
    t0 = time.time()
    try:
        metrics = workloads.WORKLOADS[args.workload](run)
        prov = {
            **host,
            "spark": run.spark.version,
            "java": run.spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "git_head": _git_head(),
        }
        tracer = getattr(run, "tracer", None)
    finally:
        run.stop()
        shutil.rmtree(tmp, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    tag = f"{args.workload}-n{size}-s{args.seed}"
    if tracer is not None:
        tracer.dump(os.path.join(WORK, "traces", f"{tag}.json"))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            name: {"value": value, "unit": units[name]} for name, value in metrics.items()
        },
    }
    record = {"workload": args.workload, "size": size, "seed": args.seed,
              "trace": args.trace, "run_wall_s": time.time() - t0, "host": prov, **result}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{tag}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print("perfbench host: " + json.dumps(prov))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
