#!/usr/bin/env python3
"""Benchmark of the safeascent_spark engine: one seeded workload per run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 25 --trace 0

Run from the root of a checkout of the repository.  The run pins Spark to
this machine (``local[<cores>]``, a JVM heap below physical memory,
scratch directories inside ``perfbench/.runs``), builds or reuses the
seeded input tables in ``perfbench/.data``, sets up the workload's tables,
runs the workload for ``--seconds``, checks its outputs and prints one JSON
line last: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, the per-layer ones
with ``--trace 1``.  The line before it holds the workload's detailed
figures; a traced run also writes its spans to ``perfbench/.out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

T_START = time.perf_counter()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / ".data"
RUNS = HERE / ".runs"
OUT = HERE / ".out"

# Input tables per workload: (dataset name, TPC-H scale factor).  The
# tables are generated once per checkout from a fixed seed; the run's
# --seed picks dates, keys, buckets and request order over them.
DATASETS = {"nightly": ("sf0.1", 0.1), "serve": ("sf0.01", 0.01)}
DATA_SEED = 20240615


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(DATASETS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def pin_resources(run_dir: Path) -> dict:
    """Environment for the engine's session and every process it starts:
    all cores of this machine, a JVM heap below physical memory and
    every scratch directory inside ``run_dir``."""
    cores = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap_mb = max(1024, min(2048, phys_mb // 4))
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf spark.sql.warehouse.dir={run_dir / 'warehouse'}",
            "--conf spark.ui.showConsoleProgress=false",
            # the heap starts at its maximum, so the JVM's resident set
            # does not depend on when the heap happened to grow; no
            # hsperfdata under /tmp; JVM temp files under the run dir
            f"--driver-java-options '-Xms{heap_mb}m -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}'",
            "pyspark-shell"]),
    }
    os.environ.update(env)
    return {"cores": cores, "physical_mb": phys_mb, "heap_mb": heap_mb}


def dataset(workload: str) -> tuple[Path, float]:
    """The workload's input tables, generated on first use and verified by
    row counts on reuse."""
    import gen_data
    name, sf = DATASETS[workload]
    d = DATA / name
    built = 0.0
    if not gen_data.verify(d, sf):
        t0 = time.perf_counter()
        gen_data.write_dataset(d, sf, DATA_SEED)
        built = time.perf_counter() - t0
        if not gen_data.verify(d, sf):
            raise RuntimeError(f"generated tables in {d} fail verification")
    return d, built


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sets (VmHWM) of the given processes."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def stop_engine(run) -> None:
    """Record the peak memory of this process and the JVM, then stop Spark
    and wait for the JVM to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    run.extra["peak_rss_mb"] = peak_rss_mb(
        [os.getpid()] + ([proc.pid] if proc else []))
    run.stop_session()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    args = parse_args()
    # a terminated run still stops the JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "safeascent_spark").is_dir():
        print(f"no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    run_dir = RUNS / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        resources = pin_resources(run_dir)
        data_dir, build_s = dataset(args.workload)
        import metrics
        import tracer
        import workloads
        tr = tracer.Tracer(enabled=bool(args.trace))
        run = workloads.Run(seed=args.seed, seconds=args.seconds,
                            data_dir=data_dir, run_dir=run_dir, tracer=tr)
        try:
            workloads.WORKLOADS[args.workload](run)
            sc = run.spark.sparkContext
            resources.update(master=sc.master,
                             default_parallelism=sc.defaultParallelism)
        finally:
            t_stop = time.perf_counter()
            stop_engine(run)
            run.extra["stop_s"] = time.perf_counter() - t_stop
        if args.trace:
            tr.write(OUT / f"trace-{args.workload}-{args.seed}.json")
        result = metrics.report(args.workload, run, tr, bench,
                                bool(args.trace))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    detail = {"workload": args.workload, "seed": args.seed,
              "resources": resources, "input_build_s": build_s,
              "wall_s": time.perf_counter() - T_START,
              **result.pop("detail")}
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
