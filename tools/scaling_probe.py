"""Process-isolated CDC scaling probe (round-6 evidence; round-5 verdict #2).

The bench artifact's wall-scaling number has been measured for five rounds
with both parallelism levels inside ONE JVM (`local[n]`), where this
sandbox's syscall-interception tax punishes concurrent IO from a single
process (BASELINE.md "sandbox scaling protocol"; the artifact's io_control
exists to witness it). The north rule's actual claim is about N -> 4N
EXECUTORS. This probe runs the identical CDC replay under
`local-cluster[2,c,mem]` — two separate executor JVMs (separate OS
processes, separate syscall streams) on this host — at c=1 vs c=4 cores
per executor, i.e. 2 vs 8 total cores arriving as process-isolated
workers.

Evidence-only tooling: not used by bench.py (frozen), queries, tests or
the driver. Results are cited in OPTIMIZATION_r06.md.

Usage: python tools/scaling_probe.py [--events 2000000] [--runs 2]
Prints one JSON line:
  {"local_cluster": {"2x1": {...}, "2x4": {...}, "scaling_efficiency": E}}
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = r"""
import glob, json, os, sys, time
sys.path.insert(0, {repo!r})
for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(var, "1")
from pyspark.sql import SparkSession
from nifi_daffodil_spark.config import EngineConfig
from nifi_daffodil_spark.engine import CdcEngine
from nifi_daffodil_spark.sinks.parquet_state import ParquetStateSink
from nifi_daffodil_spark.sources.wal import read_wal_batch

n_exec = {n_exec}
cores = {cores}
wal = {wal!r}
root = {root!r}
# mirror build_session's tuning, but with PROCESS-ISOLATED executors:
# n_exec worker JVMs x `cores` cores each
spark = (
    SparkSession.builder.master(f"local-cluster[{{n_exec}},{{cores}},4096]")
    .appName(f"cdc-lc-{{n_exec}}x{{cores}}")
    .config("spark.executor.memory", "4g")
    .config("spark.executorEnv.PYTHONPATH", {repo!r})
    .config("spark.sql.shuffle.partitions", str(max(n_exec * cores * 2, 16)))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
    .config("spark.sql.files.maxPartitionBytes", "16777216")
    .config("spark.sql.files.openCostInBytes", "1048576")
    .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
    .config("spark.locality.wait", "0s")
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    .config("spark.hadoop.parquet.summary.metadata.level", "NONE")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("WARN")
v0 = sorted(glob.glob(os.path.join(wal, "v0", "*.parquet")))
v1 = sorted(glob.glob(os.path.join(wal, "v1", "*.parquet")))
sink = ParquetStateSink(spark, root, n_buckets=32)
eng = CdcEngine(spark, sink, EngineConfig(n_buckets=32))
eng.process_batch(read_wal_batch(spark, v0[:2], "v0"), 10_000)  # warm-up epoch
t0 = time.monotonic()
for i, (paths, ver) in enumerate([(v0[2:], "v0"), (v1, "v1")]):
    if paths:
        eng.process_batch(read_wal_batch(spark, paths, ver), i)
wall = time.monotonic() - t0
n = sum(s.extra.get("raw_events", 0) for s in eng.stats if s.epoch in (0, 1))
print(json.dumps({{"shape": f"{{n_exec}}x{{cores}}",
                  "total_cores": n_exec * cores,
                  "wall_sec": wall, "events": n,
                  "events_per_sec": n / wall}}))
spark.stop()
"""


def _run(shape: tuple[int, int], wal: str) -> dict:
    n_exec, cores = shape
    root = tempfile.mkdtemp(prefix=f"cdc_lc_{n_exec}x{cores}_")
    try:
        out = subprocess.run(
            [sys.executable, "-c",
             _WORKER.format(repo=REPO, n_exec=n_exec, cores=cores,
                            wal=wal, root=root)],
            capture_output=True, text=True, timeout=1200,
        )
        lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
        if not lines:
            raise RuntimeError(f"probe {n_exec}x{cores} failed: {out.stderr[-2000:]}")
        return json.loads(lines[-1])
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _shape(s: str) -> tuple[int, int]:
    a, b = s.split("x")
    return int(a), int(b)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--lo", type=_shape, default=(2, 1),
                    help="low level as ExC, e.g. 2x1")
    ap.add_argument("--hi", type=_shape, default=(2, 4),
                    help="high level as ExC, e.g. 2x4")
    args = ap.parse_args()
    sys.path.insert(0, REPO)
    from nifi_daffodil_spark.fixtures.walgen import WalSpec, generate_wal

    wal = os.path.join("/tmp", f"ndspark_bench_wal_ev{args.events}_t600")
    if not os.path.exists(os.path.join(wal, "_complete")):
        generate_wal(wal, WalSpec(n_events=args.events,
                                  n_convs=max(200, args.events // 200),
                                  turns_per_conv=50, n_segments=16, seed=42,
                                  hot_frac=0.2, text_len=600))
        open(os.path.join(wal, "_complete"), "w").write("ok")

    lo_cores = args.lo[0] * args.lo[1]
    hi_cores = args.hi[0] * args.hi[1]
    factor = hi_cores / lo_cores
    lo_key = f"{args.lo[0]}x{args.lo[1]}"
    hi_key = f"{args.hi[0]}x{args.hi[1]}"
    lo_s, hi_s = [], []
    for _ in range(args.runs):  # interleaved: weather hits both levels
        lo_s.append(_run(args.lo, wal))
        hi_s.append(_run(args.hi, wal))
        lo = min(lo_s, key=lambda s: s["wall_sec"])
        hi = min(hi_s, key=lambda s: s["wall_sec"])
        eff = (hi["events_per_sec"] / lo["events_per_sec"]) / factor
        print(json.dumps({
            "local_cluster": {
                lo_key: {"wall_sec": round(lo["wall_sec"], 2),
                         "events_per_sec": round(lo["events_per_sec"], 1),
                         "all_wall_sec": [round(s["wall_sec"], 2) for s in lo_s]},
                hi_key: {"wall_sec": round(hi["wall_sec"], 2),
                         "events_per_sec": round(hi["events_per_sec"], 1),
                         "all_wall_sec": [round(s["wall_sec"], 2) for s in hi_s]},
                "factor": factor,
                "scaling_efficiency": round(eff, 3),
                "events": lo["events"],
            }
        }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
