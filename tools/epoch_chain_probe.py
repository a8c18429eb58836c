"""Evidence that per-epoch cost stays FLAT as the table grows — the
merge-on-read property the delta-tier sink exists for.

Replays N epochs of fresh events into one growing table and prints, per
epoch: wall seconds, rows now in the table, delta dirs on disk, and the
max delta-chain length across buckets. Under the pre-round-3 design every
epoch re-read and re-wrote every touched bucket, so epoch wall grew with
table size; with delta appends + bounded compaction it is flat up to host
weather (chain length never exceeds max_deltas + 1).

Usage: python tools/epoch_chain_probe.py [--epochs 12] [--events 50000]
       [--cores 8]
Prints one JSON line at the end with the per-epoch walls and the
first-half vs second-half mean ratio (~1.0 = flat; the old design trends
well above 1 as state accumulates).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--epochs", type=int, default=12)
    ap.add_argument("--events", type=int, default=50_000)
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args()

    from nifi_daffodil_spark.config import EngineConfig
    from nifi_daffodil_spark.engine import CdcEngine
    from nifi_daffodil_spark.fixtures.walgen import WalSpec, generate_wal
    from nifi_daffodil_spark.session import build_session
    from nifi_daffodil_spark.sinks.parquet_state import ParquetStateSink
    from nifi_daffodil_spark.sources.wal import read_wal_batch

    spark = build_session(app_name="epoch-chain-probe", cores=args.cores)
    root = tempfile.mkdtemp(prefix="epoch_chain_")
    sink = ParquetStateSink(spark, root, n_buckets=32)
    eng = CdcEngine(spark, sink, EngineConfig(n_buckets=32))

    walls = []
    try:
        for e in range(args.epochs):
            # fresh deterministic events per epoch: DISTINCT conv namespace
            # per epoch so the table genuinely grows (worst case for the old
            # rewrite design: every bucket stays touched and keeps growing)
            wal_dir = os.path.join(root, f"wal{e}")
            man = generate_wal(
                wal_dir,
                WalSpec(n_events=args.events, n_convs=400, seed=1000 + e,
                        n_segments=2, text_len=300),
            )
            paths = man["v0"] + man["v1"]
            df = read_wal_batch(spark, man["v0"], "v0").unionByName(
                read_wal_batch(spark, man["v1"], "v1")
            ) if man["v1"] else read_wal_batch(spark, paths, "v0")
            # prefix conv ids per epoch so state accumulates
            from pyspark.sql import functions as F

            df = df.withColumn(
                "conv_id", F.concat(F.lit(f"e{e}-"), F.col("conv_id"))
            )
            t0 = time.monotonic()
            st = eng.process_batch(df, e)
            wall = time.monotonic() - t0
            walls.append(round(wall, 2))
            m = sink._read_manifest()
            chains = [len(ent.get("deltas", [])) for ent in m["buckets"].values()]
            runs = [len(ent.get("runs", [])) for ent in m["buckets"].values()]
            n_deltas = len({d for ent in m["buckets"].values() for d in ent["deltas"]})
            print(
                f"epoch {e}: wall={wall:.2f}s rows_in={st.rows_in} "
                f"max_l0_chain={max(chains) if chains else 0} "
                f"max_l1_runs={max(runs) if runs else 0} "
                f"delta_dirs={n_deltas}",
                flush=True,
            )
        half = len(walls) // 2
        ratio = (sum(walls[half:]) / (len(walls) - half)) / (
            sum(walls[:half]) / half
        )
        table_rows = sink.read_transcripts().count()
        print(json.dumps({
            "epochs": args.epochs,
            "events_per_epoch": args.events,
            "walls_sec": walls,
            "second_half_over_first_half": round(ratio, 3),
            "final_table_rows": table_rows,
            "max_chain_bound": sink.max_deltas + 1,
        }))
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
