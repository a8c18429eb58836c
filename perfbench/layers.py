"""Per-layer metrics of the traced run, and what each one should move.

Layer names are the engine's module names. Every metric is tagged in
MOVES with the end-to-end metric and workload it should move, written
before any change is measured; "none" marks host readings.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import host, stats
from perfbench.cdc import BULK_EPOCH, materialize, read_bulk
from perfbench.catalog import COLD, WARM

_BOTH = "both workloads"
_E: dict[str, tuple[str, str]] = {
    # name: (unit, should move)
    "engine.epoch_s": ("s", f"ingest_events_per_s, {_BOTH}"),
    # the bulk epoch's span minus its sink.apply_batch child
    "engine.self_s": ("s", f"ingest_events_per_s, {_BOTH}"),
    "engine.jobs_per_epoch": ("count", f"lag_p50_s, {_BOTH}"),
    "engine.task_s_per_mevent": ("s", f"ingest_events_per_s, {_BOTH}"),
    "engine.util": ("ratio", f"ingest_events_per_s, {_BOTH}"),
    "engine.stream.batch_s": ("s", f"lag_p50_s, {_BOTH}"),
    "engine.stream.files_per_batch": ("count", f"lag_p50_s, {_BOTH}"),
    "engine.stream.queue_wait_s": ("s", f"lag_p50_s, {_BOTH}"),
    "engine.stream.lag_trend": ("ratio", "none: below 1 + bound means the offered rate is sustained"),
    "sources.wal.self_s": ("s", f"ingest_events_per_s, {_BOTH}; no change in lag_p50_s"),
    "sources.wal.input_bytes": ("B", f"ingest_events_per_s, {_BOTH}"),  # bulk WAL files
    "operators.validate.self_s": ("s", f"ingest_events_per_s, {_BOTH}; no change in lag_p50_s"),
    "operators.validate.quarantined": ("count", "none: exact count, a correctness witness"),
    "operators.dedup.self_s": ("s", "ingest_events_per_s, hot_key more than uniform; no change in lag_p50_s"),
    "operators.dedup.shuffle_bytes": ("B", f"ingest_events_per_s, {_BOTH}"),
    "operators.dedup.spill_bytes": ("B", f"ingest_events_per_s, {_BOTH}"),
    "operators.dedup.winner_ratio": ("ratio", "ingest_events_per_s, hot_key (fewer winners)"),
    "functions.normalize.self_s": ("s", f"ingest_events_per_s, {_BOTH}; no change in lag_p50_s"),
    "functions.normalize.python_bytes": ("B", f"ingest_events_per_s, {_BOTH}"),
    "sinks.parquet_state.apply_s": ("s", f"lag_p50_s, {_BOTH}"),
    "sinks.parquet_state.files_per_epoch": ("count", f"lag_p50_s, {_BOTH}"),
    "sinks.parquet_state.write_amp": ("ratio", f"lag_p50_s, {_BOTH}"),
    "sinks.parquet_state.folds_l1": ("count", f"lag_p50_s, {_BOTH}"),
    "sinks.parquet_state.folds_base": ("count", f"lag_p50_s, {_BOTH}"),
    # longest fold chain of the layout serve reads
    "sinks.parquet_state.max_chain": ("count", f"lookup_p50_s, {_BOTH}"),
    "sinks.parquet_state.lookup_s": ("s", f"lookup_p50_s, {_BOTH}"),
    "sinks.parquet_state.lookup_rows_scanned": ("ratio", f"lookup_p50_s, {_BOTH}"),
    "sinks.parquet_state.changes_s": ("s", f"changes_p50_s, {_BOTH}"),
    "sinks.parquet_state.scan_s": ("s", "none: full scans run in the traced run only"),
    "sinks.parquet_state.scan_rows_per_live_row": ("ratio", "sinks.parquet_state.scan_s"),
    "plans.driver_queries.warm_sum_s": ("s", "none: the catalog runs in the traced run only"),
    "plans.driver_queries.cold_sum_s": ("s", "none: the catalog runs in the traced run only"),
    "operators.text_dedup.candidate_pairs": ("count", "plans.driver_queries.cold_sum_s"),
    "operators.text_dedup.verified_pairs": ("count", "plans.driver_queries.cold_sum_s"),
    "operators.text_dedup.verify_yield": ("ratio", "plans.driver_queries.cold_sum_s"),
    "operators.text_dedup.components": ("count", "plans.driver_queries.cold_sum_s"),
    "operators.similarity.candidate_pairs": ("count", "plans.driver_queries.cold_sum_s"),
    "operators.similarity.pairs": ("count", "plans.driver_queries.cold_sum_s"),
    "operators.corpus.kept_docs": ("count", "plans.driver_queries.cold_sum_s"),
    "host.io_control_s": ("s", "none: the host's IO weather"),
    # bulk + serve + trickle wall of this traced run over that of the
    # untraced run with the same seed (see _untraced_wall for the fallbacks)
    "host.trace_overhead": ("ratio", "none: tracing cost on bulk, serve and trickle"),
    "engine.scaling_eff": ("ratio", "none: local[nproc] vs nproc x local[1] bulk events/s"),
}
for _q in WARM + COLD:
    _sum = "warm_sum_s" if _q in WARM else "cold_sum_s"
    _E[f"plans.driver_queries.{_q}_s"] = ("s", f"plans.driver_queries.{_sum}")
    for _k, _u in (("task_s", "s"), ("shuffle_bytes", "B"), ("spill_bytes", "B")):
        _E[f"plans.driver_queries.{_q}.{_k}"] = (_u, f"plans.driver_queries.{_q}_s")

UNITS = {k: u for k, (u, _) in _E.items()}
MOVES = {k: m for k, (_, m) in _E.items()}
#: direction of improvement; everything else is better lower
HIGHER = {"engine.util", "engine.scaling_eff", "operators.text_dedup.verify_yield"}

_PREFIX = ["sources.wal", "operators.validate", "operators.dedup", "functions.normalize"]


def before_bulk(sc) -> None:
    sc.out.detail["io_control_s"] = [host.io_control_s(sc.spark, _bulk_paths(sc))]


def _bulk_paths(sc) -> list[str]:
    return sc.inputs.bulk["v0"] + sc.inputs.bulk["v1"]


def _prefix_probe(sc) -> tuple[dict, dict, dict]:
    """Self time of each per-row layer as the difference between
    consecutive prefixes of the bulk epoch: WAL scan -> + validate/split ->
    + bucket exchange and LWW -> + normalize UDF, each fully materialized
    once (the bulk epoch already ran the same plans, so they are warm)."""
    from pyspark.sql import functions as F

    from nifi_daffodil_spark.functions.normalize import (
        make_normalize_udf,
        resolve_external_variables,
    )
    from nifi_daffodil_spark.operators.dedup import lww_dedup
    from nifi_daffodil_spark.operators.validate import split_valid, with_validation

    spark, cfg, tr = sc.spark, sc.engine.config, sc.tracer
    udf = make_normalize_udf(resolve_external_variables(cfg.external_variables))

    def plan(k: int):
        df = read_bulk(spark, sc.inputs)
        if k >= 1:
            df, _ = split_valid(with_validation(df, cfg.validation_mode, cfg.max_text_len))
        if k >= 2:
            bucket = F.pmod(F.xxhash64("conv_id"), F.lit(cfg.n_buckets)).cast("int")
            df = lww_dedup(df.withColumn("bucket", bucket).repartition("bucket"),
                           keys=("bucket", "conv_id", "turn_idx"))
        if k >= 3:
            df = df.withColumn("text", udf(F.col("text")))
        return df

    times, rows, spans = [], [], []
    for k, layer in enumerate(_PREFIX):
        with tr.span(f"probe.{layer}") as s:
            t = time.monotonic()
            rows.append(materialize(plan(k)))
            times.append(time.monotonic() - t)
        spans.append(s)
    self_s = {f"{layer}.self_s": times[k] - (times[k - 1] if k else 0.0)
              for k, layer in enumerate(_PREFIX)}
    counts = {
        "operators.dedup.winner_ratio": rows[2] / rows[1],
        "functions.normalize.python_bytes": int(
            plan(2).agg(F.sum(F.octet_length("text"))).collect()[0][0] or 0
        ),
    }
    return self_s, counts, spans


def _table_shape(table: str) -> dict:
    data = os.path.join(table, "data")
    size = {"delta": 0, "run": 0, "snap": 0}
    dirs = {"delta": 0, "run": 0, "snap": 0}
    for d in os.listdir(data):
        kind = d.split("-")[0]
        if kind not in size:
            continue
        dirs[kind] += 1
        for r, _, fs in os.walk(os.path.join(data, d)):
            size[kind] += sum(os.path.getsize(os.path.join(r, f)) for f in fs
                              if f.endswith(".parquet"))
    return {
        "sinks.parquet_state.write_amp": sum(size.values()) / size["delta"],
        "sinks.parquet_state.folds_l1": dirs["run"],
        "sinks.parquet_state.folds_base": dirs["snap"],
    }


def _local1_events_per_s(sc, build) -> float:
    """Bulk-epoch events/s at local[1], in a fresh session on the same
    (already JIT-warm) JVM, after a warm-up epoch."""
    from nifi_daffodil_spark.config import EngineConfig
    from nifi_daffodil_spark.engine import CdcEngine
    from nifi_daffodil_spark.sinks.parquet_state import ParquetStateSink
    from nifi_daffodil_spark.sources.wal import read_wal_batch

    sc.spark.stop()
    sc.spark = spark = build(1)
    sink = ParquetStateSink(spark, os.path.join(sc.work, "table-local1"), sc.engine.config.n_buckets)
    eng = CdcEngine(spark, sink, sc.engine.config)
    eng.process_batch(read_wal_batch(spark, sc.inputs.warmup, "v0"), 0)
    t = time.monotonic()
    st = eng.process_batch(read_bulk(spark, sc.inputs), BULK_EPOCH)
    return int(st.extra["raw_events"]) / (time.monotonic() - t)


_MEASURED = ("bulk", "serve", "trickle")


def _untraced_wall(results: str, sc) -> tuple[float, str]:
    """bulk + serve + trickle wall of the untraced run with this seed and
    --seconds; failing that, the median over this workload's untraced runs
    with the same --seconds. With no untraced run on record, the traced
    wall minus the tracer's own bookkeeping, which leaves out the Spark
    UI listener, the sink's file listings and the traced-only scans."""
    import glob
    import json

    walls = {}
    for p in glob.glob(os.path.join(results, f"{sc.workload}-*-trace0.json")):
        with open(p) as f:
            d = json.load(f)["detail"]
        if d.get("seconds") == sc.seconds and all(k in d["phase_s"] for k in _MEASURED):
            walls[d.get("seed")] = sum(d["phase_s"][k] for k in _MEASURED)
    if sc.seed in walls:
        return walls[sc.seed], "untraced run, same seed"
    if walls:
        return stats.median(list(walls.values())), f"median of {len(walls)} untraced runs"
    wall = sum(sc.out.detail["phase_s"][k] for k in _MEASURED)
    return wall - sc.tracer.own_s, "traced wall minus tracer bookkeeping"


def after_gate(sc, build, cache: str, results: str) -> dict[str, float]:
    from perfbench import catalog
    from perfbench.inputs import catalog_inputs
    from perfbench.trace import group_sum, stage_metrics

    tr, out, d = sc.tracer, sc.out, sc.out.detail
    m: dict[str, float] = {}
    measured_wall = sum(d["phase_s"][k] for k in _MEASURED)

    phases = d["phase_s"]
    t = time.monotonic()
    self_s, counts, pspans = _prefix_probe(sc)
    m.update(self_s)
    m.update(counts)
    d["io_control_s"].append(host.io_control_s(sc.spark, _bulk_paths(sc)))
    phases["probe"], t = time.monotonic() - t, time.monotonic()
    cspans, ccounts, problems = catalog.run(
        sc.spark, tr, catalog_inputs(cache, sc.workload, sc.seed))
    phases["catalog"] = time.monotonic() - t
    for p in problems:
        out.fail(p)
    out.attempted += len(cspans)
    d["catalog_operators_s"] = ccounts.pop("_operators_s")
    d["catalog_oracle_s"] = ccounts.pop("_oracle_s")
    m.update(ccounts)
    sm = stage_metrics(sc.spark)

    def gsum(spans, key):
        return sum(group_sum(sm, tr.descendants(s), key) for s in spans)

    epochs = tr.named("engine.process_batch")
    bulk = [s for s in epochs if s["kind"] == "bulk"]
    stream = [s for s in epochs if s["kind"] == "stream"]
    bulk_wall = bulk[0].duration
    bulk_task = gsum(bulk, "task_s")
    m["engine.epoch_s"] = bulk_wall
    m["engine.self_s"] = tr.self_time(bulk[0])
    m["engine.jobs_per_epoch"] = gsum(bulk, "jobs")
    m["engine.task_s_per_mevent"] = bulk_task / (d["bulk"]["events"] / 1e6)
    m["engine.util"] = bulk_task / bulk_wall / sc.cores
    m["engine.stream.batch_s"] = stats.median([s.duration for s in stream])
    files = [n for n in d["batch_files"].values() if n]
    m["engine.stream.files_per_batch"] = statistics.mean(files)
    m["engine.stream.queue_wait_s"] = stats.median(d["queue_waits"])
    m["engine.stream.lag_trend"] = d["lag_trend"]

    m["sources.wal.input_bytes"] = sum(os.path.getsize(p) for p in _bulk_paths(sc))
    m["operators.validate.quarantined"] = sum(
        s.rows_quarantined for s in sc.engine.stats if not s.skipped)
    m["operators.dedup.shuffle_bytes"] = gsum([pspans[2]], "shuffle_write_bytes")
    m["operators.dedup.spill_bytes"] = gsum([pspans[2]], "spill_bytes")

    applies = tr.named("sinks.parquet_state.apply_batch")
    m["sinks.parquet_state.apply_s"] = stats.median([s.duration for s in applies])
    m["sinks.parquet_state.files_per_epoch"] = statistics.mean(s["new_files"] for s in applies)
    m.update(_table_shape(sc.table))
    m["sinks.parquet_state.max_chain"] = d["serve_max_chain"]
    lookups = tr.named("sinks.parquet_state.read_conversation")
    scans = tr.named("sinks.parquet_state.read_transcripts")
    m["sinks.parquet_state.lookup_s"] = stats.median([s.duration for s in lookups])
    m["sinks.parquet_state.lookup_rows_scanned"] = gsum(lookups, "input_records") / max(
        1, sum(s["rows"] for s in lookups))
    m["sinks.parquet_state.changes_s"] = stats.median(
        [s.duration for s in tr.named("sinks.parquet_state.read_changes")])
    m["sinks.parquet_state.scan_s"] = stats.median([s.duration for s in scans])
    m["sinks.parquet_state.scan_rows_per_live_row"] = gsum(scans, "input_records") / max(
        1, sum(s["rows"] for s in scans))

    for name, s in cspans.items():
        m[f"plans.driver_queries.{name}_s"] = s.duration
        m[f"plans.driver_queries.{name}.task_s"] = gsum([s], "task_s")
        m[f"plans.driver_queries.{name}.shuffle_bytes"] = gsum([s], "shuffle_write_bytes")
        m[f"plans.driver_queries.{name}.spill_bytes"] = gsum([s], "spill_bytes")
    m["plans.driver_queries.warm_sum_s"] = sum(cspans[q].duration for q in WARM)
    m["plans.driver_queries.cold_sum_s"] = sum(cspans[q].duration for q in COLD)

    m["host.io_control_s"] = stats.median(d["io_control_s"])
    untraced, d["trace_overhead_basis"] = _untraced_wall(results, sc)
    m["host.trace_overhead"] = measured_wall / untraced
    d["stage_metrics"] = sm
    n_rate = d["bulk"]["events"] / bulk_wall
    t = time.monotonic()
    m["engine.scaling_eff"] = n_rate / (sc.cores * _local1_events_per_s(sc, build))
    phases["local1"] = time.monotonic() - t
    return m
