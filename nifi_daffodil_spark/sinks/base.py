"""Sink interface: idempotent epoch-keyed MERGE of deduped change batches.

Two implementations (SURVEY.md §7 hard-part 4):
  * ParquetStateSink — pure-Spark bucket-versioned last-state table; runs
    anywhere, used by tests/bench in this sandbox (no Iceberg jars baked in).
  * IcebergMergeSink — real `MERGE INTO` against an Iceberg catalog table;
    import/config-gated, same contract.

Contract mirrored from the reference's session semantics: a batch either
commits atomically or leaves the table untouched (copy-on-write,
AbstractDaffodilProcessor.java:479-501), and re-applying an already-applied
epoch is a no-op (@SideEffectFree replay, DaffodilParse.java:47).
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.sql import DataFrame


class TranscriptSink(ABC):
    @abstractmethod
    def epoch_applied(self, epoch_id: int) -> bool: ...

    @abstractmethod
    def apply_batch(
        self,
        batch: DataFrame,
        epoch_id: int,
        quarantine: DataFrame | None = None,
        lineage: list[tuple] | None = None,
    ) -> dict:
        """MERGE one deduped batch (unique (conv_id, turn_idx); columns =
        STATE_SCHEMA + op + bucket). `lineage` is a driver-side list of
        LINEAGE_SCHEMA tuples (already aggregated per bucket)."""

    @abstractmethod
    def read_transcripts(self, as_of_epoch: int | None = None) -> DataFrame:
        """Table state in TRANSCRIPT_SCHEMA shape; with `as_of_epoch`,
        TIME TRAVEL to that epoch's commit (both sinks implement it —
        layout files on the parquet sink, engine.epoch snapshot summary +
        VERSION AS OF on Iceberg). Raise LookupError for an unknown or
        expired snapshot."""
