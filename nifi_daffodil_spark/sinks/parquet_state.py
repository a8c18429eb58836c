"""Bucket-versioned parquet last-state sink — a minimal snapshot table.

Design (scale rationale):
  * The table is hash-bucketed by conv_id: bucket = pmod(xxhash64(conv_id), N)
    — same layout Iceberg `bucket(N, conv_id)` would give (SURVEY.md §4 item 5).
  * MERGE-ON-READ (round-2 verdict item #6): an epoch APPENDS one delta dir
    `data/delta-NNNNNN/bucket=K/...` holding just its (already LWW-deduped)
    batch rows — it never reads or rewrites existing bucket data, so a hot
    bucket receiving one row per epoch costs one small file per epoch, not a
    full rewrite. Per-bucket state = base snapshot (optional) + delta list;
    readers fold them with `operators.dedup.lww_dedup`, the engine's own
    batch reducer (identical semantics to the old write-time merge, locked
    by the same replay/idempotency tests).
  * Compaction is SIZE-TIERED (two levels, LSM-shaped): when a bucket
    accumulates > max_deltas level-0 deltas, apply_batch folds JUST that
    chain into one level-1 run (`data/run-NNNNNN/bucket=K`) — the base is
    untouched; when > max_runs runs accumulate, base+runs fold into a new
    base. Write amplification per row is therefore ~3x (delta, run, base)
    instead of a base rewrite every max_deltas epochs, and read
    amplification stays bounded by (1 + max_runs+1 + max_deltas+1) dirs.
    The LWW fold is associative (winner = max lsn per key), so folding any
    sub-collection first is safe — the same contract Iceberg's
    merge-on-read + rewrite_data_files has.
  * The manifest maps bucket -> {base, runs, deltas}. Commits are an atomic
    manifest swap (os.replace), so a crash mid-write leaves only orphan
    files, never a torn table (reference analog: copy-on-write session
    commit, AbstractDaffodilProcessor.java:479-486). `ParquetTable` holds
    that protocol once; the rollup view (sinks/rollup.py) reuses it.
  * Exactly-once: the manifest records applied epoch ids; re-applying an
    epoch is a no-op (idempotent replay, BASELINE.json:6).
  * Point lookups (read_conversation) run on the driver: a Python XXH64
    names the bucket, pyarrow reads its chain and `lww_dedup_arrow` folds
    it — one conversation's rows cost less than one Spark job's dispatch.
    Table-sized reads, compaction and reshard fold in Spark.

The LWW fold: lww_dedup by (conv_id, turn_idx) over lsn desc, keep the winner
INCLUDING tombstones (a winning delete keeps fencing late smaller-lsn rows).
State rows carry their commit lsn, so a late batch row with a smaller lsn
can never overwrite newer state (the `s.lsn > t.lsn` MERGE guard).
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import time
import uuid
from contextlib import contextmanager
from functools import reduce

import pyarrow.dataset as ds
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from nifi_daffodil_spark.operators.dedup import lww_dedup, lww_dedup_arrow
from nifi_daffodil_spark.schemas import (
    LINEAGE_SCHEMA,
    QUARANTINE_SCHEMA,
    STATE_SCHEMA,
    TRANSCRIPT_SCHEMA,
)
from nifi_daffodil_spark.sinks.base import TranscriptSink

_STATE_COLS = [f.name for f in STATE_SCHEMA.fields]  # transcript cols + lsn

#: on-disk state keeps the op column: a delete is persisted as a TOMBSTONE
#: row (op='D') so its lsn keeps guarding against late, smaller-lsn events
#: for the same key. Without this, a late row arriving after a delete would
#: resurrect the key. Tombstones are reclaimed by compact_tombstones().
_FILE_SCHEMA = T.StructType(
    list(STATE_SCHEMA.fields) + [T.StructField("op", T.StringType(), False)]
)


#: the file columns as Arrow types, for driver-side reads of the table
_ARROW_FILE_SCHEMA = to_arrow_schema(_FILE_SCHEMA)
# Spark writes `ts` as INT96 (UTC instants); read it at Spark's microsecond
# resolution so every TimestampType value round-trips
_PARQUET_FORMAT = ds.ParquetFileFormat(
    read_options={"coerce_int96_timestamp_unit": "us"}
)


def bucket_col(n_buckets: int) -> Column:
    """The table's bucket of each row: pmod(xxhash64(conv_id), n_buckets)."""
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of `data` as a signed 64-bit int — Spark's `xxhash64` of a
    string column hashes its UTF-8 bytes exactly like this (seed 42)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i <= n - 32:
            v = [_xxh64_round(a, x)
                 for a, x in zip(v, struct.unpack_from("<4Q", data, i))]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _xxh64_round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h ^= _xxh64_round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        h ^= struct.unpack_from("<I", data, i)[0] * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for byte in data[i:]:
        h ^= byte * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def bucket_of(conv_id: str, n_buckets: int) -> int:
    """`bucket_col`'s value for one key, on the driver: Python's % of a
    positive modulus is Spark's pmod."""
    return _xxhash64(conv_id.encode("utf-8")) % n_buckets


class ParquetTable:
    """The commit protocol of a bucket-partitioned parquet table under
    `root` — the state sink and the rollup view share it. `manifest.json`
    maps bucket ids to the data dirs (`data/<prefix>-NNNNNN/bucket=K`)
    holding their rows and is replaced atomically; every mutation runs
    under `_writer_lock`; `_sweep` removes the dirs no manifest entry
    references. Subclasses set the file schema and the dir prefixes."""

    _SCHEMA: T.StructType
    _DIR_PREFIXES: tuple[str, ...]

    def __init__(self, spark: SparkSession, root: str, initial: dict):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        if not os.path.exists(self._manifest_path()):
            # ATOMIC-CREATE bootstrap (os.link fails if the target exists):
            # two processes racing a fresh root must not clobber a manifest
            # the other already committed into — an os.replace here would
            # erase commit records and reset the dir counter
            tmp = self._manifest_path() + f".init-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(initial, f, indent=1, sort_keys=True)
            try:
                os.link(tmp, self._manifest_path())
            except FileExistsError:
                pass  # another writer bootstrapped first — adopt theirs
            finally:
                os.remove(tmp)

    # ---- manifest ---------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _read_manifest(self) -> dict:
        with open(self._manifest_path()) as f:
            return json.load(f)

    def _write_manifest(self, m: dict) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path())  # atomic commit point

    @contextmanager
    def _writer_lock(self):
        """ENFORCED single-writer (the parquet analog of the Iceberg sink's
        snapshot-summary re-check): an exclusive flock on <root>/writer.lock
        serializes every commit-protocol mutation (epoch apply, refresh,
        rewrite, vacuum). A concurrent duplicate writer blocks here, then
        re-reads the manifest and sees its work committed — exactly-once
        holds under racing writers instead of by documented assumption.
        Advisory flock is host-local: multi-HOST writers need a real
        catalog (that is what the Iceberg sink is for)."""
        import fcntl  # lazy: keeps the module importable (read-only use)
        # on platforms without fcntl; writers there fail loudly instead of
        # silently skipping enforcement

        with open(os.path.join(self.root, "writer.lock"), "w") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(f, fcntl.LOCK_UN)

    # ---- bucket dirs ------------------------------------------------------

    @staticmethod
    def _bucket_dirs(
        manifest: dict, b: int, which: str = "all"
    ) -> list[str]:
        """Dirs holding bucket b's rows, oldest tier first (base, then
        level-1 runs, then level-0 deltas in commit order). which:
        'all' | 'deltas' (level-0 only) | 'base_runs' (base + runs)."""
        ent = manifest["buckets"].get(str(b))
        if ent is None:
            return []
        base = [ent["base"]] if ent.get("base") else []
        runs = list(ent.get("runs", []))
        deltas = list(ent.get("deltas", []))
        if which == "deltas":
            return deltas
        if which == "base_runs":
            return base + runs
        return base + runs + deltas

    def _read_buckets(
        self, manifest: dict, buckets: list[int], which: str = "all"
    ) -> DataFrame | None:
        """RAW rows of the given buckets, every dir of each (a key may
        appear multiple times). Bucket dirs may live in different data
        dirs; group by dir so each read keeps partition discovery."""
        by_dir: dict[str, list[int]] = {}
        for b in buckets:
            for d in self._bucket_dirs(manifest, b, which):
                by_dir.setdefault(d, []).append(b)
        if not by_dir:
            return None
        parts = []
        for d, bs in by_dir.items():
            base = os.path.join(self.root, "data", d)
            paths = [os.path.join(base, f"bucket={b}") for b in bs]
            parts.append(
                self.spark.read.option("basePath", base)
                .schema(self._SCHEMA)
                .parquet(*paths)
            )
        return reduce(DataFrame.unionByName, parts)

    def _referenced(self, m: dict) -> set[str]:
        """Every data dir the manifest-shaped `m` references."""
        return {d for b in m["buckets"] for d in self._bucket_dirs(m, int(b))}

    def _sweep(
        self, m: dict, keep_last: int, pinned: set[str] = frozenset()
    ) -> list[str]:
        """Remove `<prefix>-NNNNNN` data dirs that neither the manifest `m`
        nor `pinned` references, older than counter-keep_last. The newest
        `keep_last` counters are exempt even when unreferenced: a
        concurrent writer may have written its dir but not yet swapped the
        manifest. The caller holds _writer_lock."""
        referenced = self._referenced(m) | pinned
        removed = []
        data_dir = os.path.join(self.root, "data")
        for d in sorted(os.listdir(data_dir)):
            prefix, _, num = d.partition("-")
            if (
                prefix in self._DIR_PREFIXES
                and d not in referenced
                and int(num) <= m["counter"] - keep_last
            ):
                shutil.rmtree(os.path.join(data_dir, d))
                removed.append(d)
        return removed


class ParquetStateSink(ParquetTable, TranscriptSink):
    _SCHEMA = _FILE_SCHEMA
    _DIR_PREFIXES = ("snap", "delta", "run")

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = 32,
        max_deltas: int = 4,
        max_runs: int = 4,
    ):
        super().__init__(
            spark, root,
            {"counter": 0, "buckets": {}, "epochs": {}, "n_buckets": n_buckets},
        )
        self.n_buckets = n_buckets
        # read-amplification bounds: a bucket holding > max_deltas level-0
        # deltas folds them into one level-1 run at the NEXT epoch that
        # touches it; > max_runs runs fold (with the base) into a new base
        self.max_deltas = max_deltas
        self.max_runs = max_runs
        for sub in ("quarantine", "lineage", "layouts"):
            os.makedirs(os.path.join(root, sub), exist_ok=True)
        # fail fast on a bucket-count mismatch: pmod(xxhash64(conv_id),
        # WRONG n) silently mis-prunes point lookups and mis-partitions
        # writes — the table's recorded count is authoritative, and
        # reshard() is the sanctioned way to change it. Tables from
        # before this field adopt the caller's value.
        recorded = self._read_manifest().get("n_buckets")
        if recorded is not None and int(recorded) != n_buckets:
            raise ValueError(
                f"table at {root} is bucketed with n_buckets="
                f"{recorded}, but the sink was opened with "
                f"n_buckets={n_buckets} — open with the recorded count "
                "or reshard() the table"
            )

    def _table_n_buckets(self, manifest: dict) -> int:
        """The bucket count the MANIFEST records (not self.n_buckets): a
        reader or a maintenance rewrite serialized behind a concurrent
        reshard must work in the table's current hash space, not the stale
        one this sink instance was opened with."""
        return int(manifest.get("n_buckets") or self.n_buckets)

    # ---- sink API ---------------------------------------------------------

    def epoch_applied(self, epoch_id: int) -> bool:
        return str(epoch_id) in self._read_manifest()["epochs"]

    def _read_buckets(
        self, manifest: dict, buckets: list[int], which: str = "all"
    ) -> DataFrame | None:
        """RAW state rows of the given buckets: base + every run/delta (a key
        may appear multiple times — callers needing current state fold with
        lww_dedup), with the bucket column recomputed under the table's
        recorded count."""
        df = super()._read_buckets(manifest, buckets, which)
        if df is None:
            return None
        return df.withColumn("bucket", bucket_col(self._table_n_buckets(manifest)))

    def _needs_fold(self, manifest: dict, buckets: list[int]) -> bool:
        return any(
            len(self._bucket_dirs(manifest, b)) > 1 for b in buckets
        )

    def _write_partitioned(
        self,
        df: DataFrame,
        dir_path: str,
        sort: bool = False,
        repartition: bool = True,
    ) -> set[int]:
        """Write state rows bucket-partitioned to dir_path; returns the
        bucket ids that actually materialized a partition dir (an empty
        partition never creates one).

        sort=True additionally orders rows by (conv_id, turn_idx) within
        each bucket file so parquet row-group min/max stats on conv_id
        prune point lookups — the Iceberg sort-order analog. Compaction
        outputs (runs/base: long-lived, read-serving) use it; the per-epoch
        DELTA APPEND does NOT: an A/B on the 1M-event CDC replay measured
        the write-path sort at ~1.7x epoch wall (full rows incl. text
        payloads spill through the sorter), and deltas are transient —
        folded away within max_deltas epochs — so sorting them buys
        nothing durable.

        repartition=False skips the bucket exchange for callers whose df is
        ALREADY hashpartitioned by bucket (the engine's batch — its dedup
        shuffle keys on bucket exactly so this write is exchange-free).
        partitionBy stays correct under any partitioning; an unpartitioned
        caller would just emit more part-files per bucket dir."""
        out = df.select(*_STATE_COLS, "op", "bucket")
        if repartition:
            out = out.repartition("bucket")
        if sort:
            # bucket FIRST: partitionBy's writer requires a sort on the
            # partition column and would insert its own (unstable) one,
            # destroying the key order; leading with bucket satisfies that
            # requirement so this single sort survives into the files
            out = out.sortWithinPartitions("bucket", "conv_id", "turn_idx")
        (
            out.write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(dir_path)
        )
        return {
            int(d.split("=", 1)[1])
            for d in os.listdir(dir_path)
            if d.startswith("bucket=")
        }

    def apply_batch(
        self,
        batch: DataFrame,
        epoch_id: int,
        quarantine: DataFrame | None = None,
        lineage: list[tuple] | None = None,
    ) -> dict:
        """batch columns: conv_id, turn_idx, role, text, tool, ts, lsn, op,
        bucket — already deduped to one row per (conv_id, turn_idx).
        `lineage` is a driver-side list of LINEAGE_SCHEMA tuples (already
        aggregated) — written with pyarrow, zero Spark jobs.
        Serialized by _writer_lock; the epoch re-check happens INSIDE the
        lock, so two writers racing the same epoch commit exactly once."""
        with self._writer_lock():
            return self._apply_batch_locked(batch, epoch_id, quarantine, lineage)

    def _apply_batch_locked(
        self,
        batch: DataFrame,
        epoch_id: int,
        quarantine: DataFrame | None = None,
        lineage: list[tuple] | None = None,
    ) -> dict:
        t0 = time.monotonic()
        manifest = self._read_manifest()
        if str(epoch_id) in manifest["epochs"]:
            return {"skipped": True, "epoch": epoch_id,
                    "snapshot_id": manifest["epochs"][str(epoch_id)]["snapshot_id"]}
        # re-validate the bucket count INSIDE the lock: a batch whose bucket
        # column was computed before a concurrent reshard() committed would
        # write mod-old partitions into the mod-new manifest — invisible to
        # bucket pruning. The caller must reopen and rebuild the batch.
        recorded = manifest.get("n_buckets")
        if recorded is not None and int(recorded) != self.n_buckets:
            raise ValueError(
                f"table was resharded to n_buckets={recorded} while this "
                f"writer (opened with n_buckets={self.n_buckets}) was "
                "preparing its batch — reopen the sink and re-derive the "
                "batch's bucket column before retrying this epoch"
            )

        # quarantine append runs CONCURRENTLY with the delta write +
        # compaction (guide §2.6 — independent outputs, and neither job
        # alone keeps every core busy through its tail): the thread is
        # joined BEFORE the manifest commit, so a quarantine failure still
        # fails the epoch atomically — AND joined on every failure path, so
        # a delta-write/compaction failure cannot release the writer lock
        # while the quarantine job is still in flight (a retry would
        # otherwise race its dynamic-partition overwrite of the same
        # epoch partition). InheritableThread propagates the JVM-thread-
        # local job group/description correctly.
        quar_err: list[BaseException] = []
        quar_thread = None
        try:
            if quarantine is not None:
                from pyspark import InheritableThread

                quar_df = quarantine.withColumn(
                    "epoch", F.lit(int(epoch_id))
                ).select([f.name for f in QUARANTINE_SCHEMA.fields])

                def _quarantine_write() -> None:
                    try:
                        # partitioned by epoch + dynamic partition OVERWRITE
                        # (session default): a crash-retry of this epoch
                        # REPLACES its own partition instead of appending
                        # duplicates — the quarantine route is effectively-
                        # once, like the table itself. partitionOverwriteMode
                        # pinned AT THE WRITE SITE: with the static default
                        # (a vanilla SparkSession that didn't come from
                        # build_session) mode('overwrite') would silently
                        # delete ALL prior epochs' partitions
                        quar_df.write.mode("overwrite").option(
                            "partitionOverwriteMode", "dynamic"
                        ).partitionBy("epoch").parquet(
                            os.path.join(self.root, "quarantine")
                        )
                    except BaseException as e:  # re-raised on the main thread
                        quar_err.append(e)

                quar_thread = InheritableThread(target=_quarantine_write)
                quar_thread.start()
            # merge-on-read: APPEND the batch as one delta dir — no read or
            # rewrite of existing bucket data. The batch is already LWW-
            # deduped per key; cross-delta/base conflicts resolve at read
            # time in lww_dedup (or at compaction below). Every batch row is
            # written, so the buckets that materialized a dir are exactly
            # the buckets the epoch touched.
            counter = manifest["counter"] + 1
            delta = f"delta-{counter:06d}"
            touched = sorted(self._write_partitioned(
                batch, os.path.join(self.root, "data", delta),
                repartition=False,  # engine batches arrive bucket-partitioned
            ))
            for b in touched:
                manifest["buckets"].setdefault(
                    str(b), {"base": None, "runs": [], "deltas": []}
                )["deltas"].append(delta)

            # size-tiered compaction, level 0 -> 1: fold ONLY the delta
            # chains that exceeded max_deltas into one level-1 run (the base
            # is untouched — no table-sized rewrite). Per-epoch compaction
            # work is proportional to (hot buckets x their bounded chains),
            # never to table size.
            over = [
                b for b in touched
                if len(manifest["buckets"][str(b)]["deltas"]) > self.max_deltas
            ]
            if over:
                counter += 1
                run = f"run-{counter:06d}"
                ran = self._write_partitioned(
                    lww_dedup(self._read_buckets(manifest, over, which="deltas")),
                    os.path.join(self.root, "data", run),
                    sort=True,
                )
                for b in over:
                    ent = manifest["buckets"][str(b)]
                    ent["deltas"] = []
                    if b in ran:
                        ent["runs"].append(run)

                # level 1 -> base: only when a bucket's RUN count also
                # exceeds max_runs does its base get rewritten — amortized,
                # a row is written ~3x total (delta, run, base) instead of
                # the base being rewritten every max_deltas epochs
                over2 = [
                    b for b in over
                    if len(manifest["buckets"][str(b)]["runs"]) > self.max_runs
                ]
                if over2:
                    counter += 1
                    snap = f"snap-{counter:06d}"
                    compacted = self._write_partitioned(
                        lww_dedup(
                            self._read_buckets(manifest, over2, which="base_runs")
                        ),
                        os.path.join(self.root, "data", snap),
                        sort=True,
                    )
                    for b in over2:
                        manifest["buckets"][str(b)] = {
                            "base": snap if b in compacted else None,
                            "runs": [],
                            "deltas": [],
                        }

            snapshot_id = f"{delta}-{uuid.uuid5(uuid.NAMESPACE_URL, f'{self.root}/{epoch_id}')}"
            if quar_thread is not None:
                quar_thread.join()
                if quar_err:
                    raise quar_err[0]
            if lineage:
                self._write_lineage(lineage, snapshot_id, epoch_id)

            manifest["counter"] = counter
            manifest["epochs"][str(epoch_id)] = {
                "snapshot_id": snapshot_id,
                "delta": delta,  # this epoch's append dir: incremental reads
                "buckets": touched,
                "wall_ms": int((time.monotonic() - t0) * 1000),
            }
            # snapshot layout BEFORE the manifest commit: the Iceberg
            # metadata-json analog. One tiny json per epoch recording the
            # bucket->dirs mapping at this commit, so read_*(as_of_epoch=E)
            # can reconstruct exactly-this state later regardless of
            # compactions that rewrite the CURRENT layout. A crash between
            # here and _write_manifest leaves an orphan layout file —
            # harmless, and the epoch retry overwrites it.
            self._write_layout(
                epoch_id, snapshot_id, manifest["buckets"],
                gen=manifest.get("bucket_gen", 0),
            )
            self._write_manifest(manifest)  # the atomic commit
            return {"skipped": False, "epoch": epoch_id, "snapshot_id": snapshot_id,
                    "buckets": touched}
        except BaseException as e:
            # never leave the quarantine job running past the writer lock,
            # and never lose its error: the primary exception propagates
            # carrying the quarantine failure as a note. The join stays
            # unbounded — a timeout would release the lock mid-overwrite.
            if quar_thread is not None:
                quar_thread.join()
                if quar_err and quar_err[0] is not e:
                    e.add_note(f"quarantine write also failed: {quar_err[0]!r}")
            raise

    def _write_lineage(self, rows: list[tuple], snapshot_id: str, epoch_id: int) -> None:
        """Per-partition lineage append — pure pyarrow on the driver (the
        rows are already aggregated); no Spark job for a <=n_buckets-row write."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = list(zip(*rows, strict=True))
        names = [f.name for f in LINEAGE_SCHEMA.fields]
        snap_idx = names.index("snapshot_id")
        arrays = []
        for i, f in enumerate(LINEAGE_SCHEMA.fields):
            if i == snap_idx:
                arrays.append(pa.array([snapshot_id] * len(rows), pa.string()))
            elif f.dataType.simpleString() == "int":
                arrays.append(pa.array(cols[i], pa.int32()))
            else:
                arrays.append(pa.array(cols[i], pa.int64()))
        pq.write_table(
            pa.table(dict(zip(names, arrays, strict=True))),
            os.path.join(self.root, "lineage", f"epoch-{int(epoch_id):08d}.parquet"),
        )

    # ---- snapshot layouts (time travel) -----------------------------------

    def _layout_path(self, epoch_id: int) -> str:
        return os.path.join(self.root, "layouts", f"epoch-{int(epoch_id):08d}.json")

    def _write_layout(
        self, epoch_id: int, snapshot_id: str, buckets: dict, gen: int
    ) -> None:
        tmp = self._layout_path(epoch_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"epoch": int(epoch_id), "snapshot_id": snapshot_id,
                 "buckets": buckets, "n_buckets": self.n_buckets,
                 "bucket_gen": gen},
                f, sort_keys=True,
            )
        os.replace(tmp, self._layout_path(epoch_id))

    def _load_layout(self, epoch_id: int) -> dict | None:
        """Manifest-shaped {"buckets": ...} from an epoch's layout file, or
        None if no layout exists (never committed / pruned). bucket_gen is
        the hash-space GENERATION the snapshot was committed under —
        incremented by every reshard(), so two artifacts share a bucket-id
        space iff their gens are equal. Artifacts predating partition
        evolution carry no gen and default to 0, which is correct: a table
        that has never resharded is still generation 0."""
        path = self._layout_path(epoch_id)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            data = json.load(f)
        return {
            "buckets": data["buckets"],
            "n_buckets": data.get("n_buckets"),
            "bucket_gen": data.get("bucket_gen", 0),
        }

    def _manifest_as_of(self, epoch_id: int) -> dict:
        """Manifest-shaped view of the table AS OF the given epoch's commit,
        loaded from its layout file. Raises LookupError if the snapshot was
        never committed or has been expired by vacuum().

        The layout file is written BEFORE the manifest swap (the atomic
        commit point), so a crash between them leaves a layout for an epoch
        that never committed; trusting it would serve the failed commit's
        delta as committed state. The layout is therefore only honored when
        the CURRENT manifest's epochs map also records the epoch."""
        m = self._load_layout(epoch_id)
        if m is None or str(int(epoch_id)) not in self._read_manifest()["epochs"]:
            raise LookupError(
                f"no committed snapshot for epoch {epoch_id}: either the "
                "epoch never committed to this table (e.g. a crash between "
                "layout write and manifest swap), or vacuum() expired it"
            )
        missing = {
            d for d in self._referenced(m)
            if not os.path.isdir(os.path.join(self.root, "data", d))
        }
        if missing:
            raise LookupError(
                f"epoch {epoch_id}'s snapshot references data dirs removed "
                f"by vacuum(): {sorted(missing)} — the snapshot is expired"
            )
        return m

    def expired_layouts(self) -> list[int]:
        """Epoch ids whose layout file still exists but whose snapshot
        references vacuumed data dirs (candidates for layout cleanup)."""
        out = []
        for name in sorted(os.listdir(os.path.join(self.root, "layouts"))):
            if not name.startswith("epoch-"):
                continue
            e = int(name.split("-")[1].split(".")[0])
            try:
                self._manifest_as_of(e)
            except LookupError:
                out.append(e)
        return out

    def read_transcripts(self, as_of_epoch: int | None = None) -> DataFrame:
        """Live transcript rows; with `as_of_epoch`, TIME TRAVEL — the table
        exactly as it stood after that epoch's commit (Iceberg
        `VERSION AS OF` analog). Works after later compactions because the
        epoch's layout pins the dirs that existed at commit time; expires
        when vacuum() removes those dirs (like expire_snapshots)."""
        df = self.read_state(as_of_epoch)
        if df is None:
            return self.spark.createDataFrame([], TRANSCRIPT_SCHEMA)
        return self._live(df)

    @staticmethod
    def _live(state: DataFrame) -> DataFrame:
        """Visible transcript rows of folded state (tombstones dropped)."""
        return state.filter(F.col("op") != "D").select(
            [f.name for f in TRANSCRIPT_SCHEMA.fields]
        )

    def read_state(self, as_of_epoch: int | None = None) -> DataFrame | None:
        """Folded state (one row per live key, tombstones included); with
        `as_of_epoch`, the state as of that epoch's commit."""
        m = (
            self._read_manifest()
            if as_of_epoch is None
            else self._manifest_as_of(as_of_epoch)
        )
        buckets = [int(b) for b in m["buckets"]]
        df = self._read_buckets(m, buckets)
        if df is None:
            return None
        # fast path: a compacted table has one dir per bucket, nothing to fold
        return lww_dedup(df) if self._needs_fold(m, buckets) else df

    def read_conversation(self, conv_id: str) -> DataFrame:
        """Point lookup of ONE conversation, served on the driver without a
        Spark job: `bucket_of` names the one hash bucket that can hold it
        (under the manifest's bucket count), a pyarrow scan reads that
        bucket's base -> runs -> deltas files with the conv_id filter
        pushed into the scan (the sorted compaction outputs' row-group
        stats skip everything else), `lww_dedup_arrow` folds the rows and
        tombstones are dropped. The result is a local DataFrame in
        TRANSCRIPT_SCHEMA. A lookup's cost is one bucket's bounded dir
        chain and one conversation's rows, whatever the table's size; a
        Spark job would cost more in dispatch than the rows do."""
        m = self._read_manifest()
        b = bucket_of(conv_id, self._table_n_buckets(m))
        files = []
        for d in self._bucket_dirs(m, b):
            path = os.path.join(self.root, "data", d, f"bucket={b}")
            files += [
                os.path.join(path, name)
                for name in sorted(os.listdir(path))
                if not name.startswith((".", "_"))  # Hadoop's hidden files
            ]
        rows = ds.dataset(
            files, schema=_ARROW_FILE_SCHEMA, format=_PARQUET_FORMAT
        ).to_table(filter=ds.field("conv_id") == conv_id)
        live = lww_dedup_arrow(rows).filter(ds.field("op") != "D")
        return self.spark.createDataFrame(
            live.select(TRANSCRIPT_SCHEMA.fieldNames()), TRANSCRIPT_SCHEMA
        )

    def max_lsn(self) -> int | None:
        """Highest committed lsn, computed over the RAW (unfolded) bucket
        union: the fold keeps each key's max-lsn row, so the max is
        identical, and skipping the fold lets the aggregate ride parquet
        row-group stats instead of a table-wide LWW-fold shuffle."""
        m = self._read_manifest()
        df = self._read_buckets(m, [int(b) for b in m["buckets"]])
        if df is None:
            return None
        v = df.agg(F.max("lsn").alias("m")).collect()[0]["m"]
        return None if v is None else int(v)

    def read_changes(
        self, after_epoch: int, to_epoch: int | None = None
    ) -> DataFrame:
        """Incremental consumption (Iceberg incremental-read analog): the
        NET change rows committed in epochs (after_epoch, to_epoch] — one
        row per touched key carrying its final value in the range, deletes
        included as op='D'. A downstream consumer polling this after each
        epoch sees exactly the rows it must upsert/delete to stay in sync.

        Cost is O(changed data): only the range's delta append dirs are
        read — never the table. Raises LookupError if a needed delta was
        already vacuumed (consumer fell too far behind the retention
        window — re-bootstrap from a full snapshot instead)."""
        m = self._read_manifest()
        epochs = sorted(int(e) for e in m["epochs"])
        if to_epoch is None:
            to_epoch = epochs[-1] if epochs else after_epoch
        wanted = [e for e in epochs if after_epoch < e <= to_epoch]
        if not wanted:
            return self.spark.createDataFrame([], _FILE_SCHEMA)
        dirs = [m["epochs"][str(e)]["delta"] for e in wanted]
        missing = sorted(
            d for d in set(dirs)
            if not os.path.isdir(os.path.join(self.root, "data", d))
        )
        if missing:
            raise LookupError(
                f"incremental read over epochs ({after_epoch}, {to_epoch}] "
                f"needs delta dirs removed by vacuum(): {missing} — "
                "re-bootstrap from read_transcripts() instead"
            )
        parts = [
            self.spark.read.schema(_FILE_SCHEMA).parquet(
                os.path.join(self.root, "data", d)
            )
            for d in dirs
        ]
        df = reduce(DataFrame.unionByName, parts)
        if len(parts) > 1:
            df = lww_dedup(df)
        # pin the output columns: partition discovery appends a `bucket`
        # column the empty-range branch doesn't have — consumers get ONE
        # stable schema either way
        return df.select([f.name for f in _FILE_SCHEMA.fields])

    def read_changelog(
        self, after_epoch: int, to_epoch: int | None = None
    ) -> DataFrame:
        """Debezium-style before/after-image change feed for epochs in
        (after_epoch, to_epoch]: one row per key whose visible state changed,
        with `change` in ('I','U','D'), `before` = the full old row image as
        of after_epoch's commit (null on insert) and `after` = the new image
        (null on delete) — the envelope downstream consumers (cache
        invalidation, search indexers, replication) expect, which the net
        row set from read_changes cannot express (Iceberg analog:
        create_changelog_view's UPDATE_BEFORE/UPDATE_AFTER rows,
        sinks/iceberg.py changelog_sql).

        Cost is O(changed data): the range's delta dirs (read_changes) joined
        against the as-of state of ONLY the buckets the range touched — the
        per-epoch manifest records them — never the table. after_epoch
        earlier than the first commit (e.g. -1) means "since bootstrap":
        every visible key is an insert. Raises LookupError if the as-of
        snapshot or a range delta was vacuumed.

        Semantics match the MERGE guard: a range row whose final lsn does
        not exceed the old image's lsn never applied (late fenced replay)
        and emits nothing; a delete of a key that was not visible (never
        existed, or already tombstoned) emits nothing."""
        delta = self.read_changes(after_epoch, to_epoch)
        m = self._read_manifest()
        epochs = sorted(int(e) for e in m["epochs"])
        if to_epoch is None:
            to_epoch = epochs[-1] if epochs else after_epoch
        touched = sorted({
            int(b)
            for e in epochs
            if after_epoch < e <= to_epoch
            for b in m["epochs"][str(e)].get("buckets", [])
        })
        if str(int(after_epoch)) in m["epochs"]:
            lm = self._manifest_as_of(after_epoch)
            if lm.get("bucket_gen", 0) != m.get("bucket_gen", 0):
                # a reshard() happened somewhere after the as-of snapshot
                # (generations are monotonic, so equality proves the whole
                # range shares one bucket-id hash space): `touched` ids may
                # be in a different space than the layout's — pruning by id
                # would silently drop old images, so read the whole old
                # snapshot instead (correct, costs one full as-of scan;
                # consumers should drain changelogs before resharding).
                # Covers legacy artifacts too: both sides default to gen 0.
                wanted_b = list(lm["buckets"])
            else:
                wanted_b = [b for b in touched if str(b) in lm["buckets"]]
            old = self._read_buckets(lm, [int(b) for b in wanted_b])
            if old is not None:
                old = lww_dedup(old)
        elif epochs and after_epoch < epochs[0]:
            old = None  # bootstrap: the table was empty before the first commit
        else:
            # unknown/expired as-of point — same contract as time travel
            self._manifest_as_of(after_epoch)  # raises LookupError
            old = None  # unreachable
        image_cols = [c for c in _STATE_COLS if c not in ("conv_id", "turn_idx")]
        return self._changelog_from(delta, old, image_cols)

    def _changelog_from(
        self, delta: DataFrame, old: DataFrame | None, image_cols: list[str]
    ) -> DataFrame:
        new_img = F.struct(*[delta[c] for c in image_cols])
        d = delta.select(
            "conv_id", "turn_idx",
            delta["op"].alias("_new_op"), delta["lsn"].alias("_new_lsn"),
            new_img.alias("_new"),
        )
        img_type = d.schema["_new"].dataType
        if old is None:
            j = d.select(
                "*",
                F.lit(None).cast("string").alias("_old_op"),
                F.lit(None).cast("long").alias("_old_lsn"),
                F.lit(None).cast(img_type).alias("_old"),
            )
        else:
            o = old.select(
                "conv_id", "turn_idx",
                old["op"].alias("_old_op"), old["lsn"].alias("_old_lsn"),
                F.struct(*[old[c] for c in image_cols]).alias("_old"),
            )
            j = d.join(o, ["conv_id", "turn_idx"], "left")
        # MERGE-guard fence: a range row that lost to the existing state
        # (final range lsn <= old lsn) never applied — not a change. The
        # equal-lsn carve-out mirrors the fold's tiebreak: a genuine event
        # colliding with a retention tombstone's fence lsn WINS there, so
        # its resurrection must appear in the change feed too.
        j = j.filter(
            F.col("_old_lsn").isNull()
            | (F.col("_new_lsn") > F.col("_old_lsn"))
            | (
                (F.col("_new_lsn") == F.col("_old_lsn"))
                & (F.col("_old_op") == "D")
                & (F.col("_new_op") != "D")
            )
        )
        old_vis = F.col("_old_op").isNotNull() & (F.col("_old_op") != "D")
        new_vis = F.col("_new_op") != "D"
        change = (
            F.when(old_vis & new_vis, "U")
            .when(old_vis & ~new_vis, "D")
            .when(~old_vis & new_vis, "I")
        )
        return (
            j.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select(
                "conv_id", "turn_idx", "change",
                F.when(old_vis, F.col("_old")).alias("before"),
                F.when(new_vis, F.col("_new")).alias("after"),
            )
        )

    def read_quarantine(self) -> DataFrame:
        qdir = os.path.join(self.root, "quarantine")
        if not any(n.endswith(".parquet") for _, _, fs in os.walk(qdir) for n in fs):
            return self.spark.createDataFrame([], QUARANTINE_SCHEMA)
        return self.spark.read.schema(QUARANTINE_SCHEMA).parquet(qdir)

    def read_lineage(self) -> DataFrame:
        """Lineage for COMMITTED epochs only. A crash between the lineage
        append and the manifest swap (the atomic commit) leaves an orphan
        epoch-NNNNNNNN.parquet; serving it would report lineage for data
        the table does not contain — same rule _manifest_as_of applies to
        orphan layout files. The retry overwrites the orphan in place
        (fixed per-epoch filename), at which point it becomes visible."""
        ldir = os.path.join(self.root, "lineage")
        committed = set(self._read_manifest()["epochs"])
        files = [
            os.path.join(ldir, n)
            for n in sorted(os.listdir(ldir))
            if n.startswith("epoch-") and n.endswith(".parquet")
            and str(int(n[len("epoch-"):-len(".parquet")])) in committed
        ]
        if not files:
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(*files)

    def _rewrite_all(
        self,
        new_n_buckets: int | None = None,
        lsn_horizon: int | None = None,
    ) -> None:
        """ONE full-table rewrite serving both maintenance shapes (a single
        commit protocol to keep correct, and combining them costs one fold
        instead of two back-to-back table rewrites): fold every bucket,
        optionally drop expired tombstones, optionally re-bucket under a
        new count, write one snap, swap the manifest atomically.
        Serialized against epoch commits by _writer_lock."""
        with self._writer_lock():
            m = self._read_manifest()
            df = self._read_buckets(m, [int(b) for b in m["buckets"]])
            if df is not None:
                folded = lww_dedup(df)  # compacts every delta chain too
                if lsn_horizon is not None:
                    folded = folded.filter(
                        ~((F.col("op") == "D") & (F.col("lsn") < lsn_horizon))
                    )
                if new_n_buckets is not None:
                    folded = folded.withColumn("bucket", bucket_col(new_n_buckets))
                counter = m["counter"] + 1
                snap = f"snap-{counter:06d}"
                written = self._write_partitioned(
                    folded, os.path.join(self.root, "data", snap), sort=True
                )
                m["buckets"] = {
                    str(b): {"base": snap, "runs": [], "deltas": []} for b in written
                }
                m["counter"] = counter
            if new_n_buckets is not None:
                m["n_buckets"] = new_n_buckets
                # new hash space: artifacts recorded under different gens must
                # never be bucket-id-compared (read_changelog's prune guard)
                m["bucket_gen"] = m.get("bucket_gen", 0) + 1
            self._write_manifest(m)  # the atomic commit
            if new_n_buckets is not None:
                self.n_buckets = new_n_buckets

    def compact_tombstones(self, lsn_horizon: int) -> None:
        """Reclaim delete tombstones whose lsn is older than the replay
        horizon (no event with a smaller lsn can still arrive). Rewrites
        every bucket once — run this as an offline maintenance pass, like
        Iceberg's rewrite_data_files."""
        self._rewrite_all(lsn_horizon=lsn_horizon)

    def reshard(
        self, new_n_buckets: int, lsn_horizon: int | None = None
    ) -> None:
        """PARTITION EVOLUTION (the Iceberg REPLACE PARTITION FIELD
        bucket(N, conv_id) analog): rewrite current state under a new
        bucket count — the sanctioned response to a table outgrowing (or
        rattling around in) its bucket sizing. One fold + one partitioned
        write, same cost shape as a full compaction (pass lsn_horizon to
        reclaim tombstones in the same rewrite); committed atomically by
        the manifest swap. The bucket GENERATION bump makes every older
        epoch's bucket ids non-comparable, so time travel still reproduces
        old snapshots and cross-boundary changelog reads detect the new
        hash space instead of mis-pruning."""
        if new_n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {new_n_buckets}")
        if new_n_buckets == self.n_buckets:
            # no-op reshard must not silently drop a requested compaction
            if lsn_horizon is not None:
                self._rewrite_all(lsn_horizon=lsn_horizon)
            return
        self._rewrite_all(new_n_buckets=new_n_buckets, lsn_horizon=lsn_horizon)

    def vacuum(self, keep_last: int = 4) -> list[str]:
        """Remove snap/run/delta dirs no bucket references, older than
        counter-keep_last. The layouts of the last `keep_last` committed
        epochs also pin their dirs, so recent time-travel snapshots survive
        a vacuum; older snapshots whose dirs get removed are expired and
        their layout files pruned (expire_snapshots semantics)."""
        with self._writer_lock():
            m = self._read_manifest()
            recent = sorted((int(e) for e in m["epochs"]), reverse=True)
            pinned = set()
            for e in recent[:keep_last]:
                lm = self._load_layout(e)
                if lm is not None:
                    pinned |= self._referenced(lm)
            removed = self._sweep(m, keep_last, pinned)
            if removed:
                for e in self.expired_layouts():
                    os.remove(self._layout_path(e))
            return removed
