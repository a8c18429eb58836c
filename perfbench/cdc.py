"""The CDC scenario each workload runs, end to end, in one process.

    set-up    session, sink, engine and a warm-up stream of one small
              segment into a table of its own                    -> setup_s
    load      the bulk events (v0 and v1 segments unioned: the schema
              change rides along) as one epoch into the run's table,
              untimed: the table the later phases use, and the JIT warm-up
              of the per-row paths
    trickle   --seconds, open loop: small v1 WAL segments are released into
              the stream's v1/ dir at OFFERED_RATE, never slowing for the
              engine, and run_stream(available_now=False) drains them with
              jobs/run_cdc.py's defaults; then the stream commits every
              released segment and stops                         -> lag_p50_s
    serve     closed loop, one client: a round of point lookups (keys drawn
              with the log's own skew, hot key included) and reads of the
              last stream epoch's net changes via read_changes(previous
              epoch)
    bulk      the bulk events again, as one timed epoch through
              CdcEngine.process_batch into a table of its own
                                                       -> ingest_events_per_s
    serve2    a second round of serve's reads on the same layout
                                              -> lookup_p50_s, changes_p50_s
    gate      outside every timed region: final table == pandas oracle,
              re-submitting a committed epoch is a no-op, every lookup ==
              the oracle's state of its conversation

The offered rate leaves the stream idle about a third of the time, so each
released segment is its own batch and its own epoch whatever the host's
speed, and a segment's lag is the fixed cost of one epoch plus the wait
for the batch ahead of it. A rate near the engine's epoch rate would put
the run on the knee of the queue, where lag swings with every change in
the host's speed. A stream's first batch also pays the query's start, so
the median of three segments (--seconds 8) is that of the warm ones; the
warm-up stream in set-up has already compiled their plans.

The run's table therefore commits the same epochs in every run: the load
and one per trickle segment, so serve reads four delta dirs per bucket
(the sink folds L0 -> L1 only at a bucket's fifth delta). Reads run
alone, not beside the stream: on a 4-core host a concurrent reader and
stream share the cores, and the run-to-run spread of every read metric
then exceeds any usable bound. The timed bulk epoch runs late, on a warm
JVM, and between the two read rounds. Per-layer probes (traced run only)
live in `layers.py`.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np

from perfbench import stats
from perfbench.inputs import CdcInputs, WORKLOADS

N_BUCKETS = 32               # jobs/run_cdc.py default
MAX_FILES_PER_TRIGGER = 4    # jobs/run_cdc.py default
OFFERED_RATE = 0.25          # trickle segments released per second, fixed
STREAM_EPOCH0 = 100          # stream batch b commits as epoch 100 + b
BULK_EPOCH = 1
LOOKUPS = 3                  # per read round
CHANGE_READS = 4             # per read round
DRAIN_TIMEOUT_S = 60


def materialize(df) -> int:
    """Compute every output column (xxhash64 over all of them, summed), as
    bench.py does; a bare count() would let Spark prune the projection.
    Returns the row count."""
    from pyspark.sql import functions as F

    r = df.select(F.xxhash64(*df.columns).cast("double").alias("_h")).agg(
        F.sum("_h"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    return int(r["n"])


@dataclass
class Outcome:
    metrics: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


def _log_entries(d: str) -> list[str]:
    """Committed entries of a checkpoint metadata log dir (skips the
    hidden .crc files and in-flight temp files)."""
    if not os.path.isdir(d):
        return []
    return [n for n in os.listdir(d) if not n.startswith(".") and not n.endswith(".tmp")]


def stream_batch_files(checkpoint: str) -> dict[int, list[str]]:
    """Segment basenames per query batch id, from the query checkpoint.

    Each file source keeps its own log, numbered by the source's log
    offset (`sources/<i>/<offset>`, compacted into `<offset>.compact`);
    the query's `offsets/<batch>` lists, per source in source order, the
    log offset the batch read up to. A batch owns the files whose source
    offset lies after the previous batch's and at or before its own.

    The checkpoint is the only record of this: foreachBatch is handed a
    LogicalRDD over the planned batch, so its `inputFiles()` is empty."""
    files: dict[int, dict[int, set[str]]] = defaultdict(lambda: defaultdict(set))
    src_root = os.path.join(checkpoint, "sources")
    for src in _log_entries(src_root):
        for name in _log_entries(os.path.join(src_root, src)):
            with open(os.path.join(src_root, src, name)) as f:
                for line in f.read().splitlines()[1:]:
                    e = json.loads(line)
                    files[int(src)][int(e["batchId"])].add(os.path.basename(e["path"]))
    off_root = os.path.join(checkpoint, "offsets")
    prev: dict[int, int] = {}
    out: dict[int, list[str]] = {}
    for b in sorted(int(n) for n in _log_entries(off_root)):
        with open(os.path.join(off_root, str(b))) as f:
            lines = f.read().splitlines()[2:]  # version line, batch metadata
        got: set[str] = set()
        for i, line in enumerate(lines):
            if line.strip() == "-":
                continue  # this source has no data yet
            cur = int(json.loads(line)["logOffset"])
            for o in range(prev.get(i, -1) + 1, cur + 1):
                got |= files[i][o]
            prev[i] = cur
        out[b] = sorted(got)
    return out


def read_bulk(spark, inputs: CdcInputs):
    """The bulk epoch's events: its v0 and v1 segments, each read with its
    declared schema and aligned, unioned (as the stream's two sources are)."""
    from nifi_daffodil_spark.sources.wal import read_wal_batch

    v0 = read_wal_batch(spark, inputs.bulk["v0"], "v0")
    return v0.unionByName(read_wal_batch(spark, inputs.bulk["v1"], "v1"))


def max_chain(table_root: str) -> int:
    """Most dirs a read must fold for one bucket (base + runs + deltas),
    from the table's committed manifest."""
    with open(os.path.join(table_root, "manifest.json")) as f:
        buckets = json.load(f)["buckets"].values()
    return max((bool(b.get("base")) + len(b.get("runs", [])) + len(b.get("deltas", []))
                for b in buckets), default=0)


def turns_mismatch(got, exp) -> list[str]:
    """Compare two transcript frames turn by turn (keys, role, text, tool).
    Returns one line per differing turn; empty when equal."""
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]

    def rows(df):
        df = df[cols].sort_values(["conv_id", "turn_idx"], kind="mergesort")
        return {
            (r[0], int(r[1])): tuple(None if v is None or v != v else v for v in r[2:])
            for r in df.itertuples(index=False, name=None)
        }

    g, e = rows(got), rows(exp)
    out = [f"missing turn {k}" for k in sorted(e.keys() - g.keys())]
    out += [f"unexpected turn {k}" for k in sorted(g.keys() - e.keys())]
    out += [f"turn {k} differs" for k in sorted(e.keys() & g.keys()) if g[k] != e[k]]
    return out


def check_table(spark, table_root: str, expected) -> list[str]:
    """The replay gate: the table under `table_root` must equal the pandas
    oracle's `expected` = (final transcripts, quarantine count), per turn."""
    from nifi_daffodil_spark.sinks.parquet_state import ParquetStateSink

    exp, n_quar = expected
    sink = ParquetStateSink(spark, table_root, N_BUCKETS)
    problems = turns_mismatch(sink.read_transcripts().toPandas(), exp)
    got_quar = sink.read_quarantine().count()
    if got_quar != n_quar:
        problems.append(f"quarantined {got_quar} rows, oracle {n_quar}")
    return problems


class CdcScenario:
    def __init__(self, work: str, workload: str, seed: int, seconds: float,
                 inputs: CdcInputs, tracer, cores: int):
        self.work, self.workload, self.seed = work, workload, seed
        self.seconds, self.inputs, self.tracer, self.cores = seconds, inputs, tracer, cores
        self.out = Outcome()
        self.table = os.path.join(work, "table")
        self.stream_dir = os.path.join(work, "stream")
        self.checkpoint = os.path.join(work, "checkpoint")
        self.stream_log: dict[int, tuple[float, float]] = {}  # batch -> start, commit
        self.releases: dict[str, float] = {}   # basename -> scheduled release
        self.released: list[str] = []          # paths, in release order
        self.release_late: list[float] = []    # actual - scheduled release
        self.lookup_samples: list[tuple] = []  # (conv_id, rows) of every lookup
        self.lookups: list[float] = []
        self.changes: list[float] = []
        self.scans: list[float] = []
        self.chain: int | None = None          # fold chain of the layout serve reads
        self.rng = np.random.default_rng(seed)

    # ---- set-up -----------------------------------------------------------

    def _scratch_engine(self, root: str):
        """An engine over a table of its own under `root`, its sink traced
        like the run's."""
        from nifi_daffodil_spark.config import EngineConfig
        from nifi_daffodil_spark.engine import CdcEngine
        from nifi_daffodil_spark.sinks.parquet_state import ParquetStateSink

        sink = ParquetStateSink(self.spark, os.path.join(root, "table"), N_BUCKETS)
        self._trace_sink(sink)
        return CdcEngine(self.spark, sink, EngineConfig(n_buckets=N_BUCKETS))

    def setup(self, build_spark) -> None:
        """Session, sink and engine, and a warm-up stream of one small
        segment into a table of its own: the JVM's first epoch pays class
        loading, code generation and the Python workers' start, and the
        first stream compiles the plans of the trickle's batches."""
        from nifi_daffodil_spark.config import EngineConfig
        from nifi_daffodil_spark.engine import CdcEngine
        from nifi_daffodil_spark.sinks.parquet_state import ParquetStateSink

        t0 = time.monotonic()
        self.spark = spark = build_spark(self.cores)
        self.tracer.bind(spark)
        self.sink = ParquetStateSink(spark, self.table, N_BUCKETS)
        self.engine = CdcEngine(spark, self.sink, EngineConfig(n_buckets=N_BUCKETS))
        self._trace_sink(self.sink)
        warm = os.path.join(self.work, "warmup")
        for v in ("v0", "v1"):
            os.makedirs(os.path.join(warm, "wal", v))
        for p in self.inputs.warmup:
            shutil.copyfile(p, os.path.join(warm, "wal", "v0", os.path.basename(p)))
        with self.tracer.span("engine.run_stream", kind="warmup"):
            query = self._scratch_engine(warm).run_stream(
                os.path.join(warm, "wal"), os.path.join(warm, "checkpoint"),
                available_now=True, max_files_per_trigger=MAX_FILES_PER_TRIGGER)
            try:
                query.awaitTermination(DRAIN_TIMEOUT_S)
            finally:
                err = query.exception()
                query.stop()
        if err is not None:
            raise RuntimeError(f"warm-up stream failed: {err}")
        self._instrument()
        self.out.metrics["setup_s"] = time.monotonic() - t0
        shutil.rmtree(warm, ignore_errors=True)

    def _instrument(self) -> None:
        """Spans at the layer boundaries. The stream's foreachBatch calls
        engine.process_batch; the override records each batch's start and
        commit and offsets stream batch ids past the bulk epoch, so epoch
        ids stay in commit order."""
        eng, tracer = self.engine, self.tracer
        self._process = eng.process_batch

        def stream_process_batch(df, batch_id):
            start = time.monotonic()
            with tracer.span("engine.process_batch", kind="stream", batch=int(batch_id)):
                st = self._process(df, STREAM_EPOCH0 + int(batch_id))
            self.stream_log[int(batch_id)] = (start, time.monotonic())
            return st

        eng.process_batch = stream_process_batch

    def _trace_sink(self, sink) -> None:
        """Traced run: a span around each apply_batch, counting the data
        files it adds."""
        tracer = self.tracer
        if not tracer.enabled:
            return
        apply_batch = sink.apply_batch
        data = os.path.join(sink.root, "data")

        def files() -> set[str]:
            return {os.path.join(r, f) for r, _, fs in os.walk(data) for f in fs
                    if f.endswith(".parquet")}

        def traced_apply(batch, epoch_id, *a, **kw):
            before = files()
            with tracer.span("sinks.parquet_state.apply_batch", epoch=int(epoch_id)) as s:
                res = apply_batch(batch, epoch_id, *a, **kw)
            s["new_files"] = len(files() - before)
            return res

        sink.apply_batch = traced_apply

    # ---- bulk -------------------------------------------------------------

    def load(self) -> None:
        """The bulk events as one epoch into the run's table (untimed): the
        table the trickle and serve run on, and the JIT warm-up of the
        per-row paths."""
        self.out.attempted += 1
        with self.tracer.span("engine.process_batch", kind="load", epoch=BULK_EPOCH):
            self._process(read_bulk(self.spark, self.inputs), BULK_EPOCH)

    def bulk(self) -> None:
        """The bulk events again, as one timed epoch into a table of its
        own, on a JVM that has run every other phase."""
        root = os.path.join(self.work, "bulk")
        process = self._scratch_engine(root).process_batch
        self.out.attempted += 1
        t0 = time.monotonic()
        with self.tracer.span("engine.process_batch", kind="bulk", epoch=BULK_EPOCH):
            st = process(read_bulk(self.spark, self.inputs), BULK_EPOCH)
        wall = time.monotonic() - t0
        shutil.rmtree(root, ignore_errors=True)
        events = int(st.extra["raw_events"])
        self.out.metrics["ingest_events_per_s"] = events / wall
        self.out.detail["bulk"] = {"events": events, "wall_s": wall}

    # ---- serve ------------------------------------------------------------

    def _op(self, span: str, fn, times: list[float]):
        """One client operation, timed into `times`; a failure is counted,
        not raised."""
        self.out.attempted += 1
        try:
            t = time.monotonic()
            with self.tracer.span(span) as s:
                res = fn()
            times.append(time.monotonic() - t)
        except Exception as e:  # noqa: BLE001 - the run goes on and reports it
            self.out.fail(f"{span}: {e!r}"[:300])
            return None
        if s is not None:
            s["rows"] = len(res) if hasattr(res, "__len__") else res
        return res

    def serve(self) -> None:
        """Closed loop, one client: LOOKUPS point lookups (keys drawn with
        the log's own skew; the first round's first is the hot key) and
        CHANGE_READS reads of the last stream epoch's net changes. Two
        rounds run, before and after the timed bulk epoch, on the layout
        the trickle left, so the medians span more than one stretch of the
        run. The traced run adds a full scan to the first round."""
        sink, hot = self.sink, WORKLOADS[self.workload]["hot_frac"]
        first = self.chain is None
        if first:
            self.chain = max_chain(self.table)
        # the net changes of the last stream epoch
        since = STREAM_EPOCH0 + max(self.stream_log, default=0) - 1
        for i in range(LOOKUPS):
            if hot and first and i == 0:
                conv = 0
            else:
                conv = 0 if self.rng.random() < hot else int(self.rng.integers(1, 500))
            conv_id = "conv-%05d" % conv
            rows = self._op("sinks.parquet_state.read_conversation",
                            lambda: sink.read_conversation(conv_id).toPandas(), self.lookups)
            if rows is not None:
                self.lookup_samples.append((conv_id, rows))
        for _ in range(CHANGE_READS):
            self._op("sinks.parquet_state.read_changes",
                     lambda: materialize(sink.read_changes(since)), self.changes)
        if self.tracer.enabled and first:
            self._op("sinks.parquet_state.read_transcripts",
                     lambda: materialize(sink.read_transcripts()), self.scans)
        # (percentile, value) where at least 10 samples lie beyond; None below 20
        self.out.detail.update(lookups=self.lookups, changes=self.changes, scans=self.scans,
                               serve_max_chain=self.chain,
                               lookup_tail=stats.tail(self.lookups))
        for name, xs in (("lookup_p50_s", self.lookups), ("changes_p50_s", self.changes)):
            if xs:
                self.out.metrics[name] = stats.median(xs)

    # ---- trickle ----------------------------------------------------------

    def trickle(self) -> None:
        """Open loop: segment i is due at t0 + i / OFFERED_RATE whatever
        the engine is doing; then every released segment is drained."""
        for v in ("v0", "v1"):
            os.makedirs(os.path.join(self.stream_dir, v), exist_ok=True)
        query = self.engine.run_stream(
            self.stream_dir, self.checkpoint, available_now=False,
            max_files_per_trigger=MAX_FILES_PER_TRIGGER,
        )
        try:
            t0 = time.monotonic() + 0.5
            for i, (path, version) in enumerate(self.inputs.trickle):
                due = t0 + i / OFFERED_RATE
                if due > t0 + self.seconds:
                    break
                time.sleep(max(0.0, due - time.monotonic()))
                name = os.path.basename(path)
                tmp = os.path.join(self.stream_dir, f".{name}")
                shutil.copyfile(path, tmp)
                os.replace(tmp, os.path.join(self.stream_dir, version, name))  # atomic
                self.release_late.append(time.monotonic() - due)
                self.releases[name] = due
                self.released.append(path)
        finally:
            self._drain(query)

    def _drain(self, query) -> None:
        deadline = time.monotonic() + DRAIN_TIMEOUT_S
        want = {os.path.basename(p) for p in self.released}
        try:
            while time.monotonic() < deadline and query.isActive:
                done = {f for b, fs in stream_batch_files(self.checkpoint).items()
                        if b in self.stream_log for f in fs}
                if want <= done:
                    break
                time.sleep(0.2)
        finally:
            err = query.exception()
            query.stop()
        if err is not None:
            self.out.fail(f"stream failed: {err}"[:300])
        batch_files = stream_batch_files(self.checkpoint)
        ends = {b: e for b, (_, e) in self.stream_log.items()}
        starts = {b: s for b, (s, _) in self.stream_log.items()}
        lags = stats.segment_lags(self.releases, batch_files, ends)
        self.out.attempted += len(self.releases)
        for name in sorted(self.releases.keys() - lags.keys()):
            self.out.fail(f"segment {name} never committed")
        ordered = [lags[os.path.basename(p)] for p in self.released
                   if os.path.basename(p) in lags]
        if ordered:
            self.out.metrics["lag_p50_s"] = stats.median(ordered)
        self.out.detail.update(
            lags=ordered,
            lag_tail=stats.tail(ordered),
            lag_trend=stats.lag_trend(ordered),
            queue_waits=stats.queue_waits(self.releases, batch_files, starts),
            batch_files={b: len(fs) for b, fs in batch_files.items()},
            release_late_max_s=max(self.release_late, default=0.0),
        )

    # ---- gate -------------------------------------------------------------

    def gate(self) -> None:
        from nifi_daffodil_spark.fixtures.oracle import replay_oracle

        out = self.out
        applied = self.inputs.bulk["v0"] + self.inputs.bulk["v1"] + self.released
        expected = replay_oracle(applied)
        out.attempted += 1
        for p in check_table(self.spark, self.table, expected):
            out.fail(f"table: {p}")
        # re-submitting a committed epoch is a skipped no-op
        out.attempted += 1
        manifest = os.path.join(self.table, "manifest.json")
        with open(manifest, "rb") as f:
            before = f.read()
        st = self._process(read_bulk(self.spark, self.inputs), BULK_EPOCH)
        with open(manifest, "rb") as f:
            after = f.read()
        if not st.skipped or before != after:
            out.fail("re-submitted epoch was not a skipped no-op")
        # serve's lookups == the oracle's state after the last stream epoch,
        # the last one the table commits
        exp = expected[0]
        for conv_id, rows in self.lookup_samples:
            out.attempted += 1
            diff = turns_mismatch(rows, exp[exp["conv_id"] == conv_id])
            if diff:
                out.fail(f"lookup {conv_id}: {diff[:3]}")
