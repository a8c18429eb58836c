import datetime as dt

from nifi_daffodil_spark.config import EngineConfig
from nifi_daffodil_spark.engine import CdcEngine
from nifi_daffodil_spark.sinks.parquet_state import ParquetStateSink

TS = dt.datetime(2024, 1, 1)


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "lsn long, op string, conv_id string, turn_idx long, role string, "
        "text string, tool string, ts timestamp",
    )


def _engine(spark, tmp_path, **cfg):
    sink = ParquetStateSink(spark, str(tmp_path / "table"), n_buckets=8)
    return CdcEngine(spark, sink, EngineConfig(n_buckets=8, **cfg))


def test_upsert_delete_across_epochs(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    eng.process_batch(
        _events(
            spark,
            [
                (1, "I", "a", 0, "user", "hello", None, TS),
                (2, "I", "a", 1, "assistant", "hi", None, TS),
                (3, "I", "b", 0, "user", "yo", None, TS),
            ],
        ),
        epoch_id=0,
    )
    eng.process_batch(
        _events(
            spark,
            [
                (4, "U", "a", 1, "assistant", "hi v2", "search", TS),
                (5, "D", "b", 0, None, None, None, TS),
                (6, "I", "c", 0, "user", "new conv", None, TS),
            ],
        ),
        epoch_id=1,
    )
    rows = {
        (r["conv_id"], r["turn_idx"]): r
        for r in eng.sink.read_transcripts().collect()
    }
    assert set(rows) == {("a", 0), ("a", 1), ("c", 0)}
    assert rows[("a", 1)]["text"] == "hi v2"
    assert rows[("a", 1)]["tool"] == "search"


def test_idempotent_epoch_replay(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    df = _events(spark, [(1, "I", "a", 0, "user", "v1", None, TS)])
    eng.process_batch(df, epoch_id=0)
    before = eng.sink._read_manifest()
    st = eng.process_batch(
        _events(spark, [(99, "U", "a", 0, "user", "SHOULD NOT APPLY", None, TS)]),
        epoch_id=0,  # same epoch replayed with different content
    )
    assert st.skipped
    assert eng.sink._read_manifest() == before
    assert eng.sink.read_transcripts().collect()[0]["text"] == "v1"


def test_late_smaller_lsn_never_overwrites(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    eng.process_batch(_events(spark, [(10, "U", "a", 0, "user", "newer", None, TS)]), 0)
    eng.process_batch(_events(spark, [(5, "U", "a", 0, "user", "older-late", None, TS)]), 1)
    rows = eng.sink.read_transcripts().collect()
    assert len(rows) == 1 and rows[0]["text"] == "newer"
    # and a late DELETE with a smaller lsn must not delete either
    eng.process_batch(_events(spark, [(7, "D", "a", 0, None, None, None, TS)]), 2)
    assert eng.sink.read_transcripts().count() == 1


def test_delete_then_reinsert(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    eng.process_batch(_events(spark, [(1, "I", "a", 0, "user", "v1", None, TS)]), 0)
    eng.process_batch(_events(spark, [(2, "D", "a", 0, None, None, None, TS)]), 1)
    assert eng.sink.read_transcripts().count() == 0
    eng.process_batch(_events(spark, [(3, "I", "a", 0, "user", "back", None, TS)]), 2)
    rows = eng.sink.read_transcripts().collect()
    assert len(rows) == 1 and rows[0]["text"] == "back"


def test_only_touched_buckets_rewritten(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    big = [(i, "I", f"conv-{i}", 0, "user", f"t{i}", None, TS) for i in range(200)]
    eng.process_batch(_events(spark, big), 0)
    m0 = eng.sink._read_manifest()
    # one-key epoch touches exactly one bucket
    eng.process_batch(_events(spark, [(1000, "U", "conv-7", 0, "user", "u", None, TS)]), 1)
    m1 = eng.sink._read_manifest()
    moved = [b for b in m0["buckets"] if m0["buckets"][b] != m1["buckets"].get(b)]
    assert len(moved) == 1
    # merge-on-read: the small epoch APPENDED a delta to that bucket's chain
    # — the epoch-0 data was not rewritten (its dir is still referenced)
    before, after = m0["buckets"][moved[0]], m1["buckets"][moved[0]]
    assert after["deltas"][: len(before["deltas"])] == before["deltas"]
    assert len(after["deltas"]) == len(before["deltas"]) + 1
    assert eng.sink.read_transcripts().count() == 200
    # and the fold resolves the update
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in eng.sink.read_transcripts().collect()
    }
    assert got[("conv-7", 0)] == "u"


def test_vacuum_removes_unreferenced_snapshots(spark, tmp_path):
    import os

    eng = _engine(spark, tmp_path)
    for e in range(6):
        eng.process_batch(
            _events(spark, [(e, "U", "a", 0, "user", f"v{e}", None, TS)]), e
        )
    removed = eng.sink.vacuum(keep_last=1)
    assert removed
    data = set(os.listdir(os.path.join(eng.sink.root, "data")))
    m = eng.sink._read_manifest()
    referenced = {d for b in m["buckets"] for d in eng.sink._bucket_dirs(m, int(b))}
    assert referenced <= data
    assert eng.sink.read_transcripts().collect()[0]["text"] == "v5"


def test_lineage_and_quarantine_written(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    eng.process_batch(
        _events(
            spark,
            [
                (1, "I", "a", 0, "user", "ok", None, TS),
                (2, "I", None, 0, "user", "bad", None, TS),
            ],
        ),
        0,
    )
    lin = eng.sink.read_lineage().collect()
    assert len(lin) >= 1
    assert all(r["epoch"] == 0 for r in lin)
    assert sum(r["rows_in"] for r in lin) == 1
    q = eng.sink.read_quarantine().collect()
    assert len(q) == 1 and q[0]["error"] == "NULL_CONV_ID" and q[0]["epoch"] == 0


def test_compact_tombstones_reclaims_old_deletes(spark, tmp_path):
    """Offline maintenance: tombstones older than the replay horizon are
    physically removed; live rows and the visible table are untouched."""
    from pyspark.sql import functions as F

    eng = _engine(spark, tmp_path)
    eng.process_batch(
        _events(
            spark,
            [
                (1, "I", "a", 0, "user", "keep", None, TS),
                (2, "I", "b", 0, "user", "doomed", None, TS),
            ],
        ),
        0,
    )
    eng.process_batch(_events(spark, [(3, "D", "b", 0, None, None, None, TS)]), 1)
    state = eng.sink.read_state()
    assert state.filter(F.col("op") == "D").count() == 1  # tombstone persisted
    eng.sink.compact_tombstones(lsn_horizon=10)  # no lsn<10 can still arrive
    state2 = eng.sink.read_state()
    assert state2.filter(F.col("op") == "D").count() == 0  # reclaimed
    rows = eng.sink.read_transcripts().collect()
    assert len(rows) == 1 and rows[0]["text"] == "keep"
    # the sink still applies epochs normally after compaction
    eng.process_batch(_events(spark, [(11, "I", "c", 0, "user", "post", None, TS)]), 2)
    assert eng.sink.read_transcripts().count() == 2


def test_epoch_stats_agree_with_lineage(spark, tmp_path):
    """EpochStats.rows_applied and the lineage table mean the same thing:
    non-tombstone winners (round-1 advice: the two surfaces disagreed)."""
    eng = _engine(spark, tmp_path)
    st = eng.process_batch(
        _events(
            spark,
            [
                (1, "I", "a", 0, "user", "x", None, TS),
                (2, "D", "b", 0, None, None, None, TS),
                (3, "I", None, 0, "user", "bad", None, TS),  # quarantined
            ],
        ),
        0,
    )
    lin = eng.sink.read_lineage().collect()
    assert st.rows_in == sum(r["rows_in"] for r in lin) == 2
    assert st.rows_applied == sum(r["rows_applied"] for r in lin) == 1  # D excluded
    assert st.rows_quarantined == 1
    assert st.extra["raw_events"] == 3  # observe() counted the full pass


def test_delta_chain_bounded_by_tiered_compaction(spark, tmp_path):
    """Size-tiered merge-on-read invariants on a hot bucket: level-0 chains
    never exceed max_deltas+1 (they fold into a level-1 RUN, base
    untouched), run counts never exceed max_runs+1 (they fold with the base
    into a new base), and the LWW winner survives every tier transition.
    max_deltas=max_runs=1 so four epochs exercise all three tiers."""
    from nifi_daffodil_spark.sinks.parquet_state import ParquetStateSink

    sink = ParquetStateSink(
        spark, str(tmp_path / "t"), n_buckets=8, max_deltas=1, max_runs=1
    )
    eng = CdcEngine(spark, sink, EngineConfig(n_buckets=8))
    saw_run = saw_base = False
    n_epochs = 6
    for e in range(n_epochs):
        eng.process_batch(
            _events(spark, [(e + 1, "U", "hot", 0, "user", f"v{e}", None, TS)]), e
        )
        (ent,) = sink._read_manifest()["buckets"].values()
        assert len(ent["deltas"]) <= sink.max_deltas + 1
        assert len(ent["runs"]) <= sink.max_runs + 1
        saw_run = saw_run or bool(ent["runs"])
        saw_base = saw_base or ent["base"] is not None
        # every tier state must still resolve to the current winner
        rows = sink.read_transcripts().collect()
        assert len(rows) == 1 and rows[0]["text"] == f"v{e}"
    assert saw_run and saw_base  # both compaction tiers actually fired


def test_replay_quarantine_after_config_fix(spark, tmp_path):
    """Recovery path: rows quarantined under strict validation are
    re-ingested verbatim as a new epoch once the config is fixed (role
    check only exists in 'full'); still-bad rows re-quarantine; the replay
    epoch is idempotent like any other."""
    from nifi_daffodil_spark.sinks.parquet_state import ParquetStateSink

    sink = ParquetStateSink(spark, str(tmp_path / "t"), n_buckets=8)
    strict = CdcEngine(
        spark, sink, EngineConfig(n_buckets=8, validation_mode="full")
    )
    strict.process_batch(
        _events(
            spark,
            [
                (1, "I", "a", 0, "robot", "quarantined role", None, TS),
                (2, "I", None, 0, "user", "always bad", None, TS),
                (3, "I", "b", 0, "user", "fine", None, TS),
            ],
        ),
        0,
    )
    assert sink.read_transcripts().count() == 1
    assert sink.read_quarantine().count() == 2

    relaxed = CdcEngine(
        spark, sink, EngineConfig(n_buckets=8, validation_mode="limited")
    )
    st = relaxed.replay_quarantine(epoch_id=100)
    assert not st.skipped
    rows = {r["conv_id"]: r for r in sink.read_transcripts().collect()}
    assert set(rows) == {"a", "b"}       # the role row recovered
    assert rows["a"]["role"] == "robot"  # verbatim payload, not rewritten
    # the null-conv row is bad under ANY mode: re-quarantined under epoch 100
    assert sink.read_quarantine().filter("epoch = 100").count() == 1
    # idempotent: replaying the same epoch id is a no-op
    assert relaxed.replay_quarantine(epoch_id=100).skipped


def test_quarantine_idempotent_on_crash_retry(spark, tmp_path):
    """Crash between the quarantine write and the manifest commit must not
    duplicate quarantine rows on retry: the write is partitioned by epoch
    with dynamic partition OVERWRITE, so the retry replaces its own
    partition (effectively-once, matching the table's semantics)."""
    eng = _engine(spark, tmp_path)
    rows = [
        (1, "I", "a", 0, "user", "ok", None, TS),
        (2, "I", None, 0, "user", "bad", None, TS),
    ]
    eng.process_batch(_events(spark, rows), 0)
    assert eng.sink.read_quarantine().count() == 1
    # simulate the crash: quarantine was written, manifest commit was not
    m = eng.sink._read_manifest()
    del m["epochs"]["0"]
    eng.sink._write_manifest(m)
    eng.process_batch(_events(spark, rows), 0)  # the retry
    q = eng.sink.read_quarantine().collect()
    assert len(q) == 1  # replaced, not appended
    assert q[0]["error"] == "NULL_CONV_ID" and q[0]["epoch"] == 0


def test_compacted_files_sorted_for_data_skipping(spark, tmp_path):
    """COMPACTION outputs (runs/base: long-lived, read-serving) must be
    sorted by (conv_id, turn_idx) within their bucket so parquet row-group
    stats prune point lookups (the Iceberg sort-order analog). The hot
    delta append deliberately does NOT sort — an A/B measured the
    write-path sort at ~1.7x epoch wall, and deltas fold away within
    max_deltas epochs."""
    import glob

    import pyarrow.parquet as pq

    sink = ParquetStateSink(spark, str(tmp_path / "table"), n_buckets=8,
                            max_deltas=1, max_runs=1)
    from nifi_daffodil_spark.config import EngineConfig
    from nifi_daffodil_spark.engine import CdcEngine

    eng = CdcEngine(spark, sink, EngineConfig(n_buckets=8))
    for e in range(4):  # enough epochs to materialize run- and snap- dirs
        rows = [
            (400 * e + i, "I", f"c{i % 17:02d}", 100 * e + i // 17, "user",
             f"t{e}-{i}", None, TS)
            for i in range(200)
        ]
        eng.process_batch(_events(spark, rows), epoch_id=e)
    compacted = [
        f
        for pat in ("run-*", "snap-*")
        for f in glob.glob(
            str(tmp_path / "table" / "data" / pat / "bucket=*" / "*.parquet")
        )
    ]
    assert compacted, "no compaction output materialized"
    for f in compacted:
        t = pq.read_table(f, columns=["conv_id", "turn_idx"])
        keys = list(zip(t.column("conv_id").to_pylist(),
                        t.column("turn_idx").to_pylist()))
        assert keys == sorted(keys), f


def test_read_conversation_pruned_point_lookup(spark, tmp_path, monkeypatch):
    """read_conversation must equal the filtered full read, open only the
    files of the one bucket that can hold the key, filter inside the
    pyarrow scan, and start no Spark job when collected."""
    import re

    from nifi_daffodil_spark.sinks import parquet_state

    eng = _engine(spark, tmp_path)
    rows = [
        (i, "I", f"c{i % 17:02d}", i // 17, "user", f"t{i}",
         None if i % 2 else "search", TS + dt.timedelta(microseconds=i))
        for i in range(200)
    ]
    eng.process_batch(_events(spark, rows), epoch_id=0)

    scans = []
    real_dataset = parquet_state.ds.dataset

    class _Spy:
        def __init__(self, files, **kw):
            self.files, self._ds = list(files), real_dataset(files, **kw)

        def to_table(self, **kw):
            self.filter = kw.get("filter")
            return self._ds.to_table(**kw)

    def spy(files, **kw):
        scans.append(_Spy(files, **kw))
        return scans[-1]

    monkeypatch.setattr(parquet_state.ds, "dataset", spy)
    sc = spark.sparkContext
    sc.setJobGroup("point-lookup", "read_conversation + collect")
    try:
        got = eng.sink.read_conversation("c05").collect()
        jobs = sc.statusTracker().getJobIdsForGroup("point-lookup")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []
    full = eng.sink.read_transcripts().filter("conv_id = 'c05'").collect()
    assert len(full) == 12 and sorted(got) == sorted(full)
    # only ONE bucket's files were opened, and the filter ran in the scan
    (scan,) = scans
    buckets = {b for f in scan.files for b in re.findall(r"bucket=(\d+)", f)}
    assert scan.files and len(buckets) == 1, scan.files
    assert str(scan.filter) == '(conv_id == "c05")'
    # a conv that hashes elsewhere must not be served from this bucket
    assert eng.sink.read_conversation("no-such-conv").count() == 0


def test_engine_bucket_count_follows_the_sink(spark, tmp_path):
    """An engine whose config names another bucket count than its sink is
    refused at construction; an engine built before a reshard() of its
    own sink buckets later batches under the sink's new count, so point
    lookups find their rows."""
    import pytest

    sink = ParquetStateSink(spark, str(tmp_path / "table"), n_buckets=4)
    with pytest.raises(ValueError, match=r"n_buckets=8\).*n_buckets=4"):
        CdcEngine(spark, sink, EngineConfig(n_buckets=8))
    eng = CdcEngine(spark, sink, EngineConfig(n_buckets=4))
    eng.process_batch(_events(spark, [(1, "I", "a", 0, "user", "v1", None, TS)]), 0)
    sink.reshard(16)
    convs = [f"c{i}" for i in range(12)]
    eng.process_batch(_events(spark, [
        (10 + i, "I", c, 0, "user", f"t{c}", None, TS)
        for i, c in enumerate(convs)]), 1)
    for c in convs:
        assert [r["text"] for r in sink.read_conversation(c).collect()] == [f"t{c}"], c


def test_all_bad_epoch_commits_nothing_and_quarantines(spark, tmp_path):
    """An epoch whose every row fails validation commits 0 rows and
    quarantines its input — an in-memory input included, whose empty
    batch once lost the epoch's observed counts."""
    eng = _engine(spark, tmp_path)
    st = eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "wizard", "x", None, TS)]), 0)
    assert (st.skipped, st.rows_in, st.rows_applied, st.rows_quarantined,
            st.extra["raw_events"]) == (False, 0, 0, 1, 1)
    assert eng.sink.epoch_applied(0)
    assert eng.sink.read_transcripts().count() == 0
    assert eng.sink.read_changes(-1).count() == 0
    (q,) = eng.sink.read_quarantine().collect()
    assert (q["lsn"], q["error"], q["epoch"]) == (1, "BAD_ROLE", 0)
    # the table goes on taking epochs
    eng.process_batch(_events(spark, [(2, "I", "a", 0, "user", "ok", None, TS)]), 1)
    assert [r["text"] for r in eng.sink.read_conversation("a").collect()] == ["ok"]


def test_retention_expires_stale_conversations(spark, tmp_path):
    """apply_retention tombstones whole conversations whose latest activity
    predates the cutoff, through the normal epoch path: exactly-once,
    changelog before-images, rollup retraction, and LWW fencing all hold."""
    import datetime as dt

    from nifi_daffodil_spark.config import EngineConfig
    from nifi_daffodil_spark.engine import CdcEngine
    from nifi_daffodil_spark.sinks.parquet_state import ParquetStateSink
    from nifi_daffodil_spark.sinks.rollup import ConvRollup

    old_ts = dt.datetime(2024, 1, 1)
    new_ts = dt.datetime(2024, 6, 1)
    cutoff = dt.datetime(2024, 3, 1)
    sink = ParquetStateSink(spark, str(tmp_path / "t"), n_buckets=8)
    eng = CdcEngine(spark, sink, EngineConfig(n_buckets=8))
    roll = ConvRollup(spark, sink, str(tmp_path / "roll"))
    eng.attach_rollup(roll)
    ev = spark.createDataFrame(
        [(1, "I", "stale", 0, "user", "bye", None, old_ts),
         (2, "I", "stale", 1, "assistant", "cya", None, old_ts),
         # conversation with ONE old turn but recent activity: must survive
         (3, "I", "live", 0, "user", "old turn", None, old_ts),
         (4, "I", "live", 1, "assistant", "recent", None, new_ts)],
        "lsn long, op string, conv_id string, turn_idx long, role string, "
        "text string, tool string, ts timestamp",
    )
    eng.process_batch(ev, 0)

    st = eng.apply_retention(cutoff, 1)
    assert not st.skipped and st.rows_in == 2  # both stale turns tombstoned
    got = {(r["conv_id"], r["turn_idx"]) for r in sink.read_transcripts().collect()}
    assert got == {("live", 0), ("live", 1)}
    # view retracted in the same epoch
    view = {r["conv_id"]: r["n_turns"] for r in roll.read().collect()}
    assert view == {"live": 2}
    # changelog carries the delete with its before image
    rows = {(r["conv_id"], r["turn_idx"]): r for r in sink.read_changelog(0, 1).collect()}
    assert rows[("stale", 0)]["change"] == "D"
    assert rows[("stale", 0)]["before"]["text"] == "bye"
    # idempotent: re-applying the epoch is a no-op
    assert eng.apply_retention(cutoff, 1).skipped
    assert sink.read_transcripts().count() == 2

    # LWW fencing: a LATE event older than the fence stays dead; one at the
    # COLLIDING fence lsn (the producer's next dense lsn == max+1 == 5) wins
    # the deterministic tiebreak and resurrects ITS key only — the other
    # expired turn stays dead (plain per-key CDC semantics after a delete)
    late = spark.createDataFrame(
        [(3, "U", "stale", 0, "user", "too late", None, old_ts)],
        ev.schema)
    eng.process_batch(late, 2)
    assert sink.read_transcripts().count() == 2
    colliding = spark.createDataFrame(
        [(5, "I", "stale", 0, "user", "back", None, new_ts)],
        ev.schema)
    eng.process_batch(colliding, 3)
    texts = {(r["conv_id"], r["turn_idx"]): r["text"]
             for r in sink.read_transcripts().collect()}
    assert texts[("stale", 0)] == "back"
    assert ("stale", 1) not in texts  # sibling turn remains expired
    # the collision-resurrection appears in the change feed as an insert
    cl = {(r["conv_id"], r["turn_idx"]): r["change"]
          for r in sink.read_changelog(2, 3).collect()}
    assert cl[("stale", 0)] == "I"


def test_retention_on_empty_table_skips(spark, tmp_path):
    import datetime as dt

    from nifi_daffodil_spark.config import EngineConfig
    from nifi_daffodil_spark.engine import CdcEngine
    from nifi_daffodil_spark.sinks.parquet_state import ParquetStateSink

    sink = ParquetStateSink(spark, str(tmp_path / "t"), n_buckets=8)
    eng = CdcEngine(spark, sink, EngineConfig(n_buckets=8))
    assert eng.apply_retention(dt.datetime(2024, 1, 1), 0).skipped


def test_concurrent_writers_exactly_once(spark, tmp_path):
    """ENFORCED single-writer (parquet analog of the Iceberg sink's r4
    snapshot re-check): two engines over the same table racing the SAME
    epoch commit it exactly once — the loser blocks on the writer lock,
    re-reads the manifest inside it, and skips. Racing DIFFERENT epochs
    both commit, with no delta-dir counter collision."""
    import threading

    from nifi_daffodil_spark.config import EngineConfig
    from nifi_daffodil_spark.engine import CdcEngine
    from nifi_daffodil_spark.sinks.parquet_state import ParquetStateSink

    root = str(tmp_path / "t")
    TSX = __import__("datetime").datetime(2024, 1, 1)

    def _ev(rows):
        return spark.createDataFrame(
            rows,
            "lsn long, op string, conv_id string, turn_idx long, "
            "role string, text string, tool string, ts timestamp",
        )

    stats = {}

    def run(name, epoch, rows):
        sink = ParquetStateSink(spark, root, n_buckets=8)
        eng = CdcEngine(spark, sink, EngineConfig(n_buckets=8))
        stats[name] = eng.process_batch(_ev(rows), epoch)

    same = [(1, "I", "a", 0, "user", "v1", None, TSX)]
    t1 = threading.Thread(target=run, args=("w1", 0, same))
    t2 = threading.Thread(target=run, args=("w2", 0, same))
    t1.start(); t2.start(); t1.join(120); t2.join(120)
    applied = [n for n, s in stats.items() if not s.skipped]
    assert len(applied) == 1, stats
    check = ParquetStateSink(spark, root, n_buckets=8)
    assert check.read_transcripts().count() == 1
    assert list(check._read_manifest()["epochs"]) == ["0"]

    # different epochs race: both commit, distinct delta dirs
    t3 = threading.Thread(target=run, args=(
        "w3", 1, [(2, "I", "b", 0, "user", "v2", None, TSX)]))
    t4 = threading.Thread(target=run, args=(
        "w4", 2, [(3, "I", "c", 0, "user", "v3", None, TSX)]))
    t3.start(); t4.start(); t3.join(120); t4.join(120)
    assert not stats["w3"].skipped and not stats["w4"].skipped
    m = check._read_manifest()
    assert sorted(m["epochs"]) == ["0", "1", "2"]
    deltas = {m["epochs"][e]["delta"] for e in m["epochs"]}
    assert len(deltas) == 3  # no counter collision between racing commits
    assert check.read_transcripts().count() == 3


def test_apply_after_concurrent_reshard_fails_fast(spark, tmp_path):
    """A writer whose batch was bucketed under the OLD count must not
    commit into a table a concurrent maintenance process resharded — the
    locked re-check raises instead of writing mod-old partitions into the
    mod-new manifest (invisible to bucket pruning)."""
    import datetime as dt

    import pytest

    from nifi_daffodil_spark.config import EngineConfig
    from nifi_daffodil_spark.engine import CdcEngine
    from nifi_daffodil_spark.sinks.parquet_state import ParquetStateSink

    TSX = dt.datetime(2024, 1, 1)
    root = str(tmp_path / "t")

    def _ev(rows):
        return spark.createDataFrame(
            rows,
            "lsn long, op string, conv_id string, turn_idx long, "
            "role string, text string, tool string, ts timestamp",
        )

    convs = [f"c{i}" for i in range(8)]
    sink1 = ParquetStateSink(spark, root, n_buckets=8)
    eng1 = CdcEngine(spark, sink1, EngineConfig(n_buckets=8))
    eng1.process_batch(_ev(
        [(1, "I", "a", 0, "user", "v1", None, TSX)]
        + [(10 + i, "I", c, 0, "user", f"t{c}", None, TSX)
           for i, c in enumerate(convs)]), 0)

    # maintenance process reshards underneath writer 1
    ParquetStateSink(spark, root, n_buckets=8).reshard(16)

    # the stale instance's point lookups prune by the table's recorded
    # bucket count, not the one it was opened with
    fresh = ParquetStateSink(spark, root, n_buckets=16)
    for c in ["a", *convs]:
        assert (sink1.read_conversation(c).collect()
                == fresh.read_conversation(c).collect() != []), c

    with pytest.raises(ValueError, match="resharded to n_buckets=16"):
        eng1.process_batch(_ev([(2, "I", "b", 0, "user", "v2", None, TSX)]), 1)
    # the failed epoch never committed — a correctly-reopened writer applies it
    sink2 = ParquetStateSink(spark, root, n_buckets=16)
    eng2 = CdcEngine(spark, sink2, EngineConfig(n_buckets=16))
    assert not eng2.process_batch(
        _ev([(2, "I", "b", 0, "user", "v2", None, TSX)]), 1).skipped
    assert sink2.read_transcripts().count() == 2 + len(convs)


def test_failed_epoch_keeps_the_quarantine_error(spark, tmp_path, monkeypatch):
    """When the delta write AND the concurrent quarantine write both fail,
    the raised error names both: the quarantine thread's failure rides on
    the primary exception instead of being dropped by the join."""
    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    def delta_boom(*a, **kw):
        raise RuntimeError("delta write boom")

    def quarantine_boom(*a, **kw):
        raise OSError("quarantine write boom")

    sink = ParquetStateSink(spark, str(tmp_path / "table"), n_buckets=8)
    quarantine = spark.createDataFrame(
        [(7, "{}", "bad role")], "lsn long, raw string, error string")
    monkeypatch.setattr(ParquetStateSink, "_write_partitioned", delta_boom)
    monkeypatch.setattr(DataFrameWriter, "parquet", quarantine_boom)
    with pytest.raises(RuntimeError, match="delta write boom") as ei:
        sink.apply_batch(
            _events(spark, [(1, "I", "a", 0, "user", "x", None, TS)]), 0,
            quarantine)
    notes = " ".join(getattr(ei.value, "__notes__", []))
    assert "OSError" in notes and "quarantine write boom" in notes
    assert not sink.epoch_applied(0)
