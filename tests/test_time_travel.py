"""Time-travel (snapshot-as-of-epoch) reads on the merge-on-read sink.

Per-epoch layout files pin the bucket->dirs mapping at commit time (the
Iceberg metadata-json analog), so `read_transcripts(as_of_epoch=E)` must
reproduce the table exactly as it stood after epoch E — including after
later compactions rewrote the CURRENT layout — and must expire cleanly
when vacuum() removes the dirs a snapshot references (expire_snapshots
semantics, reference analog: the whole snapshot-commit path around
AbstractDaffodilProcessor.java:479-501).
"""

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


def _engine(spark, tmp_path, **sink_kw):
    sink = ParquetStateSink(spark, str(tmp_path / "table"), n_buckets=8, **sink_kw)
    return CdcEngine(spark, sink, EngineConfig(n_buckets=8))


def _texts(df):
    return {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in df.collect()
    }


def test_as_of_epoch_reproduces_each_commit(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "user", "v1", None, TS),
                        (2, "I", "b", 0, "user", "b-v1", None, TS)]), 0)
    eng.process_batch(
        _events(spark, [(3, "U", "a", 0, "user", "v2", None, TS),
                        (4, "D", "b", 0, None, None, None, TS)]), 1)
    eng.process_batch(
        _events(spark, [(5, "U", "a", 0, "user", "v3", None, TS)]), 2)

    assert _texts(eng.sink.read_transcripts(as_of_epoch=0)) == {
        ("a", 0): "v1", ("b", 0): "b-v1"}
    assert _texts(eng.sink.read_transcripts(as_of_epoch=1)) == {("a", 0): "v2"}
    assert _texts(eng.sink.read_transcripts(as_of_epoch=2)) == {("a", 0): "v3"}
    # current == latest snapshot
    assert _texts(eng.sink.read_transcripts()) == {("a", 0): "v3"}


def test_time_travel_survives_compaction(spark, tmp_path):
    """Aggressive compaction (max_deltas=1) folds delta chains almost every
    epoch; the epoch-0 snapshot must still read from its pinned dirs."""
    eng = _engine(spark, tmp_path, max_deltas=1, max_runs=1)
    for e in range(6):
        eng.process_batch(
            _events(spark, [(10 + e, "U", "k", 0, "user", f"v{e}", None, TS)]), e)
    m = eng.sink._read_manifest()
    assert any("run-" in d or "snap-" in d
               for b in m["buckets"]
               for d in eng.sink._bucket_dirs(m, int(b))), "no compaction ran"
    assert _texts(eng.sink.read_transcripts(as_of_epoch=0)) == {("k", 0): "v0"}
    assert _texts(eng.sink.read_transcripts(as_of_epoch=3)) == {("k", 0): "v3"}
    assert _texts(eng.sink.read_transcripts()) == {("k", 0): "v5"}


def test_vacuum_expires_old_snapshots_keeps_recent(spark, tmp_path):
    import pytest

    eng = _engine(spark, tmp_path, max_deltas=1, max_runs=1)
    for e in range(6):
        eng.process_batch(
            _events(spark, [(10 + e, "U", "k", 0, "user", f"v{e}", None, TS)]), e)
    removed = eng.sink.vacuum(keep_last=2)
    assert removed, "vacuum removed nothing — test setup is too gentle"
    # old snapshot: expired with a clear error, layout file pruned
    with pytest.raises(LookupError, match="epoch 0"):
        eng.sink.read_transcripts(as_of_epoch=0).collect()
    import os
    assert not os.path.exists(eng.sink._layout_path(0))
    # never-committed epoch: same clean error family
    with pytest.raises(LookupError, match="never committed"):
        eng.sink.read_transcripts(as_of_epoch=99)
    # the last keep_last epochs' snapshots are pinned through the vacuum
    assert _texts(eng.sink.read_transcripts(as_of_epoch=5)) == {("k", 0): "v5"}
    assert _texts(eng.sink.read_transcripts(as_of_epoch=4)) == {("k", 0): "v4"}
    # and the current read is unaffected
    assert _texts(eng.sink.read_transcripts()) == {("k", 0): "v5"}


def test_read_changes_incremental(spark, tmp_path):
    """Incremental consumption: (after, to] epoch range returns the NET
    per-key change set, deletes included, reading only delta dirs."""
    eng = _engine(spark, tmp_path)
    eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "user", "v1", None, TS),
                        (2, "I", "b", 0, "user", "b-v1", None, TS)]), 0)
    eng.process_batch(
        _events(spark, [(3, "U", "a", 0, "user", "v2", None, TS)]), 1)
    eng.process_batch(
        _events(spark, [(4, "U", "a", 0, "user", "v3", None, TS),
                        (5, "D", "b", 0, None, None, None, TS)]), 2)

    ch = {(r["conv_id"], r["turn_idx"]): (r["text"], r["op"])
          for r in eng.sink.read_changes(after_epoch=0).collect()}
    # net change over epochs 1..2: a folded to its FINAL value, b deleted
    assert ch == {("a", 0): ("v3", "U"), ("b", 0): (None, "D")}

    only_e1 = {(r["conv_id"], r["turn_idx"]): r["text"]
               for r in eng.sink.read_changes(0, 1).collect()}
    assert only_e1 == {("a", 0): "v2"}

    assert eng.sink.read_changes(after_epoch=2).count() == 0


def test_read_changes_expired_after_vacuum(spark, tmp_path):
    import pytest

    eng = _engine(spark, tmp_path, max_deltas=1, max_runs=1)
    for e in range(6):
        eng.process_batch(
            _events(spark, [(10 + e, "U", "k", 0, "user", f"v{e}", None, TS)]), e)
    assert eng.sink.vacuum(keep_last=2)
    with pytest.raises(LookupError, match="re-bootstrap"):
        eng.sink.read_changes(after_epoch=-1, to_epoch=1).collect()


def test_orphan_layout_from_torn_commit_is_not_trusted(spark, tmp_path):
    """A crash between _write_layout and _write_manifest (the atomic commit
    point) leaves a layout file for an epoch that never committed. Time
    travel must refuse it — serving the failed commit's delta as committed
    state would break read-committed semantics — and expired_layouts()
    must list it for cleanup."""
    eng = _engine(spark, tmp_path)
    eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "user", "v1", None, TS)]), 0)
    sink = eng.sink
    # simulate the torn commit: layout exists, manifest never swapped
    sink._write_layout(99, "snap-torn", sink._read_manifest()["buckets"], gen=0)
    import pytest as _pytest
    with _pytest.raises(LookupError, match="never committed"):
        sink.read_transcripts(as_of_epoch=99).collect()
    assert 99 in sink.expired_layouts()
    # the committed epoch is unaffected
    assert _texts(sink.read_transcripts(as_of_epoch=0)) == {("a", 0): "v1"}


def test_changelog_before_after_images(spark, tmp_path):
    """Debezium-style envelope: per changed key, change I/U/D with the full
    old/new row images; fenced late rows and deletes of dead keys emit
    nothing; after_epoch before the first commit means since-bootstrap."""
    eng = _engine(spark, tmp_path)
    eng.process_batch(
        _events(spark, [(10, "I", "a", 0, "user", "v1", None, TS),
                        (11, "I", "b", 0, "user", "b-v1", None, TS)]), 0)
    eng.process_batch(
        _events(spark, [(20, "U", "a", 0, "user", "v2", "calc", TS),
                        (21, "D", "b", 0, None, None, None, TS),
                        (22, "I", "c", 0, "assistant", "c-v1", None, TS),
                        # fenced: lsn 5 < a's existing 10 — never applies
                        (5, "U", "a", 1, "user", "late", None, TS),
                        # delete of a key that never existed — no visible change
                        (23, "D", "zz", 0, None, None, None, TS)]), 1)

    rows = {
        (r["conv_id"], r["turn_idx"]): r
        for r in eng.sink.read_changelog(after_epoch=0).collect()
    }
    assert set(rows) == {("a", 0), ("b", 0), ("c", 0), ("a", 1)}
    a = rows[("a", 0)]
    assert a["change"] == "U"
    assert a["before"]["text"] == "v1" and a["before"]["lsn"] == 10
    assert a["after"]["text"] == "v2" and a["after"]["tool"] == "calc"
    b = rows[("b", 0)]
    assert b["change"] == "D"
    assert b["before"]["text"] == "b-v1" and b["after"] is None
    c = rows[("c", 0)]
    assert c["change"] == "I"
    assert c["before"] is None and c["after"]["text"] == "c-v1"
    # (a,1) did not exist before, so even the fenced-lsn row is its insert
    assert rows[("a", 1)]["change"] == "I"

    # bootstrap: everything visible after epoch 0 is an insert
    boot = {
        (r["conv_id"], r["turn_idx"]): r["change"]
        for r in eng.sink.read_changelog(after_epoch=-1, to_epoch=0).collect()
    }
    assert boot == {("a", 0): "I", ("b", 0): "I"}

    # unknown as-of point raises like time travel does
    import pytest as _pytest
    with _pytest.raises(LookupError):
        eng.sink.read_changelog(after_epoch=7).collect()


def test_changelog_fence_suppresses_lost_update(spark, tmp_path):
    """A later epoch whose net row for a key carries a SMALLER lsn than the
    old image (pure late replay) must emit no change row at all."""
    eng = _engine(spark, tmp_path)
    eng.process_batch(
        _events(spark, [(100, "I", "k", 0, "user", "new", None, TS)]), 0)
    eng.process_batch(
        _events(spark, [(50, "U", "k", 0, "user", "stale", None, TS)]), 1)
    assert eng.sink.read_changelog(after_epoch=0).count() == 0
    # and the table still serves the fenced winner
    assert _texts(eng.sink.read_transcripts()) == {("k", 0): "new"}


def test_reshard_partition_evolution(spark, tmp_path):
    """Partition evolution: reshard() rewrites state under a new bucket
    count; reads, point lookups and later epochs all work under the new
    scheme; time travel to a PRE-reshard epoch still reproduces it; and a
    sink reopened with the stale bucket count fails fast instead of
    silently mis-pruning."""
    import pytest

    eng = _engine(spark, tmp_path)
    eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "user", "v1", None, TS),
                        (2, "I", "b", 0, "user", "b1", None, TS)]), 0)
    eng.sink.reshard(16)
    assert eng.sink.n_buckets == 16
    assert _texts(eng.sink.read_transcripts()) == {
        ("a", 0): "v1", ("b", 0): "b1"}
    # point lookup prunes under the NEW scheme and still finds the row
    assert _texts(eng.sink.read_conversation("a")) == {("a", 0): "v1"}
    # post-reshard epochs write into the new layout (engine config still
    # says 8, so build the batch bucket column fresh via a new engine)
    from nifi_daffodil_spark.config import EngineConfig
    from nifi_daffodil_spark.engine import CdcEngine
    eng2 = CdcEngine(spark, eng.sink, EngineConfig(n_buckets=16))
    eng2.process_batch(
        _events(spark, [(3, "U", "a", 0, "user", "v2", None, TS)]), 1)
    assert _texts(eng.sink.read_transcripts()) == {
        ("a", 0): "v2", ("b", 0): "b1"}
    # pre-reshard snapshot reproduces bit-for-bit
    assert _texts(eng.sink.read_transcripts(as_of_epoch=0)) == {
        ("a", 0): "v1", ("b", 0): "b1"}
    # changelog crossing the reshard boundary still sees the old image
    rows = {r["conv_id"]: r for r in eng.sink.read_changelog(0, 1).collect()}
    assert rows["a"]["change"] == "U" and rows["a"]["before"]["text"] == "v1"
    # stale bucket count on reopen = hard error, not silent mis-pruning
    from nifi_daffodil_spark.sinks.parquet_state import ParquetStateSink
    with pytest.raises(ValueError, match="n_buckets=16"):
        ParquetStateSink(spark, str(tmp_path / "table"), n_buckets=8)
    # correct count reopens fine
    ParquetStateSink(spark, str(tmp_path / "table"), n_buckets=16)


def test_changelog_correct_across_roundtrip_reshard(spark, tmp_path):
    """Round-trip partition evolution (8 -> 4 -> 8): the bucket COUNT ends
    where it started but the intermediate epochs' recorded bucket ids live
    in a different hash space. The generation check (not a count check)
    must force the changelog's old-image read to scan the whole as-of
    snapshot instead of pruning with cross-space ids."""
    from nifi_daffodil_spark.config import EngineConfig
    from nifi_daffodil_spark.engine import CdcEngine

    eng = _engine(spark, tmp_path)
    eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "user", "v1", None, TS),
                        (2, "I", "b", 0, "user", "b1", None, TS)]), 0)
    eng.sink.reshard(4)
    eng4 = CdcEngine(spark, eng.sink, EngineConfig(n_buckets=4))
    eng4.process_batch(
        _events(spark, [(3, "U", "a", 0, "user", "v2", None, TS)]), 1)
    eng.sink.reshard(8)
    eng8 = CdcEngine(spark, eng.sink, EngineConfig(n_buckets=8))
    eng8.process_batch(
        _events(spark, [(4, "D", "b", 0, None, None, None, TS)]), 2)
    rows = {r["conv_id"]: r for r in eng.sink.read_changelog(0, 2).collect()}
    # a's update crossed the 4-space epoch; b's delete needs its old image
    assert rows["a"]["change"] == "U" and rows["a"]["before"]["text"] == "v1"
    assert rows["b"]["change"] == "D" and rows["b"]["before"]["text"] == "b1"


def test_reshard_with_tombstone_horizon_single_rewrite(spark, tmp_path):
    """reshard(n, lsn_horizon=...) reclaims tombstones in the SAME fold,
    and a no-op reshard must not silently drop the requested compaction."""
    eng = _engine(spark, tmp_path)
    eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "user", "v1", None, TS),
                        (2, "D", "a", 0, None, None, None, TS)]), 0)
    # tombstone present in raw state
    m = eng.sink._read_manifest()
    raw = eng.sink._read_buckets(m, [int(b) for b in m["buckets"]])
    assert raw.filter("op = 'D'").count() == 1
    eng.sink.reshard(16, lsn_horizon=100)
    m2 = eng.sink._read_manifest()
    raw2 = eng.sink._read_buckets(m2, [int(b) for b in m2["buckets"]])
    assert raw2 is None or raw2.filter("op = 'D'").count() == 0
    # no-op reshard still honors the horizon
    eng.sink.reshard(16, lsn_horizon=100)  # must not raise / skip silently
    assert eng.sink.n_buckets == 16
