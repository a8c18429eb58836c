"""Incrementally-maintained rollup (materialized view) over the state sink.

The invariant under test: after every refresh, the delta-maintained view
equals a full recompute from `read_transcripts()` — insert, update, delete,
multi-epoch catch-up, idempotent re-refresh, and the vacuum-lag rebuild
path all included. Bucket economics are pinned too: a refresh must leave
untouched buckets' files alone (O(changed) maintenance, not O(view))."""

import datetime as dt

from pyspark.sql import functions as F

from nifi_daffodil_spark.config import EngineConfig
from nifi_daffodil_spark.engine import CdcEngine
from nifi_daffodil_spark.sinks.parquet_state import ParquetStateSink
from nifi_daffodil_spark.sinks.rollup import ConvRollup

TS = dt.datetime(2024, 1, 1)


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "lsn long, op string, conv_id string, turn_idx long, role string, "
        "text string, tool string, ts timestamp",
    )


def _setup(spark, tmp_path, **sink_kw):
    sink = ParquetStateSink(spark, str(tmp_path / "table"), n_buckets=8, **sink_kw)
    eng = CdcEngine(spark, sink, EngineConfig(n_buckets=8))
    roll = ConvRollup(spark, sink, str(tmp_path / "rollup"))
    return eng, roll


def _recompute(sink):
    return {
        r["conv_id"]: (r["n_turns"], r["total_chars"])
        for r in sink.read_transcripts()
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.coalesce(F.length("text"), F.lit(0))).alias("total_chars"),
        )
        .collect()
    }


def _view(roll):
    return {
        r["conv_id"]: (r["n_turns"], r["total_chars"]) for r in roll.read().collect()
    }


def test_rollup_tracks_state_through_epochs(spark, tmp_path):
    eng, roll = _setup(spark, tmp_path)
    eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "user", "hello", None, TS),
                        (2, "I", "a", 1, "assistant", "hi there", None, TS),
                        (3, "I", "b", 0, "user", "yo", None, TS)]), 0)
    assert roll.refresh()["applied"]
    assert _view(roll) == _recompute(sink=eng.sink) == {
        "a": (2, 13), "b": (1, 2)}

    # update shrinks a's chars; delete removes b entirely
    eng.process_batch(
        _events(spark, [(4, "U", "a", 1, "assistant", "hi", None, TS),
                        (5, "D", "b", 0, None, None, None, TS)]), 1)
    s = roll.refresh()
    assert s["applied"] and s["epoch"] == 1
    assert s["buckets"] == sorted({int(b) for b in _bkts(eng.sink, ["a", "b"])})
    assert _view(roll) == _recompute(eng.sink) == {"a": (2, 7)}

    # refresh with nothing new is a no-op
    assert roll.refresh() == {"applied": False, "epoch": 1}


def _bkts(sink, conv_ids):
    return [
        sink.spark.sql(
            "SELECT pmod(xxhash64(?), ?) AS b", args=[c, sink.n_buckets]
        ).collect()[0]["b"]
        for c in conv_ids
    ]


def test_rollup_multi_epoch_catchup_and_null_text(spark, tmp_path):
    eng, roll = _setup(spark, tmp_path)
    eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "user", "xxxx", None, TS)]), 0)
    eng.process_batch(
        _events(spark, [(2, "I", "c", 0, "user", None, None, TS)]), 1)
    eng.process_batch(
        _events(spark, [(3, "U", "a", 0, "user", "y", None, TS),
                        (4, "I", "c", 1, "assistant", "kk", None, TS)]), 2)
    # one refresh catches up across all three epochs
    s = roll.refresh()
    assert s["applied"] and s["epoch"] == 2
    assert _view(roll) == _recompute(eng.sink) == {"a": (1, 1), "c": (2, 2)}


def test_rollup_untouched_buckets_not_rewritten(spark, tmp_path):
    eng, roll = _setup(spark, tmp_path)
    eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "user", "aaa", None, TS),
                        (2, "I", "b", 0, "user", "bbb", None, TS)]), 0)
    roll.refresh()
    m0 = roll._read_manifest()
    ba, bb = _bkts(eng.sink, ["a", "b"])
    assert ba != bb, "fixture needs a/b in different buckets"

    # epoch 1 touches only a's bucket
    eng.process_batch(
        _events(spark, [(3, "U", "a", 0, "user", "aaaa", None, TS)]), 1)
    s = roll.refresh()
    assert s["buckets"] == [int(ba)]
    m1 = roll._read_manifest()
    # b's bucket still points at its round-0 file; a's moved
    assert m1["buckets"][str(bb)] == m0["buckets"][str(bb)]
    assert m1["buckets"][str(ba)] != m0["buckets"][str(ba)]
    assert _view(roll) == _recompute(eng.sink)

    # the round-0 dir still serves b's bucket — dir-level vacuum must NOT
    # remove a partially-superseded version
    assert roll.vacuum() == []
    # once b's bucket also moves, the round-0 dir is garbage
    eng.process_batch(
        _events(spark, [(4, "U", "b", 0, "user", "bbbb", None, TS)]), 2)
    roll.refresh()
    assert m0["buckets"][str(bb)] in roll.vacuum()
    assert _view(roll) == _recompute(eng.sink)


def test_rollup_delete_to_empty_bucket(spark, tmp_path):
    eng, roll = _setup(spark, tmp_path)
    eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "user", "hi", None, TS)]), 0)
    roll.refresh()
    eng.process_batch(
        _events(spark, [(2, "D", "a", 0, None, None, None, TS)]), 1)
    roll.refresh()
    assert _view(roll) == _recompute(eng.sink) == {}
    # the emptied bucket's mapping is dropped, and reads stay well-formed
    (ba,) = _bkts(eng.sink, ["a"])
    assert str(ba) not in roll._read_manifest()["buckets"]


def test_rollup_rebuilds_after_vacuum_gap(spark, tmp_path):
    """A view lagging past the sink's delta retention window cannot replay
    the changelog (LookupError) — refresh must fall back to the documented
    full rebuild and still converge to the recompute."""
    eng, roll = _setup(spark, tmp_path, max_deltas=1)
    eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "user", "v1", None, TS)]), 0)
    roll.refresh()
    for e in range(1, 6):
        eng.process_batch(
            _events(spark, [(1 + e, "U", "a", 0, "user", f"v{e+1}", None, TS)]), e)
    eng.sink.vacuum(keep_last=1)
    s = roll.refresh()
    assert s["applied"] and s["epoch"] == 5
    assert _view(roll) == _recompute(eng.sink) == {"a": (1, 2)}


def test_rollup_attached_to_engine_maintains_inline(spark, tmp_path):
    """attach_rollup keeps the view current after every applied epoch, and
    a re-applied (skipped) epoch does not double-count."""
    eng, roll = _setup(spark, tmp_path)
    eng.attach_rollup(roll)
    eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "user", "hello", None, TS)]), 0)
    assert _view(roll) == _recompute(eng.sink) == {"a": (1, 5)}
    eng.process_batch(
        _events(spark, [(2, "U", "a", 0, "user", "hey", None, TS),
                        (3, "I", "b", 0, "user", "yo", None, TS)]), 1)
    assert _view(roll) == _recompute(eng.sink) == {"a": (1, 3), "b": (1, 2)}
    # idempotent replay: the sink skips, the view must not move
    m_before = roll._read_manifest()
    eng.process_batch(
        _events(spark, [(2, "U", "a", 0, "user", "hey", None, TS)]), 1)
    assert roll._read_manifest() == m_before
    assert _view(roll) == {"a": (1, 3), "b": (1, 2)}


def test_rollup_catches_up_after_detached_epochs(spark, tmp_path):
    """The crash-between-commit-and-refresh story: epochs applied WITHOUT
    the view attached (= refresh never ran) are caught up by the next
    attached epoch's refresh, because the watermark replays the whole
    missed changelog range."""
    eng, roll = _setup(spark, tmp_path)
    eng.attach_rollup(roll)
    eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "user", "hello", None, TS)]), 0)
    assert roll._read_manifest()["epoch"] == 0
    eng._rollup = None  # simulate dying before the refresh, twice
    eng.process_batch(
        _events(spark, [(2, "I", "b", 0, "user", "yo", None, TS)]), 1)
    eng.process_batch(
        _events(spark, [(3, "D", "a", 0, None, None, None, TS)]), 2)
    assert roll._read_manifest()["epoch"] == 0  # view is behind
    eng.attach_rollup(roll)
    eng.process_batch(
        _events(spark, [(4, "U", "b", 0, "user", "yoo", None, TS)]), 3)
    assert roll._read_manifest()["epoch"] == 3
    assert _view(roll) == _recompute(eng.sink) == {"b": (1, 3)}


def test_rollup_retry_supersedes_orphan_dir(spark, tmp_path):
    """Crash between the data write and the manifest swap leaves a fully-
    written roll dir under a counter that never committed — the retry must
    overwrite it, not die on path-already-exists; and vacuum must NOT
    reclaim a dir that recent (it may be an in-flight commit)."""
    import os
    eng, roll = _setup(spark, tmp_path)
    eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "user", "hello", None, TS)]), 0)
    # fake the torn refresh: next counter's dir exists with stale content
    orphan = tmp_path / "rollup" / "data" / "roll-000001" / "bucket=0"
    os.makedirs(orphan)
    (orphan / "junk.parquet").write_bytes(b"not parquet")
    assert roll.vacuum() == []  # counter-age grace: could be in-flight
    s = roll.refresh()
    assert s["applied"] and s["rows_written"] == 1
    assert _view(roll) == _recompute(eng.sink) == {"a": (1, 5)}


def test_rollup_out_of_order_epoch_triggers_rebuild(spark, tmp_path):
    """An epoch committed with an id BELOW the view watermark (the
    replay-quarantine-into-a-gap case) is invisible to every future
    changelog range — refresh must detect the committed-epoch count
    mismatch and rebuild from state instead of silently diverging."""
    eng, roll = _setup(spark, tmp_path)
    eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "user", "hello", None, TS)]), 0)
    eng.process_batch(
        _events(spark, [(5, "I", "b", 0, "user", "yo", None, TS)]), 4)
    roll.refresh()
    assert roll._read_manifest()["epoch"] == 4
    # a gap-id epoch lands below the watermark
    eng.process_batch(
        _events(spark, [(3, "I", "c", 0, "user", "zzz", None, TS)]), 2)
    s = roll.refresh()
    assert s["applied"]
    assert _view(roll) == _recompute(eng.sink) == {
        "a": (1, 5), "b": (1, 2), "c": (1, 3)}
    # and the view is stable again afterwards
    assert roll.refresh()["applied"] is False


def test_rollup_rebuilds_after_reshard(spark, tmp_path):
    """Partition evolution invalidates every rollup bucket mapping (old
    hash space) — the next refresh must rebuild under the new scheme and
    drop stale mappings even when the count SHRINKS."""
    from nifi_daffodil_spark.config import EngineConfig
    from nifi_daffodil_spark.engine import CdcEngine

    eng, roll = _setup(spark, tmp_path)
    eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "user", "hello", None, TS),
                        (2, "I", "b", 0, "user", "yo", None, TS)]), 0)
    roll.refresh()
    eng.sink.reshard(2)
    eng2 = CdcEngine(spark, eng.sink, EngineConfig(n_buckets=2))
    eng2.process_batch(
        _events(spark, [(3, "U", "a", 0, "user", "hey", None, TS)]), 1)
    s = roll.refresh()
    assert s["applied"]
    m = roll._read_manifest()
    assert m["n_buckets"] == 2
    assert all(int(b) < 2 for b in m["buckets"])  # no stale old-space ids
    assert _view(roll) == _recompute(eng.sink) == {"a": (1, 3), "b": (1, 2)}


def test_rollup_legacy_manifest_rebuilds_after_reshard(spark, tmp_path):
    """A rollup manifest from before the n_buckets stamp (key absent) must
    count as a hash-space MISMATCH after a sink reshard — defaulting the
    missing key to the current count would make detection a tautology and
    let the view diverge forever."""
    import json

    from nifi_daffodil_spark.config import EngineConfig
    from nifi_daffodil_spark.engine import CdcEngine

    eng, roll = _setup(spark, tmp_path)
    eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "user", "hello", None, TS),
                        (2, "I", "b", 0, "user", "yo", None, TS)]), 0)
    roll.refresh()
    # simulate a legacy view: strip the stamp
    m = roll._read_manifest()
    m.pop("n_buckets")
    roll._write_manifest(m)
    eng.sink.reshard(2)
    eng2 = CdcEngine(spark, eng.sink, EngineConfig(n_buckets=2))
    eng2.process_batch(
        _events(spark, [(3, "U", "a", 0, "user", "heyhey", None, TS)]), 1)
    roll.refresh()
    assert roll._read_manifest()["n_buckets"] == 2
    assert _view(roll) == _recompute(eng.sink) == {"a": (1, 6), "b": (1, 2)}


def test_concurrent_refreshes_apply_the_range_once(spark, tmp_path):
    """Two view instances over one root refreshing at the same time: the
    view's writer lock serializes them, the loser re-reads the watermark
    inside it and no-ops, and the view stays equal to a recompute."""
    import threading

    eng, roll = _setup(spark, tmp_path)
    eng.process_batch(
        _events(spark, [(1, "I", "a", 0, "user", "hello", None, TS),
                        (2, "I", "b", 0, "user", "yo", None, TS)]), 0)
    eng.process_batch(
        _events(spark, [(3, "U", "a", 0, "user", "hey", None, TS),
                        (4, "I", "c", 0, "user", "kkk", None, TS)]), 1)
    rolls = [roll, ConvRollup(spark, eng.sink, str(tmp_path / "rollup"))]
    start = threading.Barrier(len(rolls))
    results = {}

    def refresh(i):
        start.wait()
        results[i] = rolls[i].refresh()

    threads = [threading.Thread(target=refresh, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert sorted(r["applied"] for r in results.values()) == [False, True], results
    assert all(r["epoch"] == 1 for r in results.values())
    assert _view(roll) == _recompute(eng.sink) == {
        "a": (1, 3), "b": (1, 2), "c": (1, 3)}
