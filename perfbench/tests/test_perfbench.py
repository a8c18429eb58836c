"""Self-tests of the benchmark's own accounting and its correctness gate.

    python3 -m pytest perfbench/tests -q

The gate test drives the engine through a local Spark session (~20 s).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from perfbench import stats  # noqa: E402
from perfbench.cdc import stream_batch_files, turns_mismatch  # noqa: E402


# ---- tail-percentile selection ---------------------------------------------

def test_tail_leaves_ten_samples_beyond():
    vals = list(range(1, 41))  # 40 samples: p75 is the highest with 10 above
    pct, v = stats.tail(vals)
    assert pct == 75.0
    assert v == 30
    assert sum(x > v for x in vals) == 10


def test_tail_order_independent_and_grows_with_samples():
    vals = [float(x) for x in range(100)]
    assert stats.tail(vals[::-1]) == stats.tail(vals) == (90.0, 89.0)
    assert stats.tail([float(x) for x in range(200)])[0] == 95.0


def test_tail_refuses_samples_too_small_for_a_tail_above_median():
    assert stats.tail(list(range(19))) is None
    assert stats.tail([]) is None
    assert stats.tail(list(range(20))) == (50.0, 9.0)


def test_self_time_subtracts_the_union_of_child_spans():
    from perfbench.trace import Span, Tracer

    tr = Tracer(enabled=False)
    tr.spans = [
        Span(id=0, parent=None, name="epoch", start=0.0, end=10.0),
        Span(id=1, parent=0, name="apply", start=2.0, end=5.0),
        Span(id=2, parent=0, name="apply", start=4.0, end=6.0),   # overlaps 1
        Span(id=3, parent=1, name="inner", start=2.0, end=3.0),   # grandchild
        Span(id=4, parent=0, name="late", start=9.0, end=12.0),   # past the end
    ]
    assert tr.self_time(tr.spans[0]) == 10.0 - 4.0 - 1.0
    assert sorted(tr.descendants(tr.spans[0])) == [0, 1, 2, 3, 4]


# ---- open-loop lag accounting ------------------------------------------------

def _simulate(releases: list[float], durations: list[float], max_files: int):
    """A file-stream trigger loop: each batch takes up to `max_files`
    released-but-unread segments when it starts and commits `duration`
    later; with nothing to read it polls again shortly."""
    pending = list(range(len(releases)))
    t, b = 0.0, 0
    files, starts, ends = {}, {}, {}
    while pending:
        ready = [i for i in pending if releases[i] <= t][:max_files]
        if not ready:
            t = min(releases[i] for i in pending)
            continue
        pending = [i for i in pending if i not in ready]
        files[b], starts[b] = [f"seg-{i}" for i in ready], t
        t += durations[b] if b < len(durations) else durations[-1]
        ends[b] = t
        b += 1
    return files, starts, ends


def test_lag_is_timed_from_the_scheduled_release():
    rel = {"seg-0": 0.0, "seg-1": 1.0}
    lags = stats.segment_lags(rel, {0: ["seg-0"], 1: ["seg-1"]}, {0: 3.0, 1: 6.0})
    assert lags == {"seg-0": 3.0, "seg-1": 5.0}
    # a batch that never committed leaves its segments without a lag
    assert stats.segment_lags(rel, {0: ["seg-0"], 1: ["seg-1"]}, {0: 3.0}) == {"seg-0": 3.0}


def test_one_stalled_epoch_raises_the_lag_of_every_segment_behind_it():
    releases = [i * 2.0 for i in range(12)]  # open loop: one segment every 2 s
    rel = {f"seg-{i}": r for i, r in enumerate(releases)}
    steady = [1.5] * 40
    stalled = list(steady)
    stalled[2] = 12.0  # the third epoch stalls
    f0, s0, e0 = _simulate(releases, steady, 4)
    f1, s1, e1 = _simulate(releases, stalled, 4)
    base = stats.segment_lags(rel, f0, e0)
    hit = stats.segment_lags(rel, f1, e1)
    behind = [n for n, r in rel.items() if s1[2] <= r < e1[2]]  # released during it
    assert behind, "the schedule must release segments during the stall"
    for n in behind:
        assert hit[n] > base[n], n
    # waiting in the queue is part of the lag, not an excuse for it
    waits = stats.queue_waits(rel, f1, s1)
    assert max(waits) > 5.0


def test_lag_trend_flags_a_growing_backlog():
    assert stats.lag_trend([2.0] * 8) == 1.0
    assert stats.lag_trend([1, 1, 2, 3, 4, 5, 6, 8]) > 2
    assert stats.lag_trend([1.0, 3.0, 2.0]) == 2.0
    assert stats.lag_trend([1.0]) is None


def test_batch_files_follow_per_source_log_offsets(tmp_path):
    """Query batch ids and file-source log offsets are separate counters."""
    ck = tmp_path / "ck"
    meta = json.dumps({"batchWatermarkMs": 0})
    for src, entries in {"0": {0: ["a"], 1: ["b", "c"], 2: ["d"]}, "1": {0: ["x", "y"]}}.items():
        d = ck / "sources" / src
        d.mkdir(parents=True)
        for off, names in entries.items():
            lines = ["v1"] + [json.dumps({"path": f"file:///s/v{src}/{n}", "batchId": off})
                              for n in names]
            (d / str(off)).write_text("\n".join(lines))
            (d / f".{off}.crc").write_bytes(b"\x8e\x00")
    offs = ck / "offsets"
    offs.mkdir()
    for b, per_src in enumerate([['{"logOffset":0}', "-"],
                                 ['{"logOffset":1}', "-"],
                                 ['{"logOffset":2}', '{"logOffset":0}']]):
        (offs / str(b)).write_text("\n".join(["v1", meta] + per_src))
    assert stream_batch_files(str(ck)) == {0: ["a"], 1: ["b", "c"], 2: ["d", "x", "y"]}


# ---- the correctness gate ----------------------------------------------------

def _frame(texts):
    return pd.DataFrame({
        "conv_id": ["conv-1"] * len(texts), "turn_idx": list(range(len(texts))),
        "role": ["user"] * len(texts), "text": texts, "tool": [None] * len(texts),
    })


def test_turn_compare_catches_one_altered_text():
    exp = _frame(["a", "b", None])
    assert turns_mismatch(_frame(["a", "b", None]), exp) == []
    assert turns_mismatch(_frame(["a", "B", None]), exp) == ["turn ('conv-1', 1) differs"]
    assert turns_mismatch(_frame(["a", "b"]), exp) == ["missing turn ('conv-1', 2)"]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import host

    work = str(tmp_path_factory.mktemp("spark"))
    os.environ.update(host.local_env(work, REPO))
    from perfbench.run import _build_spark

    s = _build_spark(False)(2)
    yield s
    host.shutdown(s)


def test_gate_fails_on_a_table_copy_with_one_turn_altered(spark, tmp_path):
    from nifi_daffodil_spark.config import EngineConfig
    from nifi_daffodil_spark.engine import CdcEngine
    from nifi_daffodil_spark.fixtures.oracle import replay_oracle
    from nifi_daffodil_spark.fixtures.walgen import WalSpec, generate_wal
    from nifi_daffodil_spark.sinks.parquet_state import ParquetStateSink
    from nifi_daffodil_spark.sources.wal import read_wal_batch
    from perfbench.cdc import N_BUCKETS, check_table

    m = generate_wal(str(tmp_path / "wal"), WalSpec(n_events=2000, n_segments=2, seed=5))
    table = str(tmp_path / "table")
    eng = CdcEngine(spark, ParquetStateSink(spark, table, N_BUCKETS),
                    EngineConfig(n_buckets=N_BUCKETS))
    # one epoch: every key sits in exactly one file, so an edit must show
    eng.process_batch(read_wal_batch(spark, m["v0"], "v0"), 0)
    expected = replay_oracle(m["v0"])
    assert check_table(spark, table, expected) == []

    copy = str(tmp_path / "copy")
    shutil.copytree(table, copy)
    part = next(
        os.path.join(r, f) for r, _, fs in sorted(os.walk(os.path.join(copy, "data")))
        for f in sorted(fs) if f.endswith(".parquet")
    )
    t = pq.read_table(part)
    df = t.to_pandas()
    i = int(df.index[(df["op"] != "D") & df["text"].notna()][0])
    texts = t.column("text").to_pylist()
    texts[i] += " (edited)"
    t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(texts, pa.string()))
    # Spark writes timestamps as INT96; keep that physical type
    pq.write_table(t, part, use_deprecated_int96_timestamps=True)
    crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
    if os.path.exists(crc):
        os.remove(crc)  # Hadoop's checksum of the original bytes
    problems = check_table(spark, copy, expected)
    assert problems == [f"turn ({df['conv_id'][i]!r}, {int(df['turn_idx'][i])}) differs"]


# ---- BENCHMARK.json ------------------------------------------------------------

def test_benchmark_json_lists_what_the_runs_print():
    import re

    from perfbench import layers
    from perfbench.inputs import WORKLOADS
    from perfbench.run import END_TO_END

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert [w["name"] for w in b["workloads"]] == sorted(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == layers.UNITS
    assert set(layers.MOVES) == set(layers.UNITS)
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
    for m in b["end_to_end"] + b["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"]), m["name"]
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m["unit"]
        assert m["better"] == ("higher" if m["name"] in layers.HIGHER | {"ingest_events_per_s"}
                               else "lower"), m["name"]


# ---- tracing cost --------------------------------------------------------------

def test_trace_overhead_divides_by_the_untraced_run_of_the_same_seed(tmp_path):
    from types import SimpleNamespace

    from perfbench.layers import _untraced_wall
    from perfbench.trace import Tracer

    def result(seed, seconds, bulk):
        phases = {"setup": 20.0, "bulk": bulk, "serve": 10.0, "trickle": 10.0, "gate": 3.0}
        (tmp_path / f"hot_key-{seed}-trace0.json").write_text(json.dumps(
            {"detail": {"phase_s": phases, "seed": seed, "seconds": seconds}}))

    tr = Tracer(enabled=False)
    tr.own_s = 0.5
    sc = SimpleNamespace(workload="hot_key", seed=7, seconds=8.0, tracer=tr, out=SimpleNamespace(
        detail={"phase_s": {"bulk": 6.0, "serve": 12.0, "trickle": 12.0}}))
    assert _untraced_wall(str(tmp_path), sc)[0] == 30.0 - 0.5  # nothing on record
    result(1, 8.0, 4.0)
    result(2, 8.0, 6.0)
    result(3, 8.0, 8.0)
    result(7, 12.0, 1.0)  # same seed, other --seconds: not comparable
    assert _untraced_wall(str(tmp_path), sc)[0] == 26.0  # median of seeds 1-3
    result(7, 8.0, 5.0)
    assert _untraced_wall(str(tmp_path), sc) == (25.0, "untraced run, same seed")
