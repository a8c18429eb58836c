"""The driver-side point lookup: its bucket hash, its Arrow fold and its
rows must each equal the Spark path they stand in for.

* `bucket_of` must name the bucket `bucket_col` writes a key to, or a
  lookup reads the wrong bucket and returns nothing.
* `lww_dedup_arrow` must pick `lww_dedup`'s winner for every key,
  including the one tie the log allows (a retention tombstone at the lsn
  of a genuine event).
* `read_conversation` must equal the filtered full read on every column,
  over every tier of a bucket's chain and after a reshard().
"""

import datetime as dt
import random

import pyarrow as pa
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nifi_daffodil_spark.config import EngineConfig
from nifi_daffodil_spark.engine import CdcEngine
from nifi_daffodil_spark.operators.dedup import lww_dedup, lww_dedup_arrow
from nifi_daffodil_spark.schemas import TRANSCRIPT_SCHEMA
from nifi_daffodil_spark.sinks.parquet_state import (
    _ARROW_FILE_SCHEMA,
    _FILE_SCHEMA,
    ParquetStateSink,
    bucket_of,
)

TS = dt.datetime(2024, 1, 1)


def _keys():
    rng = random.Random(7)
    ascii_ = [
        "".join(rng.choice("abcXYZ019-_ ") for _ in range(rng.randrange(1, 31)))
        for _ in range(120)
    ]
    uni = [
        "".join(chr(rng.choice([rng.randrange(0x80, 0x800),
                                rng.randrange(0x800, 0xD800),
                                rng.randrange(0x10000, 0x10FFFF)]))
                for _ in range(rng.randrange(1, 12)))
        for _ in range(120)
    ]
    # >= 32 UTF-8 bytes: the 4-lane stripe loop, with every tail length
    long_ = ["k" * n for n in range(32, 72)] + [
        "".join(rng.choice("abcdefgh€") for _ in range(rng.randrange(32, 200)))
        for _ in range(80)
    ]
    return ["", *("x" * n for n in range(1, 32)), *ascii_, *uni, *long_,
            *(f"conv-{i:05d}" for i in range(0, 500, 7))]


def test_bucket_of_matches_spark_pmod_xxhash64(spark):
    keys = _keys()
    assert any(len(k.encode()) >= 32 for k in keys) and "" in keys
    ns = (1, 4, 8, 32)
    df = spark.createDataFrame([(k,) for k in keys], "conv_id string")
    got = df.select(
        "conv_id",
        *(F.pmod(F.xxhash64("conv_id"), F.lit(n)).alias(f"b{n}") for n in ns),
    ).collect()
    assert len(got) == len(keys)
    for r in got:
        for n in ns:
            assert bucket_of(r["conv_id"], n) == r[f"b{n}"], (r["conv_id"], n)


# one log event per (key, lsn, tombstone?): a row seen twice is the same
# event replayed into two deltas, so every tie Spark could break either
# way is between identical rows; the genuine/tombstone pair at one lsn is
# the tie the fold's order must break
_event = st.tuples(
    st.sampled_from([("a", 0), ("a", 1), ("b", 0)]),
    st.integers(min_value=1, max_value=4),
    st.booleans(),
)
_deltas = st.lists(st.lists(_event, min_size=1, max_size=8), min_size=1, max_size=4)


def _row(event):
    (conv, turn), lsn, tomb = event
    if tomb:
        return (conv, turn, None, None, None, TS, lsn, "D")
    return (conv, turn, "user", f"{conv}{turn}@{lsn}", None, TS, lsn, "U")


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
@given(deltas=_deltas)
@example(deltas=[[(("a", 0), 3, False)], [(("a", 0), 3, True)]])
@example(deltas=[[(("a", 0), 3, True), (("b", 0), 1, False)],
                 [(("a", 0), 3, False), (("a", 0), 2, False)]])
def test_arrow_fold_equals_lww_dedup(spark, deltas):
    tables = [
        pa.Table.from_pylist(
            [dict(zip(_ARROW_FILE_SCHEMA.names, _row(e), strict=True)) for e in d],
            schema=_ARROW_FILE_SCHEMA,
        )
        for d in deltas
    ]
    arrow = lww_dedup_arrow(pa.concat_tables(tables))  # one chunk per delta
    spark_rows = lww_dedup(spark.createDataFrame(
        [_row(e) for d in deltas for e in d], _FILE_SCHEMA)).collect()

    def canon(rows):
        return sorted(
            (r["conv_id"], r["turn_idx"], r["lsn"], r["op"], r["text"])
            for r in rows
        )

    assert canon(arrow.to_pylist()) == canon(spark_rows)


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "lsn long, op string, conv_id string, turn_idx long, role string, "
        "text string, tool string, ts timestamp",
    )


def _assert_lookups_equal_full_read(sink, convs):
    full = sink.read_transcripts()
    for c in convs:
        got = sink.read_conversation(c)
        assert got.schema == TRANSCRIPT_SCHEMA
        want = full.filter(F.col("conv_id") == c).collect()
        assert sorted(got.collect()) == sorted(want), c


def test_lookup_equals_filtered_full_read_across_tiers_and_reshard(spark, tmp_path):
    sink = ParquetStateSink(spark, str(tmp_path / "table"), n_buckets=4,
                            max_deltas=2)
    eng = CdcEngine(spark, sink, EngineConfig(n_buckets=4))
    convs = [f"c{i:02d}" for i in range(10)]
    lsn = 0
    for e in range(4):
        rows = []
        for i, c in enumerate(convs):
            for turn in range(3):
                lsn += 1
                if e == 3 and turn == 1 and i % 3 == 0:
                    rows.append((lsn, "D", c, turn, None, None, None, TS))
                    continue
                rows.append((
                    lsn, "U", c, turn, "assistant" if turn % 2 else "user",
                    f"{c}/{turn}@{e}",
                    None if (i + turn) % 2 else f"tool{e}",  # null tool mixed in
                    TS + dt.timedelta(days=e, microseconds=lsn),
                ))
        if e == 2:  # a late event below the committed lsns never applies
            rows.append((1, "U", "c01", 0, "user", "stale", None, TS))
        eng.process_batch(_events(spark, rows), e)
    chains = sink._read_manifest()["buckets"].values()
    # epoch 2 folded every L0 chain into an L1 run; epoch 3 put a delta on it
    assert all(ent["runs"] and ent["deltas"] for ent in chains)
    _assert_lookups_equal_full_read(sink, [*convs, "absent"])
    assert sink.read_conversation("c01").filter("text = 'stale'").count() == 0
    assert sink.read_conversation("c00").count() == 2  # turn 1 deleted

    sink.reshard(8)
    _assert_lookups_equal_full_read(sink, convs)
    eng.process_batch(_events(spark, [
        (lsn + 1, "U", "c03", 1, "user", "after reshard", None, TS),
        (lsn + 2, "I", "c10", 0, "user", "new", "t", TS),
    ]), 4)
    _assert_lookups_equal_full_read(sink, [*convs, "c10"])
