"""Within-batch last-writer-wins dedup (the engine's core reducer).

No reference analog — nifi-daffodil processes one record at a time and never
dedups (SURVEY.md §2.b "Distinct / dedup"). The north rule mandates exactly
this shape (BASELINE.json:6): window/row_number LWW by (conv_id, turn_idx)
ordered by lsn descending.

Scale notes:
  * The window partition key includes turn_idx, so a hot conv_id (Zipf skew)
    spreads across partitions — the skew unit is a single (conv, turn), which
    is bounded by the update rate of one turn, not conversation size.
  * row_number (not max+join): one shuffle, one sort, no self-join.
  * WAL lsns are a total order, so ties between genuine events are
    impossible by construction; `op` is carried through so D survives as
    the winning tombstone. SYNTHETIC tombstones (retention expiry fences at
    max(state lsn)+1, which the producer's next genuine lsn may equal) are
    the one tie source — the secondary sort key makes a genuine event beat
    a tombstone at equal lsn deterministically, everywhere the fold runs.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def lww_dedup(
    df: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    order_col: str = "lsn",
) -> DataFrame:
    """One winner per key: highest `order_col`, then non-tombstones before
    tombstones (a genuine event at the same lsn beats a synthetic D). The
    one LWW rule: the engine's batch reducer and the sink's merge-on-read
    fold both call it, so the two can never disagree on a winner; the
    point lookup's `lww_dedup_arrow` applies the same order on the driver
    (a property test holds the two equal)."""
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc(), (F.col("op") == "D").asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def lww_dedup_arrow(
    table: pa.Table,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    order_col: str = "lsn",
) -> pa.Table:
    """`lww_dedup` on a driver-side Arrow table, with the same winner per
    key: sort by key, then `order_col` descending with tombstones after a
    genuine event at the same value, and keep each key's first row. For
    reads too small to pay for a Spark job (a point lookup's rows)."""
    if table.num_rows == 0:
        return table
    order = pc.sort_indices(
        table.append_column("_tomb", pc.equal(table["op"], "D")),
        sort_keys=[(k, "ascending") for k in keys]
        + [(order_col, "descending"), ("_tomb", "ascending")],
    )
    t = table.take(order)
    same_key = None
    for k in keys:
        col = t[k].combine_chunks()
        eq = pc.equal(col[1:], col[:-1])
        same_key = eq if same_key is None else pc.and_(same_key, eq)
    first = pa.concat_arrays([pa.array([True]), pc.invert(same_key)])
    return t.filter(first)
