"""TiDB/TiKV-style snapshot+stream source (SURVEY §2 A29).

The reference connector (flink-connector-tidb-cdc) reads a KV snapshot
at a ``resolvedTs`` and then tails TiKV's CDC event stream from that
same timestamp (TiKVRichParallelSourceFunction.java:155-168: INITIAL →
``readSnapshotEvents`` at ``startTs`` then ``cdcClient.start(resolvedTs)``).
Three semantics distinguish it from the MySQL hybrid path and are
re-expressed here Spark-first:

1. **Percolator two-phase events** — TiKV emits PREWRITE / COMMIT /
   ROLLBACK rows (plus already-resolved COMMITTED rows); only a
   prewrite matched by a commit with ``commit_ts <= resolvedTs`` may be
   emitted, in commit-ts order (handleRow/flushRows,
   TiKVRichParallelSourceFunction.java:173-260). The reference resolves
   this with two driver-side TreeMaps; here it is a shuffle-joined
   DataFrame op (``resolve_two_phase``) — each (key, start_ts) pair
   resolves independently, so it parallelizes by key instead of
   serializing through one ordered map.
2. **Even key-range parallelism** — the table's signed-64-bit row-handle
   space is split into N contiguous ranges, one per subtask
   (TableKeyRangeUtils.getTableKeyRanges: delta = span/num, range i =
   [MIN + delta*i, MIN + delta*(i+1))). ``tikv_key_ranges`` reproduces
   that arithmetic onto ``ChunkRange`` so the ranges drive ordinary
   predicate-pushed chunk scans.
3. **Upsert changelog** — TiKV rows carry after-images only (+I/+U/-D,
   no -U); downstream recovery goes through the shared
   ``normalize_upsert`` / ``materialize`` operators like every other
   upsert source in this engine.

At 100 TB the two joins in ``resolve_two_phase`` are equi-joins on
(key, start_ts) — shuffle-partitioned, no broadcast of the big side, no
driver state; the snapshot phase is one materialize of the resolved log.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.model import (
    OP_COL,
    OP_INSERT,
    SEQ_COL,
    ChunkRange,
)
from flink_cdc_2_3_0_src_spark.operators.changelog import materialize

LONG_MIN = -(2**63) + 1  # RowKey.createMin / reference Long.MIN_VALUE + 1
LONG_MAX = 2**63 - 1

#: Raw TiKV CDC row kinds (Cdcpb.Event.Row types the reference handles).
PREWRITE = "PREWRITE"
COMMIT = "COMMIT"
COMMITTED = "COMMITTED"
ROLLBACK = "ROLLBACK"


def tikv_key_ranges(num: int) -> list[ChunkRange]:
    """Even split of the signed row-handle space into ``num`` ranges.

    Mirrors TableKeyRangeUtils.getTableKeyRanges(tableId, num): the span
    [MIN, MAX] is divided by ``num`` exactly (BigInteger arithmetic in
    the reference; Python ints here), the first range is open below and
    the last open above, so the ranges tile the whole key space with no
    gap or overlap regardless of data distribution.
    """
    if num <= 0:
        raise ValueError(f"Illegal value of num: {num}")
    if num == 1:
        return [ChunkRange(None, None)]
    delta = (LONG_MAX - LONG_MIN) // num
    out = []
    for i in range(num):
        start = None if i == 0 else LONG_MIN + delta * i
        end = None if i == num - 1 else LONG_MIN + delta * (i + 1)
        out.append(ChunkRange(start, end))
    return out


def resolve_two_phase(
    raw: DataFrame,
    resolved_ts: Optional[int] = None,
    key: str = "user_id",
) -> DataFrame:
    """Percolator resolution: raw 2PC rows → committed upsert changelog.

    Input rows carry ``row_type`` (PREWRITE/COMMIT/COMMITTED/ROLLBACK),
    ``start_ts`` and — on COMMIT/COMMITTED — ``commit_ts``; the payload
    (key, value, ts, _op) rides on PREWRITE/COMMITTED rows. Emission
    rule, exactly flushRows (TiKVRichParallelSourceFunction.java:254-260):
    a prewrite is emitted iff a commit binds its (key, start_ts) and
    ``commit_ts <= resolved_ts``; rollbacks cancel their prewrite;
    COMMITTED rows are pre-resolved. ``commit_ts`` becomes ``_seq`` —
    the total order the reference gets from its commit-ts TreeMap.
    """
    payload = [c for c in raw.columns if c not in ("row_type", "start_ts", "commit_ts")]
    pw = raw.filter(F.col("row_type") == PREWRITE).select(key, "start_ts", *[
        c for c in payload if c != key
    ])
    cm = raw.filter(F.col("row_type") == COMMIT).select(key, "start_ts", "commit_ts")
    rb = raw.filter(F.col("row_type") == ROLLBACK).select(key, "start_ts")
    pre = (
        pw.join(rb, [key, "start_ts"], "left_anti")
        .join(cm, [key, "start_ts"])
        .drop("start_ts")
    )
    done = raw.filter(F.col("row_type") == COMMITTED).select(*pre.columns)
    resolved = pre.unionByName(done)
    if resolved_ts is not None:
        resolved = resolved.filter(F.col("commit_ts") <= resolved_ts)
    return resolved.withColumnRenamed("commit_ts", SEQ_COL)


def tidb_snapshot_stream(
    raw: DataFrame,
    keys: Sequence[str],
    resolved_ts: int,
) -> DataFrame:
    """A29 end-to-end: snapshot at ``resolved_ts``, stream after it.

    Snapshot phase = the table's committed state at ``resolved_ts``;
    rows enter the changelog as +I at seq=resolved_ts.  The subtasks'
    ``tikv_key_ranges`` tile the key space, so the union of the
    per-range scans is that state itself: one materialize, no per-range
    re-read.  Stream phase = committed events with commit_ts >
    resolved_ts (the CDC client started AT resolved_ts — no gap, no
    overlap, unlike the OceanBase path which overlaps and dedupes). The
    final materialize merges both by max-seq upsert semantics.
    """
    committed = resolve_two_phase(raw, resolved_ts=None, key=keys[0])
    snap = materialize(committed.filter(F.col(SEQ_COL) <= resolved_ts), keys)
    snap_log = snap.withColumn(OP_COL, F.lit(OP_INSERT)).withColumn(
        SEQ_COL, F.lit(resolved_ts).cast("long")
    )
    stream = committed.filter(F.col(SEQ_COL) > resolved_ts)
    return materialize(snap_log.unionByName(stream, allowMissingColumns=False), keys)
