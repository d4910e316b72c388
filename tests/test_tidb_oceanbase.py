"""A29/A30: TiKV two-phase resolution, even key-range split, OceanBase
overlap merge (reference TiKVRichParallelSourceFunction.java,
TableKeyRangeUtils.java, OceanBaseRichSourceFunction.java)."""

from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.model import OP_COL, SEQ_COL
from flink_cdc_2_3_0_src_spark.operators.changelog import materialize
from flink_cdc_2_3_0_src_spark.streaming.oceanbase import oceanbase_snapshot_stream
from flink_cdc_2_3_0_src_spark.streaming.tidb import (
    LONG_MAX,
    LONG_MIN,
    resolve_two_phase,
    tidb_snapshot_stream,
    tikv_key_ranges,
)

RAW_SCHEMA = (
    "user_id long, value double, ts timestamp, _op string, "
    "row_type string, start_ts long, commit_ts long"
)


def test_key_ranges_tile_the_long_space():
    for n in (1, 2, 3, 7, 32):
        ranges = tikv_key_ranges(n)
        assert len(ranges) == n
        assert ranges[0].start is None and ranges[-1].end is None
        for a, b in zip(ranges, ranges[1:]):
            assert a.end == b.start  # contiguous, no gap/overlap
        if n > 1:
            assert LONG_MIN < ranges[0].end and ranges[-1].start < LONG_MAX


def test_key_ranges_reject_nonpositive():
    import pytest

    with pytest.raises(ValueError):
        tikv_key_ranges(0)


def test_two_phase_commit_rollback_and_pending(spark):
    rows = [
        # key 1: prewrite+commit inside resolved_ts -> emitted
        (1, 10.0, None, "+I", "PREWRITE", 100, None),
        (1, None, None, None, "COMMIT", 100, 105),
        # key 2: rolled back -> never emitted
        (2, 20.0, None, "+I", "PREWRITE", 200, None),
        (2, None, None, None, "ROLLBACK", 200, None),
        # key 3: pre-resolved COMMITTED row -> emitted
        (3, 30.0, None, "+I", "COMMITTED", 300, 305),
        # key 4: prewrite with no commit yet (in-flight txn) -> held back
        (4, 40.0, None, "+I", "PREWRITE", 400, None),
        # key 1 again: committed past resolved_ts -> filtered by ts
        (1, 11.0, None, "+U", "PREWRITE", 500, None),
        (1, None, None, None, "COMMIT", 500, 505),
    ]
    raw = spark.createDataFrame(rows, RAW_SCHEMA)
    got = {
        (r["user_id"], r[SEQ_COL]): (r["value"], r[OP_COL])
        for r in resolve_two_phase(raw, resolved_ts=400).collect()
    }
    assert got == {(1, 105): (10.0, "+I"), (3, 305): (30.0, "+I")}
    # unbounded resolution also surfaces the later commit
    all_got = {r[SEQ_COL] for r in resolve_two_phase(raw).collect()}
    assert all_got == {105, 305, 505}


def test_tidb_snapshot_stream_is_log_tip_and_persists_nothing(spark):
    """Snapshot at resolvedTs + stream after it equals the committed
    state at the log tip, and the query leaves no cached RDD behind."""
    rows = [
        (1, 10.0, None, "+I", "COMMITTED", 100, 105),
        (2, 20.0, None, "+I", "COMMITTED", 200, 205),
        (3, 30.0, None, "+I", "PREWRITE", 300, None),
        (3, None, None, None, "COMMIT", 300, 305),
        (1, 11.0, None, "+U", "PREWRITE", 500, None),  # after resolvedTs
        (1, None, None, None, "COMMIT", 500, 505),
        (2, None, None, "-D", "COMMITTED", 600, 605),
        (4, 40.0, None, "+I", "PREWRITE", 700, None),  # never committed
    ]
    raw = spark.createDataFrame(rows, RAW_SCHEMA)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    got = tidb_snapshot_stream(raw, ["user_id"], resolved_ts=400)
    assert {r["user_id"]: r["value"] for r in got.collect()} == {
        1: 11.0,
        3: 30.0,
    }
    assert set(jsc.getPersistentRDDs().keys()) == before


def test_oceanbase_overlap_equals_plain_materialize(spark):
    # upsert log: key 1 updated in the overlap window (present in BOTH
    # snapshot image and buffered stream), key 2 deleted mid-stream,
    # key 3 untouched since before stream start, key 4 born after snapshot
    rows = [
        (1, 1.0, "+I", 10),
        (3, 3.0, "+I", 20),
        (2, 2.0, "+I", 30),
        (1, 1.5, "+U", 45),  # overlap: stream_start=40 < 45 <= snapshot_at=50
        (2, None, "-D", 55),
        (4, 4.0, "+I", 60),
    ]
    log = spark.createDataFrame(rows, f"user_id long, value double, {OP_COL} string, {SEQ_COL} long")
    got = oceanbase_snapshot_stream(log, ["user_id"], stream_start=40, snapshot_at=50)
    want = materialize(log, ["user_id"])
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
    assert {r["user_id"]: r["value"] for r in got.collect()} == {
        1: 1.5,
        3: 3.0,
        4: 4.0,
    }
