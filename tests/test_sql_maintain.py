"""SQL → maintenance bridge (plans/sql_maintain.py).

The reference's user surface is an INSERT-SELECT handed to a planner
that picks the incremental operator (MySqlConnectorITCase.java:213-271:
``INSERT INTO sink SELECT name, SUM(weight) FROM debezium_source GROUP
BY name`` with live DML mid-run, golden ``+I[hammer, 2.625]``).  These
tests pin the bridge: shape parsing, planner dispatch, replay-equals-
direct for all three shapes under any batch split, WHERE commutation,
DDL-surface integration (computed columns + PRIMARY KEY), and the
ITCase mirror through a real Structured Streaming query.
"""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.model import OP_COL, SEQ_COL
from flink_cdc_2_3_0_src_spark.operators.changelog import materialize
from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
    parse_insert_select,
    plan_insert_maintained,
    replay_insert_maintained,
)


def _log(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


# Full-retraction changelog over (user_id PK, g group, v value) with
# NULL values live in the final state (pins avg/count NULL semantics),
# an update, a delete, and a delete of a NULL-valued row.
_AGG_ROWS = [
    (1, "a", 10.0, "+I", 1),
    (2, "a", None, "+I", 2),
    (3, "b", 5.0, "+I", 3),
    (5, "b", 7.5, "+I", 4),
    (1, "a", 10.0, "-U", 5), (1, "a", 20.0, "+U", 5),
    (4, "b", None, "+I", 6),
    (4, "b", None, "-D", 7),
    (3, "b", 5.0, "-D", 8),
]
_AGG_SCHEMA = f"user_id long, g string, v double, {OP_COL} string, {SEQ_COL} long"

_AGG_SQL = """
    INSERT INTO sink
    SELECT g, SUM(v) AS s, COUNT(*) AS n, COUNT(v) AS nv, AVG(v) AS a
    FROM t GROUP BY g
"""


def test_parse_agg_shape():
    st = parse_insert_select(_AGG_SQL)
    assert st.shape == "agg" and st.sink == "sink" and st.sources == ["t"]
    assert st.group_cols == ["g"]
    assert set(st.aggs) == {"s", "n", "nv", "a"}
    assert st.aggs["s"] == ("sum", "v") and st.aggs["n"] == ("count", "*")
    assert st.select[0] == ("g", "g")


def test_parse_join_shape():
    st = parse_insert_select(
        "INSERT INTO sink SELECT a.user_id AS uid, a.v, b.seg "
        "FROM ta AS a LEFT JOIN tb b ON a.user_id = b.uid"
    )
    assert st.shape == "join" and st.sources == ["ta", "tb"]
    assert st.join_how == "left" and st.join_on == [("user_id", "uid")]
    assert st.select == [("a.user_id", "uid"), ("a.v", "v"), ("b.seg", "seg")]


def test_parse_topn_shape():
    st = parse_insert_select(
        "INSERT INTO sink SELECT bucket, user_id, v FROM ("
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket "
        "ORDER BY v DESC, user_id) AS rn FROM t WHERE v > 0) WHERE rn <= 2"
    )
    assert st.shape == "topn" and st.n == 2
    assert st.group_cols == ["bucket"]
    assert st.order_sql == "v DESC, user_id"
    assert st.where == "v > 0"


@pytest.mark.parametrize(
    "sql,msg",
    [
        ("SELECT 1", "not an INSERT INTO"),
        ("INSERT INTO s SELECT g FROM t GROUP BY g", "no aggregate"),
        ("INSERT INTO s SELECT SUM(v) AS s FROM t GROUP BY g",
         "every GROUP BY column"),
        ("INSERT INTO s SELECT x, SUM(v) AS s FROM t GROUP BY g",
         "neither a GROUP BY column"),
        ("INSERT INTO s SELECT a.x, b.y FROM ta a JOIN tb b ON a.k < b.k",
         "equi-join"),
        ("INSERT INTO s SELECT bucket, rn FROM (SELECT *, ROW_NUMBER() "
         "OVER (PARTITION BY bucket ORDER BY v) AS rn FROM t) WHERE rn <= 2",
         "rank column"),
        # ("INSERT INTO s SELECT v FROM t" parses since r12 — the
        # row-local calc shape; see test_calc_projection_filter_replay)
        ("INSERT INTO s SELECT v FROM t ORDER BY v",
         "unsupported INSERT-SELECT shape"),
    ],
)
def test_parse_errors(sql, msg):
    with pytest.raises(ValueError, match=msg):
        parse_insert_select(sql)


def test_plan_unknown_table_and_dispatch(spark):
    with pytest.raises(ValueError, match="unknown table"):
        plan_insert_maintained(_AGG_SQL, {"other": ["user_id"]})
    from flink_cdc_2_3_0_src_spark.operators.maintain import (
        _AggDeltaPlan,
        _AggRecomputePlan,
    )

    # planner dispatch mirrors agg_auto: pure sum/count/avg → stateless
    # signed-delta plan; any min/max → table-state recompute plan
    job = plan_insert_maintained(_AGG_SQL, {"t": ["user_id"]})
    assert isinstance(job.plan, _AggDeltaPlan)
    job2 = plan_insert_maintained(
        "INSERT INTO s SELECT g, MIN(v) AS mn FROM t GROUP BY g",
        {"t": ["user_id"]},
    )
    assert isinstance(job2.plan, _AggRecomputePlan)
    # r11: a PK-less table's min/max no longer refuses — it rides the
    # value-multiset retract plan (Flink's Min/MaxWithRetractAggFunction
    # state, shared with the distinct views)
    from flink_cdc_2_3_0_src_spark.operators.maintain import (
        _DistinctAggPlan,
    )

    job3 = plan_insert_maintained(
        "INSERT INTO s SELECT g, MIN(v) AS mn FROM t GROUP BY g",
        {"t": []},
    )
    assert isinstance(job3.plan, _DistinctAggPlan)


@pytest.mark.parametrize("n_batches", [1, 3])
def test_agg_replay_matches_direct_any_split(spark, n_batches):
    log = _log(spark, _AGG_ROWS, _AGG_SCHEMA)
    got = replay_insert_maintained(
        _AGG_SQL, {"t": ["user_id"]}, {"t": log}, n_batches=n_batches
    )
    direct = (
        materialize(log, ["user_id"])
        .groupBy("g")
        .agg(
            F.sum("v").alias("s"),
            F.count(F.lit(1)).alias("n"),
            F.count("v").alias("nv"),
            F.avg("v").alias("a"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct.collect())
    )
    # the NULL rows are live: COUNT(*) ≠ COUNT(v) and AVG ignores NULLs
    rows = {r["g"]: r for r in got.collect()}
    assert rows["a"]["n"] == 2 and rows["a"]["nv"] == 1
    assert rows["a"]["a"] == 20.0  # not 10.0 (= 20/2 with NULL counted)


def test_agg_minmax_recompute_via_ddl_surface(spark):
    """The full reference contract: CREATE TABLE (computed column +
    PRIMARY KEY) + INSERT-SELECT with MIN/MAX → the bridge pulls keys
    from the DDL, applies the computed column per batch, and routes to
    the recompute plan."""
    from flink_cdc_2_3_0_src_spark.sources.sql_ddl import create_table_source

    rt = create_table_source(
        """
        CREATE TABLE t (
            user_id BIGINT NOT NULL,
            g STRING,
            v DOUBLE,
            bucket AS CAST(user_id % 3 AS BIGINT),
            PRIMARY KEY (user_id) NOT ENFORCED
        ) WITH (
            'connector' = 'mysql-cdc', 'hostname' = 'h',
            'database-name' = 'd', 'table-name' = 't'
        )
        """
    )
    log = _log(spark, _AGG_ROWS, _AGG_SCHEMA)
    got = replay_insert_maintained(
        "INSERT INTO sink SELECT bucket, MIN(v) AS mn, MAX(v) AS mx, "
        "SUM(v) AS s FROM t GROUP BY bucket",
        {"t": rt},
        {"t": log},
        n_batches=3,
    )
    direct = (
        materialize(log, ["user_id"])
        .withColumn("bucket", (F.col("user_id") % 3).cast("long"))
        .groupBy("bucket")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"),
             F.sum("v").alias("s"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_join_replay_matches_direct(spark):
    a_rows = [
        (1, "a1", "+I", 1), (2, "b1", "+I", 2),
        (1, "a1", "-U", 5), (1, "a2", "+U", 5),
        (3, "c1", "+I", 6), (2, "b1", "-D", 9),
    ]
    b_rows = [
        (1, "gold", "+I", 3), (2, "iron", "+I", 4),
        (3, "tin", "+I", 7),
        (3, "tin", "-U", 8), (3, "zinc", "+U", 8),
        (1, "gold", "-D", 10),
    ]
    la = _log(spark, a_rows, f"user_id long, v string, {OP_COL} string, {SEQ_COL} long")
    lb = _log(spark, b_rows, f"uid long, seg string, {OP_COL} string, {SEQ_COL} long")
    got = replay_insert_maintained(
        "INSERT INTO sink SELECT a.user_id, a.v, b.seg AS segment "
        "FROM ta a JOIN tb b ON a.user_id = b.uid",
        {"ta": ["user_id"], "tb": ["uid"]},
        {"ta": la, "tb": lb},
        n_batches=4,
    )
    direct = (
        materialize(la, ["user_id"])
        .select("user_id", "v")
        .join(
            materialize(lb, ["uid"]).select(
                F.col("uid").alias("user_id"), F.col("seg").alias("segment")
            ),
            "user_id",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct.collect())
    ) == [(3, "c1", "zinc")]


def test_topn_replay_matches_direct(spark):
    rows = [
        (1, 0, 10.0, "+I", 1), (2, 0, 20.0, "+I", 2),
        (3, 0, 30.0, "+I", 3), (4, 1, 5.0, "+I", 4),
        (5, 1, -1.0, "+I", 5),
        (3, 0, 30.0, "-U", 6), (3, 0, 1.0, "+U", 6),
        (2, 0, 20.0, "-D", 7),
        (6, 1, 8.0, "+I", 8),
    ]
    log = _log(
        spark, rows,
        f"user_id long, bucket long, v double, {OP_COL} string, {SEQ_COL} long",
    )
    got = replay_insert_maintained(
        "INSERT INTO sink SELECT bucket, user_id, v FROM ("
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket "
        "ORDER BY v DESC, user_id) AS rn FROM t WHERE v > 0) WHERE rn <= 2",
        {"t": ["user_id"]},
        {"t": log},
        n_batches=3,
    )
    from pyspark.sql.window import Window as W

    direct = (
        materialize(log, ["user_id"])
        .filter(F.col("v") > 0)
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("bucket").orderBy(
                    F.col("v").desc(), F.col("user_id")
                )
            ),
        )
        .filter(F.col("rn") <= 2)
        .select("bucket", "user_id", "v")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_where_commutes_with_boundary_crossing_update(spark):
    """A WHERE pre-filter on every batch equals filtering the
    materialized table — including an update that crosses the predicate
    boundary (v 5→15: the -U is dropped by the filter, but so was the
    row's original insert, so the signed algebra stays balanced)."""
    rows = [
        (1, "a", 5.0, "+I", 1),
        (2, "a", 50.0, "+I", 2),
        (1, "a", 5.0, "-U", 3), (1, "a", 15.0, "+U", 3),
        (2, "a", 50.0, "-U", 4), (2, "a", 3.0, "+U", 4),  # crosses DOWN
    ]
    log = _log(spark, rows, _AGG_SCHEMA)
    got = replay_insert_maintained(
        "INSERT INTO sink SELECT g, SUM(v) AS s, COUNT(*) AS n "
        "FROM t WHERE v >= 10 GROUP BY g",
        {"t": ["user_id"]},
        {"t": log},
        n_batches=3,
    )
    direct = (
        materialize(log, ["user_id"])
        .filter(F.col("v") >= 10)
        .groupBy("g")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct.collect())
    ) == [("a", 15.0, 1)]


def test_streaming_itcase_golden_sum_by_name(spark, tmp_path):
    """The reference's flagship SQL contract end-to-end through a REAL
    Structured Streaming query (MySqlConnectorITCase.java:213-271): a
    CREATE TABLE DDL resolves the source, ``INSERT INTO sink SELECT
    name, SUM(weight) FROM products GROUP BY name`` compiles to a
    maintenance job, the snapshot batch and live UPDATE/INSERT/DELETE
    DML replay as microbatches, and the final sink matches the ITCase
    golden rows — ``+I[hammer, 2.625]`` after retractions."""
    from flink_cdc_2_3_0_src_spark.sources.sql_ddl import create_table_source
    from flink_cdc_2_3_0_src_spark.streaming.replay import (
        read_replay_stream,
        write_replay_files,
    )

    rt = create_table_source(
        """
        CREATE TABLE products (
            id BIGINT NOT NULL,
            name STRING,
            weight DECIMAL(10, 3),
            PRIMARY KEY (id) NOT ENFORCED
        ) WITH (
            'connector' = 'mysql-cdc', 'hostname' = 'h',
            'database-name' = 'inventory', 'table-name' = 'products'
        )
        """
    )
    D = Decimal
    snapshot = [
        (101, "scooter", D("3.140"), "+I", 1),
        (102, "car battery", D("8.100"), "+I", 2),
        (103, "12-pack drill bits", D("0.800"), "+I", 3),
        (104, "hammer", D("0.750"), "+I", 4),
        (105, "hammer", D("0.875"), "+I", 5),
        (106, "hammer", D("1.000"), "+I", 6),
        (107, "rocks", D("5.300"), "+I", 7),
        (108, "jacket", D("0.100"), "+I", 8),
        (109, "spare tire", D("22.200"), "+I", 9),
    ]
    dml = [
        # UPDATE 106 description only: weight unchanged, full -U/+U pair
        (106, "hammer", D("1.000"), "-U", 10),
        (106, "hammer", D("1.000"), "+U", 10),
        (107, "rocks", D("5.300"), "-U", 11),
        (107, "rocks", D("5.100"), "+U", 11),
        (110, "jacket", D("0.200"), "+I", 12),
        (111, "scooter", D("5.180"), "+I", 13),
        (110, "jacket", D("0.200"), "-U", 14),
        (110, "jacket", D("0.500"), "+U", 14),
        (111, "scooter", D("5.180"), "-U", 15),
        (111, "scooter", D("5.170"), "+U", 15),
        (111, "scooter", D("5.170"), "-D", 16),
    ]
    schema = (
        f"id long, name string, weight decimal(10,3), "
        f"{OP_COL} string, {SEQ_COL} long"
    )
    log = spark.createDataFrame(snapshot + dml, schema)
    replay_dir = str(tmp_path / "replay_itcase")
    write_replay_files(log, replay_dir, n_files=4)

    job = plan_insert_maintained(
        "INSERT INTO sink SELECT name, SUM(weight) AS weightSum "
        "FROM products GROUP BY name",
        {"products": rt},
    )

    def process(batch_df, batch_id):
        job.step({"products": batch_df})

    q = (
        read_replay_stream(spark, replay_dir, log.schema)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_itcase"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        f"+I[{r['name']}, {r['weightSum']}]" for r in job.result().collect()
    )
    expected = sorted(
        [
            "+I[scooter, 3.140]",
            "+I[car battery, 8.100]",
            "+I[12-pack drill bits, 0.800]",
            "+I[hammer, 2.625]",
            "+I[rocks, 5.100]",
            "+I[jacket, 0.600]",
            "+I[spare tire, 22.200]",
        ]
    )
    assert got == expected


def test_streaming_sql_topn_matches_direct(spark, tmp_path):
    """The Top-N SQL shape through a REAL Structured Streaming query
    (Flink's streaming Top-N pattern submitted as INSERT-SELECT): the
    job's final sink equals ranking the materialized table directly."""
    from flink_cdc_2_3_0_src_spark.streaming.replay import (
        read_replay_stream,
        write_replay_files,
    )

    rows = [
        (1, 0, 10.0, "+I", 1), (2, 0, 20.0, "+I", 2),
        (3, 0, 30.0, "+I", 3), (4, 1, 5.0, "+I", 4),
        (5, 1, 2.0, "+I", 5),
        (3, 0, 30.0, "-U", 6), (3, 0, 1.0, "+U", 6),
        (2, 0, 20.0, "-D", 7),
        (6, 1, 8.0, "+I", 8),
    ]
    schema = (
        f"user_id long, bucket long, v double, {OP_COL} string, "
        f"{SEQ_COL} long"
    )
    log = spark.createDataFrame(rows, schema)
    replay_dir = str(tmp_path / "replay_sql_topn")
    write_replay_files(log, replay_dir, n_files=3)

    job = plan_insert_maintained(
        "INSERT INTO sink SELECT bucket, user_id, v FROM ("
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket "
        "ORDER BY v DESC, user_id) AS rn FROM t) WHERE rn <= 2",
        {"t": ["user_id"]},
    )

    def process(batch_df, batch_id):
        job.step({"t": batch_df})

    q = (
        read_replay_stream(spark, replay_dir, log.schema)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_sql_topn"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    from pyspark.sql.window import Window as W

    direct = (
        materialize(log, ["user_id"])
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("bucket").orderBy(
                    F.col("v").desc(), F.col("user_id")
                )
            ),
        )
        .filter(F.col("rn") <= 2)
        .select("bucket", "user_id", "v")
    )
    assert sorted(map(tuple, job.result().collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_sql_job_state_ttl_wiring(spark):
    """ttl= at job construction wires plan.expire through the SQL
    surface (table.exec.state.ttl): an aggregate grouped by an
    event-time bucket forgets cold buckets' state behind the watermark
    — later results only re-include a bucket if new rows arrive —
    while the folded sink keeps previously-emitted rows (TTL forgets
    STATE, not emitted results)."""
    rows1 = [
        (1, 10, 5.0, "+I", 1), (2, 10, 7.0, "+I", 2),
        (3, 20, 1.0, "+I", 3),
    ]
    rows2 = [
        (4, 20, 2.0, "+I", 4),
        # late row for the EXPIRED bucket 10: state was evicted, so the
        # bucket restarts from this row alone
        (5, 10, 100.0, "+I", 5),
    ]
    schema = f"user_id long, bkt long, v double, {OP_COL} string, {SEQ_COL} long"
    job = plan_insert_maintained(
        "INSERT INTO sink SELECT bkt, SUM(v) AS s FROM t GROUP BY bkt",
        {"t": ["user_id"]},
        ttl="bkt",
    )
    job.step({"t": spark.createDataFrame(rows1, schema)})
    # watermark passes bucket 10 -> its agg state evicts
    job.expire(watermark=15)
    assert {tuple(r) for r in job._state.collect()} == {(20, 1.0, 1)}
    job.step({"t": spark.createDataFrame(rows2, schema)})
    got = {(r["bkt"], r["s"]) for r in job.result().collect()}
    # bucket 10's sink row from batch 1 (12.0) was emitted before the
    # eviction and stays; the late arrival re-adds bucket 10 counting
    # from scratch (100.0) — the documented Flink TTL trade
    assert got == {(10, 12.0), (10, 100.0), (20, 3.0)}

    job2 = plan_insert_maintained(
        "INSERT INTO sink SELECT bkt, SUM(v) AS s FROM t GROUP BY bkt",
        {"t": ["user_id"]},
    )
    job2.step({"t": spark.createDataFrame(rows1, schema)})
    with pytest.raises(ValueError, match="no ttl configured"):
        job2.expire(0)


def test_tumbling_window_agg_matches_direct(spark):
    """GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE): Flink's windowed-
    aggregate syntax maps onto Spark window() buckets (the bucket-as-
    group composition); replay equals the direct windowed aggregate of
    the materialized log, including a retraction that empties one
    window."""
    rows = [
        (1, "2024-01-01 00:01:00", 5.0, "+I", 1),
        (2, "2024-01-01 00:02:30", 7.0, "+I", 2),
        (3, "2024-01-01 00:06:10", 2.0, "+I", 3),
        (4, "2024-01-01 00:12:00", 9.0, "+I", 4),
        (4, "2024-01-01 00:12:00", 9.0, "-D", 5),  # empties window 10-15
        (2, "2024-01-01 00:02:30", 7.0, "-U", 6),
        (2, "2024-01-01 00:03:30", 8.0, "+U", 6),
    ]
    log = spark.createDataFrame(
        rows, f"user_id long, ts_s string, v double, {OP_COL} string, {SEQ_COL} long"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    st = parse_insert_select(
        "INSERT INTO sink SELECT TUMBLE_START(ts, INTERVAL '5' MINUTE) AS ws, "
        "TUMBLE_END(ts, INTERVAL '5' MINUTE) AS we, SUM(v) AS s, COUNT(*) AS n "
        "FROM t GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE)"
    )
    assert st.tumble == ("ts", "5 minutes")
    got = replay_insert_maintained(
        "INSERT INTO sink SELECT TUMBLE_START(ts, INTERVAL '5' MINUTE) AS ws, "
        "TUMBLE_END(ts, INTERVAL '5' MINUTE) AS we, SUM(v) AS s, COUNT(*) AS n "
        "FROM t GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE)",
        {"t": ["user_id"]},
        {"t": log},
        n_batches=3,
    )
    direct = (
        materialize(log, ["user_id"])
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "s", "n"
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct.collect())
    )
    # the deleted row's window is gone entirely
    assert len(got.collect()) == 2


def test_tumble_null_event_times_drop_agg_and_rank(spark):
    """Advisor-fix pin: NULL event times drop from TUMBLE derivations
    on BOTH the aggregate and the window Top-N/rank paths — without
    the filter F.window(NULL) yields a NULL window struct and NULL-ts
    rows would aggregate/rank inside a ghost NULL bucket (Flink's
    window assigner excludes them; the window-join/CUMULATE/OVER/match
    paths already did)."""
    rows = [
        (1, "2024-01-01 00:01:00", 5.0, "+I", 1),
        (2, None, 7.0, "+I", 2),
        (3, "2024-01-01 00:02:00", 2.0, "+I", 3),
        (4, None, 9.0, "+I", 4),
    ]
    log = spark.createDataFrame(
        rows,
        f"user_id long, ts_s string, v double, {OP_COL} string,"
        f" {SEQ_COL} long",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    agg = replay_insert_maintained(
        "INSERT INTO sink SELECT TUMBLE_START(ts, INTERVAL '5' MINUTE)"
        " AS ws, SUM(v) AS s, COUNT(*) AS n"
        " FROM t GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE)",
        {"t": ["user_id"]}, {"t": log}, n_batches=2,
    ).collect()
    assert len(agg) == 1 and agg[0]["s"] == 7.0 and agg[0]["n"] == 2
    rank = replay_insert_maintained(
        "INSERT INTO sink SELECT TUMBLE_START(ts, INTERVAL '5' MINUTE)"
        " AS ws, user_id, v FROM (SELECT *, ROW_NUMBER() OVER"
        " (PARTITION BY TUMBLE(ts, INTERVAL '5' MINUTE)"
        " ORDER BY v DESC, user_id) AS rn FROM t) WHERE rn <= 2",
        {"t": ["user_id"]}, {"t": log}, n_batches=2,
    ).collect()
    assert sorted(r["user_id"] for r in rank) == [1, 3]
    assert all(r["ws"] is not None for r in rank)


def test_tumbling_window_ttl_expires_behind_watermark(spark):
    """ttl=<time column> on a TUMBLE aggregate expires whole WINDOWS
    whose start fell behind the watermark (Flink's windowed-state
    eviction) while the folded sink keeps already-emitted rows."""
    from datetime import datetime

    schema = f"user_id long, ts timestamp, v double, {OP_COL} string, {SEQ_COL} long"
    b1 = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 1), 5.0, "+I", 1),
            (2, datetime(2024, 1, 1, 0, 7), 3.0, "+I", 2),
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [(3, datetime(2024, 1, 1, 0, 8), 4.0, "+I", 3)], schema
    )
    job = plan_insert_maintained(
        "INSERT INTO sink SELECT TUMBLE_START(ts, INTERVAL '5' MINUTE) AS ws, "
        "SUM(v) AS s FROM t GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE)",
        {"t": ["user_id"]},
        ttl="ts",
    )
    job.step({"t": b1})
    # eviction keys on the window END: at watermark == end the
    # [00:00,00:05) window is retained (conservative edge) and the
    # OPEN [00:05,00:10) window — whose start is behind the watermark —
    # must NOT be evicted mid-aggregation (r10 review fix: start-keyed
    # TTL dropped open windows and rebuilt them from empty)
    job.expire(watermark=datetime(2024, 1, 1, 0, 5))
    assert {r["__w_start"] for r in job._state.collect()} == {
        datetime(2024, 1, 1, 0, 0), datetime(2024, 1, 1, 0, 5)
    }
    # watermark PAST the first window's end -> only it evicts
    job.expire(watermark=datetime(2024, 1, 1, 0, 6))
    live_windows = {r["__w_start"] for r in job._state.collect()}
    assert live_windows == {datetime(2024, 1, 1, 0, 5)}
    job.step({"t": b2})
    got = {(r["ws"], r["s"]) for r in job.result().collect()}
    # emitted row for the expired window stays; the live window keeps
    # aggregating across batches (3.0 + 4.0)
    assert got == {
        (datetime(2024, 1, 1, 0, 0), 5.0),
        (datetime(2024, 1, 1, 0, 5), 7.0),
    }


@pytest.mark.parametrize(
    "sql,msg",
    [
        ("INSERT INTO s SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS w, "
         "SUM(v) AS s FROM t GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE)",
         "does not match the GROUP BY's TUMBLE"),
        ("INSERT INTO s SELECT SUM(v) AS s FROM t "
         "GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE)",
         "must project TUMBLE/HOP"),
        ("INSERT INTO s SELECT g, SUM(v) AS s FROM t "
         "GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE), "
         "TUMBLE(ts2, INTERVAL '5' MINUTE)",
         "at most one TUMBLE"),
    ],
)
def test_tumble_parse_errors(sql, msg):
    with pytest.raises(ValueError, match=msg):
        parse_insert_select(sql)


def test_streaming_itcase_into_live_duckdb_sink(spark, tmp_path):
    """The COMPLETE reference contract on a live engine: source DDL →
    INSERT-SELECT compiled to a maintenance plan → per-microbatch
    signed deltas rendered as an upsert changelog → SqlUpsertSink's
    one-transaction-per-batch exactly-once merge into DuckDB.  Final
    table = the ITCase golden rows; replaying a ledgered batch is a
    no-op (the 'values' sink + sink-expected-messages-num machinery of
    MySqlConnectorITCase.java:200-271, with a real SQL engine in the
    sink seat)."""
    import duckdb

    from flink_cdc_2_3_0_src_spark.streaming.replay import (
        read_replay_stream,
        write_replay_files,
    )
    from flink_cdc_2_3_0_src_spark.streaming.sink import SqlUpsertSink

    D = Decimal
    rows = [
        (101, "scooter", D("3.140"), "+I", 1),
        (102, "car battery", D("8.100"), "+I", 2),
        (103, "12-pack drill bits", D("0.800"), "+I", 3),
        (104, "hammer", D("0.750"), "+I", 4),
        (105, "hammer", D("0.875"), "+I", 5),
        (106, "hammer", D("1.000"), "+I", 6),
        (107, "rocks", D("5.300"), "+I", 7),
        (108, "jacket", D("0.100"), "+I", 8),
        (109, "spare tire", D("22.200"), "+I", 9),
        (106, "hammer", D("1.000"), "-U", 10),
        (106, "hammer", D("1.000"), "+U", 10),
        (107, "rocks", D("5.300"), "-U", 11),
        (107, "rocks", D("5.100"), "+U", 11),
        (110, "jacket", D("0.200"), "+I", 12),
        (111, "scooter", D("5.180"), "+I", 13),
        (110, "jacket", D("0.200"), "-U", 14),
        (110, "jacket", D("0.500"), "+U", 14),
        (111, "scooter", D("5.180"), "-U", 15),
        (111, "scooter", D("5.170"), "+U", 15),
        (111, "scooter", D("5.170"), "-D", 16),
    ]
    schema = (
        f"id long, name string, weight decimal(10,3), "
        f"{OP_COL} string, {SEQ_COL} long"
    )
    log = spark.createDataFrame(rows, schema)
    replay_dir = str(tmp_path / "replay_itcase_sink")
    write_replay_files(log, replay_dir, n_files=4)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE sink (name VARCHAR, weightSum DECIMAL(20,3))"
    )

    def run_sql(sql):
        return con.execute(sql).fetchall()

    sink = SqlUpsertSink(run_sql, "sink", ["name"])
    job = plan_insert_maintained(
        "INSERT INTO sink SELECT name, SUM(weight) AS weightSum "
        "FROM products GROUP BY name",
        {"products": ["id"]},
    )

    def process(batch_df, batch_id):
        delta = job.step({"products": batch_df})
        sink.merge_batch(job.delta_changelog(delta, batch_id), batch_id)

    q = (
        read_replay_stream(spark, replay_dir, log.schema)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_itcase_sink"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(
        f"+I[{n}, {w}]" for n, w in con.execute("SELECT * FROM sink").fetchall()
    )
    assert got == sorted(
        [
            "+I[scooter, 3.140]",
            "+I[car battery, 8.100]",
            "+I[12-pack drill bits, 0.800]",
            "+I[hammer, 2.625]",
            "+I[rocks, 5.100]",
            "+I[jacket, 0.600]",
            "+I[spare tire, 22.200]",
        ]
    )
    # exactly-once: re-merging a ledgered batch changes nothing
    before = con.execute("SELECT * FROM sink ORDER BY name").fetchall()
    delta0 = job.delta_changelog(
        job.step({"products": log.limit(0)}), 0
    )
    sink.merge_batch(delta0, 0)
    assert con.execute("SELECT * FROM sink ORDER BY name").fetchall() == before
    # join deltas are multisets: the keyed-sink renderer refuses them
    jjob = plan_insert_maintained(
        "INSERT INTO s SELECT a.id, b.name FROM ta a JOIN tb b ON a.id = b.id",
        {"ta": ["id"], "tb": ["id"]},
    )
    with pytest.raises(ValueError, match="multiset"):
        jjob.delta_changelog(spark.range(1), 0)


def test_where_crossing_update_on_table_state_plans(spark):
    """Review-finding regression (r10): an update whose NEW image fails
    the WHERE predicate must REMOVE its key from the filtered table —
    the table-state plans (MIN/MAX recompute, Top-N) rewrite the
    failing +I/+U into a -D tombstone; a plain row filter would leave
    the old image live in table state forever."""
    rows = [
        (1, "a", 30.0, "+I", 1),
        (2, "a", 12.0, "+I", 2),
        (1, "a", 30.0, "-U", 3), (1, "a", 3.0, "+U", 3),  # crosses OUT
        (3, "a", 2.0, "+I", 4),
        (3, "a", 2.0, "-U", 5), (3, "a", 50.0, "+U", 5),  # crosses IN
    ]
    log = _log(spark, rows, _AGG_SCHEMA)
    got = replay_insert_maintained(
        "INSERT INTO sink SELECT g, MAX(v) AS mx, COUNT(*) AS n "
        "FROM t WHERE v >= 10 GROUP BY g",
        {"t": ["user_id"]},
        {"t": log},
        n_batches=3,
    )
    assert [tuple(r) for r in got.collect()] == [("a", 50.0, 2)]

    # the Top-N shape with the same crossing pattern: the retired
    # row (user 1) must leave the ranking
    got_topn = replay_insert_maintained(
        "INSERT INTO sink SELECT g, user_id, v FROM ("
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY g "
        "ORDER BY v DESC, user_id) AS rn FROM t WHERE v >= 10) "
        "WHERE rn <= 2",
        {"t": ["user_id"]},
        {"t": log},
        n_batches=3,
    )
    assert sorted(map(tuple, got_topn.collect())) == [
        ("a", 2, 12.0), ("a", 3, 50.0),
    ]


def test_select_items_with_comparison_operators_split_correctly(spark):
    """Review-finding regression (r10): '<'/'>' inside aggregate
    arguments are comparison operators, not brackets — the SELECT list
    must split on the real top-level commas."""
    st = parse_insert_select(
        "INSERT INTO s SELECT g, "
        "SUM(CASE WHEN v > 5 THEN v ELSE 0 END) AS s_hi, "
        "COUNT(*) AS n FROM t GROUP BY g"
    )
    assert set(st.aggs) == {"s_hi", "n"}
    assert st.aggs["s_hi"] == ("sum", "CASE WHEN v > 5 THEN v ELSE 0 END")
    assert st.aggs["n"] == ("count", "*")
    log = _log(
        spark,
        [(1, "a", 3.0, "+I", 1), (2, "a", 9.0, "+I", 2)],
        _AGG_SCHEMA,
    )
    got = replay_insert_maintained(
        "INSERT INTO s SELECT g, "
        "SUM(CASE WHEN v > 5 THEN v ELSE 0 END) AS s_hi, "
        "COUNT(*) AS n FROM t GROUP BY g",
        {"t": ["user_id"]},
        {"t": log},
        n_batches=2,
    )
    assert [tuple(r) for r in got.collect()] == [("a", 9.0, 2)]


def test_join_column_collision_raises_actionable_error(spark):
    """Shared non-key column names across join sides fail at step()
    with SQL-level advice, not merge_join_state's DataFrame-level error
    or an ambiguous-reference exception from a silent double-name."""
    la = _log(spark, [(1, "x", "+I", 1)],
              f"id long, name string, {OP_COL} string, {SEQ_COL} long")
    lb = _log(spark, [(1, "y", "+I", 2)],
              f"id long, name string, {OP_COL} string, {SEQ_COL} long")
    job = plan_insert_maintained(
        "INSERT INTO s SELECT a.name, b.name AS bname "
        "FROM ta a JOIN tb b ON a.id = b.id",
        {"ta": ["id"], "tb": ["id"]},
    )
    with pytest.raises(ValueError, match="share non-key column"):
        job.step({"ta": la, "tb": lb})
    # renaming b's join col onto an existing unrelated b column
    lb2 = _log(spark, [(1, 2, "z", "+I", 2)],
               f"kb long, ka long, seg string, {OP_COL} string, {SEQ_COL} long")
    job2 = plan_insert_maintained(
        "INSERT INTO s SELECT a.ka, b.seg FROM ta a JOIN tb b ON a.ka = b.kb",
        {"ta": ["ka"], "tb": ["kb"]},
    )
    la2 = _log(spark, [(1, "w", "+I", 1)],
               f"ka long, v string, {OP_COL} string, {SEQ_COL} long")
    with pytest.raises(ValueError, match="unrelated column named"):
        job2.step({"ta": la2, "tb": lb2})


def test_topn_select_must_project_primary_key(spark):
    with pytest.raises(ValueError, match="must project the source's PRIMARY KEY"):
        plan_insert_maintained(
            "INSERT INTO s SELECT bucket, v FROM ("
            "SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket "
            "ORDER BY v DESC, user_id) AS rn FROM t) WHERE rn <= 3",
            {"t": ["user_id"]},
        )


@pytest.mark.parametrize("n_batches", [1, 3])
def test_having_filters_result_rows_across_crossings(spark, n_batches):
    """HAVING over a maintained aggregate: groups crossing the bound in
    either direction (via updates arriving in LATER batches) end up
    exactly as the direct GROUP BY ... HAVING — the row-local delta
    filter emits the retraction when a group leaves the bound and the
    insert when it enters."""
    rows = [
        (1, "a", 10.0, "+I", 1),
        (2, "b", 3.0, "+I", 2),
        (3, "a", 5.0, "+I", 3),
        # group a leaves the bound: 15 -> 6
        (1, "a", 10.0, "-U", 4), (1, "a", 1.0, "+U", 4),
        # group b enters: 3 -> 12
        (2, "b", 3.0, "-U", 5), (2, "b", 12.0, "+U", 5),
    ]
    log = _log(spark, rows, _AGG_SCHEMA)
    sql = (
        "INSERT INTO sink SELECT g, SUM(v) AS s, COUNT(*) AS n "
        "FROM t GROUP BY g HAVING SUM(v) >= 10"
    )
    st = parse_insert_select(sql)
    assert st.having == "s >= 10"
    got = replay_insert_maintained(
        sql, {"t": ["user_id"]}, {"t": log}, n_batches=n_batches
    )
    direct = (
        materialize(log, ["user_id"])
        .groupBy("g")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("s") >= 10)
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct.collect())
    ) == [("b", 12.0, 1)]


def test_having_unknown_aggregate_raises(spark):
    with pytest.raises(ValueError, match="aggregate not in the SELECT"):
        parse_insert_select(
            "INSERT INTO s SELECT g, SUM(v) AS s FROM t "
            "GROUP BY g HAVING MAX(v) > 3"
        )


@pytest.mark.parametrize("n_batches", [1, 3])
def test_hop_sliding_window_agg_matches_direct(spark, n_batches):
    """GROUP BY HOP(ts, slide, size): each row replicates into its
    size/slide windows via Spark's sliding window() generator; the
    signed algebra holds per window group, so replay equals the direct
    sliding-window aggregate of the materialized log — including an
    update that MOVES a row between windows."""
    rows = [
        (1, "2024-01-01 00:01:00", 5.0, "+I", 1),
        (2, "2024-01-01 00:06:00", 7.0, "+I", 2),
        (3, "2024-01-01 00:11:00", 2.0, "+I", 3),
        # user 2 moves from 00:06 to 00:13: leaves windows
        # [00:00,00:10)/[00:05,00:15), enters [00:05,00:15)/[00:10,00:20)
        (2, "2024-01-01 00:06:00", 7.0, "-U", 4),
        (2, "2024-01-01 00:13:00", 7.0, "+U", 4),
        (3, "2024-01-01 00:11:00", 2.0, "-D", 5),
    ]
    log = spark.createDataFrame(
        rows,
        f"user_id long, ts_s string, v double, {OP_COL} string, {SEQ_COL} long",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    sql = (
        "INSERT INTO sink SELECT "
        "HOP_START(ts, INTERVAL '5' MINUTE, INTERVAL '10' MINUTE) AS ws, "
        "SUM(v) AS s, COUNT(*) AS n FROM t "
        "GROUP BY HOP(ts, INTERVAL '5' MINUTE, INTERVAL '10' MINUTE)"
    )
    st = parse_insert_select(sql)
    assert st.hop == ("ts", "5 minutes", "10 minutes")
    got = replay_insert_maintained(
        sql, {"t": ["user_id"]}, {"t": log}, n_batches=n_batches
    )
    direct = (
        materialize(log, ["user_id"])
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "s", "n")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct.collect())
    )
    # the moved row contributes to exactly two windows at its NEW time:
    # 2 windows for user 1 + 2 for user 2 (user 3's delete removed its
    # windows entirely)
    assert len(got.collect()) == 4


def test_hop_minmax_window_keyed_state(spark):
    """r11: min/max under HOP — the former refusal dissolves with
    (PK, window)-keyed table state (_WindowedRecomputePlan).  The
    replicated changelog rewrites ±U to per-cell upserts, so a
    ts-MOVING update deletes the old image's window cells and inserts
    the new image's (the ghost-replica case that motivated the old
    refusal), and a delete clears every cell."""
    from flink_cdc_2_3_0_src_spark.operators.maintain import (
        _WindowedRecomputePlan,
    )

    rows = [
        (1, "2024-01-01 00:10:00", 5.0, "+I", 1),
        (2, "2024-01-01 05:00:00", 7.0, "+I", 2),
        (3, "2024-01-01 11:30:00", 2.0, "+I", 3),
        (4, "2024-01-01 18:00:00", 9.0, "+I", 4),
        # ts-moving update: half a day, into disjoint windows
        (2, "2024-01-01 05:00:00", 7.0, "-U", 5),
        (2, "2024-01-01 17:00:00", 7.5, "+U", 5),
        (4, "2024-01-01 18:00:00", 9.0, "-D", 6),
    ]
    log = spark.createDataFrame(
        rows,
        f"user_id long, ts_s string, v double, {OP_COL} string,"
        f" {SEQ_COL} long",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    sql = (
        "INSERT INTO sink SELECT "
        "HOP_START(ts, INTERVAL '6' HOUR, INTERVAL '12' HOUR) AS ws, "
        "MAX(v) AS mx, MIN(v) AS mn, COUNT(*) AS n FROM t "
        "GROUP BY HOP(ts, INTERVAL '6' HOUR, INTERVAL '12' HOUR)"
    )
    job = plan_insert_maintained(sql, {"t": ["user_id"]})
    assert isinstance(job.plan, _WindowedRecomputePlan)
    direct = (
        materialize(log, ["user_id"])
        .select("*", F.window("ts", "12 hours", "6 hours").alias("w"))
        .groupBy(F.col("w.start").alias("ws"))
        .agg(
            F.max("v").alias("mx"), F.min("v").alias("mn"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    exp = sorted(map(tuple, direct.collect()), key=str)
    for n in (1, 3):
        got = replay_insert_maintained(
            sql, {"t": ["user_id"]}, {"t": log}, n_batches=n
        )
        assert sorted(map(tuple, got.collect()), key=str) == exp
    # a PK-less table routes to the value-multiset retract plan
    # instead (window replication folds into its signed counts)
    from flink_cdc_2_3_0_src_spark.operators.maintain import (
        _DistinctAggPlan,
    )

    assert isinstance(
        plan_insert_maintained(sql, {"t": []}).plan, _DistinctAggPlan
    )
    with pytest.raises(ValueError, match="does not match the GROUP BY's HOP"):
        parse_insert_select(
            "INSERT INTO s SELECT "
            "HOP_START(ts, INTERVAL '1' MINUTE, INTERVAL '10' MINUTE) AS ws, "
            "SUM(v) AS s FROM t "
            "GROUP BY HOP(ts, INTERVAL '5' MINUTE, INTERVAL '10' MINUTE)"
        )


def test_hop_minmax_where_crossing_tombstones(spark):
    """r11 (the verdict's crossing regression, extended to windowed
    table state): an update crossing the WHERE bound in EITHER
    direction must tombstone/insert its (PK, window) cells — a +U
    failing the predicate leaves every cell of the filtered windowed
    table, and a previously-failing key entering inserts its cells."""
    rows = [
        (1, "2024-01-01 00:10:00", 5.0, "+I", 1),
        (2, "2024-01-01 00:20:00", 9.0, "+I", 2),
        # leaves the filter: v drops below the bound
        (2, "2024-01-01 00:20:00", 9.0, "-U", 3),
        (2, "2024-01-01 00:20:00", 1.0, "+U", 3),
        # enters the filter: row 3 starts failing, update passes
        (3, "2024-01-01 00:40:00", 0.5, "+I", 4),
        (3, "2024-01-01 00:40:00", 0.5, "-U", 5),
        (3, "2024-01-01 00:45:00", 6.0, "+U", 5),
    ]
    log = spark.createDataFrame(
        rows,
        f"user_id long, ts_s string, v double, {OP_COL} string,"
        f" {SEQ_COL} long",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    sql = (
        "INSERT INTO sink SELECT "
        "HOP_START(ts, INTERVAL '15' MINUTE, INTERVAL '30' MINUTE) AS ws, "
        "MAX(v) AS mx FROM t WHERE v > 2 "
        "GROUP BY HOP(ts, INTERVAL '15' MINUTE, INTERVAL '30' MINUTE)"
    )
    direct = (
        materialize(log, ["user_id"])
        .filter(F.col("v") > 2)
        .select("*", F.window("ts", "30 minutes", "15 minutes").alias("w"))
        .groupBy(F.col("w.start").alias("ws"))
        .agg(F.max("v").alias("mx"))
    )
    exp = sorted(map(tuple, direct.collect()), key=str)
    for n in (1, 4):
        got = replay_insert_maintained(
            sql, {"t": ["user_id"]}, {"t": log}, n_batches=n
        )
        assert sorted(map(tuple, got.collect()), key=str) == exp


def test_statement_set_chained_sinks_match_direct(spark):
    """STATEMENT SET: statement 2 reads statement 1's maintained sink
    (upstream deltas rendered as an upsert changelog feed downstream as
    a CDC table).  Final downstream content equals computing both
    levels directly over the materialized input — including upstream
    groups that change or vanish mid-replay."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        seq_range_conditions,
    )
    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import SqlStatementSet

    rows = [
        (1, "x", "a", 10.0, "+I", 1),
        (2, "x", "a", 2.0, "+I", 2),
        (3, "x", "b", 7.0, "+I", 3),
        (4, "y", "c", 5.0, "+I", 4),
        # group (x, a) changes: 12 -> 31
        (1, "x", "a", 10.0, "-U", 5), (1, "x", "a", 29.0, "+U", 5),
        # group (y, c) vanishes
        (4, "y", "c", 5.0, "-D", 6),
        (5, "y", "d", 4.0, "+I", 7),
    ]
    schema = (
        f"user_id long, cls string, g string, v double, "
        f"{OP_COL} string, {SEQ_COL} long"
    )
    log = _log(spark, rows, schema)
    pipe = SqlStatementSet(
        [
            "INSERT INTO totals SELECT cls, g, SUM(v) AS s "
            "FROM t GROUP BY cls, g",
            "INSERT INTO top_totals SELECT cls, g, s FROM ("
            "SELECT *, ROW_NUMBER() OVER (PARTITION BY cls "
            "ORDER BY s DESC, g) AS rn FROM totals) WHERE rn <= 1",
        ],
        {"t": ["user_id"]},
    )
    assert pipe.external == ["t"]
    hi = log.agg(F.max(SEQ_COL)).collect()[0][0]
    for cond in seq_range_conditions(hi, 3):
        pipe.step({"t": log.filter(cond)})
    res = pipe.results()

    from pyspark.sql.window import Window as W

    totals_direct = (
        materialize(log, ["user_id"])
        .groupBy("cls", "g")
        .agg(F.sum("v").alias("s"))
    )
    assert sorted(map(tuple, res["totals"].collect())) == sorted(
        map(tuple, totals_direct.collect())
    )
    top_direct = (
        totals_direct.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("cls").orderBy(F.col("s").desc(), F.col("g"))
            ),
        )
        .filter(F.col("rn") <= 1)
        .select("cls", "g", "s")
    )
    assert sorted(map(tuple, res["top_totals"].collect())) == sorted(
        map(tuple, top_direct.collect())
    ) == [("x", "a", 31.0), ("y", "d", 4.0)]

    with pytest.raises(ValueError, match="collides"):
        SqlStatementSet(
            ["INSERT INTO t SELECT g, SUM(v) AS s FROM t GROUP BY g"],
            {"t": ["user_id"]},
        )


def test_having_rewrite_word_boundary_and_literals(spark):
    """Review-fix regressions: the HAVING aggregate-to-alias rewrite is
    word-boundary-anchored (array_min(price) keeps its tail) and skips
    string literals; and a statement-set sink collision is caught even
    when the first statement is join-shaped."""
    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
        SqlStatementSet,
        _rewrite_having,
    )

    out = _rewrite_having(
        "array_min(price) > 0 AND min(price) < 9", {"m": ("min", "price")}
    )
    assert out == "array_min(price) > 0 AND m < 9"
    out2 = _rewrite_having(
        "note <> 'min(price) is a literal' AND min(price) < 9",
        {"m": ("min", "price")},
    )
    assert out2 == "note <> 'min(price) is a literal' AND m < 9"
    with pytest.raises(ValueError, match="aggregate not in the SELECT"):
        _rewrite_having("max(price) > 1", {"m": ("min", "price")})

    with pytest.raises(ValueError, match="collides"):
        SqlStatementSet(
            [
                "INSERT INTO s SELECT a.x, b.y FROM ta a JOIN tb b "
                "ON a.k = b.k",
                "INSERT INTO s SELECT g, SUM(v) AS sv FROM tc GROUP BY g",
            ],
            {"ta": ["k"], "tb": ["k"], "tc": ["id"]},
        )


# ---------------------------------------------------------------------------
# SESSION windows (merging group windows — Flink's SessionWindows.withGap)
# ---------------------------------------------------------------------------

_SESSION_SQL = (
    "INSERT INTO sink SELECT g,"
    " SESSION_START(ts, INTERVAL '2' HOUR) AS ws,"
    " SESSION_END(ts, INTERVAL '2' HOUR) AS we,"
    " SUM(v) AS s, COUNT(*) AS n, MAX(v) AS mx"
    " FROM t GROUP BY g, SESSION(ts, INTERVAL '2' HOUR)"
)

# changelog exercising the two NON-row-local session transitions: the
# +U at seq 6 moves user 3 from an isolated session into gap-reach of
# the first — two sessions MERGE; the -D at seq 7 removes the bridge
# row between 00:00 and 03:10 — one session SPLITS in two
_SESSION_ROWS = [
    (1, "a", 1.0, "2024-01-01 00:00:00", "+I", 1),
    (2, "a", 2.0, "2024-01-01 01:45:00", "+I", 2),
    (6, "a", 6.0, "2024-01-01 03:10:00", "+I", 3),
    (4, "b", 4.0, "2024-01-01 01:00:00", "+I", 4),
    (3, "a", 3.0, "2024-01-01 09:00:00", "+I", 5),
    (3, "a", 3.0, "2024-01-01 09:00:00", "-U", 6),
    (3, "a", 9.0, "2024-01-01 04:00:00", "+U", 6),
    (2, "a", 2.0, "2024-01-01 01:45:00", "-D", 7),
    (5, "a", 5.0, None, "+I", 8),  # NULL ts: live row, no session
]
_SESSION_SCHEMA = (
    f"user_id long, g string, v double, ts_s string, {OP_COL} string, "
    f"{SEQ_COL} long"
)


def _session_log(spark):
    return (
        spark.createDataFrame(_SESSION_ROWS, _SESSION_SCHEMA)
        .withColumn("ts", F.col("ts_s").cast("timestamp"))
        .drop("ts_s")
    )


def _direct_sessions(mat, gap_expr="INTERVAL 2 HOUR"):
    """One-shot gaps-and-islands over the materialized table — a
    different algorithm than the plan's incremental affected-group
    recompute."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("g").orderBy("ts")
    prev = F.lag("ts").over(w)
    brk = (
        F.when(prev.isNull() | (F.col("ts") >= prev + F.expr(gap_expr)), 1)
        .otherwise(0)
        .cast("long")
    )
    sid = F.sum(brk).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    return (
        mat.filter(F.col("ts").isNotNull())
        .withColumn("sid", sid)
        .groupBy("g", "sid")
        .agg(
            F.min("ts").alias("ws"),
            (F.max("ts") + F.expr(gap_expr)).alias("we"),
            F.sum("v").alias("s"),
            F.count(F.lit(1)).alias("n"),
            F.max("v").alias("mx"),
        )
        .select("g", "ws", "we", "s", "n", "mx")
    )


def test_session_parse_shape():
    st = parse_insert_select(_SESSION_SQL)
    assert st.shape == "agg" and st.session == ("ts", "2 hours")
    assert st.group_cols == ["g"]  # window cols are plan-produced
    assert ("__w_start", "ws") in st.select and ("__w_end", "we") in st.select


@pytest.mark.parametrize("n_batches", [1, 2, 4])
def test_session_window_replay_matches_direct_any_split(spark, n_batches):
    """Session maintenance telescopes to the direct one-shot
    sessionization for ANY batch split — including the batch boundary
    that lands between a session's creation and the update that MERGES
    it with its neighbor, and the one before the delete that SPLITS
    one."""
    log = _session_log(spark)
    got = replay_insert_maintained(
        _SESSION_SQL, {"t": ["user_id"]}, {"t": log}, n_batches=n_batches
    )
    direct = _direct_sessions(materialize(log, ["user_id"]))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct.collect())
    )
    # final state: group a = [00:00,02:00) split piece {1.0},
    # [03:10,06:00) merged piece {6.0, 9.0}; group b untouched
    import datetime as dt

    rows = {
        (r["g"], r["ws"]): (r["s"], r["n"], r["mx"])
        for r in got.collect()
    }
    assert rows[("a", dt.datetime(2024, 1, 1, 0, 0))] == (1.0, 1, 1.0)
    assert rows[("a", dt.datetime(2024, 1, 1, 3, 10))] == (15.0, 2, 9.0)
    assert rows[("b", dt.datetime(2024, 1, 1, 1, 0))] == (4.0, 1, 4.0)


def test_session_merge_emits_retract_insert_pair(spark):
    """Delta contract across a MERGE: when an arrival bridges two
    existing sessions, the batch's delta retracts BOTH old session rows
    and inserts the merged one (Flink's MergingWindowAssigner firing a
    merge callback)."""
    schema = (
        f"user_id long, g string, v double, ts timestamp, {OP_COL} string, "
        f"{SEQ_COL} long"
    )
    from datetime import datetime as dt

    b1 = spark.createDataFrame(
        [
            (1, "a", 1.0, dt(2024, 1, 1, 0, 0), "+I", 1),
            (2, "a", 2.0, dt(2024, 1, 1, 5, 0), "+I", 2),
        ],
        schema,
    )
    # prior sessions: [00:00,02:00) and [05:00,07:00).  The two arrivals
    # chain-bridge them: 00:00→01:30 (1.5h), 01:30→03:15 (1.75h),
    # 03:15→05:00 (1.75h) — every hop strictly under the 2h gap, so all
    # four rows collapse into ONE merged session
    b2 = spark.createDataFrame(
        [
            (3, "a", 3.0, dt(2024, 1, 1, 1, 30), "+I", 3),
            (4, "a", 4.0, dt(2024, 1, 1, 3, 15), "+I", 4),
        ],
        schema,
    )
    job = plan_insert_maintained(_SESSION_SQL, {"t": ["user_id"]})
    job.step({"t": b1})
    delta2 = job.step({"t": b2}).collect()
    from flink_cdc_2_3_0_src_spark.operators.changelog import MULT_COL

    # step() deltas carry the PLAN's frame (internal window columns);
    # the SELECT's output names apply at result()/delta_changelog()
    retracted = {
        (r["__w_start"], r["__w_end"]) for r in delta2 if r[MULT_COL] == -1
    }
    inserted = {
        (r["__w_start"], r["__w_end"], r["s"], r["n"])
        for r in delta2
        if r[MULT_COL] == 1
    }
    # both prior sessions retract; one merged session spanning all four
    # rows inserts ([00:00, 07:00) with sum 10)
    assert retracted == {
        (dt(2024, 1, 1, 0, 0), dt(2024, 1, 1, 2, 0)),
        (dt(2024, 1, 1, 5, 0), dt(2024, 1, 1, 7, 0)),
    }
    assert inserted == {
        (dt(2024, 1, 1, 0, 0), dt(2024, 1, 1, 7, 0), 10.0, 4)
    }


@pytest.mark.parametrize("n_batches", [1, 2, 4])
def test_session_distinct_replay_matches_direct(spark, n_batches):
    """r12: DISTINCT aggregates under SESSION windows — the session
    plan recomputes distinct sets from the materialized table per
    affected group, so merges and splits fold them exactly.  The same
    merge/split changelog as the plain session test, with the distinct
    expression folded into a small domain so duplicates occur inside
    sessions; replay equals Spark's one-shot sessionization for any
    batch split."""
    sql = (
        "INSERT INTO sink SELECT g,"
        " SESSION_START(ts, INTERVAL '2' HOUR) AS ws,"
        " COUNT(*) AS n,"
        " COUNT(DISTINCT CAST(v AS BIGINT) % 3) AS nd,"
        " SUM(DISTINCT CAST(v AS BIGINT) % 3) AS sd"
        " FROM t GROUP BY g, SESSION(ts, INTERVAL '2' HOUR)"
    )
    log = _session_log(spark)
    got = replay_insert_maintained(
        sql, {"t": ["user_id"]}, {"t": log}, n_batches=n_batches
    )
    from pyspark.sql.window import Window as W

    mat = materialize(log, ["user_id"])
    w = W.partitionBy("g").orderBy("ts")
    prev = F.lag("ts").over(w)
    brk = (
        F.when(
            prev.isNull() | (F.col("ts") >= prev + F.expr("INTERVAL 2 HOUR")),
            1,
        )
        .otherwise(0)
        .cast("long")
    )
    sid = F.sum(brk).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    dv = (F.col("v").cast("long") % 3)
    direct = (
        mat.filter(F.col("ts").isNotNull())
        .withColumn("sid", sid)
        .groupBy("g", "sid")
        .agg(
            F.min("ts").alias("ws"),
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(dv).alias("nd"),
            F.sum_distinct(dv).alias("sd"),
        )
        .select("g", "ws", "n", "nd", "sd")
    )
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, direct.collect()), key=str
    )


def test_session_ttl_expires_closed_sessions(spark):
    """ttl=<ts col> evicts CLOSED sessions (w_end <= watermark): their
    table rows and result rows forget together, the still-open session
    survives and keeps aggregating, and the folded sink keeps
    already-emitted rows (TTL forgets state, not results)."""
    schema = (
        f"user_id long, g string, v double, ts timestamp, {OP_COL} string, "
        f"{SEQ_COL} long"
    )
    from datetime import datetime as dt

    b1 = spark.createDataFrame(
        [
            (1, "a", 1.0, dt(2024, 1, 1, 0, 0), "+I", 1),
            (2, "a", 2.0, dt(2024, 1, 1, 6, 0), "+I", 2),
            (3, "a", 3.0, None, "+I", 3),  # NULL ts: kept by expiry
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [(4, "a", 4.0, dt(2024, 1, 1, 7, 0), "+I", 4)], schema
    )
    job = plan_insert_maintained(
        _SESSION_SQL, {"t": ["user_id"]}, ttl="ts"
    )
    job.step({"t": b1})
    # sessions: [00:00,02:00) and [06:00,08:00); watermark 03:00 closes
    # the first only
    job.expire(watermark=dt(2024, 1, 1, 3, 0))
    table_st, res_st = job._state
    assert sorted(r["user_id"] for r in table_st.collect()) == [2, 3]
    assert [r["__w_start"] for r in res_st.collect()] == [dt(2024, 1, 1, 6, 0)]
    # the open session keeps aggregating (7:00 is within 2h of 6:00)
    job.step({"t": b2})
    got = {(r["ws"], r["we"], r["s"]) for r in job.result().collect()}
    assert got == {
        (dt(2024, 1, 1, 0, 0), dt(2024, 1, 1, 2, 0), 1.0),  # emitted, kept
        (dt(2024, 1, 1, 6, 0), dt(2024, 1, 1, 9, 0), 6.0),
    }


def test_session_where_crossing_update_rewrites_tombstone(spark):
    """WHERE on the session plan follows the table-state discipline: an
    update whose NEW image fails the predicate must REMOVE the key from
    the sessionized table (a dropped +U would leave the old image live
    and its session ghost-populated)."""
    schema = (
        f"user_id long, g string, v double, ts timestamp, {OP_COL} string, "
        f"{SEQ_COL} long"
    )
    from datetime import datetime as dt

    rows = [
        (1, "a", 10.0, dt(2024, 1, 1, 0, 0), "+I", 1),
        (2, "a", 20.0, dt(2024, 1, 1, 1, 0), "+I", 2),
        # new image fails v > 5 -> key 2 must leave the filtered table,
        # shrinking the session to row 1 alone
        (2, "a", 20.0, dt(2024, 1, 1, 1, 0), "-U", 3),
        (2, "a", 1.0, dt(2024, 1, 1, 1, 0), "+U", 3),
    ]
    sql = (
        "INSERT INTO sink SELECT g,"
        " SESSION_START(ts, INTERVAL '2' HOUR) AS ws,"
        " SUM(v) AS s, COUNT(*) AS n"
        " FROM t WHERE v > 5 GROUP BY g, SESSION(ts, INTERVAL '2' HOUR)"
    )
    for n_batches in (1, 2):
        got = replay_insert_maintained(
            sql, {"t": ["user_id"]},
            {"t": spark.createDataFrame(rows, schema)}, n_batches=n_batches,
        )
        assert sorted(map(tuple, got.collect())) == [
            ("a", dt(2024, 1, 1, 0, 0), 10.0, 1)
        ]


@pytest.mark.parametrize(
    "sql,msg",
    [
        ("INSERT INTO s SELECT g, SUM(v) AS s FROM t "
         "GROUP BY g, SESSION(ts, INTERVAL '2' HOUR)",
         "must project TUMBLE/HOP"),
        ("INSERT INTO s SELECT g, SESSION_START(ts, INTERVAL '1' HOUR) AS w, "
         "SUM(v) AS s FROM t GROUP BY g, SESSION(ts, INTERVAL '2' HOUR)",
         "does not match the GROUP BY's SESSION"),
        ("INSERT INTO s SELECT SESSION_START(ts, INTERVAL '1' HOUR) AS w, "
         "SUM(v) AS s FROM t GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE), "
         "SESSION(ts, INTERVAL '1' HOUR)",
         "at most one TUMBLE/HOP/SESSION"),
    ],
)
def test_session_parse_errors(sql, msg):
    with pytest.raises(ValueError, match=msg):
        parse_insert_select(sql)


def test_session_requires_primary_key(spark):
    with pytest.raises(ValueError, match="PRIMARY KEY"):
        plan_insert_maintained(_SESSION_SQL, {"t": []})


def test_streaming_session_window_matches_direct(spark, tmp_path):
    """The session shape through a REAL Structured Streaming query:
    per-microbatch steps (including mid-stream merges and splits) land
    on the same final sink as the one-shot sessionization."""
    from flink_cdc_2_3_0_src_spark.streaming.replay import (
        read_replay_stream,
        write_replay_files,
    )

    log = _session_log(spark)
    replay_dir = str(tmp_path / "replay_sql_session")
    write_replay_files(log, replay_dir, n_files=3)

    job = plan_insert_maintained(_SESSION_SQL, {"t": ["user_id"]})

    def process(batch_df, batch_id):
        job.step({"t": batch_df})

    q = (
        read_replay_stream(spark, replay_dir, log.schema)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_sql_session"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    direct = _direct_sessions(materialize(log, ["user_id"]))
    assert sorted(map(tuple, job.result().collect())) == sorted(
        map(tuple, direct.collect())
    )


# ---------------------------------------------------------------------------
# Multi-way (3+ table) join chains — stacked StreamingJoinOperators
# ---------------------------------------------------------------------------

_CHAIN_SQL = (
    "INSERT INTO sink SELECT o.k AS order_id, o.amt, c.ck AS cust, n.nname"
    " FROM orders o JOIN customer c ON o.ck = c.ck"
    " LEFT JOIN nation n ON c.nk = n.nk"
)

_CHAIN_ORDERS = [
    (1, 10, 5.0, "+I", 1), (2, 10, 7.0, "+I", 2), (3, 20, 9.0, "+I", 3),
    (2, 10, 7.0, "-U", 4), (2, 20, 8.0, "+U", 4), (1, 10, 5.0, "-D", 5),
]
_CHAIN_CUST = [
    (10, 100, "+I", 1), (20, 200, "+I", 2),
    # moves every ck=20 row off nation 200 — its nk has NO nation row,
    # so the left-outer third stage must retract the match and insert
    # null pads
    (20, 200, "-U", 3), (20, 300, "+U", 3),
]
_CHAIN_NATION = [(100, "x", "+I", 1), (200, "y", "+I", 2)]


def _chain_logs(spark):
    a = spark.createDataFrame(
        _CHAIN_ORDERS,
        f"k long, ck long, amt double, {OP_COL} string, {SEQ_COL} long",
    )
    b = spark.createDataFrame(
        _CHAIN_CUST, f"ck long, nk long, {OP_COL} string, {SEQ_COL} long"
    )
    c = spark.createDataFrame(
        _CHAIN_NATION, f"nk long, nname string, {OP_COL} string, {SEQ_COL} long"
    )
    return {"orders": a, "customer": b, "nation": c}


_CHAIN_TABLES = {"orders": ["k"], "customer": ["ck"], "nation": ["nk"]}


def test_parse_three_way_chain_shape():
    st = parse_insert_select(_CHAIN_SQL)
    assert st.shape == "join"
    assert st.sources == ["orders", "customer", "nation"]
    assert st.join_aliases == ("o", "c", "n")
    assert st.join_chain == [
        {"alias": "c", "how": "inner", "on": [("o", "ck", "ck")],
         "extra": []},
        {"alias": "n", "how": "left", "on": [("c", "nk", "nk")],
         "extra": []},
    ]
    # two-way statements keep the legacy representation (no chain)
    st2 = parse_insert_select(
        "INSERT INTO s SELECT a.x, b.y FROM ta a JOIN tb b ON a.k = b.k"
    )
    assert st2.join_chain == [] and st2.join_on == [("k", "k")]


@pytest.mark.parametrize(
    "sql,msg",
    [
        # ON must bridge the NEW alias to an EARLIER one
        ("INSERT INTO s SELECT a.x FROM ta a JOIN tb b ON a.k = b.k "
         "JOIN tc c ON d.j = c.j",
         "one earlier alias"),
        ("INSERT INTO s SELECT a.x FROM ta a JOIN tb b ON a.k = b.k "
         "JOIN tc a ON a.k = a.k",
         "duplicate table alias"),
        ("INSERT INTO s SELECT a.x, q.y FROM ta a JOIN tb b ON a.k = b.k "
         "JOIN tc c ON a.j = c.j",
         "alias-qualified columns"),
    ],
)
def test_parse_chain_errors(sql, msg):
    with pytest.raises(ValueError, match=msg):
        parse_insert_select(sql)


@pytest.mark.parametrize("n_batches", [1, 3, 5])
def test_three_way_chain_replay_matches_direct(spark, n_batches):
    """The cascaded chain telescopes to the direct 3-way join of the
    materialized tables for ANY batch split — including the customer
    re-pointing that forces the left-outer third stage to retract a
    match and insert null pads mid-stream."""
    logs = _chain_logs(spark)
    got = replay_insert_maintained(
        _CHAIN_SQL, _CHAIN_TABLES, logs, n_batches=n_batches
    )
    direct = (
        materialize(logs["orders"], ["k"])
        .join(materialize(logs["customer"], ["ck"]), "ck")
        .join(materialize(logs["nation"], ["nk"]), "nk", "left")
        .select(
            F.col("k").alias("order_id"), "amt",
            F.col("ck").alias("cust"), "nname",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct.collect())
    )
    # the re-pointed customers really are null-padded (nk 300 has no
    # nation), so the outer stage's pad maintenance was exercised
    rows = sorted(map(tuple, got.collect()))
    assert rows == [(2, 8.0, 20, None), (3, 9.0, 20, None)]


def test_chain_shares_nonkey_column_raises(spark):
    logs = _chain_logs(spark)
    # nation's payload renamed to collide with orders' 'amt'
    logs["nation"] = logs["nation"].withColumnRenamed("nname", "amt")
    job = plan_insert_maintained(
        "INSERT INTO sink SELECT o.k AS order_id, n.amt AS namt"
        " FROM orders o JOIN customer c ON o.ck = c.ck"
        " JOIN nation n ON c.nk = n.nk",
        _CHAIN_TABLES,
    )
    with pytest.raises(ValueError, match="shares non-key column"):
        job.step({t: logs[t] for t in logs})


def test_chain_rejects_ttl(spark):
    with pytest.raises(ValueError, match="do not support ttl"):
        plan_insert_maintained(_CHAIN_SQL, _CHAIN_TABLES, ttl=("a", "b"))


def test_statement_set_reads_session_sink(spark):
    """A downstream statement can read an upstream SESSION-window sink:
    the session agg's delta renders as an upsert changelog keyed by
    (group, window) — merged/split sessions arrive downstream as
    retract-then-insert, so a per-group MAX over session sums stays
    exact across batches."""
    from datetime import datetime as dt

    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import SqlStatementSet

    rows = [
        (1, "a", 1.0, dt(2024, 1, 1, 0, 0), "+I", 1),
        (2, "a", 2.0, dt(2024, 1, 1, 0, 30), "+I", 2),
        (3, "a", 9.0, dt(2024, 1, 1, 6, 0), "+I", 3),
        (4, "b", 4.0, dt(2024, 1, 1, 1, 0), "+I", 4),
    ]
    log = spark.createDataFrame(
        rows,
        f"k long, g string, v double, ts timestamp, {OP_COL} string, "
        f"{SEQ_COL} long",
    )
    ss = SqlStatementSet(
        [
            "INSERT INTO sess SELECT g,"
            " SESSION_START(ts, INTERVAL '2' HOUR) AS ws,"
            " SESSION_END(ts, INTERVAL '2' HOUR) AS we,"
            " SUM(v) AS sv FROM t GROUP BY g, SESSION(ts, INTERVAL '2' HOUR)",
            "INSERT INTO best SELECT g, MAX(sv) AS best_sv FROM sess "
            "GROUP BY g",
        ],
        {"t": ["k"]},
    )
    ss.step({"t": log.filter(F.col(SEQ_COL) <= 2)})
    ss.step({"t": log.filter(F.col(SEQ_COL) > 2)})
    res = ss.results()
    assert sorted(map(tuple, res["best"].collect())) == [
        ("a", 9.0), ("b", 4.0),
    ]
    assert sorted(map(tuple, res["sess"].collect())) == [
        ("a", dt(2024, 1, 1, 0, 0), dt(2024, 1, 1, 2, 30), 3.0),
        ("a", dt(2024, 1, 1, 6, 0), dt(2024, 1, 1, 8, 0), 9.0),
        ("b", dt(2024, 1, 1, 1, 0), dt(2024, 1, 1, 3, 0), 4.0),
    ]


# ---------------------------------------------------------------------------
# CUMULATE windows (Flink's cumulative windows — the third row-local
# windowing form next to TUMBLE and HOP)
# ---------------------------------------------------------------------------

_CUMULATE_SQL = (
    "INSERT INTO sink SELECT g,"
    " CUMULATE_START(ts, INTERVAL '1' HOUR, INTERVAL '4' HOUR) AS ws,"
    " CUMULATE_END(ts, INTERVAL '1' HOUR, INTERVAL '4' HOUR) AS we,"
    " SUM(v) AS s, COUNT(*) AS n"
    " FROM t GROUP BY g, CUMULATE(ts, INTERVAL '1' HOUR, INTERVAL '4' HOUR)"
)


def test_cumulate_parse_shape():
    st = parse_insert_select(_CUMULATE_SQL)
    assert st.cumulate == ("ts", "1 hours", "4 hours")
    assert ("__w_start", "ws") in st.select and ("__w_end", "we") in st.select


@pytest.mark.parametrize("n_batches", [1, 2, 4])
def test_cumulate_window_replay_any_split(spark, n_batches):
    """Each row replicates into the cumulate windows of its size bucket
    whose end is past its timestamp; a retraction removes ALL its
    replicas, and the accumulated deltas telescope for any split."""
    from datetime import datetime as dt

    rows = [
        (1, "a", 1.0, dt(2024, 1, 1, 0, 30), "+I", 1),  # ends 01..04
        (2, "a", 2.0, dt(2024, 1, 1, 2, 30), "+I", 2),  # ends 03, 04
        (3, "a", 4.0, dt(2024, 1, 1, 5, 0), "+I", 3),   # ends 06..08
        (2, "a", 2.0, dt(2024, 1, 1, 2, 30), "-D", 4),  # all replicas go
    ]
    log = spark.createDataFrame(
        rows,
        f"k long, g string, v double, ts timestamp, {OP_COL} string, "
        f"{SEQ_COL} long",
    )
    got = replay_insert_maintained(
        _CUMULATE_SQL, {"t": ["k"]}, {"t": log}, n_batches=n_batches
    )
    from datetime import datetime as dt

    exp = sorted(
        [
            ("a", dt(2024, 1, 1, 0, 0), dt(2024, 1, 1, h, 0), 1.0, 1)
            for h in (1, 2, 3, 4)
        ]
        + [
            ("a", dt(2024, 1, 1, 4, 0), dt(2024, 1, 1, h, 0), 4.0, 1)
            for h in (6, 7, 8)
        ]
    )
    assert sorted(map(tuple, got.collect())) == exp


def test_cumulate_minmax_window_keyed_state(spark):
    """r11: min/max under CUMULATE rides the same (PK, window)-keyed
    table state as HOP — a row lives in several cumulate windows of
    its bucket at once, and each (PK, w_end) cell upserts
    independently."""
    import datetime as dt

    rows = [
        (1, "a", 3.0, dt.datetime(2024, 1, 1, 0, 30), "+I", 1),
        (2, "a", 8.0, dt.datetime(2024, 1, 1, 1, 30), "+I", 2),
        # ts-moving update across cumulate steps
        (2, "a", 8.0, dt.datetime(2024, 1, 1, 1, 30), "-U", 3),
        (2, "a", 2.0, dt.datetime(2024, 1, 1, 3, 30), "+U", 3),
    ]
    log = spark.createDataFrame(
        rows,
        f"k long, g string, v double, ts timestamp, {OP_COL} string,"
        f" {SEQ_COL} long",
    )
    sql = _CUMULATE_SQL.replace("SUM(v) AS s", "MAX(v) AS s")
    outs = [
        sorted(
            map(
                tuple,
                replay_insert_maintained(
                    sql, {"t": ["k"]}, {"t": log}, n_batches=n
                ).collect(),
            ),
            key=str,
        )
        for n in (1, 2)
    ]
    assert outs[0] == outs[1]
    # window [00:00, 01:00) holds only row 1 (max 3); [00:00, 02:00)
    # and later hold rows 1+2's LIVE images: row 2 moved to 03:30 with
    # v=2, so max over [00:00, 04:00) = 3.0 and row 2 contributes only
    # to the 04:00 end
    by_end = {r[2]: r[3] for r in outs[0] if r[0] == "a"}
    assert by_end[dt.datetime(2024, 1, 1, 1, 0)] == 3.0
    assert by_end[dt.datetime(2024, 1, 1, 2, 0)] == 3.0
    assert by_end[dt.datetime(2024, 1, 1, 4, 0)] == 3.0


def test_cumulate_guards(spark):
    with pytest.raises(ValueError, match="integral multiple"):
        plan_insert_maintained(
            _CUMULATE_SQL.replace("INTERVAL '4' HOUR", "INTERVAL '90' MINUTE"),
            {"t": ["k"]},
        )
    with pytest.raises(ValueError, match="does not match the GROUP BY's CUMULATE"):
        parse_insert_select(
            _CUMULATE_SQL.replace(
                "CUMULATE_START(ts, INTERVAL '1' HOUR",
                "CUMULATE_START(ts, INTERVAL '2' HOUR",
            )
        )


def test_cumulate_ttl_expires_closed_windows(spark):
    """ttl=<ts col> on a CUMULATE aggregate expires window-END-keyed
    state behind the watermark (the early ends of a bucket age out
    first while the bucket's later ends keep aggregating)."""
    from datetime import datetime as dt

    schema = (
        f"k long, g string, v double, ts timestamp, {OP_COL} string, "
        f"{SEQ_COL} long"
    )
    b1 = spark.createDataFrame(
        [(1, "a", 1.0, dt(2024, 1, 1, 0, 30), "+I", 1)], schema
    )
    b2 = spark.createDataFrame(
        [(2, "a", 2.0, dt(2024, 1, 1, 3, 30), "+I", 2)], schema
    )
    job = plan_insert_maintained(_CUMULATE_SQL, {"t": ["k"]}, ttl="ts")
    job.step({"t": b1})
    # watermark 02:30: ends 01:00 and 02:00 are closed and evict; ends
    # 03:00/04:00 stay open
    job.expire(watermark=dt(2024, 1, 1, 2, 30))
    live_ends = {r["__w_end"] for r in job._state.collect()}
    assert live_ends == {dt(2024, 1, 1, 3, 0), dt(2024, 1, 1, 4, 0)}
    job.step({"t": b2})
    got = {(r["we"], r["s"], r["n"]) for r in job.result().collect()}
    # emitted rows for the expired ends stay; the open 04:00 window
    # keeps aggregating (1.0 + 2.0); 03:00 keeps only the first row
    assert got == {
        (dt(2024, 1, 1, 1, 0), 1.0, 1),
        (dt(2024, 1, 1, 2, 0), 1.0, 1),
        (dt(2024, 1, 1, 3, 0), 1.0, 1),
        (dt(2024, 1, 1, 4, 0), 3.0, 2),
    }


# ---------------------------------------------------------------------------
# Interval-join bounds (non-equi ON conjuncts — Flink's interval join)
# ---------------------------------------------------------------------------

_INTERVAL_SQL = (
    "INSERT INTO sink SELECT a.k AS ak, a.v, b.seg"
    " FROM ta a JOIN tb b ON a.uid = b.uid"
    " AND a.ts BETWEEN b.ts_b - INTERVAL '1' HOUR"
    " AND b.ts_b + INTERVAL '1' HOUR"
)


def _interval_logs(spark):
    from datetime import datetime as dt

    A = [
        (1, 10, 1.0, dt(2024, 1, 1, 0, 0), "+I", 1),
        (2, 10, 2.0, dt(2024, 1, 1, 5, 0), "+I", 2),   # out of window
        (3, 20, 3.0, dt(2024, 1, 1, 0, 30), "+I", 3),  # other uid, far ts
        # the update MOVES k=2 into b's time window — the maintained
        # interval join must emit the pair mid-stream
        (2, 10, 2.0, dt(2024, 1, 1, 5, 0), "-U", 4),
        (2, 10, 2.5, dt(2024, 1, 1, 0, 45), "+U", 4),
    ]
    B = [
        (10, "x", dt(2024, 1, 1, 0, 20), "+I", 1),
        (20, "y", dt(2024, 1, 1, 9, 0), "+I", 2),
    ]
    a = spark.createDataFrame(
        A, f"k long, uid long, v double, ts timestamp, {OP_COL} string, "
        f"{SEQ_COL} long",
    )
    b = spark.createDataFrame(
        B, f"uid long, seg string, ts_b timestamp, {OP_COL} string, "
        f"{SEQ_COL} long",
    )
    return a, b


def test_interval_join_parse():
    st = parse_insert_select(_INTERVAL_SQL)
    assert st.join_on == [("uid", "uid")]
    assert len(st.join_extra) == 1 and "BETWEEN" in st.join_extra[0]
    # BETWEEN's AND must not split the bound (the conjunct splitter is
    # BETWEEN-aware)
    assert "b.ts_b + INTERVAL '1' HOUR" in st.join_extra[0]


@pytest.mark.parametrize("n_batches", [1, 3])
def test_interval_join_replay_matches_direct(spark, n_batches):
    a, b = _interval_logs(spark)
    got = replay_insert_maintained(
        _INTERVAL_SQL, {"ta": ["k"], "tb": ["uid"]}, {"ta": a, "tb": b},
        n_batches=n_batches,
    )
    direct = (
        materialize(a, ["k"])
        .join(materialize(b, ["uid"]), "uid")
        .filter(
            (F.col("ts") >= F.col("ts_b") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("ts") <= F.col("ts_b") + F.expr("INTERVAL 1 HOUR"))
        )
        .select(F.col("k").alias("ak"), "v", "seg")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct.collect())
    )
    assert sorted(map(tuple, got.collect())) == [
        (1, 1.0, "x"), (2, 2.5, "x"),
    ]


def test_interval_join_on_chain_stage(spark):
    """A pair predicate on a chain's inner stage filters that stage's
    output delta before it feeds the next stage."""
    from datetime import datetime as dt

    a, b = _interval_logs(spark)
    c = spark.createDataFrame(
        [("x", 100, "+I", 1), ("y", 200, "+I", 2)],
        f"seg string, segno long, {OP_COL} string, {SEQ_COL} long",
    )
    sql = (
        "INSERT INTO sink SELECT a.k AS ak, a.v, c.segno"
        " FROM ta a JOIN tb b ON a.uid = b.uid"
        " AND a.ts BETWEEN b.ts_b - INTERVAL '1' HOUR"
        " AND b.ts_b + INTERVAL '1' HOUR"
        " JOIN tc c ON b.seg = c.seg"
    )
    got = replay_insert_maintained(
        sql, {"ta": ["k"], "tb": ["uid"], "tc": ["seg"]},
        {"ta": a, "tb": b, "tc": c}, n_batches=3,
    )
    assert sorted(map(tuple, got.collect())) == [
        (1, 1.0, 100), (2, 2.5, 100),
    ]


@pytest.mark.parametrize(
    "sql,msg",
    [
        (_INTERVAL_SQL.replace("JOIN tb", "LEFT JOIN tb"),
         "INNER joins only"),
        ("INSERT INTO s SELECT a.k FROM ta a JOIN tb b ON a.ts < b.ts_b",
         "at least one equi-join condition"),
        ("INSERT INTO s SELECT a.k FROM ta a JOIN tb b ON a.uid = b.uid "
         "AND q.ts < b.ts_b",
         "unknown alias"),
    ],
)
def test_interval_join_guards(sql, msg):
    with pytest.raises(ValueError, match=msg):
        parse_insert_select(sql)


def test_pair_predicate_parsing_edge_cases():
    """Review-fix regressions in the ON-clause parsing layer: decimal
    literals are not aliases, '_and_' inside an identifier is not a
    conjunct boundary, string literals survive both splitting and
    rewriting, a parenthesized BETWEEN does not absorb the next
    conjunct, and a 'left join' inside an ON literal is not a stage
    boundary."""
    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
        _rewrite_pair_pred,
        _split_on_conjuncts,
    )

    st = parse_insert_select(
        "INSERT INTO s SELECT a.k AS k2, b.y FROM ta a JOIN tb b "
        "ON a.k = b.k AND a.ratio > 1.5"
    )
    assert st.join_extra == ["a.ratio > 1.5"]

    assert _split_on_conjuncts("a.k = b.k AND a.price_and_tax > 5") == [
        "a.k = b.k", "a.price_and_tax > 5",
    ]
    assert _split_on_conjuncts(
        "(a.ts BETWEEN b.lo AND b.hi) AND a.k = b.k"
    ) == ["(a.ts BETWEEN b.lo AND b.hi)", "a.k = b.k"]

    assert _rewrite_pair_pred(
        ["tag <> 'a.b'"], {"a", "b"}, lambda q, c: "X"
    ) == "(tag <> 'a.b')"

    st6 = parse_insert_select(
        "INSERT INTO s SELECT a.k AS k2 FROM ta a JOIN tb b "
        "ON a.k = b.k AND b.note <> 'left join x'"
    )
    assert st6.join_extra == ["b.note <> 'left join x'"]


def test_outer_join_padded_key_projects_sql_null(spark):
    """r11 (formerly refused): projecting the PADDED side's join
    column on an outer join emits SQL NULL on the pad rows — Flink's
    semantics.  The job appends a constant presence marker to the
    padded side (pad rows null-extend it), and the projection rewrites
    to CASE WHEN <pres> IS NULL THEN NULL ELSE <key> END.  Verified
    for LEFT, RIGHT and FULL (both keys projected) against the direct
    outer join, across batch splits."""

    def _log(rows, cols):
        return spark.createDataFrame(
            [(*r, "+I", i) for i, r in enumerate(rows)],
            f"{cols}, {OP_COL} string, {SEQ_COL} long",
        )

    ta = _log([(1, "x1"), (2, "x2"), (3, "x3")], "k long, x string")
    tb = _log([(2, "y2"), (4, "y4")], "kb long, y string")
    cases = [
        ("LEFT JOIN", "SELECT a.x AS x, b.kb AS bk"),
        ("RIGHT JOIN", "SELECT a.k AS ak, b.y AS y"),
        ("FULL JOIN", "SELECT a.k AS ak, b.kb AS bk"),
    ]
    for how, sel in cases:
        sql = (
            f"INSERT INTO s {sel} FROM ta a {how} tb b ON a.k = b.kb"
        )
        direct = (
            ta.drop(OP_COL, SEQ_COL)
            .join(
                tb.drop(OP_COL, SEQ_COL),
                F.col("k") == F.col("kb"),
                how.split()[0].lower(),
            )
            .selectExpr(
                *[
                    item.strip()
                    .replace("a.", "")
                    .replace("b.", "")
                    for item in sel[len("SELECT "):].split(", ")
                ]
            )
        )
        exp = sorted(map(tuple, direct.collect()), key=str)
        for n in (1, 3):
            got = replay_insert_maintained(
                sql, {"ta": ["k"], "tb": ["kb"]},
                {"ta": ta, "tb": tb}, n_batches=n,
            )
            assert sorted(map(tuple, got.collect()), key=str) == exp, (
                how, n
            )
    # a chain stage's NEW padded side projects NULL-correctly too
    plan_insert_maintained(
        "INSERT INTO s SELECT o.k AS ok, n.nk AS nnk FROM o_t o "
        "JOIN c_t c ON o.ck = c.ck LEFT JOIN n_t n ON c.nk = n.nk",
        {"o_t": ["k"], "c_t": ["ck"], "n_t": ["nk"]},
    )
    plan_insert_maintained(
        "INSERT INTO s SELECT a.k AS ak, b.y FROM ta a "
        "LEFT JOIN tb b ON a.k = b.k",
        {"ta": ["k"], "tb": ["k"]},
    )


def test_chain_accumulated_pad_key_projects_sql_null(spark):
    """r12 (formerly refused): a RIGHT/FULL chain stage pads the
    ACCUMULATED left side — projecting one of its join columns must
    emit SQL NULL on the pad rows.  The presence column attaches to
    the owning side's prep and rides the accumulated frame through
    later stages as ordinary payload (a later stage's pads null-extend
    it like any other accumulated column), so no per-stage threading
    is needed.  Verified against Spark's direct three-way join across
    batch splits."""

    def _log(rows, cols):
        return spark.createDataFrame(
            [(*r, "+I", i) for i, r in enumerate(rows)],
            f"{cols}, {OP_COL} string, {SEQ_COL} long",
        )

    o = _log([(1, 10), (2, 20)], "k long, ck long")
    c = _log([(10, 100), (20, 200)], "ck long, nk long")
    # nk=300 has no accumulated match → pad row: c.nk projects NULL
    n_t = _log(
        [(100, "n1"), (300, "n3")], "nk long, nname string"
    )
    sql = (
        "INSERT INTO s SELECT c.nk AS cnk, n.nname AS nn FROM o_t o "
        "JOIN c_t c ON o.ck = c.ck RIGHT JOIN n_t n ON c.nk = n.nk"
    )
    direct = (
        o.drop(OP_COL, SEQ_COL)
        .join(c.drop(OP_COL, SEQ_COL), "ck")
        .join(n_t.drop(OP_COL, SEQ_COL), "nk", "right")
        .selectExpr("CASE WHEN ck IS NULL THEN NULL ELSE nk END AS cnk",
                    "nname AS nn")
    )
    exp = sorted(map(tuple, direct.collect()), key=str)
    assert (None, "n3") in exp  # the pad row projects SQL NULL
    for n in (1, 3):
        got = replay_insert_maintained(
            sql, {"o_t": ["k"], "c_t": ["ck"], "n_t": ["nk"]},
            {"o_t": o, "c_t": c, "n_t": n_t}, n_batches=n,
        )
        assert sorted(map(tuple, got.collect()), key=str) == exp, n


# ---------------------------------------------------------------------------
# row-local calc + GLOBAL aggregates (r12): the plainest pipeline forms
# ---------------------------------------------------------------------------

def _calc_log(spark):
    rows = [
        (1, "a", 10.0, "+I", 1),
        (2, "a", 50.0, "+I", 2),
        (3, "b", 30.0, "+I", 3),
        (2, "a", 50.0, "-U", 4),
        (2, "a", 5.0, "+U", 5),   # update moves the max
        (3, "b", 30.0, "-D", 6),  # delete removes a group
    ]
    return spark.createDataFrame(
        rows, f"id long, k string, v double, {OP_COL} string, {SEQ_COL} long"
    )


@pytest.mark.parametrize("n_batches", [1, 3])
def test_calc_projection_filter_replay(spark, n_batches):
    """INSERT INTO s SELECT <exprs> FROM t WHERE p — Flink's
    StreamExecCalc, formerly refused by the grammar.  Stateless: the
    delta is the mapped signed multiset; accumulated output equals the
    projection of the materialized table for any split."""
    log = _calc_log(spark)
    st = parse_insert_select(
        "INSERT INTO s SELECT k, v * 2 AS v2 FROM t WHERE v > 4"
    )
    assert st.shape == "calc" and st.where == "v > 4"
    got = replay_insert_maintained(
        "INSERT INTO s SELECT k, v * 2 AS v2 FROM t WHERE v > 4",
        {"t": ["id"]}, {"t": log}, n_batches=n_batches,
    )
    direct = (
        materialize(log, ["id"])
        .filter("v > 4")
        .selectExpr("k", "v * 2 AS v2")
    )
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, direct.collect()), key=str
    )


def test_calc_multiset_and_guards(spark):
    # the exchange-free calc delta (r13) emits one ±1 row per source
    # change — identical projected images are NOT collapsed in the
    # delta (multiset consumers net them in their fold) ...
    log = spark.createDataFrame(
        [(1, "a", "+I", 1), (2, "a", "+I", 2)],
        f"id long, k string, {OP_COL} string, {SEQ_COL} long",
    )
    job = plan_insert_maintained(
        "INSERT INTO s SELECT k FROM t", {"t": ["id"]}
    )
    d = job.step({"t": log})
    assert sorted(tuple(r) for r in d.collect()) == [("a", 1), ("a", 1)]
    # ... and the accumulated result still nets to the multiset
    assert [tuple(r) for r in job.result().collect()] == [("a",), ("a",)]
    # net=True restores collapsed ±pairs for sinks that need them
    from flink_cdc_2_3_0_src_spark.operators.maintain import maintain

    netted = maintain(calc={"exprs": [("k", "k")], "net": True})
    _st, nd = netted.step(None, log)
    assert [tuple(r) for r in nd.collect()] == [("a", 2)]
    # the DEFAULT calc delta is a pure narrow pipeline: zero
    # exchanges (Flink's StreamExecCalc parity — the r12 netting
    # exchange is opt-in now)
    plain = maintain(calc={"exprs": [("k", "k")]})
    _st, pd_ = plain.step(None, log)
    plan_str = pd_._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_str, plan_str
    netted_plan = nd._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in netted_plan  # the opt-in pays the exchange
    with pytest.raises(ValueError, match="multiset"):
        job.delta_changelog(d, 0)
    with pytest.raises(ValueError, match="needs AS <name>"):
        parse_insert_select("INSERT INTO s SELECT v * 2 FROM t")
    with pytest.raises(ValueError, match="duplicate output column"):
        parse_insert_select("INSERT INTO s SELECT k, v AS k FROM t")
    # mixed bare + aggregate items with no GROUP BY route to the
    # aggregate branch, whose item validator names the bare column
    with pytest.raises(ValueError, match="neither a GROUP BY column"):
        parse_insert_select("INSERT INTO s SELECT k, SUM(v) AS s FROM t")
    with pytest.raises(ValueError, match="HAVING needs a GROUP BY"):
        parse_insert_select("INSERT INTO s SELECT k FROM t HAVING k > 1")
    from flink_cdc_2_3_0_src_spark.operators.maintain import maintain

    with pytest.raises(ValueError, match="stateless; ttl"):
        maintain(calc={"exprs": [("k", "k")]}, ttl="ts")


def test_clause_keywords_inside_literals_do_not_split(spark):
    """r12 parser pin: the clause regex matches on literal-MASKED text
    and slices the original by span, so WHERE / GROUP BY / HAVING
    inside a string literal never split a clause (the keyword-in-
    literal trap)."""
    st = parse_insert_select(
        "INSERT INTO s SELECT k, v AS x FROM t "
        "WHERE note = ' GROUP BY z '"
    )
    assert st.shape == "calc" and st.where == "note = ' GROUP BY z '"
    st = parse_insert_select(
        "INSERT INTO s SELECT k, SUM(v) AS sv FROM t "
        "WHERE note = ' GROUP BY z ' GROUP BY k"
    )
    assert st.shape == "agg" and st.group_cols == ["k"]
    assert st.where == "note = ' GROUP BY z '"
    st = parse_insert_select(
        "INSERT INTO s SELECT k AS a FROM t WHERE note = ' HAVING q '"
    )
    assert st.having is None and st.where == "note = ' HAVING q '"
    # executed end to end: the literal predicate filters rows
    log = spark.createDataFrame(
        [(1, "keep ME", "+I", 1), (2, " GROUP BY z ", "+I", 2)],
        f"id long, note string, {OP_COL} string, {SEQ_COL} long",
    )
    got = replay_insert_maintained(
        "INSERT INTO s SELECT id AS i FROM t "
        "WHERE note = ' GROUP BY z '",
        {"t": ["id"]}, {"t": log}, n_batches=1,
    )
    assert [tuple(r) for r in got.collect()] == [(2,)]


@pytest.mark.parametrize("n_batches", [1, 3])
def test_global_aggregate_no_group_by(spark, n_batches):
    """SELECT FN(x) .. FROM t with NO GROUP BY — the GLOBAL aggregate
    (formerly unparseable).  min/max/distinct ride the value-multiset
    retract plan's constant-group form; replay equals the one-shot over
    the materialized table, including a retraction of the running max
    and a WHERE."""
    log = _calc_log(spark)
    got = replay_insert_maintained(
        "INSERT INTO s SELECT MAX(v) AS mx, MIN(v) AS mn,"
        " COUNT(*) AS n, SUM(v) AS s, COUNT(DISTINCT k) AS dk"
        " FROM t WHERE v > 0",
        {"t": ["id"]}, {"t": log}, n_batches=n_batches,
    )
    direct = (
        materialize(log, ["id"])
        .filter("v > 0")
        .selectExpr(
            "MAX(v) AS mx", "MIN(v) AS mn", "COUNT(*) AS n",
            "SUM(v) AS s", "COUNT(DISTINCT k) AS dk",
        )
    )
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, direct.collect()), key=str
    )


# ---------------------------------------------------------------------------
# DISTINCT aggregates (Flink's streaming distinct aggregation)
# ---------------------------------------------------------------------------

_DISTINCT_ROWS = [
    (1, "a", 10, "+I", 1),
    (2, "a", 10, "+I", 2),    # duplicate value: distinct set unchanged
    (3, "a", 20, "+I", 3),
    (4, "a", None, "+I", 4),  # NULL never enters a distinct view
    (5, "b", None, "+I", 5),  # live group with ONLY null values
    (2, "a", 10, "-D", 6),    # 10 still live via user 1
    (1, "a", 10, "-U", 7),
    (1, "a", 30, "+U", 7),    # now 10's LAST occurrence went; 30 added
]
_DISTINCT_SCHEMA = (
    f"k long, g string, v long, {OP_COL} string, {SEQ_COL} long"
)
_DISTINCT_SQL = (
    "INSERT INTO sink SELECT g, COUNT(*) AS n_rows,"
    " COUNT(DISTINCT v) AS nd, SUM(DISTINCT v) AS sd,"
    " AVG(DISTINCT v) AS ad FROM t GROUP BY g"
)


@pytest.mark.parametrize("n_batches", [1, 4])
def test_distinct_agg_replay_matches_direct(spark, n_batches):
    """The distinct-view state removes a value only when its LAST live
    occurrence retracts; NULLs never enter; a live group with only
    NULL values counts 0 and sums NULL — SQL semantics, any split."""
    log = spark.createDataFrame(_DISTINCT_ROWS, _DISTINCT_SCHEMA)
    got = replay_insert_maintained(
        _DISTINCT_SQL, {"t": ["k"]}, {"t": log}, n_batches=n_batches
    )
    direct = (
        materialize(log, ["k"])
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("v").alias("nd"),
            F.sum_distinct(F.col("v")).alias("sd"),
            (
                F.sum_distinct(F.col("v")).cast("double")
                / F.countDistinct("v")
            ).alias("ad"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct.collect())
    )
    rows = {r["g"]: r for r in got.collect()}
    assert (rows["a"]["nd"], rows["a"]["sd"]) == (2, 50)  # {20, 30}
    assert (rows["b"]["nd"], rows["b"]["sd"]) == (0, None)


def test_distinct_agg_on_tumble_window(spark):
    """DISTINCT aggregates compose with row-local windows (the window
    columns are just group columns to the distinct-view plan)."""
    from datetime import datetime as dt

    rows = [
        (1, dt(2024, 1, 1, 0, 1), 7, "+I", 1),
        (2, dt(2024, 1, 1, 0, 2), 7, "+I", 2),
        (3, dt(2024, 1, 1, 0, 3), 9, "+I", 3),
        (4, dt(2024, 1, 1, 0, 7), 7, "+I", 4),
        (2, dt(2024, 1, 1, 0, 2), 7, "-D", 5),
    ]
    log = spark.createDataFrame(
        rows, f"k long, ts timestamp, v long, {OP_COL} string, {SEQ_COL} long"
    )
    got = replay_insert_maintained(
        "INSERT INTO sink SELECT TUMBLE_START(ts, INTERVAL '5' MINUTE) AS ws,"
        " COUNT(DISTINCT v) AS nd FROM t"
        " GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE)",
        {"t": ["k"]}, {"t": log}, n_batches=2,
    )
    from datetime import datetime as dt

    assert sorted(map(tuple, got.collect())) == [
        (dt(2024, 1, 1, 0, 0), 2),  # {7, 9} — the deleted 7 had a twin
        (dt(2024, 1, 1, 0, 5), 1),
    ]


@pytest.mark.slow
def test_distinct_agg_window_fuzz_vs_one_shot(spark):
    """r11 (verdict item): the distinct fuzz re-run with a WINDOW
    column — seeded random full-retraction changelog with ts-moving
    updates (value AND window change together), TUMBLE +
    COUNT(DISTINCT) replay at several splits vs the Spark-native
    one-shot over the materialized log."""
    import random
    from datetime import datetime, timedelta

    rng = random.Random(1107)
    base = datetime(2024, 1, 1)
    live, rows, seq = {}, [], 0
    for _ in range(120):
        seq += 1
        k = rng.randrange(12)
        if k in live and rng.random() < 0.45:
            old_v, old_ts = live[k]
            if rng.random() < 0.3:
                rows.append((k, old_v, old_ts, "-D", seq))
                del live[k]
            else:
                new = (
                    rng.randrange(6),
                    base + timedelta(minutes=rng.randrange(0, 3000)),
                )
                rows.append((k, old_v, old_ts, "-U", seq))
                rows.append((k, new[0], new[1], "+U", seq))
                live[k] = new
        elif k not in live:
            img = (
                rng.randrange(6),
                base + timedelta(minutes=rng.randrange(0, 3000)),
            )
            rows.append((k, img[0], img[1], "+I", seq))
            live[k] = img
    log = spark.createDataFrame(
        rows,
        f"k long, v long, ts timestamp, {OP_COL} string, {SEQ_COL} long",
    )
    direct = (
        materialize(log, ["k"])
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.countDistinct("v").alias("dv"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(F.col("w.start").alias("ws"), "dv", "n")
    )
    exp = sorted(map(tuple, direct.collect()), key=str)
    sql = (
        "INSERT INTO sink SELECT TUMBLE_START(ts, INTERVAL '1' DAY)"
        " AS ws, COUNT(DISTINCT v) AS dv, COUNT(*) AS n"
        " FROM t GROUP BY TUMBLE(ts, INTERVAL '1' DAY)"
    )
    for n in (1, 3, 6):
        got = replay_insert_maintained(
            sql, {"t": ["k"]}, {"t": log}, n_batches=n
        )
        assert sorted(map(tuple, got.collect()), key=str) == exp, n


def test_minmax_only_pkless_executes(spark):
    """r11 pin: a min/max-ONLY statement on a PK-less table (empty
    plain-agg dict on the view plan) executes and retracts the
    extremum correctly."""
    rows = [
        ("a", 3.0, "+I", 1), ("a", 8.0, "+I", 2),
        ("a", 8.0, "-D", 3), ("b", 1.0, "+I", 4),
    ]
    log = spark.createDataFrame(
        rows, f"g string, v double, {OP_COL} string, {SEQ_COL} long"
    )
    for n in (1, 2):
        got = replay_insert_maintained(
            "INSERT INTO s SELECT g, MIN(v) AS mn FROM t GROUP BY g",
            {"t": []}, {"t": log}, n_batches=n,
        )
        assert sorted(map(tuple, got.collect())) == [
            ("a", 3.0), ("b", 1.0)
        ]


def test_distinct_agg_guards(spark):
    log_tables = {"t": ["k"]}
    # r11: DISTINCT + MAX in one statement now rides ONE value-multiset
    # plan (Flink's Min/MaxWithRetractAggFunction keeps the same
    # value->count state as the distinct view) — replay equals direct
    rows = [
        (1, "a", 5, "+I", 1), (2, "a", 5, "+I", 2), (3, "a", 9, "+I", 3),
        (3, "a", 9, "-D", 4),  # retracts the current max
        (4, "b", 7, "+I", 5),
    ]
    log = spark.createDataFrame(
        rows, f"k long, g string, v long, {OP_COL} string, {SEQ_COL} long"
    )
    got = replay_insert_maintained(
        "INSERT INTO s SELECT g, COUNT(DISTINCT v) AS nd, MAX(v) AS mx "
        "FROM t GROUP BY g",
        log_tables, {"t": log}, n_batches=2,
    )
    assert sorted(map(tuple, got.collect())) == [("a", 1, 5), ("b", 1, 7)]
    # r12: DISTINCT under SESSION windows dispatches the session plan
    # (recompute from the materialized table — no view state)
    job_s = plan_insert_maintained(
        "INSERT INTO s SELECT g,"
        " SESSION_START(ts, INTERVAL '1' HOUR) AS ws,"
        " COUNT(DISTINCT v) AS nd FROM t"
        " GROUP BY g, SESSION(ts, INTERVAL '1' HOUR)",
        log_tables,
    )
    from flink_cdc_2_3_0_src_spark.operators.maintain import _SessionPlan

    assert isinstance(job_s.plan, _SessionPlan)
    assert set(job_s.plan.distinct) == {"nd"}
    with pytest.raises(ValueError, match="COUNT\\(DISTINCT \\*\\)"):
        plan_insert_maintained(
            "INSERT INTO s SELECT g, COUNT(DISTINCT *) AS nd FROM t "
            "GROUP BY g",
            log_tables,
        )
    # MIN(DISTINCT x) == MIN(x): passes through as a plain aggregate
    job = plan_insert_maintained(
        "INSERT INTO s SELECT g, MIN(DISTINCT v) AS mn FROM t GROUP BY g",
        log_tables,
    )
    from flink_cdc_2_3_0_src_spark.operators.maintain import (
        _AggRecomputePlan,
    )

    assert isinstance(job.plan, _AggRecomputePlan)


def test_distinct_agg_having_and_ttl(spark):
    """HAVING rewrites the textual COUNT(DISTINCT v) to its alias and
    gates the delta stream; ttl on a bucket group column evicts both
    the plain state and every distinct-view state."""
    log = spark.createDataFrame(_DISTINCT_ROWS, _DISTINCT_SCHEMA)
    got = replay_insert_maintained(
        "INSERT INTO sink SELECT g, COUNT(DISTINCT v) AS nd FROM t "
        "GROUP BY g HAVING COUNT(DISTINCT v) >= 1",
        {"t": ["k"]}, {"t": log}, n_batches=2,
    )
    assert sorted(map(tuple, got.collect())) == [("a", 2)]

    rows1 = [(1, 10, 5, "+I", 1), (2, 20, 7, "+I", 2)]
    schema = f"k long, bkt long, v long, {OP_COL} string, {SEQ_COL} long"
    job = plan_insert_maintained(
        "INSERT INTO sink SELECT bkt, COUNT(DISTINCT v) AS nd FROM t "
        "GROUP BY bkt",
        {"t": ["k"]}, ttl="bkt",
    )
    job.step({"t": spark.createDataFrame(rows1, schema)})
    job.expire(watermark=15)
    plain, vs = job._state
    assert [r["bkt"] for r in plain.collect()] == [20]
    assert [r["bkt"] for r in vs.collect()] == [20]


def test_distinct_parse_edge_cases(spark):
    """Second-review regressions: COUNT(DISTINCT(v)) — no whitespace
    after DISTINCT — routes to the distinct plan; SUM/AVG(DISTINCT *)
    get the crisp invalid-SQL error; MIN(DISTINCT x) on a SESSION
    window is accepted (it rewrites to plain MIN); distinct= with a
    non-aggregate shape raises the modifier error."""
    from flink_cdc_2_3_0_src_spark.operators.maintain import (
        _DistinctAggPlan,
        maintain,
    )

    job = plan_insert_maintained(
        "INSERT INTO s SELECT g, COUNT(DISTINCT(v)) AS nd FROM t GROUP BY g",
        {"t": ["k"]},
    )
    assert isinstance(job.plan, _DistinctAggPlan)
    with pytest.raises(ValueError, match="SUM\\(DISTINCT \\*\\)"):
        plan_insert_maintained(
            "INSERT INTO s SELECT g, SUM(DISTINCT *) AS sd FROM t "
            "GROUP BY g",
            {"t": ["k"]},
        )
    # MIN(DISTINCT v) == MIN(v): fine on a session window
    job2 = plan_insert_maintained(
        "INSERT INTO s SELECT g,"
        " SESSION_START(ts, INTERVAL '1' HOUR) AS ws,"
        " MIN(DISTINCT v) AS mn FROM t"
        " GROUP BY g, SESSION(ts, INTERVAL '1' HOUR)",
        {"t": ["k"]},
    )
    from flink_cdc_2_3_0_src_spark.operators.maintain import _SessionPlan

    assert isinstance(job2.plan, _SessionPlan)
    with pytest.raises(ValueError, match="modifier of the aggregate"):
        maintain(on=["k"], distinct={"nd": ("count", F.col("v"))})


def test_streaming_three_way_chain_matches_direct(spark, tmp_path):
    """The 3-table chain through a REAL Structured Streaming query: the
    three changelogs multiplex one replay stream (side column), each
    microbatch steps the cascade once, and the final sink equals the
    one-shot 3-way join of the materialized tables — including the
    mid-stream customer re-point that exercises the left-outer pad."""
    from flink_cdc_2_3_0_src_spark.streaming.replay import (
        read_replay_stream,
        write_replay_files,
    )

    logs = _chain_logs(spark)
    mux = (
        logs["orders"].select(
            F.lit("o").alias("side"), "k", "ck",
            F.col("amt").alias("d1"),
            F.lit(None).cast("long").alias("nk"),
            F.lit(None).cast("string").alias("nname"),
            OP_COL, SEQ_COL,
        )
        .unionByName(
            logs["customer"].select(
                F.lit("c").alias("side"),
                F.lit(None).cast("long").alias("k"), "ck",
                F.lit(None).cast("double").alias("d1"), "nk",
                F.lit(None).cast("string").alias("nname"), OP_COL, SEQ_COL,
            )
        )
        .unionByName(
            logs["nation"].select(
                F.lit("n").alias("side"),
                F.lit(None).cast("long").alias("k"),
                F.lit(None).cast("long").alias("ck"),
                F.lit(None).cast("double").alias("d1"), "nk", "nname",
                OP_COL, SEQ_COL,
            )
        )
    )
    replay_dir = str(tmp_path / "replay_chain")
    write_replay_files(mux, replay_dir, n_files=3)

    job = plan_insert_maintained(_CHAIN_SQL, _CHAIN_TABLES)

    def process(batch_df, batch_id):
        job.step(
            {
                "orders": batch_df.filter(F.col("side") == "o").select(
                    "k", "ck", F.col("d1").alias("amt"), OP_COL, SEQ_COL
                ),
                "customer": batch_df.filter(F.col("side") == "c").select(
                    "ck", "nk", OP_COL, SEQ_COL
                ),
                "nation": batch_df.filter(F.col("side") == "n").select(
                    "nk", "nname", OP_COL, SEQ_COL
                ),
            }
        )

    q = (
        read_replay_stream(spark, replay_dir, mux.schema)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_chain"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    direct = (
        materialize(logs["orders"], ["k"])
        .join(materialize(logs["customer"], ["ck"]), "ck")
        .join(materialize(logs["nation"], ["nk"]), "nk", "left")
        .select(
            F.col("k").alias("order_id"), "amt",
            F.col("ck").alias("cust"), "nname",
        )
    )
    assert sorted(map(tuple, job.result().collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_streaming_distinct_agg_matches_direct(spark, tmp_path):
    """DISTINCT aggregates through a REAL Structured Streaming query:
    per-microbatch distinct-view maintenance lands on the one-shot
    result, including a duplicate value whose first occurrence retracts
    mid-stream."""
    from flink_cdc_2_3_0_src_spark.streaming.replay import (
        read_replay_stream,
        write_replay_files,
    )

    log = spark.createDataFrame(_DISTINCT_ROWS, _DISTINCT_SCHEMA)
    replay_dir = str(tmp_path / "replay_distinct")
    write_replay_files(log, replay_dir, n_files=3)

    job = plan_insert_maintained(_DISTINCT_SQL, {"t": ["k"]})

    def process(batch_df, batch_id):
        job.step({"t": batch_df})

    q = (
        read_replay_stream(spark, replay_dir, log.schema)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_distinct"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    direct = (
        materialize(log, ["k"])
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("v").alias("nd"),
            F.sum_distinct(F.col("v")).alias("sd"),
            (
                F.sum_distinct(F.col("v")).cast("double")
                / F.countDistinct("v")
            ).alias("ad"),
        )
    )
    assert sorted(map(tuple, job.result().collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_explain_describes_dispatched_plans(spark):
    """Flink's EXPLAIN for the maintenance surface: the description
    names the dispatched plan class, window form, filter modes, chain
    stages, and ttl — without executing any data."""
    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
        explain_insert_maintained,
    )

    out = explain_insert_maintained(
        _SESSION_SQL.replace("FROM t ", "FROM t WHERE v > 0 "),
        {"t": ["k"]}, ttl="ts",
    )
    assert "Session window aggregate" in out
    assert "tombstone-rewrite" in out and "SESSION(ts, gap 2 hours)" in out
    assert "state ttl" in out

    out2 = explain_insert_maintained(_CHAIN_SQL, _CHAIN_TABLES)
    assert "Stacked StreamingJoinOperators" in out2
    assert "stage 2: LEFT JOIN nation" in out2

    out3 = explain_insert_maintained(
        "INSERT INTO s SELECT g, COUNT(DISTINCT v) AS nd FROM t GROUP BY g"
        " HAVING COUNT(DISTINCT v) > 1",
        {"t": ["k"]},
    )
    assert "distinct views" in out3 and "emission gate" in out3

    out4 = explain_insert_maintained(
        "INSERT INTO s SELECT bucket, user_id, v FROM ("
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket "
        "ORDER BY v DESC, user_id) AS rn FROM t) WHERE rn <= 2",
        {"t": ["user_id"]},
    )
    assert "RankOperator" in out4


# ---------------------------------------------------------------------------
# GROUPING SETS (Flink's Expand + streaming group aggregate)
# ---------------------------------------------------------------------------

_GS_ROWS = [
    (1, "a", "x", 10.0, "+I", 1),
    (2, "a", "y", 20.0, "+I", 2),
    (3, "b", "x", 30.0, "+I", 3),
    # group-moving update: (a,y) -> (b,y) touches two detail groups and
    # both subtotal levels
    (2, "a", "y", 20.0, "-U", 4),
    (2, "b", "y", 25.0, "+U", 4),
    (1, "a", "x", 10.0, "-D", 5),  # empties (a,x) and the (a) subtotal
    # NULL group value: must NOT merge with the (g) subtotal rows —
    # GROUPING_ID keeps them apart in the keyed sink
    (4, None, "x", 7.0, "+I", 6),
]
_GS_SCHEMA = (
    f"k long, g string, h string, v double, {OP_COL} string, {SEQ_COL} long"
)
_GS_SQL = (
    "INSERT INTO sink SELECT g, h, GROUPING_ID() AS gid,"
    " SUM(v) AS s, COUNT(*) AS n"
    " FROM t GROUP BY GROUPING SETS ((g, h), (g), ())"
)


def test_grouping_sets_parse_shape():
    st = parse_insert_select(_GS_SQL)
    assert st.grouping_sets == [["g", "h"], ["g"], []]
    assert st.group_cols == ["g", "h"]
    assert ("__gid", "gid") in st.select


@pytest.mark.parametrize("n_batches", [1, 3])
def test_grouping_sets_replay_matches_spark_sql(spark, n_batches):
    """The maintained grouping sets equal Spark SQL's own GROUP BY
    GROUPING SETS + grouping_id() over the materialized table — same
    bitmask convention, NULL detail rows kept apart from subtotals."""
    log = spark.createDataFrame(_GS_ROWS, _GS_SCHEMA)
    got = replay_insert_maintained(
        _GS_SQL, {"t": ["k"]}, {"t": log}, n_batches=n_batches
    )
    materialize(log, ["k"]).createOrReplaceTempView("m_gs")
    direct = spark.sql(
        "SELECT g, h, grouping_id() AS gid, SUM(v) AS s, COUNT(*) AS n "
        "FROM m_gs GROUP BY GROUPING SETS ((g, h), (g), ())"
    )
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, direct.collect()), key=str
    )
    rows = {
        (r["g"], r["h"], r["gid"]): (r["s"], r["n"])
        for r in got.collect()
    }
    # detail row with a genuinely NULL g stays separate from the (g)
    # subtotal and the grand total
    assert rows[(None, "x", 0)] == (7.0, 1)
    assert rows[(None, None, 1)] == (7.0, 1)
    assert rows[(None, None, 3)] == (62.0, 3)


def test_grouping_sets_guards(spark):
    with pytest.raises(ValueError, match="must project GROUPING_ID"):
        parse_insert_select(
            "INSERT INTO s SELECT g, h, SUM(v) AS s FROM t "
            "GROUP BY GROUPING SETS ((g, h), (g))"
        )
    with pytest.raises(ValueError, match="only valid with GROUP BY"):
        parse_insert_select(
            "INSERT INTO s SELECT g, GROUPING_ID() AS gid, SUM(v) AS s "
            "FROM t GROUP BY g"
        )
    # r11 gave min/max (and DISTINCT) sets per-set value-multiset
    # retract plans; r12 extends that to the GLOBAL set () via the
    # constant-group form — the former refusal is lifted
    job_g = plan_insert_maintained(
        "INSERT INTO s SELECT g, h, GROUPING_ID() AS gid, MAX(v) AS mx "
        "FROM t GROUP BY GROUPING SETS ((g, h), (g), ())",
        {"t": ["k"]},
    )
    from flink_cdc_2_3_0_src_spark.operators.maintain import (
        _DistinctAggPlan,
        _GroupingSetsPlan,
    )

    assert isinstance(job_g.plan, _GroupingSetsPlan)
    assert all(isinstance(p, _DistinctAggPlan) for p in job_g.plan.plans)
    assert job_g.plan.plans[-1].group_cols == []
    with pytest.raises(ValueError, match="do not support ttl"):
        plan_insert_maintained(_GS_SQL, {"t": ["k"]}, ttl="g")


@pytest.mark.parametrize("n_batches", [1, 3])
def test_grouping_sets_minmax_distinct_replay(spark, n_batches):
    """r11: MIN/MAX and COUNT(DISTINCT) under GROUPING SETS — each
    non-empty set keeps its own value-multiset retract state; replay
    equals Spark's native GROUPING SETS one-shot over the materialized
    log, including a delete that retracts a subtotal's current max and
    (r12) the GLOBAL set (), maintained by the constant-group
    value-multiset plan."""
    rows = [
        (1, "a", "x", 5.0, "+I", 1),
        (2, "a", "y", 9.0, "+I", 2),
        (3, "b", "x", 7.0, "+I", 3),
        (4, "a", "y", 9.0, "+I", 4),   # duplicate value in (a,*)
        (2, "a", "y", 9.0, "-D", 5),   # one 9 retracts; twin survives
        (3, "b", "x", 7.0, "-U", 6),
        (3, "b", "y", 2.0, "+U", 6),   # group-moving update
    ]
    log = spark.createDataFrame(
        rows,
        f"k long, g string, h string, v double, {OP_COL} string,"
        f" {SEQ_COL} long",
    )
    got = replay_insert_maintained(
        "INSERT INTO s SELECT g, h, GROUPING_ID() AS gid, MAX(v) AS mx,"
        " COUNT(DISTINCT v) AS dv, COUNT(*) AS n"
        " FROM t GROUP BY GROUPING SETS ((g, h), (g), ())",
        {"t": ["k"]}, {"t": log}, n_batches=n_batches,
    )
    m = materialize(log, ["k"])
    m.createOrReplaceTempView("__gs_t")
    exp = spark.sql(
        "SELECT g, h, grouping_id() AS gid, MAX(v) AS mx,"
        " COUNT(DISTINCT v) AS dv, COUNT(*) AS n"
        " FROM __gs_t GROUP BY GROUPING SETS ((g, h), (g), ())"
    )
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, exp.collect()), key=str
    )


def test_explain_grouping_sets(spark):
    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
        explain_insert_maintained,
    )

    out = explain_insert_maintained(_GS_SQL, {"t": ["k"]})
    assert "grouping sets" in out and "GROUPING_ID bitmask" in out


# ---- UNION ALL aggregates (r10) -----------------------------------------
# A maintained aggregate over the UNION ALL of several changelogs —
# exact by linearity (the signed multiset of a union is the sum of the
# branches' signed multisets); Flink compiles the same statement to a
# union of changelog inputs feeding one StreamExecGroupAggregate.

_UNION_SQL = (
    "INSERT INTO sink SELECT g, SUM(v) AS s, COUNT(*) AS n FROM ("
    "SELECT g, v FROM ta WHERE v > 0"
    " UNION ALL "
    "SELECT grp AS g, amt * 2 AS v FROM tb"
    ") u GROUP BY g"
)
_UA_ROWS = [
    (1, "a", 10.0, "+I", 1),
    (2, "a", -3.0, "+I", 2),   # branch WHERE filters this out
    (3, "b", 5.0, "+I", 3),
    (1, "a", 10.0, "-U", 6), (1, "a", 20.0, "+U", 6),
]
_UB_ROWS = [
    (7, "a", 1.5, "+I", 4),
    (8, "c", 2.0, "+I", 5),
    (8, "c", 2.0, "-D", 7),
]
_U_SCHEMA_A = f"user_id long, g string, v double, {OP_COL} string, {SEQ_COL} long"
_U_SCHEMA_B = f"user_id long, grp string, amt double, {OP_COL} string, {SEQ_COL} long"


def test_parse_union_agg_shape():
    st = parse_insert_select(_UNION_SQL)
    assert st.shape == "agg"
    assert st.sources == ["ta", "tb"]
    assert len(st.union_branches) == 2
    exprs0, where0 = st.union_branches[0]
    assert exprs0 == [("g", "g"), ("v", "v")] and where0 == "v > 0"
    exprs1, where1 = st.union_branches[1]
    assert exprs1 == [("grp", "g"), ("amt * 2", "v")] and where1 is None
    assert st.group_cols == ["g"] and set(st.aggs) == {"s", "n"}


@pytest.mark.parametrize(
    "sql,msg",
    [
        ("INSERT INTO s SELECT g, SUM(v) AS s FROM ("
         "SELECT g, v FROM a UNION SELECT g, v FROM b) GROUP BY g",
         "only UNION ALL"),
        ("INSERT INTO s SELECT g, SUM(v) AS s FROM ("
         "SELECT g, v FROM a UNION ALL SELECT g FROM b) GROUP BY g",
         "align positionally"),
        ("INSERT INTO s SELECT g, SUM(v) AS s FROM ("
         "SELECT g, v FROM a UNION ALL SELECT g, v FROM b)",
         "grouped aggregate"),
        ("INSERT INTO s SELECT g, SUM(v) AS s FROM ("
         "SELECT lower(g), v FROM a UNION ALL SELECT g, v FROM b) "
         "GROUP BY g", "needs a name"),
    ],
)
def test_parse_union_agg_errors(sql, msg):
    with pytest.raises(ValueError, match=msg):
        parse_insert_select(sql)


def test_union_agg_minmax_works_session_refused(spark):
    # r11: MIN/MAX over UNION ALL inputs ride the value-multiset
    # retract plan (a union of tables has no single PRIMARY KEY, and
    # none is needed — Flink's Min/MaxWithRetractAggFunction state);
    # SESSION windows keep the refusal
    from flink_cdc_2_3_0_src_spark.operators.maintain import (
        _DistinctAggPlan,
    )

    job = plan_insert_maintained(
        "INSERT INTO s SELECT g, MAX(v) AS m FROM ("
        "SELECT g, v FROM ta UNION ALL SELECT g, v FROM tb) "
        "GROUP BY g",
        {"ta": ["user_id"], "tb": ["user_id"]},
    )
    assert isinstance(job.plan, _DistinctAggPlan)
    la = spark.createDataFrame(
        [("x", 3, "+I", 1), ("x", 8, "+I", 2), ("x", 8, "-D", 3)],
        f"g string, v long, {OP_COL} string, {SEQ_COL} long",
    )
    lb = spark.createDataFrame(
        [("x", 5, "+I", 1), ("y", 2, "+I", 2)],
        f"g string, v long, {OP_COL} string, {SEQ_COL} long",
    )
    for n in (1, 2):
        got = replay_insert_maintained(
            "INSERT INTO s SELECT g, MAX(v) AS m FROM ("
            "SELECT g, v FROM ta UNION ALL SELECT g, v FROM tb) "
            "GROUP BY g",
            {"ta": ["user_id"], "tb": ["user_id"]},
            {"ta": la, "tb": lb}, n_batches=n,
        )
        # ta's 8 retracted → x's max falls back to tb's 5
        assert sorted(map(tuple, got.collect())) == [("x", 5), ("y", 2)]
    with pytest.raises(ValueError, match="SESSION windows keep"):
        plan_insert_maintained(
            "INSERT INTO s SELECT SESSION_START(ts, INTERVAL '1' HOUR)"
            " AS ws, SUM(v) AS s FROM ("
            "SELECT ts, v FROM ta UNION ALL SELECT ts, v FROM tb) "
            "GROUP BY SESSION(ts, INTERVAL '1' HOUR)",
            {"ta": ["user_id"], "tb": ["user_id"]},
        )


@pytest.mark.parametrize("n_batches", [1, 3])
def test_union_agg_replay_matches_direct(spark, n_batches):
    la = _log(spark, _UA_ROWS, _U_SCHEMA_A)
    lb = _log(spark, _UB_ROWS, _U_SCHEMA_B)
    out = replay_insert_maintained(
        _UNION_SQL, {"ta": ["user_id"], "tb": ["user_id"]},
        {"ta": la, "tb": lb}, n_batches=n_batches,
    )
    got = {(r["g"], r["s"], r["n"]) for r in out.collect()}
    # live: ta has a=20 (after update; -3 filtered), b=5; tb contributes
    # a += 1.5*2 = 3 (the branch doubles amt); tb's c was deleted
    assert got == {("a", 23.0, 2), ("b", 5.0, 1)}


def test_union_agg_with_tumble_window(spark):
    # row-local windows ride the union: the ts column is a union output
    rows_a = [(1, "2024-01-01 00:10:00", 2.0, "+I", 1),
              (2, "2024-01-01 01:10:00", 3.0, "+I", 2)]
    rows_b = [(3, "2024-01-01 00:20:00", 5.0, "+I", 3)]
    sch = f"user_id long, ts string, v double, {OP_COL} string, {SEQ_COL} long"
    la = _log(spark, rows_a, sch).withColumn("ts", F.col("ts").cast("timestamp"))
    lb = _log(spark, rows_b, sch).withColumn("ts", F.col("ts").cast("timestamp"))
    out = replay_insert_maintained(
        "INSERT INTO sink SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS w,"
        " SUM(v) AS s FROM ("
        "SELECT ts, v FROM ta UNION ALL SELECT ts, v FROM tb) u"
        " GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)",
        {"ta": ["user_id"], "tb": ["user_id"]},
        {"ta": la, "tb": lb}, n_batches=2,
    )
    got = {(str(r["w"]), r["s"]) for r in out.collect()}
    assert got == {("2024-01-01 00:00:00", 7.0), ("2024-01-01 01:00:00", 3.0)}


def test_union_agg_explain(spark):
    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
        explain_insert_maintained,
    )

    txt = explain_insert_maintained(
        _UNION_SQL, {"ta": ["user_id"], "tb": ["user_id"]}
    )
    assert "UNION ALL of 2 branches" in txt
    assert "signed-delta" in txt


# ---------------------------------------------------------------------------
# OVER aggregation (Flink's StreamExecOverAggregate) — streaming witness
# ---------------------------------------------------------------------------

def test_streaming_over_agg_matches_one_shot(spark, tmp_path):
    """OVER aggregation through a REAL Structured Streaming query:
    per-microbatch frame enrichment over retained per-key state lands
    on the one-shot window result — each arrival emitted exactly once,
    frames crossing microbatch boundaries."""
    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
        plan_insert_maintained,
    )
    from flink_cdc_2_3_0_src_spark.streaming.replay import (
        read_replay_stream,
        write_replay_files,
    )

    rows = [
        (i, ["a", "b", "a", "a", "b"][i % 5], float(i % 7),
         f"2024-03-01 00:{i:02d}:00")
        for i in range(18)
    ]
    log = spark.createDataFrame(
        rows, "id long, k string, v double, ts string"
    ).select(
        "id", "k", "v", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("+I").alias(OP_COL), F.col("id").alias(SEQ_COL),
    )
    replay_dir = str(tmp_path / "replay_over")
    write_replay_files(log, replay_dir, n_files=4)

    job = plan_insert_maintained(
        "INSERT INTO sink SELECT id, k, v, SUM(v) OVER (PARTITION BY k"
        " ORDER BY ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS s,"
        " COUNT(*) OVER (PARTITION BY k ORDER BY ts ROWS BETWEEN 2"
        " PRECEDING AND CURRENT ROW) AS n FROM t",
        {"t": ["id"]},
    )

    def process(batch_df, batch_id):
        job.step({"t": batch_df})

    q = (
        read_replay_stream(spark, replay_dir, log.schema)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_over"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    log.drop(OP_COL).createOrReplaceTempView("__over_t")
    direct = spark.sql(
        "SELECT id, k, v, SUM(v) OVER w AS s, COUNT(*) OVER w AS n"
        " FROM __over_t WINDOW w AS (PARTITION BY k ORDER BY ts, _seq"
        " ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"
    )
    assert sorted(map(tuple, job.result().collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_rollup_and_cube_rewrite_to_grouping_sets():
    """ROLLUP/CUBE are GROUPING SETS sugar (SQL standard / Flink's
    expansion) — the parser rewrites them so one plan path and one
    GROUPING_ID discipline serve all three spellings."""
    st = parse_insert_select(
        "INSERT INTO sink SELECT g, h, GROUPING_ID() AS gid,"
        " SUM(v) AS s FROM t GROUP BY ROLLUP (g, h)"
    )
    assert st.grouping_sets == [["g", "h"], ["g"], []]
    st = parse_insert_select(
        "INSERT INTO sink SELECT g, h, GROUPING_ID() AS gid,"
        " SUM(v) AS s FROM t GROUP BY CUBE (g, h)"
    )
    assert sorted(map(tuple, st.grouping_sets)) == sorted(
        [("g", "h"), ("g",), ("h",), ()]
    )
    with pytest.raises(ValueError, match="at least one column"):
        parse_insert_select(
            "INSERT INTO sink SELECT SUM(v) AS s FROM t GROUP BY ROLLUP ()"
        )
    with pytest.raises(ValueError, match="GROUPING SETS you actually"):
        parse_insert_select(
            "INSERT INTO sink SELECT a, b, c, d, e, f, g2,"
            " GROUPING_ID() AS gid, SUM(v) AS s FROM t"
            " GROUP BY CUBE (a, b, c, d, e, f, g2)"
        )


@pytest.mark.parametrize("kind,spark_kind", [
    ("ROLLUP (g, h)", "ROLLUP(g, h)"),
    ("CUBE (g, h)", "CUBE(g, h)"),
])
def test_rollup_cube_replay_matches_spark_sql(spark, kind, spark_kind):
    log = spark.createDataFrame(_GS_ROWS, _GS_SCHEMA)
    got = replay_insert_maintained(
        "INSERT INTO sink SELECT g, h, GROUPING_ID() AS gid,"
        f" SUM(v) AS s, COUNT(*) AS n FROM t GROUP BY {kind}",
        {"t": ["k"]}, {"t": log}, n_batches=3,
    )
    materialize(log, ["k"]).createOrReplaceTempView("m_rc")
    direct = spark.sql(
        "SELECT g, h, grouping_id() AS gid, SUM(v) AS s, COUNT(*) AS n "
        f"FROM m_rc GROUP BY {spark_kind}"
    )
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, direct.collect()), key=str
    )


# ---------------------------------------------------------------------------
# Row deduplication (Flink's StreamExecDeduplicate): ROW_NUMBER() = 1
# ordered by the declared rowtime — keep-first (ASC) / keep-last (DESC)
# ---------------------------------------------------------------------------

# out-of-order arrivals: key a's earliest-ts row arrives LAST, so the
# stored keep-first winner must be retracted mid-stream; key c has a
# ts tie broken by arrival seq; NULL-ts rows are dropped
_DR_ROWS = [
    (1, "a", 5.0, 30), (2, "b", 2.0, 10), (3, "a", 7.0, 40),
    (4, "b", 1.0, 50), (5, "a", 9.0, 20), (6, "c", 3.0, 60),
    (7, "c", 4.0, 60), (8, "c", 6.0, None),
]
_DR_SCHEMA = "id long, k string, v double, ts long"
_DR_TABLES = {"src": {"primary_key": ["id"], "rowtime": "ts"}}
_DR_FIRST = (
    "INSERT INTO sink SELECT k, v, ts FROM (SELECT *,"
    " ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts) AS rn FROM src)"
    " WHERE rn = 1"
)


def _dr_log(spark):
    return spark.createDataFrame(_DR_ROWS, _DR_SCHEMA).select(
        "id", "k", "v", "ts", F.lit("+I").alias(OP_COL),
        F.col("id").alias(SEQ_COL),
    )


@pytest.mark.parametrize("n_batches", [1, 3, 5])
def test_dedup_keep_first_any_split(spark, n_batches):
    out = replay_insert_maintained(
        _DR_FIRST, _DR_TABLES, {"src": _dr_log(spark)},
        n_batches=n_batches,
    )
    # a's late ts=20 arrival beats the stored 30; c's tie (ts=60)
    # keeps the earlier arrival (seq 6); NULL ts never competes
    assert sorted(map(tuple, out.collect())) == [
        ("a", 9.0, 20), ("b", 2.0, 10), ("c", 3.0, 60),
    ]


@pytest.mark.parametrize("n_batches", [1, 4])
def test_dedup_keep_last_any_split(spark, n_batches):
    out = replay_insert_maintained(
        _DR_FIRST.replace("ORDER BY ts", "ORDER BY ts DESC"),
        _DR_TABLES, {"src": _dr_log(spark)}, n_batches=n_batches,
    )
    # keep-last ties go to the LATER arrival (seq 7)
    assert sorted(map(tuple, out.collect())) == [
        ("a", 7.0, 40), ("b", 1.0, 50), ("c", 4.0, 60),
    ]


def test_dedup_dispatch_rules(spark):
    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
        explain_insert_maintained,
    )

    # ordering by a NON-rowtime column = a value rank → Top-N plan
    # (Flink's StreamExecRank), not deduplication
    txt = explain_insert_maintained(
        "INSERT INTO sink SELECT id, k, v FROM (SELECT *, ROW_NUMBER()"
        " OVER (PARTITION BY k ORDER BY v DESC) AS rn FROM src)"
        " WHERE rn = 1",
        _DR_TABLES,
    )
    assert "RankOperator" in txt
    # rowtime order → dedup, keep direction from ASC/DESC
    txt = explain_insert_maintained(_DR_FIRST, _DR_TABLES)
    assert "StreamExecDeduplicate" in txt and "keep-first" in txt
    # rank = k for k > 1 is refused with guidance
    with pytest.raises(ValueError, match="rank = 2"):
        parse_insert_select(_DR_FIRST.replace("rn = 1", "rn = 2"))
    # partition keys must be projected (the upsert sink's key)
    with pytest.raises(ValueError, match="PARTITION BY column"):
        plan_insert_maintained(
            _DR_FIRST.replace("SELECT k, v, ts", "SELECT v, ts"),
            _DR_TABLES,
        )
    # updating input refused with guidance
    job = plan_insert_maintained(_DR_FIRST, _DR_TABLES)
    bad = _dr_log(spark).withColumn(
        OP_COL, F.when(F.col("id") == 3, F.lit("-D")).otherwise("+I")
    )
    with pytest.raises(ValueError, match="append-only"):
        job.step({"src": bad})
    # ttl must name the rowtime
    with pytest.raises(ValueError, match="ORDER BY time column"):
        plan_insert_maintained(_DR_FIRST, _DR_TABLES, ttl="v")


def test_dedup_where_and_ttl(spark):
    # WHERE filters arrivals before they compete (append-only input →
    # plain pre-filter); TTL forgets winners behind the watermark so a
    # late arrival re-opens the key (emitted rows NOT retracted —
    # Flink's state-TTL trade)
    job = plan_insert_maintained(
        _DR_FIRST.replace(" FROM src)", " FROM src WHERE v < 9.0)"),
        _DR_TABLES, ttl="ts",
    )
    log = _dr_log(spark)
    job.step({"src": log.filter(F.col("id") <= 4)})
    got = {tuple(r) for r in job.result().collect()}
    assert got == {("a", 5.0, 30), ("b", 2.0, 10)}
    # v=9.0 fails WHERE → a's winner stays ts=30 even though ts=20 wins
    # the unfiltered race
    job.step({"src": log.filter(F.col("id") == 5)})
    got = {tuple(r) for r in job.result().collect()}
    assert got == {("a", 5.0, 30), ("b", 2.0, 10)}
    # expire both winners; c arrives fresh afterwards
    job.expire(100)
    job.step({"src": log.filter(F.col("id") >= 6)})
    got = {tuple(r) for r in job.result().collect()}
    assert got == {("a", 5.0, 30), ("b", 2.0, 10), ("c", 3.0, 60)}


def test_streaming_dedup_matches_one_shot(spark, tmp_path):
    """Deduplication through a REAL Structured Streaming query: keyed
    winner state across microbatches lands on the one-shot
    ROW_NUMBER()=1 result, including an out-of-order retraction."""
    from flink_cdc_2_3_0_src_spark.streaming.replay import (
        read_replay_stream,
        write_replay_files,
    )

    log = _dr_log(spark)
    replay_dir = str(tmp_path / "replay_dedup")
    write_replay_files(log, replay_dir, n_files=3)
    job = plan_insert_maintained(_DR_FIRST, _DR_TABLES)

    def process(batch_df, batch_id):
        job.step({"src": batch_df})

    q = (
        read_replay_stream(spark, replay_dir, log.schema)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    log.drop(OP_COL).createOrReplaceTempView("__dr_t")
    direct = spark.sql(
        "SELECT k, v, ts FROM (SELECT *, ROW_NUMBER() OVER ("
        "PARTITION BY k ORDER BY ts ASC, _seq ASC) AS rn FROM __dr_t"
        " WHERE ts IS NOT NULL) WHERE rn = 1"
    )
    assert sorted(map(tuple, job.result().collect())) == sorted(
        map(tuple, direct.collect())
    )


# ---------------------------------------------------------------------------
# Lookup join (Flink's StreamExecLookupJoin): FOR SYSTEM_TIME AS OF
# PROCTIME() — per-batch enrichment against the dim's CURRENT snapshot
# ---------------------------------------------------------------------------

_LK_SQL = (
    "INSERT INTO sink SELECT p.id AS pid, p.k AS k, d.label AS label"
    " FROM probe p LEFT JOIN dim FOR SYSTEM_TIME AS OF PROCTIME() AS d"
    " ON p.k = d.k"
)
_LK_TABLES = {"probe": ["id"], "dim": []}


def _lk_probe(spark, rows):
    return spark.createDataFrame(rows, "id long, k string").select(
        "id", "k", F.lit("+I").alias(OP_COL), F.col("id").alias(SEQ_COL)
    )


def test_lookup_join_sees_current_snapshot(spark):
    """Processing-time semantics: each batch's probes see THAT batch's
    dim content; earlier enrichments are never retracted when the dim
    changes later (the defining difference from the maintained join)."""
    job = plan_insert_maintained(_LK_SQL, _LK_TABLES)
    dim1 = spark.createDataFrame([("a", "A1")], "k string, label string")
    job.step({"probe": _lk_probe(spark, [(1, "a"), (2, "b")]),
              "dim": dim1})
    dim2 = spark.createDataFrame(
        [("a", "A2"), ("b", "B1")], "k string, label string"
    )
    job.step({"probe": _lk_probe(spark, [(3, "a"), (4, "c")]),
              "dim": dim2})
    assert sorted(map(tuple, job.result().collect())) == [
        (1, "a", "A1"), (2, "b", None), (3, "a", "A2"), (4, "c", None),
    ]


def test_lookup_join_static_dim_equals_plain_join(spark):
    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
        replay_insert_maintained,
    )

    probe = _lk_probe(
        spark, [(i, ["a", "b", "c", "d"][i % 4]) for i in range(12)]
    )
    dim = spark.createDataFrame(
        [("a", "A"), ("b", "B"), ("a", "A-dup")],  # 1:N key a
        "k string, label string",
    )
    got = replay_insert_maintained(
        _LK_SQL, _LK_TABLES, {"probe": probe, "dim": dim}, n_batches=3
    )
    direct = (
        probe.drop(OP_COL, SEQ_COL)
        .join(dim, on="k", how="left")
        .select(F.col("id").alias("pid"), "k", "label")
    )
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, direct.collect()), key=str
    )


def test_lookup_join_guards(spark):
    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
        explain_insert_maintained,
    )

    # updating probe refused
    job = plan_insert_maintained(_LK_SQL, _LK_TABLES)
    bad = _lk_probe(spark, [(1, "a")]).withColumn(OP_COL, F.lit("-D"))
    dim = spark.createDataFrame([("a", "A")], "k string, label string")
    with pytest.raises(ValueError, match="append-only"):
        job.step({"probe": bad, "dim": dim})
    # RIGHT/FULL refused; only join of the statement; equi-only ON;
    # no ttl; keyed changelog render refused (multiset)
    with pytest.raises(ValueError, match="INNER and LEFT only"):
        parse_insert_select(_LK_SQL.replace("LEFT JOIN", "FULL JOIN"))
    with pytest.raises(ValueError, match="only join of the statement"):
        parse_insert_select(
            _LK_SQL + " JOIN other o ON o.k = p.k"
        )
    # a non-equi conjunct on the LEFT lookup hits the generic outer-ON
    # refusal; on an INNER lookup it hits the lookup-specific one
    with pytest.raises(ValueError, match="INNER joins only"):
        parse_insert_select(
            _LK_SQL.replace("p.k = d.k", "p.k = d.k AND p.id > 3")
        )
    with pytest.raises(ValueError, match="equi conditions only"):
        parse_insert_select(
            _LK_SQL.replace("LEFT JOIN", "JOIN").replace(
                "p.k = d.k", "p.k = d.k AND p.id > 3"
            )
        )
    with pytest.raises(ValueError, match="ttl does not apply"):
        plan_insert_maintained(_LK_SQL, _LK_TABLES, ttl="k")
    ok_job = plan_insert_maintained(_LK_SQL, _LK_TABLES)
    d = ok_job.step({"probe": _lk_probe(spark, [(1, "a")]), "dim": dim})
    with pytest.raises(ValueError, match="multiset"):
        ok_job.delta_changelog(d, 0)
    # padded-side join column projects SQL NULL on LEFT (r11, formerly
    # refused): unmatched probes carry NULL in d.k
    got = replay_insert_maintained(
        "INSERT INTO sink SELECT p.id AS pid, d.k AS dk FROM probe p"
        " LEFT JOIN dim FOR SYSTEM_TIME AS OF PROCTIME() AS d"
        " ON p.k = d.k",
        _LK_TABLES,
        {"probe": _lk_probe(spark, [(1, "a"), (2, "zzz")]), "dim": dim},
        n_batches=1,
    )
    assert {(r["pid"], r["dk"]) for r in got.collect()} == {
        (1, "a"), (2, None)
    }
    txt = explain_insert_maintained(_LK_SQL, _LK_TABLES)
    assert "StreamExecLookupJoin" in txt and "PROCTIME()" in txt


# ---------------------------------------------------------------------------
# Window Top-N / window deduplication: TUMBLE in the rank PARTITION BY
# (Flink's WindowRank / window deduplication over the group-window form)
# ---------------------------------------------------------------------------

_WT_ROWS = [
    (1, "x", 10.0, "2024-01-01 05:00:00", "+I", 1),
    (2, "x", 20.0, "2024-01-01 06:00:00", "+I", 2),
    (3, "x", 15.0, "2024-01-01 07:00:00", "+I", 3),
    (4, "x", 30.0, "2024-01-02 05:00:00", "+I", 4),
    # value update drops id=2 out of day-1's top-2
    (2, "x", 20.0, "2024-01-01 06:00:00", "-U", 5),
    (2, "x", 5.0, "2024-01-01 06:00:00", "+U", 5),
    (5, "y", 50.0, "2024-01-01 09:00:00", "+I", 6),
]
_WT_SCHEMA = (
    f"id long, g string, v double, ts string, {OP_COL} string, "
    f"{SEQ_COL} long"
)
_WT_SQL = (
    "INSERT INTO sink SELECT TUMBLE_START(ts, INTERVAL '1' DAY) AS ws,"
    " g, id, v FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY"
    " TUMBLE(ts, INTERVAL '1' DAY), g ORDER BY v DESC, id) AS rn"
    " FROM src) WHERE rn <= 2"
)


def _wt_log(spark):
    return spark.createDataFrame(_WT_ROWS, _WT_SCHEMA).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


@pytest.mark.parametrize("n_batches", [1, 3])
def test_window_topn_matches_one_shot(spark, n_batches):
    got = replay_insert_maintained(
        _WT_SQL, {"src": ["id"]}, {"src": _wt_log(spark)},
        n_batches=n_batches,
    )
    materialize(_wt_log(spark), ["id"]).createOrReplaceTempView("m_wt")
    direct = spark.sql(
        "SELECT window(ts, '1 day').start AS ws, g, id, v FROM ("
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY window(ts, '1 day'),"
        " g ORDER BY v DESC, id) AS rn FROM m_wt) WHERE rn <= 2"
    )
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, direct.collect()), key=str
    )


def test_window_topn_ttl_evicts_closed_windows(spark):
    job = plan_insert_maintained(_WT_SQL, {"src": ["id"]}, ttl="ts")
    log = _wt_log(spark)
    job.step({"src": log.filter(F.col(SEQ_COL) <= 3)})
    # watermark past day-1's end: the whole day-1 window leaves state;
    # the already-folded sink keeps its rows (TTL forgets state only)
    job.expire("2024-01-03 00:00:00")
    job.step({"src": log.filter(F.col(SEQ_COL) > 3)})
    got = {tuple(map(str, r)) for r in job.result().collect()}
    # day-1 re-ranked rows after expiry: id=2's update re-enters as a
    # fresh day-1 row (state was forgotten) joining the kept sink rows
    assert ("2024-01-02 00:00:00", "x", "4", "30.0") in got


def test_window_dedup_first_per_window(spark):
    """TUMBLE in the PARTITION BY composes with the rank=1 rowtime
    dedup: keep the FIRST row per (window, group) — Flink's window
    deduplication."""
    rows = [
        (1, "u1", "2024-01-01 05:00:00"),
        (2, "u1", "2024-01-01 09:00:00"),   # same day → dup
        (3, "u1", "2024-01-02 01:00:00"),   # next day → fresh
        (4, "u2", "2024-01-01 22:00:00"),
    ]
    log = spark.createDataFrame(rows, "id long, u string, ts string").select(
        "id", "u", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("+I").alias(OP_COL), F.col("id").alias(SEQ_COL),
    )
    sql = (
        "INSERT INTO sink SELECT TUMBLE_START(ts, INTERVAL '1' DAY)"
        " AS ws, u, id FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY"
        " TUMBLE(ts, INTERVAL '1' DAY), u ORDER BY ts) AS rn FROM src)"
        " WHERE rn = 1"
    )
    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
        explain_insert_maintained,
    )

    tables = {"src": {"primary_key": ["id"], "rowtime": "ts"}}
    assert "StreamExecDeduplicate" in explain_insert_maintained(sql, tables)
    got = replay_insert_maintained(sql, tables, {"src": log}, n_batches=3)
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        [
            (datetime.datetime(2024, 1, 1), "u1", 1),
            (datetime.datetime(2024, 1, 2), "u1", 3),
            (datetime.datetime(2024, 1, 1), "u2", 4),
        ],
        key=str,
    )


def test_window_topn_parse_guards():
    with pytest.raises(ValueError, match="does not match the PARTITION"):
        parse_insert_select(
            _WT_SQL.replace("TUMBLE_START(ts, INTERVAL '1' DAY)",
                            "TUMBLE_START(ts, INTERVAL '2' DAY)")
        )
    with pytest.raises(ValueError, match="at most one TUMBLE"):
        parse_insert_select(
            _WT_SQL.replace(
                "PARTITION BY TUMBLE(ts, INTERVAL '1' DAY), g",
                "PARTITION BY TUMBLE(ts, INTERVAL '1' DAY),"
                " TUMBLE(ts, INTERVAL '2' DAY)",
            )
        )


def test_window_dedup_ttl_usable(spark):
    """Review-fix pin: the window-ttl rewrite (ttl=ts -> window end)
    must NOT fire for the dedup dispatch — dedup state rows carry the
    ORDER BY time column itself, so ttl='ts' forgets winners directly."""
    rows = [
        (1, "u1", "2024-01-01 05:00:00"),
        (2, "u2", "2024-01-01 06:00:00"),
        (3, "u1", "2024-01-05 01:00:00"),
    ]
    log = spark.createDataFrame(rows, "id long, u string, ts string").select(
        "id", "u", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("+I").alias(OP_COL), F.col("id").alias(SEQ_COL),
    )
    sql = (
        "INSERT INTO sink SELECT TUMBLE_START(ts, INTERVAL '1' DAY)"
        " AS ws, u, id FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY"
        " TUMBLE(ts, INTERVAL '1' DAY), u ORDER BY ts) AS rn FROM src)"
        " WHERE rn = 1"
    )
    job = plan_insert_maintained(
        sql, {"src": {"primary_key": ["id"], "rowtime": "ts"}}, ttl="ts"
    )
    job.step({"src": log.filter(F.col("id") <= 2)})
    job.expire("2024-01-03 00:00:00")
    job.step({"src": log.filter(F.col("id") == 3)})
    got = {tuple(map(str, r)) for r in job.result().collect()}
    assert ("2024-01-05 00:00:00", "u1", "3") in got
    assert len(got) == 3


def test_statement_set_reads_dedup_sink(spark):
    """A deduplication sink (one winner per partition key) is a
    readable keyed table for later statements — keyed by the PARTITION
    BY columns, not the source PK."""
    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
        SqlStatementSet,
    )

    log = _dr_log(spark)
    ss = SqlStatementSet(
        [
            "INSERT INTO firsts SELECT k, v, ts FROM (SELECT *,"
            " ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts) AS rn"
            " FROM src) WHERE rn = 1",
            "INSERT INTO stats SELECT COUNT(*) AS n,"
            " SUM(CAST(v AS DECIMAL(18,2))) AS sv FROM firsts"
            " GROUP BY GROUPING SETS (())",
        ],
        {"src": _DR_TABLES["src"]},
    )
    hi = 8
    for lo, up in ((0, 4), (4, hi + 1)):
        ss.step({"src": log.filter(
            (F.col(SEQ_COL) >= lo) & (F.col(SEQ_COL) < up)
        )})
    got = [tuple(r) for r in ss.results()["stats"].collect()]
    # winners: a(9.0), b(2.0), c(3.0) — the out-of-order retraction of
    # a's first winner flows through the chained changelog
    assert got == [(3, Decimal("14.00"))]


# ---------------------------------------------------------------------------
# Set operations (Flink's streaming INTERSECT [ALL] / EXCEPT [ALL] —
# count-state rewrite)
# ---------------------------------------------------------------------------

_SO_SCHEMA = f"id long, v string, {OP_COL} string, {SEQ_COL} long"


def _so_logs(spark):
    # A = {x:2, y:1, z:1}; B folds to {x:1, z:1} (one z retracted)
    a = spark.createDataFrame(
        [(1, "x", "+I", 1), (2, "x", "+I", 2), (3, "y", "+I", 3),
         (4, "z", "+I", 4)],
        _SO_SCHEMA,
    ).drop("id")
    b = spark.createDataFrame(
        [(11, "x", "+I", 5), (12, "z", "+I", 6), (13, "z", "+I", 7),
         (12, "z", "-D", 8)],
        _SO_SCHEMA,
    ).drop("id")
    return a, b


@pytest.mark.parametrize("op,expected", [
    ("INTERSECT ALL", {("x",): 1, ("z",): 1}),
    ("INTERSECT", {("x",): 1, ("z",): 1}),
    ("EXCEPT ALL", {("x",): 1, ("y",): 1}),
    ("EXCEPT", {("y",): 1}),
])
@pytest.mark.parametrize("n_batches", [1, 3])
def test_setop_matches_bag_algebra(spark, op, expected, n_batches):
    a, b = _so_logs(spark)
    out = replay_insert_maintained(
        f"INSERT INTO sink SELECT v FROM ta {op} SELECT v FROM tb",
        {"ta": [], "tb": []}, {"ta": a, "tb": b}, n_batches=n_batches,
    )
    got: dict = {}
    for r in out.collect():
        got[(r["v"],)] = got.get((r["v"],), 0) + 1
    assert got == expected, (op, n_batches)


def test_setop_guards_and_explain(spark):
    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
        explain_insert_maintained,
    )

    a, b = _so_logs(spark)
    # >1 set operator refused with STATEMENT SET guidance
    with pytest.raises(ValueError, match="STATEMENT SET"):
        parse_insert_select(
            "INSERT INTO s SELECT v FROM a EXCEPT SELECT v FROM b"
            " EXCEPT SELECT v FROM c"
        )
    # column-count mismatch
    with pytest.raises(ValueError, match="align positionally"):
        parse_insert_select(
            "INSERT INTO s SELECT v, id FROM a INTERSECT SELECT v FROM b"
        )
    # no ttl (no event-time column in count state)
    with pytest.raises(ValueError, match="ttl is not supported"):
        plan_insert_maintained(
            "INSERT INTO s SELECT v FROM ta INTERSECT SELECT v FROM tb",
            {"ta": [], "tb": []}, ttl="v",
        )
    # ALL output is a multiset — keyed changelog render refused;
    # DISTINCT renders fine
    job = plan_insert_maintained(
        "INSERT INTO s SELECT v FROM ta INTERSECT ALL SELECT v FROM tb",
        {"ta": [], "tb": []},
    )
    d = job.step({"ta": a, "tb": b})
    with pytest.raises(ValueError, match="multiset"):
        job.delta_changelog(d, 0)
    job2 = plan_insert_maintained(
        "INSERT INTO s SELECT v FROM ta EXCEPT SELECT v FROM tb",
        {"ta": [], "tb": []},
    )
    d2 = job2.step({"ta": a, "tb": b})
    assert {(r["v"], r[OP_COL]) for r in
            job2.delta_changelog(d2, 0).collect()} == {("y", "+I")}
    txt = explain_insert_maintained(
        "INSERT INTO s SELECT v FROM ta EXCEPT ALL SELECT v FROM tb"
        " WHERE v <> 'q'",
        {"ta": [], "tb": []},
    )
    assert "Streaming set operation" in txt and "EXCEPT ALL" in txt


def test_setop_per_branch_where_and_updates(spark):
    """Per-branch WHEREs are row-local; a cross-batch update on one
    side moves the count state and retracts the emitted diff."""
    a = spark.createDataFrame(
        [(1, "x", 5.0, "+I", 1), (2, "y", 9.0, "+I", 2),
         # x's value update crosses the branch-A WHERE boundary
         (1, "x", 5.0, "-U", 9), (1, "x", 20.0, "+U", 9)],
        f"k long, v string, w double, {OP_COL} string, {SEQ_COL} long",
    )
    b = spark.createDataFrame(
        [(11, "y", 1.0, "+I", 3)],
        f"k long, v string, w double, {OP_COL} string, {SEQ_COL} long",
    )
    out = replay_insert_maintained(
        "INSERT INTO sink SELECT v FROM ta WHERE w < 10"
        " EXCEPT SELECT v FROM tb",
        {"ta": ["k"], "tb": ["k"]}, {"ta": a, "tb": b}, n_batches=4,
    )
    # after the update, x fails branch-A's WHERE → A = {y}; B = {y}
    # → EXCEPT empty
    assert out.count() == 0


# ---------------------------------------------------------------------------
# Window join (Flink's window join): TUMBLE-bucket equality in the ON
# ---------------------------------------------------------------------------

_WJ_SQL = (
    "INSERT INTO sink SELECT a.aid AS aid, b.bid AS bid, a.k AS k,"
    " TUMBLE_START(a.ts, INTERVAL '1' DAY) AS ws"
    " FROM ta a JOIN tb b ON a.k = b.k"
    " AND TUMBLE(a.ts, INTERVAL '1' DAY) = TUMBLE(b.bts, INTERVAL '1' DAY)"
)


def _wj_logs(spark):
    a_rows = [
        (1, "k1", "2024-01-01 05:00:00", "+I", 1),
        (2, "k1", "2024-01-01 23:30:00", "+I", 2),
        (3, "k2", "2024-01-02 01:00:00", "+I", 3),
        # ts-moving update: aid=2 leaves day-1 (retracts its day-1
        # pairs) and enters day-2
        (2, "k1", "2024-01-01 23:30:00", "-U", 7),
        (2, "k1", "2024-01-02 00:30:00", "+U", 7),
    ]
    b_rows = [
        (11, "k1", "2024-01-01 08:00:00", "+I", 4),
        (12, "k1", "2024-01-02 02:00:00", "+I", 5),
        (13, "k2", "2024-01-02 03:00:00", "+I", 6),
        (14, "k1", None, "+I", 8),  # NULL event time never joins
    ]
    a = spark.createDataFrame(
        a_rows, f"aid long, k string, ts string, {OP_COL} string,"
        f" {SEQ_COL} long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b = spark.createDataFrame(
        b_rows, f"bid long, k string, bts string, {OP_COL} string,"
        f" {SEQ_COL} long"
    ).withColumn("bts", F.col("bts").cast("timestamp"))
    return a, b


@pytest.mark.parametrize("n_batches", [1, 4])
def test_window_join_matches_one_shot(spark, n_batches):
    a, b = _wj_logs(spark)
    got = replay_insert_maintained(
        _WJ_SQL, {"ta": ["aid"], "tb": ["bid"]}, {"ta": a, "tb": b},
        n_batches=n_batches,
    )
    ma = materialize(a, ["aid"]).filter(F.col("ts").isNotNull())
    mb = materialize(b, ["bid"]).filter(F.col("bts").isNotNull())
    # direct form: join on key + equal buckets (disambiguated frames)
    wa = ma.select(
        "aid", "k", F.window("ts", "1 day").alias("__w")
    )
    wb = mb.select(
        "bid", F.col("k").alias("bk"),
        F.window("bts", "1 day").alias("__wb"),
    )
    direct = wa.join(
        wb, (F.col("k") == F.col("bk")) & (F.col("__w") == F.col("__wb"))
    ).select("aid", "bid", "k", F.col("__w.start").alias("ws"))
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, direct.collect()), key=str
    )


def test_window_join_guards(spark):
    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
        explain_insert_maintained,
    )

    with pytest.raises(ValueError, match="SAME tumbling interval"):
        parse_insert_select(
            _WJ_SQL.replace(
                "TUMBLE(b.bts, INTERVAL '1' DAY)",
                "TUMBLE(b.bts, INTERVAL '2' DAY)",
            )
        )
    # window equality alone is a per-window cross join — refused
    with pytest.raises(ValueError, match="at least one equi-join"):
        parse_insert_select(_WJ_SQL.replace("a.k = b.k AND ", ""))
    # chains refuse window conjuncts
    with pytest.raises(ValueError, match="two-way joins only"):
        parse_insert_select(
            _WJ_SQL + " JOIN tc c ON c.k = a.k"
        )
    # projecting the padded side's window field on an outer join emits
    # SQL NULL on pad rows (r11, formerly refused) — the presence
    # marker identifies pads, where the physical coalesced bucket
    # carries the probe side's value
    a, b = _wj_logs(spark)
    a = a.unionByName(
        # an a-row with no b partner in its (key, day) cell → pad row
        spark.createDataFrame(
            [(4, "k9", "2024-01-05 01:00:00", "+I", 9)], a.schema.names
        ).withColumn("ts", F.col("ts").cast("timestamp"))
    )
    got = replay_insert_maintained(
        _WJ_SQL.replace("JOIN tb", "LEFT JOIN tb").replace(
            "TUMBLE_START(a.ts, INTERVAL '1' DAY) AS ws",
            "TUMBLE_START(b.bts, INTERVAL '1' DAY) AS ws",
        ),
        {"ta": ["aid"], "tb": ["bid"]}, {"ta": a, "tb": b},
        n_batches=2,
    ).collect()
    pads = [r for r in got if r["bid"] is None]
    assert pads and all(r["ws"] is None for r in pads)
    assert all(
        r["ws"] is not None for r in got if r["bid"] is not None
    )
    # mismatched projection spec
    with pytest.raises(ValueError, match="does not match the ON"):
        parse_insert_select(
            _WJ_SQL.replace(
                "TUMBLE_START(a.ts, INTERVAL '1' DAY)",
                "TUMBLE_START(a.ts, INTERVAL '2' DAY)",
            )
        )
    txt = explain_insert_maintained(
        _WJ_SQL, {"ta": ["aid"], "tb": ["bid"]}
    )
    assert "window join: TUMBLE(a.ts, 1 days)" in txt


def test_window_join_temporal_lookup_refused_and_zero_interval():
    # a TUMBLE equality inside a temporal/lookup ON clause is refused
    # at parse time (previously these refused all non-equi conjuncts;
    # the window-join branch must not half-consume them)
    with pytest.raises(ValueError, match="equi conditions only"):
        parse_insert_select(
            "INSERT INTO sink SELECT a.aid AS aid, b.v AS v FROM ta a"
            " JOIN tb FOR SYSTEM_TIME AS OF a.ts AS b ON a.k = b.k"
            " AND TUMBLE(a.ts, INTERVAL '1' DAY)"
            " = TUMBLE(b.bts, INTERVAL '1' DAY)"
        )
    with pytest.raises(ValueError, match="equi conditions only"):
        parse_insert_select(
            "INSERT INTO sink SELECT a.aid AS aid, b.v AS v FROM ta a"
            " JOIN tb FOR SYSTEM_TIME AS OF PROCTIME() AS b"
            " ON a.k = b.k AND TUMBLE(a.ts, INTERVAL '1' DAY)"
            " = TUMBLE(b.bts, INTERVAL '1' DAY)"
        )
    with pytest.raises(ValueError, match="must be positive"):
        parse_insert_select(
            _WJ_SQL.replace("INTERVAL '1' DAY", "INTERVAL '0' DAY")
        )


@pytest.mark.parametrize("n_batches", [1, 3])
def test_left_window_join_matches_one_shot(spark, n_batches):
    """Outer window join: the pad/retract machinery operates over the
    derived bucket keys — a left row whose window cell gains its first
    match retracts the pad.  (NULL event times drop on BOTH sides
    before windows are assigned — Flink's window assignment; a NULL-ts
    left row therefore never appears, unlike a plain SQL LEFT JOIN.)"""
    a, b = _wj_logs(spark)
    a = a.filter(F.col("ts").isNotNull())
    got = replay_insert_maintained(
        _WJ_SQL.replace("JOIN tb", "LEFT JOIN tb"),
        {"ta": ["aid"], "tb": ["bid"]}, {"ta": a, "tb": b},
        n_batches=n_batches,
    )
    ma = materialize(a, ["aid"]).filter(F.col("ts").isNotNull())
    mb = materialize(b, ["bid"]).filter(F.col("bts").isNotNull())
    wa = ma.select("aid", "k", F.window("ts", "1 day").alias("__w"))
    wb = mb.select(
        "bid", F.col("k").alias("bk"),
        F.window("bts", "1 day").alias("__wb"),
    )
    direct = wa.join(
        wb, (F.col("k") == F.col("bk")) & (F.col("__w") == F.col("__wb")),
        "left",
    ).select("aid", "bid", "k", F.col("__w.start").alias("ws"))
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, direct.collect()), key=str
    )


# ---------------------------------------------------------------------------
# MATCH_RECOGNIZE (Flink's CEP SQL — StreamExecMatch), two-step subset
# ---------------------------------------------------------------------------

_MR_SQL = (
    "INSERT INTO sink SELECT u, a_ts, b_ts, b_v FROM ev"
    " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
    " MEASURES A.ts AS a_ts, B.ts AS b_ts, B.v AS b_v"
    " AFTER MATCH SKIP TO NEXT ROW"
    " PATTERN (A B) WITHIN INTERVAL '1' HOUR"
    " DEFINE A AS A.et = 'signup', B AS B.et = 'error')"
)
_MR_TABLES = {"ev": {"primary_key": ["id"], "rowtime": "ts"}}


def _mr_log(spark, extra=()):
    rows = [
        (1, "u1", "signup", 5.0, "2024-01-01 01:00:00", "+I", 1),
        (2, "u1", "error", 1.0, "2024-01-01 01:30:00", "+I", 2),
        (3, "u1", "click", 2.0, "2024-01-01 02:00:00", "+I", 3),
        (4, "u2", "signup", 3.0, "2024-01-01 01:00:00", "+I", 4),
        # gap > WITHIN — adjacent but too late
        (5, "u2", "error", 9.0, "2024-01-01 09:00:00", "+I", 5),
        (6, "u1", "signup", 7.0, "2024-01-02 01:00:00", "+I", 6),
        (7, "u1", "error", 8.0, "2024-01-02 01:10:00", "+I", 7),
        *extra,
    ]
    return spark.createDataFrame(
        rows,
        f"id long, u string, et string, v double, ts string,"
        f" {OP_COL} string, {SEQ_COL} long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _mr_one_shot(spark, log):
    m = log.drop(OP_COL).filter(F.col("ts").isNotNull())
    m.createOrReplaceTempView("__mr_t")
    return spark.sql(
        "SELECT u, ts AS a_ts, n_ts AS b_ts, n_v AS b_v FROM ("
        " SELECT u, et, ts, LEAD(et) OVER w AS n_et,"
        " LEAD(ts) OVER w AS n_ts, LEAD(v) OVER w AS n_v"
        " FROM __mr_t WINDOW w AS (PARTITION BY u ORDER BY ts, _seq))"
        " WHERE et = 'signup' AND n_et = 'error'"
        " AND n_ts < ts + INTERVAL 1 HOUR"
    )


@pytest.mark.parametrize("n_batches", [1, 4])
def test_match_recognize_matches_one_shot(spark, n_batches):
    log = _mr_log(spark)
    got = replay_insert_maintained(
        _MR_SQL, _MR_TABLES, {"ev": log}, n_batches=n_batches
    )
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, _mr_one_shot(spark, log).collect()), key=str
    )


def test_match_recognize_within_boundary_is_strict(spark):
    """Advisor-fix pin: Flink's CEP/MATCH_RECOGNIZE requires the
    first-to-last gap be STRICTLY shorter than WITHIN — a pair exactly
    `within` apart does not match (and one microsecond under does)."""
    rows = [
        # exactly 1 HOUR apart — must NOT match
        (1, "u9", "signup", 1.0, "2024-03-01 00:00:00", "+I", 1),
        (2, "u9", "error", 2.0, "2024-03-01 01:00:00", "+I", 2),
        # strictly inside — must match
        (3, "u8", "signup", 3.0, "2024-03-01 00:00:00", "+I", 3),
        (4, "u8", "error", 4.0, "2024-03-01 00:59:59.999999", "+I", 4),
    ]
    log = spark.createDataFrame(
        rows,
        f"id long, u string, et string, v double, ts string,"
        f" {OP_COL} string, {SEQ_COL} long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    for n in (1, 2):
        got = replay_insert_maintained(
            _MR_SQL, _MR_TABLES, {"ev": log}, n_batches=n
        )
        assert [r["u"] for r in got.collect()] == ["u8"]


def test_match_recognize_out_of_order_retracts_adjacency(spark):
    """A late row landing BETWEEN a matched pair breaks the contiguity
    and retracts the emitted match — consecutive-ness is stateful and
    the diff maintains it exactly (equals one-shot for any split)."""
    # id=8 arrives LAST but sits between u1's day-1 signup and error:
    # the (signup 01:00, error 01:30) match must retract
    late = [(8, "u1", "click", 0.5, "2024-01-01 01:15:00", "+I", 8)]
    log = _mr_log(spark, extra=late)
    for n in (1, 4):
        got = replay_insert_maintained(
            _MR_SQL, _MR_TABLES, {"ev": log}, n_batches=n
        )
        rows = sorted(map(tuple, got.collect()), key=str)
        assert rows == sorted(
            map(tuple, _mr_one_shot(spark, log).collect()), key=str
        )
        # only the day-2 pair survives for u1
        assert len(rows) == 1


def test_match_recognize_guards(spark):
    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
        explain_insert_maintained,
    )

    # SKIP PAST LAST ROW and quantified patterns route to the NFA plan
    # (shape match_nfa) rather than the two-step LEAD plan — but they
    # need row-classified defines, so the cross-variable-capable
    # two-step grammar still owns PATTERN (A B) + SKIP TO NEXT ROW
    st_past = parse_insert_select(
        _MR_SQL.replace("SKIP TO NEXT ROW", "SKIP PAST LAST ROW")
    )
    assert st_past.shape == "match_nfa"
    assert st_past.match_nfa["skip"] == "past_last"
    with pytest.raises(ValueError, match="collides with a PARTITION"):
        parse_insert_select(_MR_SQL.replace("AS a_ts", "AS u"))
    with pytest.raises(ValueError, match="measure names"):
        parse_insert_select(
            _MR_SQL.replace("SELECT u, a_ts, b_ts, b_v", "SELECT u, v")
        )
    with pytest.raises(ValueError, match="declared event-time column"):
        plan_insert_maintained(
            _MR_SQL.replace("ORDER BY ts", "ORDER BY v"), _MR_TABLES
        )
    job = plan_insert_maintained(_MR_SQL, _MR_TABLES, ttl="ts")
    bad = _mr_log(spark).withColumn(
        OP_COL, F.when(F.col("id") == 2, "-D").otherwise("+I")
    )
    with pytest.raises(ValueError, match="append-only"):
        job.step({"ev": bad})
    d = job.step({"ev": _mr_log(spark)})
    with pytest.raises(ValueError, match="multiset"):
        job.delta_changelog(d, 0)
    txt = explain_insert_maintained(_MR_SQL, _MR_TABLES, ttl="ts")
    assert "StreamExecMatch" in txt and "pattern: (A B) within" in txt


def test_match_recognize_retention_and_ttl(spark):
    """State keeps only rows within WITHIN of each key's max event
    time; ttl additionally evicts behind an explicit watermark."""
    job = plan_insert_maintained(_MR_SQL, _MR_TABLES, ttl="ts")
    log = _mr_log(spark)
    job.step({"ev": log.filter(F.col("id") <= 5)})
    state_ts = {str(r["ts"]) for r in job._state.collect()}
    # u1's max is 02:00 → rows at/after 01:00 (inclusive boundary: a
    # tie-timestamped future row can still pair) stay; u2's max is
    # 09:00 → its 01:00 row pruned
    assert state_ts == {
        "2024-01-01 01:00:00", "2024-01-01 01:30:00",
        "2024-01-01 02:00:00", "2024-01-01 09:00:00",
    }
    job.expire("2024-01-01 12:00:00")
    assert job._state.count() == 0
    job.step({"ev": log.filter(F.col("id") > 5)})
    assert job.result().count() == 2


def test_streaming_match_recognize_matches_one_shot(spark, tmp_path):
    """MATCH_RECOGNIZE through a REAL Structured Streaming query:
    per-microbatch adjacency maintenance over WITHIN-bounded key pools
    lands on the one-shot LEAD predicate, with pairs crossing
    microbatch boundaries."""
    from flink_cdc_2_3_0_src_spark.streaming.replay import (
        read_replay_stream,
        write_replay_files,
    )

    log = _mr_log(spark)
    replay_dir = str(tmp_path / "replay_match")
    write_replay_files(log, replay_dir, n_files=4)
    job = plan_insert_maintained(_MR_SQL, _MR_TABLES)

    def process(batch_df, batch_id):
        job.step({"ev": batch_df})

    q = (
        read_replay_stream(spark, replay_dir, log.schema)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_match"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(map(tuple, job.result().collect()), key=str) == sorted(
        map(tuple, _mr_one_shot(spark, log).collect()), key=str
    )


def test_match_recognize_ref_rules(spark):
    """Review-fix pins: unqualified column refs are refused (SQL binds
    them to the row being classified, which the LEAD frame cannot
    honor), lowercase variable refs rewrite like the case-insensitive
    grammar, unknown qualifiers refuse, and a near-miss
    MATCH_RECOGNIZE statement gets a targeted error."""
    with pytest.raises(ValueError, match="unqualified column"):
        parse_insert_select(
            _MR_SQL.replace("B AS B.et = 'error'", "B AS et = 'error'")
        )
    with pytest.raises(ValueError, match="unqualified column"):
        parse_insert_select(
            _MR_SQL.replace("A.ts AS a_ts", "ts AS a_ts")
        )
    with pytest.raises(ValueError, match="unknown pattern variable"):
        parse_insert_select(
            _MR_SQL.replace("B AS B.et = 'error'", "B AS C.et = 'error'")
        )
    # a bare column named like a SQL keyword is a column too: the LEAD
    # frame would read the A row's `hour`, and a per-match measure has
    # no row to read `day` from
    with pytest.raises(ValueError, match="unqualified column"):
        parse_insert_select(
            _MR_SQL.replace("B AS B.et = 'error'",
                            "B AS B.et = 'error' AND hour = 3")
        )
    with pytest.raises(ValueError, match="unqualified column"):
        parse_insert_select(
            _MR_SQL.replace("PATTERN (A B)", "PATTERN (A B+)")
            .replace("B.v AS b_v", "MAX(B.v) + day AS b_v")
        )
    # near-miss (DESC order) → targeted grammar error, not _SHAPES_MSG
    with pytest.raises(ValueError, match="maintained "
                                         "subset is: SELECT"):
        parse_insert_select(_MR_SQL.replace("ORDER BY ts", "ORDER BY ts DESC"))
    # lowercase variable refs follow the case-insensitive grammar
    st = parse_insert_select(
        _MR_SQL.replace("A AS A.et = 'signup'", "a AS a.et = 'signup'")
        .replace("B AS B.et = 'error'", "b AS b.et = 'error'")
        .replace("PATTERN (A B)", "pattern (a b)")
        .replace("A.ts AS a_ts", "a.ts AS a_ts")
        .replace("B.ts AS b_ts", "b.ts AS b_ts")
        .replace("B.v AS b_v", "b.v AS b_v")
    )
    assert st.match["define_b"] == "__b.et = 'error'"
    assert st.match["define_a"] == "et = 'signup'"


def test_prepass_routing_parses_without_error_or_job(spark, monkeypatch):
    """MATCH_RECOGNIZE and the column-valued FOR SYSTEM_TIME AS OF are
    the two forms Spark's grammar refuses: they are routed by keyword
    before any Catalyst call, so no parsePlan raises (a failed parse
    costs ~100 ms and logs an ERROR trace), the MATCH_RECOGNIZE
    pre-pass sends Catalyst only its DEFINE and MEASURES expressions,
    never the statement, and parsing starts no Spark job."""
    from flink_cdc_2_3_0_src_spark.plans import sql_maintain as sm

    calls = []
    real = sm.catalyst_parse

    def recording(text, *args, **kwargs):
        try:
            out = real(text, *args, **kwargs)
        except Exception as exc:
            calls.append((text, exc))
            raise
        calls.append((text, None))
        return out

    monkeypatch.setattr(sm, "catalyst_parse", recording)
    sc = spark.sparkContext
    sc.setJobGroup("prepass-routing", "parse only")
    try:
        st = parse_insert_select(_MR_SQL)
        nfa = parse_insert_select(
            _MR_SQL.replace("PATTERN (A B)", "PATTERN (A B+)")
        )
        assert st.shape == "match" and nfa.shape == "match_nfa"
        assert calls and all(
            exc is None and "MATCH_RECOGNIZE" not in text
            for text, exc in calls
        )
        calls.clear()
        for how in ("", "LEFT "):
            st = parse_insert_select(
                "INSERT INTO s SELECT p.k, d.v FROM probe p "
                f"{how}JOIN dim FOR SYSTEM_TIME AS OF p.pts AS d "
                "ON p.k = d.k"
            )
            assert st.shape == "temporal"
            assert st.temporal == ("p", "pts", "d")
            assert st.join_how == (how.strip().lower() or "inner")
        assert len(calls) == 2
        assert all(exc is None for _text, exc in calls)
        assert not sc.statusTracker().getJobIdsForGroup("prepass-routing")
    finally:
        sc.setJobGroup(None, None)


def test_catalyst_front_end_reads_the_statement_text():
    """Expression strings are the statement's own text: a BETWEEN pair
    predicate keeps its spacing, a comment is not part of a clause, and
    pre-pass keywords inside string literals route nothing; an
    aggregate FILTER (not maintained) and a column-valued AS OF outside
    a join stage are refused instead of dropped."""
    st = parse_insert_select(
        "INSERT INTO s SELECT a.k, b.v FROM ta a JOIN tb b ON a.k = b.k "
        "AND a.ts BETWEEN b.ts - INTERVAL '1' HOUR AND b.ts"
    )
    assert st.join_extra == [
        "a.ts BETWEEN b.ts - INTERVAL '1' HOUR AND b.ts"
    ]
    st = parse_insert_select(
        "INSERT INTO s SELECT g, SUM(v) AS sv FROM t /* c */ WHERE v > 0 "
        "-- trailing\nGROUP BY g"
    )
    assert (st.shape, st.where) == ("agg", "v > 0")
    assert st.aggs == {"sv": ("sum", "v")}
    st = parse_insert_select(
        "INSERT INTO s SELECT v FROM t WHERE note <> 'MATCH_RECOGNIZE' "
        "AND tag <> 'FOR SYSTEM_TIME AS OF a.b'"
    )
    assert st.shape == "calc"
    assert st.where == (
        "note <> 'MATCH_RECOGNIZE' AND tag <> 'FOR SYSTEM_TIME AS OF a.b'"
    )
    with pytest.raises(ValueError, match="neither a GROUP BY column"):
        parse_insert_select(
            "INSERT INTO s SELECT g, SUM(v) FILTER (WHERE v > 0) AS sv "
            "FROM t GROUP BY g"
        )
    with pytest.raises(ValueError, match="unsupported INSERT-SELECT shape"):
        parse_insert_select(
            "INSERT INTO s SELECT g, SUM(v) AS sv FROM t "
            "FOR SYSTEM_TIME AS OF t.ts GROUP BY g"
        )


def test_refused_parse_raises_without_logging_a_jvm_trace(spark, capfd):
    """A statement or ORDER BY item Catalyst refuses surfaces once, as
    SqlParseError (a ValueError) — PySpark's ERROR record of the
    captured ParseException, with its JVM stack trace, must not reach
    stderr.  A transport failure is not bad SQL: it propagates as
    itself."""
    from py4j.protocol import Py4JNetworkError

    from flink_cdc_2_3_0_src_spark.operators.changelog import _parse_order_sql
    from flink_cdc_2_3_0_src_spark.session import (
        SqlParseError,
        catalyst_parse,
    )

    capfd.readouterr()
    # a typed-literal error carries a SQL query context, which is what
    # makes PySpark log it; a plain syntax error is refused too
    for bad in ("SELECT DATE 'not-a-date' AS d", "SELECT g,,"):
        with pytest.raises(SqlParseError):
            parse_insert_select(f"INSERT INTO s {bad} FROM t")
    for bad in ("DATE 'nope' DESC", "v DESC NULLS SIDEWAYS"):
        with pytest.raises(ValueError, match="order_sql item"):
            _parse_order_sql(bad)
    err = capfd.readouterr().err
    for leak in ("ParseException", "SQLQueryContextLogger", "org.apache.spark"):
        assert leak not in err, err

    class _Parser:
        def parsePlan(self, text):
            raise Py4JNetworkError("answer from the JVM was empty")

    class _Session:
        def sessionState(self):
            return self

        def sqlParser(self):
            return _Parser()

    class _Spark:
        _jsparkSession = _Session()

    with pytest.raises(Py4JNetworkError):
        catalyst_parse("SELECT 1", spark=_Spark())
    # the log filter is scoped to the parse: a later captured error on
    # this thread is logged as PySpark logs it
    from flink_cdc_2_3_0_src_spark.session import _PARSING

    assert not _PARSING.active
