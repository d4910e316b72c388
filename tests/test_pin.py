"""``io.pin``: the engine's one materialisation helper.

Every local checkpoint in the package goes through ``pin``, which
re-wraps the checkpointed rows as a bare LogicalRDD: the checkpoint's
size statistics survive (the planner can still broadcast the frame),
its source plan's constraints do not (a union with a constrained
checkpoint can fail Spark's constraint rewrite on an outer join's
presence column), and pinning a pinned frame is free.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.io import pin
from flink_cdc_2_3_0_src_spark.model import OP_COL, SEQ_COL

PKG = pathlib.Path(__file__).resolve().parent.parent / "flink_cdc_2_3_0_src_spark"


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan()


def _frames(x):
    if x is None:
        return []
    if isinstance(x, tuple):
        return [f for m in x for f in _frames(m)]
    return [x]


def test_pin_drops_constraints_keeps_size_statistics(spark):
    df = spark.range(1000).filter("id > 5").withColumn("k", F.col("id") % 7)
    ref = df.localCheckpoint()
    assert not _optimized(ref).constraints().isEmpty()
    out = pin(df)
    plan = _optimized(out)
    assert plan.constraints().isEmpty()
    assert plan.stats().sizeInBytes() == _optimized(ref).stats().sizeInBytes()
    assert out.count() == 994
    assert out.agg(F.sum("id")).collect()[0][0] == 499485


def test_pin_of_pinned_frame_is_the_same_frame_and_starts_no_job(spark):
    sc = spark.sparkContext
    for fanout in (False, True):
        once = pin(spark.range(10).withColumn("v", F.col("id") + 1), fanout)
        group = f"pin-idempotent-{fanout}"
        sc.setJobGroup(group, "pin of a pinned frame")
        try:
            assert pin(once) is once
            assert pin(once, fanout=True) is once
            assert not sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setJobGroup(None, None)


def test_package_checkpoints_only_through_pin():
    offenders = [
        f"{path.relative_to(PKG)}:{n}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "io.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if ".localCheckpoint(" in line
    ]
    assert not offenders, (
        "materialise through flink_cdc_2_3_0_src_spark.io.pin, not "
        f"localCheckpoint: {offenders}"
    )


def test_sql_maintenance_job_keeps_no_constrained_frame(spark):
    """A 3-batch replay of an outer join through SqlMaintenanceJob:
    every frame the job keeps between batches (plan state, the sink
    accumulator) and every delta ``step()`` returns is a bare scan of
    pinned rows, with no constraint inherited from its source plan."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        seq_range_conditions,
    )
    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
        plan_insert_maintained,
    )

    def _log(rows, cols):
        return spark.createDataFrame(
            [(*r, op, i) for i, (*r, op) in enumerate(rows)],
            f"{cols}, {OP_COL} string, {SEQ_COL} long",
        )

    ta = _log(
        [(1, "x1", "+I"), (2, "x2", "+I"), (3, "x3", "+I"),
         (1, "x1", "-D"), (4, "x4", "+I"), (5, "x5", "+I")],
        "k long, x string",
    )
    tb = _log(
        [(2, "y2", "+I"), (4, "y4", "+I"), (6, "y6", "+I"),
         (4, "y4", "-D"), (5, "y5", "+I"), (7, "y7", "+I")],
        "kb long, y string",
    )
    job = plan_insert_maintained(
        "INSERT INTO s SELECT a.x AS x, b.kb AS bk "
        "FROM ta a LEFT JOIN tb b ON a.k = b.kb",
        {"ta": ["k"], "tb": ["kb"]},
    )
    for cond in seq_range_conditions(5, 3):
        delta = job.step({"ta": ta.filter(cond), "tb": tb.filter(cond)})
        kept = _frames(job._state) + [job._acc, delta]
        assert len(kept) >= 3
        for frame in kept:
            constraints = _optimized(frame).constraints()
            assert constraints.isEmpty(), constraints.toString()
    got = sorted(map(tuple, job.result().collect()), key=str)
    assert got == sorted(
        [("x2", 2), ("x3", None), ("x4", None), ("x5", 5)], key=str
    )
