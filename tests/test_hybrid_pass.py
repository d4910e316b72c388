"""Shape of the DBLog snapshot phase: all chunk images come from one
keyed pass, so a hybrid run's job and shuffle counts do not grow with
the number of chunks."""

from __future__ import annotations

import re

from flink_cdc_2_3_0_src_spark.model import ChunkRange
from flink_cdc_2_3_0_src_spark.sources.scripted_log import scripted_changelog
from flink_cdc_2_3_0_src_spark.streaming.hybrid import HybridPipeline
from tests.conftest import SF_SMOKE


def _run_shape(spark, log, chunks):
    """(jobs started, Exchange nodes in the executed plan) of one run()
    and its counted result, with staggered brackets so every chunk
    backfills."""
    sc = spark.sparkContext
    group = f"hybrid-pass-{len(chunks)}"
    sc.setJobGroup(group, "hybrid run over chunks")
    try:
        final = HybridPipeline(spark, log, ["user_id"]).run(
            chunks, "user_id", watermarks=lambda i: (100 + 50 * i, 200 + 50 * i))
        plan = final._jdf.queryExecution().executedPlan().toString()
        assert final.count() > 0
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
    return jobs, len(re.findall(r"\bExchange\b", plan))


def test_snapshot_pass_shape_does_not_grow_with_chunks(spark):
    three = [ChunkRange(None, 5), ChunkRange(5, 10), ChunkRange(10, None)]
    # user_id spans 0..14 in the smoke log: 16 chunks, each one key wide
    sixteen = ([ChunkRange(None, 1)] + [ChunkRange(k, k + 1) for k in range(1, 15)]
               + [ChunkRange(15, None)])
    # the session's first read of the log file infers its schema in a
    # job of its own; that job belongs to neither run
    log = scripted_changelog(spark, SF_SMOKE)
    jobs3, exchanges3 = _run_shape(spark, log, three)
    jobs16, exchanges16 = _run_shape(spark, log, sixteen)
    assert jobs3 == jobs16 <= 5, (jobs3, jobs16)
    assert exchanges3 <= 2 and exchanges16 <= 2, (exchanges3, exchanges16)
