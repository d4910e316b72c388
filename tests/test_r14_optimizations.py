"""Focused pins for the round-14 optimization rewrites.

Each test targets an operator whose INTERNALS changed for performance
with output contractually identical:

  - _MatchNfaPlan._scan: explicit repartition before the grouped-
    pandas NFA scan (AQE's size-based coalescing had folded every key
    into ONE task — 10-16s per batch at sf0.1);
  - io.pin: skips frames that are already
    checkpoint scans (plans that self-checkpoint state were paying a
    second eager materialization job per state piece per batch) — but
    still materializes a LogicalRDD-rooted frame whose RDD is neither
    checkpointed nor persisted (``createDataFrame``);
  - cms_heavy_hitters: the probe reads cells through a broadcast join
    instead of a driver collect folded back as literal arrays
    (min(coalesce(n,0)) over d joined cells == least(element_at(...)));
  - spread_small_scan min_bytes gate: a sub-split corpus keeps the
    exchange-free scan plan (ann_topk), an explicit-splits caller is
    unaffected.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_nfa_explode_repartitions_before_grouped_pandas(spark):
    """The NFA pandas scan must not run all keys in one task: the plan
    carries an explicit REPARTITION exchange (coalescing-exempt)
    feeding FlatMapGroupsInPandas, and no SECOND exchange between them
    (the repartition hash-satisfies the groupBy distribution)."""
    from flink_cdc_2_3_0_src_spark.operators.maintain import _MatchNfaPlan

    plan = _MatchNfaPlan(
        {
            "partition": ["u"],
            "order": "ts",
            "within": "1 day",
            "pattern": "A B+",
            "defines": {"A": "et = 'view'", "B": "et = 'click'"},
            "measures": [("count(*)", "n")],
        },
        ttl=None,
        op_col="__op",
        seq_col="__seq",
    )
    frame = spark.createDataFrame(
        [("u1", "2024-01-01 00:00:00", "view", 1, False, True)],
        "u string, ts string, et string, __seq long, __cns boolean,"
        " __new boolean",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    import re

    txt = _plan(plan._scan(frame, 4))
    assert "FlatMapGroupsInPandas" in txt
    # exactly one exchange feeds the pandas node, and it is the
    # explicit coalescing-exempt hash repartition
    n_exch = len(re.findall(r"\(\d+\) Exchange", txt))
    assert n_exch == 1, txt
    assert "REPARTITION_BY_NUM" in txt, txt


def test_ckpt_skips_already_checkpointed_frames(spark):
    from flink_cdc_2_3_0_src_spark.io import pin

    df = spark.range(3).withColumn("v", F.col("id") * 2)
    assert pin(df) is not df
    ck = df.localCheckpoint(eager=True)
    # idempotent: the SAME frame comes back, no re-materialization
    assert pin(ck) is ck
    # non-checkpointed frames still get checkpointed
    out = pin(df)
    assert out is not df and pin(out) is out
    # tuples recurse, None passes through
    t = pin((ck, None, df))
    assert t[0] is ck and t[1] is None and pin(t[2]) is t[2]
    # a lazy checkpoint is checkpoint state too (marked, not yet run)
    lazy = df.localCheckpoint(eager=False)
    assert pin(lazy) is lazy


def test_ckpt_materializes_create_dataframe_state(spark):
    """A ``createDataFrame`` frame is rooted at a LogicalRDD too, but
    its RDD is neither checkpointed nor persisted: it is not a
    checkpoint scan, so state built from it still gets materialized."""
    from flink_cdc_2_3_0_src_spark.io import pin

    state = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    root = state._jdf.queryExecution().logical().getClass().getSimpleName()
    assert root == "LogicalRDD"
    out = pin(state)
    assert out is not state and pin(out) is out
    assert sorted(map(tuple, out.collect())) == [(1, "a"), (2, "b")]


def test_cms_broadcast_probe_matches_literal_fold(spark):
    """The r14 broadcast-join probe must compute the exact estimates
    the r13 literal-array fold computed: min over the d cells with
    absent cells read as 0."""
    from flink_cdc_2_3_0_src_spark.io import load_table
    from flink_cdc_2_3_0_src_spark.operators.sketch import (
        _ROWS,
        cms_build,
        cms_heavy_hitters,
    )
    from flink_cdc_2_3_0_src_spark.functions.hashing import (
        poly_hash_expr,
        tokens,
    )

    docs = load_table(spark, SF, "documents")
    got = {
        r["tok"]: (r["exact_n"], r["cms_n"], r["overestimate"])
        for r in cms_heavy_hitters(docs, top_k=10, width=64).collect()
    }
    # reference: the old driver-side fold over the collected matrix
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .select("tok", "exact_n", poly_hash_expr(F.col("tok")).alias("h"))
    )
    mat = cms_build(vocab, width=64, weight_col="exact_n")
    P = 2_147_483_647
    ref_rows = vocab.orderBy(
        F.col("exact_n").desc(), F.col("tok")
    ).limit(10).collect()
    assert len(got) == len(ref_rows)
    for r in ref_rows:
        h = (r["h"] % P + P) % P
        est = min(
            mat.get((ri, ((a * h + b) % P) % 64), 0)
            for ri, (a, b) in enumerate(_ROWS)
        )
        assert got[r["tok"]] == (r["exact_n"], est, est - r["exact_n"]), r


def test_cms_heavy_hitters_order(spark):
    """The documented row order: ``exact_n`` descending, then ``tok``
    (the probe's groupBy alone would leave it arbitrary)."""
    from flink_cdc_2_3_0_src_spark.io import load_table
    from flink_cdc_2_3_0_src_spark.operators.sketch import cms_heavy_hitters

    docs = load_table(spark, SF, "documents")
    rows = [
        (r["exact_n"], r["tok"])
        for r in cms_heavy_hitters(docs, top_k=15, width=64).collect()
    ]
    assert len(rows) == 15
    assert rows == sorted(rows, key=lambda t: (-t[0], t[1]))


def test_spread_min_bytes_gate(spark):
    from flink_cdc_2_3_0_src_spark.io import (
        load_table,
        max_partition_bytes,
        spread_small_scan,
    )

    par = spark.sparkContext.defaultParallelism
    one_file = load_table(spark, SF, "embeddings").select("vec_id")
    # tiny single-file scan + a bound larger than the file: NOT spread
    gated = spread_small_scan(one_file, "vec_id", min_bytes=1 << 30)
    assert "Exchange" not in _plan(gated)
    # same scan without the bound: spread (the r13 behavior)
    spread = spread_small_scan(one_file, "vec_id")
    assert "Exchange" in _plan(spread)
    # explicit expected_splits hint bypasses the stat loop and the gate
    hinted = spread_small_scan(
        one_file, "vec_id", expected_splits=par, min_bytes=1 << 30
    )
    assert "Exchange" not in _plan(hinted)
    assert max_partition_bytes(spark) > 0


@pytest.mark.parametrize(
    "raw, want",
    [
        ("1t", 1 << 40),
        ("64MB", 64 << 20),
        ("134217728", 134217728),
        ("12 parsecs", 128 << 20),
        ("lots", 128 << 20),
    ],
)
def test_max_partition_bytes_parse(raw, want):
    """Byte-size units up to ``t``/``tb``; a value the parser does not
    read falls back to Spark's 128 MiB default instead of raising."""
    from types import SimpleNamespace

    from flink_cdc_2_3_0_src_spark.io import max_partition_bytes

    session = SimpleNamespace(conf=SimpleNamespace(get=lambda _k, _d: raw))
    assert max_partition_bytes(session) == want
