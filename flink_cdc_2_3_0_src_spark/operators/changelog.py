"""Changelog-aware relational operators (Part B of SURVEY.md §2).

The reference delegates all relational processing to Flink SQL but its
test suite asserts correctness of that surface over changelogs (e.g.
``SELECT name, SUM(weight) FROM src GROUP BY name`` over updates+deletes,
MySqlConnectorITCase.java:213-271). This module provides the Spark
primitives that make plain DataFrame ops changelog-correct:

  materialize(df, keys)   — latest image per key, deletes removed (B5
                            upsert materialization; Flink's planner calls
                            this ChangelogNormalize)
  signed_agg(...)         — retraction-aware SUM/COUNT/AVG via signed
                            deltas (B4): rows with op in (-U, -D) count
                            negatively, so a plain groupBy().sum() over
                            the signed column equals the aggregate over
                            the materialized state
  normalize_upsert(...)   — recover -U images for upsert-only sources
                            (Mongo/TiDB shape, §1.1)
  expand_updates(...)     — Debezium before/after envelope → -U/+U pairs
                            (RowDataDebeziumDeserializeSchema.java:123-145)
  append_metadata(...)    — §1.5 virtual columns

Scale notes: materialize() is one shuffle on the key (max_by aggregation,
partial-agg on the map side, AQE-coalesced); signed_agg avoids
materialization entirely — a single shuffle straight to the aggregate,
which is the plan you want at 100 TB (no per-key state, no window sort).
"""

from __future__ import annotations

import re
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.io import pin
from flink_cdc_2_3_0_src_spark.model import (
    DB_COL,
    OP_COL,
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE_AFTER,
    OP_UPDATE_BEFORE,
    SEQ_COL,
    TABLE_COL,
)
from flink_cdc_2_3_0_src_spark.session import SqlParseError, catalyst_parse


def materialize(
    df: DataFrame,
    keys: Sequence[str],
    seq_col: str = SEQ_COL,
    op_col: str = OP_COL,
    keep_meta: bool = False,
) -> DataFrame:
    """Latest row image per key with deletes removed (B5).

    Implemented as max_by over the change sequence — a single hash
    aggregation (one shuffle, map-side partial agg) instead of a window
    sort; at scale this is O(n) with no per-partition sort. -U rows are
    retraction images and never the final state, so they are filtered
    before aggregation (they share the seq of their +U in some encodings).
    """
    data_cols = [c for c in df.columns if c not in (op_col, seq_col)]
    payload = F.struct(*[F.col(c) for c in data_cols], F.col(op_col).alias("__op"))
    # DML ops only: -U retraction images are never final state, and +H/+S
    # control rows carry no row image — either would otherwise become a
    # ghost latest image (typically of the null key)
    latest = (
        df.filter(F.col(op_col).isin(OP_INSERT, OP_UPDATE_AFTER, OP_DELETE))
        .groupBy(*[F.col(k) for k in keys])
        .agg(F.max_by(payload, F.col(seq_col)).alias("__row"))
    )
    alive = latest.filter(F.col("__row.__op") != OP_DELETE)
    out_cols = [F.col(f"__row.{c}").alias(c) for c in data_cols if c not in keys]
    result = alive.select(*[F.col(k) for k in keys], *out_cols)
    if keep_meta:
        return result
    meta = [c for c in (DB_COL, TABLE_COL) if c in result.columns]
    return result.drop(*meta) if meta else result


def merge_agg_state(
    state: Optional[DataFrame],
    batch: DataFrame,
    group_cols: Sequence[str],
    sum_cols: dict[str, Column],
    op_col: str = OP_COL,
) -> DataFrame:
    """Incremental maintenance of a grouped signed aggregate across
    microbatches (the foreachBatch form of B4): the existing aggregate
    state is unioned with the batch's signed deltas and re-summed —
    work per batch is O(batch + |groups|), never a rescan of history.

    state columns: group_cols + sum names + '__rows' (live row count);
    pass state=None for the first batch. Groups whose live count drops
    to zero are removed (full retraction).
    """
    deltas = batch.filter(
        F.col(op_col).isin(
            OP_INSERT, OP_UPDATE_AFTER, OP_UPDATE_BEFORE, OP_DELETE
        )
    ).groupBy(*group_cols).agg(
        *[signed_sum(c, op_col).alias(name) for name, c in sum_cols.items()],
        signed_count(op_col).alias("__rows"),
    )
    if state is None:
        merged = deltas
    else:
        merged = (
            state.unionByName(deltas)
            .groupBy(*group_cols)
            .agg(
                *[F.sum(name).alias(name) for name in sum_cols],
                F.sum("__rows").alias("__rows"),
            )
        )
    return merged.filter(F.col("__rows") > 0)


def ensure_retractions(
    df: DataFrame,
    mode,
    keys: Sequence[str],
    seq_col: str = SEQ_COL,
    op_col: str = OP_COL,
) -> DataFrame:
    """Declared-changelog-mode dispatch (§1.1).

    Sources declare what they can emit (MySQL-shape ALL vs Mongo/TiDB
    upsert); consumers needing retractions (-U) call this instead of
    hardcoding normalize_upsert — the planner-level decision Flink's
    ChangelogNormalize rule makes from the source's ChangelogMode.
    ALL-mode streams pass through untouched (no shuffle spent).
    """
    from flink_cdc_2_3_0_src_spark.model import ChangelogMode

    if mode == ChangelogMode.ALL:
        return df
    return normalize_upsert(df, keys, seq_col=seq_col, op_col=op_col)


def compact_changelog(
    df: DataFrame,
    keys: Sequence[str],
    seq_col: str = SEQ_COL,
    op_col: str = OP_COL,
) -> DataFrame:
    """Collapse a changelog to its minimal equivalent: one row per key —
    the latest live image re-emitted as +I, or a -D tombstone.

    Replaying the compacted log through materialize() yields exactly the
    state of replaying the full log (log-compaction semantics, same
    contract as a compacted Kafka topic). One max_by aggregation — a
    single shuffle, no window sort.
    """
    data_cols = [c for c in df.columns if c not in (op_col, seq_col)]
    payload = F.struct(*[F.col(c) for c in data_cols], F.col(op_col).alias("__op"))
    # DML ops only: -U is never final state; +H/+S control rows carry
    # no row image and must not compact into a ghost upsert
    latest = (
        df.filter(F.col(op_col).isin(OP_INSERT, OP_UPDATE_AFTER, OP_DELETE))
        .groupBy(*[F.col(k) for k in keys])
        .agg(F.max_by(payload, F.col(seq_col)).alias("__row"))
    )
    return latest.select(
        *[F.col(k) for k in keys],
        *[F.col(f"__row.{c}").alias(c) for c in data_cols if c not in keys],
        F.when(F.col("__row.__op") == OP_DELETE, F.lit(OP_DELETE))
        .otherwise(F.lit(OP_INSERT))
        .alias(op_col),
    )


def signed(value: Column, op_col: str = OP_COL) -> Column:
    """value with retraction sign applied: -1 for -U/-D, +1 otherwise (B4)."""
    return F.when(
        F.col(op_col).isin(OP_UPDATE_BEFORE, OP_DELETE), -value
    ).otherwise(value)


def signed_count(op_col: str = OP_COL) -> Column:
    """COUNT with retractions: +1 for +I/+U, -1 for -U/-D."""
    return F.sum(
        F.when(F.col(op_col).isin(OP_UPDATE_BEFORE, OP_DELETE), F.lit(-1)).otherwise(
            F.lit(1)
        )
    )


def signed_sum(value: Column, op_col: str = OP_COL) -> Column:
    return F.sum(signed(value, op_col))


def signed_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    sum_cols: dict[str, Column],
    op_col: str = OP_COL,
) -> DataFrame:
    """Grouped retraction-aware aggregation (B4).

    Exact for SUM/COUNT/AVG; MIN/MAX are not retraction-computable without
    state — use materialize() then aggregate for those.
    """
    aggs = [signed_sum(c, op_col).alias(name) for name, c in sum_cols.items()]
    dml = df.filter(
        F.col(op_col).isin(
            OP_INSERT, OP_UPDATE_AFTER, OP_UPDATE_BEFORE, OP_DELETE
        )
    )
    return dml.groupBy(*group_cols).agg(*aggs)


def agg_auto(
    df: DataFrame,
    keys: Sequence[str],
    group_cols: Sequence[str],
    aggs: dict[str, tuple[str, Column]],
    seq_col: str = SEQ_COL,
    op_col: str = OP_COL,
) -> DataFrame:
    """Changelog-aware aggregate planner (the rewrite SURVEY §4 notes a
    Catalyst rule could do; here it's an explicit planning helper).

    ``aggs`` maps output name -> (fn, value column) with fn in
    {sum, count, avg, min, max}. Decomposable aggregates (sum/count/avg)
    are evaluated with signed deltas — a single shuffle straight off the
    changelog, no per-key state. min/max are not retraction-computable,
    so if any is requested the input is materialized first (latest image
    per key) and aggregated normally. Either way the result equals the
    aggregate over the materialized state.
    """
    fns = {fn for fn, _ in aggs.values()}
    unsupported = fns - {"sum", "count", "avg", "min", "max"}
    if unsupported:
        raise ValueError(f"unsupported aggregate(s): {sorted(unsupported)}")
    if fns & {"min", "max"}:
        m = materialize(df, keys, seq_col=seq_col, op_col=op_col)
        exprs = []
        for name, (fn, col) in aggs.items():
            if fn == "count":
                exprs.append(F.count(F.lit(1)).alias(name))
            elif fn == "avg":
                exprs.append(
                    (F.sum(col).cast("double") / F.count(col).cast("double")).alias(name)
                )
            else:
                exprs.append(getattr(F, fn)(col).alias(name))
        return m.groupBy(*group_cols).agg(*exprs)
    exprs = []
    for name, (fn, col) in aggs.items():
        if fn == "sum":
            exprs.append(signed_sum(col, op_col).alias(name))
        elif fn == "count":
            exprs.append(signed_count(op_col).alias(name))
        else:  # avg = signed sum / signed NON-NULL count — SQL AVG
            # excludes NULLs from the denominator, so this matches both
            # the materialized branch's count(col) and DuckDB's AVG
            exprs.append(
                (
                    F.sum(signed(col, op_col)).cast("double")
                    / F.nullif(
                        signed_sum(
                            F.when(col.isNotNull(), F.lit(1)).otherwise(
                                F.lit(0)
                            ),
                            op_col,
                        ),
                        F.lit(0),
                    ).cast("double")
                ).alias(name)
            )
    dml = df.filter(
        F.col(op_col).isin(
            OP_INSERT, OP_UPDATE_AFTER, OP_UPDATE_BEFORE, OP_DELETE
        )
    )
    return (
        dml.groupBy(*group_cols)
        .agg(*exprs, signed_count(op_col).alias("__live"))
        .filter(F.col("__live") > 0)
        .drop("__live")
    )


def normalize_upsert(
    df: DataFrame,
    keys: Sequence[str],
    seq_col: str = SEQ_COL,
    op_col: str = OP_COL,
) -> DataFrame:
    """Upsert stream (+I/+U/-D, after-images only) → full changelog with
    -U before-images (the ChangelogNormalize step Flink's planner inserts
    for Mongo/TiDB-shape sources, §1.1).

    Requires per-key ordering state → window over (key, seq). This is the
    one operator that genuinely needs a per-key sort; it's still a single
    shuffle and the sort is bounded per key.

    The emitted -U row carries the *previous* image with seq of the change
    that retracts it minus nothing — we interleave via a fractional order:
    each change at seq s emits its -U at the same s (retraction first by
    op ordering).
    """
    w = Window.partitionBy(*keys).orderBy(seq_col)
    data_cols = [c for c in df.columns if c not in (op_col, seq_col)]
    # upsert contract is +I/+U/-D; control rows (+H/+S) carry no row
    # image and must not enter a key's lag() chain as a phantom image
    df = df.filter(F.col(op_col).isin(OP_INSERT, OP_UPDATE_AFTER, OP_DELETE))
    prev_img = F.lag(F.struct(*[F.col(c) for c in data_cols])).over(w)
    prev_op = F.lag(F.col(op_col)).over(w)
    with_prev = df.withColumn("__prev", prev_img).withColumn("__prev_op", prev_op)
    has_live_prev = F.col("__prev").isNotNull() & (F.col("__prev_op") != OP_DELETE)

    # Each change emits 0-2 rows, built in ONE window pass and exploded:
    #   - addition (op != -D): the after-image, +I on first-ever image
    #     (or first after a delete), +U otherwise;
    #   - retraction (live previous image exists): the previous image,
    #     -D for deletes, -U for updates (a delete's own payload is
    #     never the live state — retracting it would break
    #     signed-aggregate telescoping); deletes of a non-live key emit
    #     nothing.
    # The former two-branch union re-ran the scan + key shuffle + sort +
    # window once PER BRANCH (Spark does not share subtrees across
    # union arms); the slice/explode form is plan-identical semantics at
    # half the cost — one exchange, one sort, one window (r13).
    addition = F.struct(
        *[F.col(c).alias(c) for c in data_cols],
        F.when(~has_live_prev, F.lit(OP_INSERT))
        .otherwise(F.lit(OP_UPDATE_AFTER))
        .alias(op_col),
    )
    retraction = F.struct(
        *[F.col(f"__prev.{c}").alias(c) for c in data_cols],
        F.when(F.col(op_col) == OP_DELETE, F.lit(OP_DELETE))
        .otherwise(F.lit(OP_UPDATE_BEFORE))
        .alias(op_col),
    )
    is_add = (F.col(op_col) != OP_DELETE).cast("int")
    emitted = F.slice(
        F.array(addition, retraction),
        F.when(F.col(op_col) != OP_DELETE, F.lit(1)).otherwise(F.lit(2)),
        is_add + has_live_prev.cast("int"),
    )
    return with_prev.select(
        F.explode(emitted).alias("__e"), F.col(seq_col)
    ).select(
        *[F.col(f"__e.{c}").alias(c) for c in data_cols],
        F.col(f"__e.{op_col}").alias(op_col),
        F.col(seq_col),
    )


def scd2_history(
    df: DataFrame,
    keys: Sequence[str],
    seq_col: str = SEQ_COL,
    op_col: str = OP_COL,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a changelog: one row
    per row VERSION with its validity interval in change-sequence time.

    Every +I/+U image opens a version at its seq; the next change to the
    same key (update or delete) closes it (``valid_to_seq``); the last
    image of a live key has valid_to_seq NULL and ``is_current`` true.
    -U retraction images are payload duplicates of their +U and are
    skipped; -D rows close the prior version but emit no version
    themselves. Keys may be re-inserted after a delete (a new interval
    chain starts).

    This is the standard warehouse-history materialization a CDC
    consumer builds downstream of the reference (the reference emits
    the changelog; Flink SQL users window it exactly like this).

    Scale: one shuffle on the key, per-key bounded sort for lead() —
    the same cost class as normalize_upsert; no self-join, no state.
    """
    w = Window.partitionBy(*keys).orderBy(seq_col)
    data_cols = [c for c in df.columns if c not in (op_col, seq_col)]
    versions = (
        # DML ops only: a +H/+S control row must neither open a ghost
        # version nor close a real one
        df.filter(F.col(op_col).isin(OP_INSERT, OP_UPDATE_AFTER, OP_DELETE))
        .withColumn("__valid_to", F.lead(seq_col).over(w))
        .filter(F.col(op_col) != OP_DELETE)
    )
    return versions.select(
        *data_cols,
        F.col(seq_col).alias("valid_from_seq"),
        F.col("__valid_to").alias("valid_to_seq"),
        F.col("__valid_to").isNull().alias("is_current"),
    )


def expand_updates(
    df: DataFrame,
    before_col: str = "before",
    after_col: str = "after",
    op_col: str = "op",
    seq_col: str = SEQ_COL,
) -> DataFrame:
    """Debezium envelope rows → changelog rows (A13 decode, update split).

    Input: one row per change with struct columns ``before``/``after`` and
    Debezium op codes (c/r/u/d). Output: flat rows with ``_op`` where
    u → (-U from before) + (+U from after), matching
    RowDataDebeziumDeserializeSchema.java:123-145. Implemented as a JVM-side
    explode of a 1-or-2-element array — no Python UDF in the hot path.
    """
    other = [c for c in df.columns if c not in (before_col, after_col, op_col)]
    img_op = F.when(F.col(op_col).isin("c", "r"), F.array(F.struct(F.col(after_col).alias("img"), F.lit(OP_INSERT).alias("o")))) \
        .when(F.col(op_col) == "d", F.array(F.struct(F.col(before_col).alias("img"), F.lit(OP_DELETE).alias("o")))) \
        .otherwise(
            F.array(
                F.struct(F.col(before_col).alias("img"), F.lit(OP_UPDATE_BEFORE).alias("o")),
                F.struct(F.col(after_col).alias("img"), F.lit(OP_UPDATE_AFTER).alias("o")),
            )
        )
    exploded = df.select(*other, F.explode(img_op).alias("__e"))
    field_names = [f.name for f in df.schema[after_col].dataType.fields]
    return exploded.select(
        *[F.col(f"__e.img.{f}").alias(f) for f in field_names],
        F.col("__e.o").alias(OP_COL),
        *[c for c in other],
    )


def append_metadata(
    df: DataFrame,
    database: Optional[str] = None,
    table: Optional[str] = None,
    op_ts_col: Optional[str] = None,
    schema: Optional[str] = None,
    tenant: Optional[str] = None,
) -> DataFrame:
    """§1.5 virtual metadata columns (_db, _table), snapshot op_ts = epoch 0
    (reference MySqlReadableMetadata.java:33-81: op_ts is 0 for snapshot
    rows; AppendMetadataCollector appends after physical columns).

    Per-dialect extras: ``schema`` -> ``_schema`` (Oracle's schema_name,
    OracleReadableMetaData.java:49-62 — also meaningful for SqlServer/
    Db2/Postgres, whose TableIds carry a schema part) and ``tenant`` ->
    ``_tenant`` (OceanBase's tenant_name,
    OceanBaseReadableMetadata.java:28-38 — OceanBase only)."""
    from flink_cdc_2_3_0_src_spark.model import SCHEMA_COL, TENANT_COL

    out = df
    if database is not None:
        out = out.withColumn(DB_COL, F.lit(database))
    if schema is not None:
        out = out.withColumn(SCHEMA_COL, F.lit(schema))
    if table is not None:
        out = out.withColumn(TABLE_COL, F.lit(table))
    if tenant is not None:
        out = out.withColumn(TENANT_COL, F.lit(tenant))
    if op_ts_col is not None and op_ts_col not in out.columns:
        out = out.withColumn(op_ts_col, F.lit(0).cast("timestamp"))
    return out


# ---------------------------------------------------------------------------
# Event-time as-of join (temporal / versioned-table join)
# ---------------------------------------------------------------------------
def asof_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    ts_col: str,
    value_cols: Sequence[str],
    strict: bool = False,
    seq_col: str = SEQ_COL,
) -> DataFrame:
    """Enrich each probe row with the latest build-side version at or
    before its event time — Flink SQL's ``FOR SYSTEM_TIME AS OF`` event-
    time temporal join over a versioned (changelog-materialized) table,
    the canonical CDC enrichment pattern.

    Spark re-expression: tag and union both sides, then one window pass
    per key ordered by (ts, side, seq) carrying the last build version
    forward — the sort-merge shape: a single exchange on the join key,
    no per-row point lookups, no range explosion; skew on the key column
    behaves exactly like any sort-merge join (salt upstream if needed).

    ``strict=True`` matches only versions strictly older than the probe
    row (``v.ts < p.ts``) — at equal timestamps probe rows sort before
    build rows so a row never sees a same-instant version; False gives
    ``v.ts <= p.ts``.  Build rows may carry NULLs in ``value_cols``
    (e.g. a delete tombstone): the match is still recorded, with the
    NULL payload — distinguishing "no version yet" (no match) from
    "deleted" (matched NULL).
    """
    vals = list(value_cols)
    probe_side = probe.select(
        F.col(key).alias("_k"),
        F.col(ts_col).alias("_ts"),
        F.lit(0 if strict else 1).alias("_side"),
        F.col(seq_col).alias("_sq") if seq_col in probe.columns else F.lit(0).alias("_sq"),
        F.lit(None).cast("long").alias("_vseq"),
        *[F.lit(None).cast(dict(build.dtypes)[c]).alias(f"_v_{c}") for c in vals],
        F.struct(*probe.columns).alias("_p"),
    ).withColumn("_isb", F.lit(False))
    build_side = build.select(
        F.col(key).alias("_k"),
        F.col(ts_col).alias("_ts"),
        F.lit(1 if strict else 0).alias("_side"),
        F.col(seq_col).alias("_sq") if seq_col in build.columns else F.lit(0).alias("_sq"),
        F.col(seq_col).cast("long").alias("_vseq")
        if seq_col in build.columns
        else F.lit(0).cast("long").alias("_vseq"),
        *[F.col(c).alias(f"_v_{c}") for c in vals],
        F.lit(None).cast(probe_side.schema["_p"].dataType).alias("_p"),
    ).withColumn("_isb", F.lit(True))
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side", "_sq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    version = F.struct(F.col("_vseq"), *[F.col(f"_v_{c}") for c in vals])
    carried = (
        probe_side.unionByName(build_side)
        .withColumn(
            "_asof",
            F.last(F.when(F.col("_isb"), version), ignorenulls=True).over(w),
        )
        .filter(F.col("_p").isNotNull())
    )
    return carried.select(
        *[F.col("_p")[c].alias(c) for c in probe.columns],
        F.col("_asof")["_vseq"].alias("version_seq"),
        *[F.col("_asof")[f"_v_{c}"].alias(f"asof_{c}") for c in vals],
    )


# ---------------------------------------------------------------------------
# Event-time interval join (Flink DataStream intervalJoin)
# ---------------------------------------------------------------------------
def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    l_ts_us: Column,
    r_ts_us: Column,
    lower_us: int,
    upper_us: int,
) -> DataFrame:
    """Pairs (l, r) with the same key and ``r.ts in [l.ts + lower,
    l.ts + upper]`` — Flink's event-time interval join
    (DataStream ``intervalJoin().between(lower, upper)``).

    Scale shape: a raw (key)-equi-join explodes on hot keys.  Instead
    both sides are bucketed by ``floor(ts / span)`` (span = the interval
    width): each right row lands in exactly ONE bucket, each left row
    probes the constant few buckets its window can overlap — so the join
    is an equi-join on (key, bucket) whose per-task work is bounded by
    the events per interval-width, not per key.  Pairs are emitted once
    (right's bucket is unique), no post-dedup.

    Both timestamp expressions must be epoch-microsecond BIGINTs (cast
    upstream — keeps the window arithmetic timezone-free).
    """
    if upper_us < lower_us:
        raise ValueError("interval upper bound must be >= lower bound")
    if upper_us == lower_us:
        # degenerate window (Flink permits between(x, x)): an exact-offset
        # match is a plain equi-join on (key, ts + offset)
        lb = left.select(
            F.struct(*left.columns).alias("_l"),
            F.col(key).alias("_k"),
            (l_ts_us + lower_us).alias("_jt"),
        )
        rb = right.select(
            F.struct(*right.columns).alias("_r"),
            F.col(key).alias("_k"),
            r_ts_us.alias("_jt"),
        )
        return lb.join(rb, ["_k", "_jt"]).select(
            *[F.col("_l")[c].alias(f"l_{c}") for c in left.columns],
            *[F.col("_r")[c].alias(f"r_{c}") for c in right.columns],
        )
    span = upper_us - lower_us

    def _floor_div(c, n):
        # exact floor division for BIGINT timestamps: Spark's `/` is a
        # double divide whose rounding can flip floor() at bucket
        # boundaries once |c| nears 2^53 (epoch-micros is ~2^50) —
        # subtract the mathematical remainder first so the divide is
        # integral and exactly representable
        rem = ((c % n) + n) % n
        return ((c - rem) / n).cast("long")
    lb = left.select(
        F.struct(*left.columns).alias("_l"),
        F.col(key).alias("_k"),
        l_ts_us.alias("_lt"),
    )
    rb = right.select(
        F.struct(*right.columns).alias("_r"),
        F.col(key).alias("_k"),
        r_ts_us.alias("_rt"),
    ).withColumn("_b", _floor_div(F.col("_rt"), span))
    probe = lb.select(
        "_l",
        "_k",
        "_lt",
        F.explode(
            F.sequence(
                _floor_div(F.col("_lt") + lower_us, span),
                _floor_div(F.col("_lt") + upper_us, span),
            )
        ).alias("_b"),
    )
    pairs = probe.join(rb, ["_k", "_b"]).filter(
        (F.col("_rt") >= F.col("_lt") + lower_us)
        & (F.col("_rt") <= F.col("_lt") + upper_us)
    )
    return pairs.select(
        *[F.col("_l")[c].alias(f"l_{c}") for c in left.columns],
        *[F.col("_r")[c].alias(f"r_{c}") for c in right.columns],
    )


# ---------------------------------------------------------------------------
# Snapshot-diff changelog generation (CDC without a log)
# ---------------------------------------------------------------------------
def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Derive a changelog from two table versions: +I for keys only in
    ``new``, -D for keys only in ``old``, (-U, +U) pairs for keys whose
    payload changed — the diff-based CDC a lakehouse computes between
    snapshots when no transaction log exists (and how the reference's
    snapshot reconciliation can be validated against any two states).

    One full-outer sort-merge join on the key; payload equality is a
    null-safe struct compare (codegen'd).  _seq orders -U before +U for
    a given key (0/1) so replaying the diff through ``materialize``
    yields exactly ``new``.
    """
    payload = [c for c in old.columns if c not in keys]
    o = old.select(*keys, F.struct(*payload).alias("_po"))
    n = new.select(*keys, F.struct(*payload).alias("_pn"))
    j = o.join(n, list(keys), "full_outer")
    ins = j.filter(F.col("_po").isNull()).select(
        *keys, F.col("_pn").alias("_p"), F.lit(OP_INSERT).alias(OP_COL),
        F.lit(1).cast("long").alias(SEQ_COL),
    )
    dels = j.filter(F.col("_pn").isNull()).select(
        *keys, F.col("_po").alias("_p"), F.lit(OP_DELETE).alias(OP_COL),
        F.lit(1).cast("long").alias(SEQ_COL),
    )
    changed = j.filter(
        F.col("_po").isNotNull()
        & F.col("_pn").isNotNull()
        & ~F.col("_po").eqNullSafe(F.col("_pn"))
    )
    ub = changed.select(
        *keys, F.col("_po").alias("_p"), F.lit(OP_UPDATE_BEFORE).alias(OP_COL),
        F.lit(0).cast("long").alias(SEQ_COL),
    )
    ua = changed.select(
        *keys, F.col("_pn").alias("_p"), F.lit(OP_UPDATE_AFTER).alias(OP_COL),
        F.lit(1).cast("long").alias(SEQ_COL),
    )
    out = ins.unionByName(dels).unionByName(ub).unionByName(ua)
    return out.select(
        *keys, *[F.col("_p")[c].alias(c) for c in payload], OP_COL, SEQ_COL
    )


def forget_keys(
    state: DataFrame,
    forget: DataFrame,
    keys: Sequence[str],
) -> tuple[DataFrame, DataFrame]:
    """Right-to-be-forgotten scrub: remove the listed keys from a
    materialized state AND emit the -D changelog rows downstream
    consumers need to retract them (data-governance surface of a CDC
    pipeline).  Returns the (kept_state, delete_changelog) DataFrame
    pair.

    Anti-join for the kept state (broadcast when the forget list is
    small — the common case), semi-join for the retraction log."""
    kept = state.join(F.broadcast(forget), list(keys), "left_anti")
    deleted = state.join(F.broadcast(forget), list(keys), "left_semi")
    log = deleted.select(
        *state.columns,
    ).withColumn(OP_COL, F.lit(OP_DELETE)).withColumn(
        SEQ_COL, F.lit(0).cast("long")
    )
    return kept, log


# --------------------------------------------------------------------------
# Incremental INNER equi-join maintenance over changelogs — the join
# sibling of merge_agg_state (B4's agg form).  Flink's planner runs
# every streaming two-input join as a StreamingJoinOperator holding
# both sides' state and emitting +/- output rows as either side
# changes; the reference delegates exactly this when a user joins two
# CDC tables (SURVEY Part B delegated surface; e.g. the enrichment
# joins in MySqlConnectorITCase).  The Spark-first shape is the
# bilinear delta rule over SIGNED ROW MULTISETS:
#
#     dJ = dA |><| B_old  +  A_new |><| dB
#        ( = dA|><|B_old + A_old|><|dB + dA|><|dB — each side's delta
#          joined against the other side's state, multiplicities
#          multiplied)
#
# so per-batch work is O(batch |><| state) — never a rescan of either
# history — and the accumulated output changelog materializes to
# exactly the join of the materialized inputs.  Inputs must be
# FULL-RETRACTION changelogs (+I/+U after-images, -U/-D before-images
# — run ensure_retractions/normalize_upsert first, the planner's
# ChangelogNormalize step) and primary-keyed (each key has at most one
# live image — Flink's JoinInputSideSpec uniqueKey case), so live
# multiplicities stay in {0, 1}.
# --------------------------------------------------------------------------

MULT_COL = "__mult"


def signed_multiset(
    df: DataFrame, op_col: str = OP_COL, seq_col: str = SEQ_COL
) -> DataFrame:
    """Changelog batch → signed row-multiset delta: one row per distinct
    payload image with ``__mult`` = (#additions − #retractions).  Rows
    whose contributions cancel inside the batch are dropped (a key
    inserted and deleted within one batch never reaches the join).
    Only the four DML ops participate; control rows (heartbeats ``+H``,
    schema events ``+S``) carry no row image and are ignored rather
    than miscounted as retractions."""
    data_cols = [c for c in df.columns if c not in (op_col, seq_col)]
    sign = (
        F.when(
            F.col(op_col).isin(OP_INSERT, OP_UPDATE_AFTER), F.lit(1)
        )
        .otherwise(F.lit(-1))
        .cast("long")
    )
    return (
        df.filter(
            F.col(op_col).isin(
                OP_INSERT, OP_UPDATE_AFTER, OP_UPDATE_BEFORE, OP_DELETE
            )
        )
        .select(*data_cols, sign.alias(MULT_COL))
        .groupBy(*data_cols)
        .agg(F.sum(MULT_COL).alias(MULT_COL))
        .filter(F.col(MULT_COL) != 0)
    )


def _add_multiset(old: Optional[DataFrame], delta: DataFrame) -> DataFrame:
    if old is None:
        return delta
    payload = [c for c in delta.columns if c != MULT_COL]
    return (
        old.unionByName(delta)
        .groupBy(*payload)
        .agg(F.sum(MULT_COL).alias(MULT_COL))
        .filter(F.col(MULT_COL) != 0)
    )


def _mult_join(a: DataFrame, b: DataFrame, on: Sequence[str]) -> DataFrame:
    """Inner equi-join of two signed multisets: multiplicities multiply
    (the multiset-semantics join underlying the delta rule)."""
    la = a.withColumnRenamed(MULT_COL, "__ma")
    rb = b.withColumnRenamed(MULT_COL, "__mb")
    pa = [c for c in la.columns if c not in ("__ma",)]
    pb = [c for c in rb.columns if c not in ("__mb",) and c not in on]
    return la.join(rb, on=list(on), how="inner").select(
        *pa, *pb, (F.col("__ma") * F.col("__mb")).alias(MULT_COL)
    )


def _keyset_join(
    df: DataFrame, keys_df: DataFrame, on: Sequence[str], how: str
) -> DataFrame:
    """left_semi / left_anti against a key set, NULL-SAFELY: plain
    column equality never matches a null key, which would exempt
    null-keyed rows from 'affected' restriction forever (stale pads /
    stale rank rows).  A struct key compares its fields null-safely."""
    pk = F.struct(*[F.col(k) for k in on])
    left = df.withColumn("__pk", pk)
    right = keys_df.withColumn("__pk", pk).select("__pk").distinct()
    return left.join(right, "__pk", how).drop("__pk")


def _pad_delta(
    outer_old_aff: Optional[DataFrame],
    d_outer: DataFrame,
    inner_old_aff: Optional[DataFrame],
    d_inner: DataFrame,
    on: Sequence[str],
    out_cols: Sequence,
) -> Optional[DataFrame]:
    """Null-padding delta for one outer side: Δ(outer ⋉̸ keys(inner)) —
    the rows the outer side contributes with a null-extended opposite
    payload while it has no match.  A key's padding can only change
    when one of its rows (either side) changed this batch, so the
    caller passes state snapshots ALREADY restricted to the
    batch-affected key set; the affected new-state snapshots are then
    re-merged HERE from (restricted old state + batch delta) —
    restriction commutes with the merge because the multiset groupBy
    keys on the full payload, which includes the join key.  Every
    frame in this function is batch-driven, never state-sized: the
    state-sized merge and the full-state key distinct both live only
    on the carried-state path (r9; previously the new-state merge and
    the inner key set entered this lineage at state size)."""
    outer_new_aff = _add_multiset(outer_old_aff, d_outer)
    inner_new_aff = _add_multiset(inner_old_aff, d_inner)

    def pad(outer_st, inner_st):
        if outer_st is None:
            return None
        o = outer_st
        if inner_st is not None:
            # plain-equality ANTI is correct here even with nulls: an
            # inner null key can never match (SQL join semantics), so it
            # must not suppress a pad — and a null-keyed OUTER row never
            # matches either, so it stays padded, as SQL would emit it
            o = o.join(
                inner_st.select(*on).distinct(), list(on), "left_anti"
            )
        return o.select(*out_cols)

    new = pad(outer_new_aff, inner_new_aff)
    old = pad(outer_old_aff, inner_old_aff)
    if old is None:
        return new
    flipped = old.withColumn(MULT_COL, -F.col(MULT_COL))
    payload = [c for c in new.columns if c != MULT_COL]
    return (
        new.unionByName(flipped)
        .groupBy(*payload)
        .agg(F.sum(MULT_COL).alias(MULT_COL))
        .filter(F.col(MULT_COL) != 0)
    )


def merge_join_state(
    state: Optional[tuple],
    batch_a: DataFrame,
    batch_b: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    op_col: str = OP_COL,
    seq_col: str = SEQ_COL,
) -> tuple:
    """One microbatch step of incremental equi-join maintenance
    (the foreachBatch form; merge_agg_state's join sibling).

    ``state`` is ``None`` for the first batch, else the
    ``(a_state, b_state)`` pair returned by the previous step (signed
    multisets of each side's live images).  Returns
    ``((a_state, b_state), out_delta)`` where ``out_delta`` is this
    batch's OUTPUT changelog as a signed multiset (joined payload +
    ``__mult`` in {+1, −1} for keyed inputs): +1 rows are the join
    rows that appeared this batch, −1 rows the ones retracted.

    ``how`` ∈ {'inner', 'left', 'right', 'full'}.  Outer modes add the
    null-padded rows a streaming outer join maintains (Flink's
    StreamingJoinOperator null-pads an unmatched outer row and RETRACTS
    the pad when its first match arrives); the padding delta is
    computed only over the keys this batch touched, so per-batch work
    stays batch-driven.

    The non-key payload column sets of the two sides must be disjoint
    (rename before joining — same contract as a SQL join's output)."""
    d_a = signed_multiset(batch_a, op_col, seq_col)
    d_b = signed_multiset(batch_b, op_col, seq_col)
    return merge_join_state_deltas(state, d_a, d_b, on, how=how)


def merge_join_state_deltas(
    state: Optional[tuple],
    d_a: DataFrame,
    d_b: DataFrame,
    on: Sequence[str],
    how: str = "inner",
) -> tuple:
    """:func:`merge_join_state`'s core over SIGNED-MULTISET inputs
    (payload + ``__mult``) instead of changelog batches.  The delta
    algebra is bilinear in the multiplicities, so it is exact for ANY
    signed multisets — which is what lets maintained joins CASCADE: a
    previous join's output delta (multiplicities beyond ±1 included)
    feeds the next stage as its ``d_a``, the multi-way join chain
    Flink's planner builds as stacked StreamingJoinOperators."""
    if how not in ("inner", "left", "right", "full"):
        raise ValueError(f"how must be inner/left/right/full, got {how!r}")
    pa = [c for c in d_a.columns if c != MULT_COL and c not in on]
    pb = [c for c in d_b.columns if c != MULT_COL and c not in on]
    clash = set(pa) & set(pb)
    if clash:
        raise ValueError(
            f"join sides share non-key columns {sorted(clash)}; rename "
            "one side before delta-join maintenance"
        )
    a_old, b_old = state if state is not None else (None, None)
    a_new = _add_multiset(a_old, d_a)
    b_new = _add_multiset(b_old, d_b)
    # Trilinear expansion of dJ = dA ⋈ B_old + A_new ⋈ dB: since
    # A_new = A_old + dA, the second term distributes to
    # A_old ⋈ dB + dA ⋈ dB — so the OUTPUT path touches only the
    # (checkpointed) old states and batch-sized deltas, never the
    # re-merged new state.  That drops one state-sized groupBy shuffle
    # per batch from the output lineage (a_new/b_new still merge once
    # each for the carried state, but only there).
    parts = []
    if b_old is not None:
        parts.append(_mult_join(d_a, b_old, on))
    if a_old is not None:
        parts.append(_mult_join(a_old, d_b, on))
    parts.append(_mult_join(d_a, d_b, on))
    if how != "inner":
        affected = (
            d_a.select(*on).unionByName(d_b.select(*on)).distinct()
        )
        # restrict the OLD state snapshots to the batch-affected keys
        # once (null-safe broadcast semi: the state side is scanned,
        # never shuffled); _pad_delta re-merges the affected NEW
        # snapshots from these + the batch deltas, keeping the whole
        # pad lineage batch-driven
        a_old_aff = (
            _keyset_join(a_old, affected, on, "left_semi")
            if a_old is not None else None
        )
        b_old_aff = (
            _keyset_join(b_old, affected, on, "left_semi")
            if b_old is not None else None
        )
        types_a = {f.name: f.dataType for f in d_a.schema.fields}
        types_b = {f.name: f.dataType for f in d_b.schema.fields}
        if how in ("left", "full"):
            cols = (
                [F.col(k) for k in on]
                + [F.col(c) for c in pa]
                + [F.lit(None).cast(types_b[c]).alias(c) for c in pb]
                + [F.col(MULT_COL)]
            )
            pad = _pad_delta(a_old_aff, d_a, b_old_aff, d_b, on, cols)
            if pad is not None:
                parts.append(pad)
        if how in ("right", "full"):
            cols = (
                [F.col(k) for k in on]
                + [F.lit(None).cast(types_a[c]).alias(c) for c in pa]
                + [F.col(c) for c in pb]
                + [F.col(MULT_COL)]
            )
            pad = _pad_delta(b_old_aff, d_b, a_old_aff, d_a, on, cols)
            if pad is not None:
                parts.append(pad)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    payload = [c for c in out.columns if c != MULT_COL]
    out_delta = (
        out.groupBy(*payload)
        .agg(F.sum(MULT_COL).alias(MULT_COL))
        .filter(F.col(MULT_COL) != 0)
    )
    return (a_new, b_new), out_delta


def seq_range_conditions(hi, n_batches: int, col: str = SEQ_COL) -> list:
    """The replay family's batch-split filter conditions: ``n_batches``
    sequence-range predicates over ``[0, hi]`` that together cover
    (-inf, +inf) — batch 0 is open-ended below (a log with negative or
    zero-anchored sequences must not silently lose its head) and the
    last batch open-ended above (paranoia against a value appearing
    past the max captured by the 1-row analyze).  ``hi=None`` (empty
    log) yields a single all-rows condition.  One definition for every
    replayer (delta join, top-n, the SQL bridge, the sketch-state
    queries) — the edge cases drifted when each site hand-rolled it."""
    if n_batches < 1:
        raise ValueError(f"n_batches must be >= 1, got {n_batches}")
    if hi is None:
        return [F.lit(True)]
    hi = int(hi)
    conds = []
    for i in range(n_batches):
        lo_edge = i * (hi + 1) // n_batches
        hi_edge = (i + 1) * (hi + 1) // n_batches
        cond = (F.col(col) >= lo_edge) & (F.col(col) < hi_edge)
        if i == 0:
            cond = F.col(col) < hi_edge
        if i == n_batches - 1:
            cond = F.col(col) >= lo_edge
            if n_batches == 1:
                cond = F.lit(True)
        conds.append(cond)
    return conds


def delta_join_changelog(
    log_a: DataFrame,
    log_b: DataFrame,
    on: Sequence[str],
    n_batches: int = 4,
    how: str = "inner",
    op_col: str = OP_COL,
    seq_col: str = SEQ_COL,
) -> DataFrame:
    """Replay two full-retraction changelogs through ``merge_join_state``
    in ``n_batches`` sequence-range batches and materialize the
    accumulated output changelog — which equals the ``how`` join of the
    two materialized inputs, for ANY batch split (the invariant the
    tests pin; outer modes include the null-padded unmatched rows).

    Batching is by global-sequence range (a 1-row max-seq aggregate per
    log, the same bounded collect shape as chunking's analyze); each
    side's state is locally checkpointed per step so batch i+1's plan
    reads materialized state instead of recomputing batches 0..i — the
    per-batch cost profile the streaming foreachBatch form has."""
    if n_batches < 1:
        raise ValueError(f"n_batches must be >= 1, got {n_batches}")
    if n_batches > 1:
        # each batch filters the same input frame: checkpoint it once so
        # n filters don't recompute the upstream lineage n times (e.g. a
        # ChangelogNormalize window over the whole log).  The true
        # streaming form (foreachBatch) gets its batches pre-cut and
        # never takes this path.
        log_a = pin(log_a)
        log_b = pin(log_b)
    hi_a = log_a.agg(F.max(seq_col)).collect()[0][0]
    hi_b = log_b.agg(F.max(seq_col)).collect()[0][0]
    hi = max([s for s in (hi_a, hi_b) if s is not None], default=None)
    outs = []
    state = None
    conds = seq_range_conditions(hi, n_batches, seq_col) if hi is not None else []
    for cond in conds:
        state, out = merge_join_state(
            state, log_a.filter(cond), log_b.filter(cond), on,
            how=how, op_col=op_col, seq_col=seq_col,
        )
        state = pin(state)
        outs.append(out)
    if not outs:
        # both logs empty: the join of two empty states
        _, empty = merge_join_state(None, log_a, log_b, on, how=how,
                                    op_col=op_col, seq_col=seq_col)
        return empty.drop(MULT_COL)
    acc = outs[0]
    for o in outs[1:]:
        acc = acc.unionByName(o)
    payload = [c for c in acc.columns if c != MULT_COL]
    return (
        acc.groupBy(*payload)
        .agg(F.sum(MULT_COL).alias(MULT_COL))
        .filter(F.col(MULT_COL) > 0)
        # Materialize MULTISET semantics: a live multiplicity m emits m
        # identical rows.  For keyed inputs (the documented contract) m
        # is always 1 and this is a free one-element generator; for
        # inputs that violate the contract (duplicate live images) the
        # duplicates now surface in the output — matching what the
        # direct join of the materialized multisets produces — instead
        # of silently collapsing to one row.
        .withColumn(
            "__dup",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col(MULT_COL))),
        )
        .drop(MULT_COL, "__dup")
    )


# --------------------------------------------------------------------------
# Incremental Top-N maintenance over a changelog — the rank sibling of
# the delta join above.  Flink's streaming SQL runs
# `ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) <= n` over an
# updating table as a RankOperator holding per-group state and emitting
# +/- rows as membership changes; the reference delegates exactly this
# when a user asks for "top n per group" over CDC tables.  The
# Spark-first shape: maintain the materialized table incrementally,
# re-rank ONLY the groups the batch touched (a full-retraction batch
# carries the old image of a group-moving update, so both its source
# and destination groups are in the batch), and diff the affected
# groups' new top-n against the old.  Per-batch work is bounded by the
# affected groups' sizes, never the table.  The emitted delta omits the
# rank number (Flink's documented no-rank-output optimization: rank
# shifts inside the top-n then produce no churn, only membership
# changes do).
# --------------------------------------------------------------------------


def _upsert_table_state(
    table_old: Optional[DataFrame],
    batch: DataFrame,
    keys: Sequence[str],
    op_col: str,
    seq_col: str,
) -> DataFrame:
    """Materialized live rows after applying a changelog batch to the
    previous table state: one max_by aggregation ordered by
    (generation, seq) — old state is generation 0, the batch 1 — so
    batch changes always supersede carried state regardless of the
    batch's sequence values."""
    data_cols = [c for c in batch.columns if c not in (op_col, seq_col)]
    # Only +I/+U/-D mutate table state (-U is the old image of an
    # update, superseded by its +U).  Restricting to the DML ops —
    # mirroring signed_multiset — keeps control rows (+H heartbeats,
    # +S schema events: no row image, all-null payload) from surviving
    # as ghost live rows in table state.
    b = batch.filter(
        F.col(op_col).isin(OP_INSERT, OP_UPDATE_AFTER, OP_DELETE)
    ).select(
        *data_cols,
        F.col(op_col).alias("__op"),
        F.lit(1).alias("__gen"),
        F.col(seq_col).cast("long").alias("__seq"),
    )
    allr = b
    if table_old is not None:
        o = table_old.select(
            *data_cols,
            F.lit(OP_INSERT).alias("__op"),
            F.lit(0).alias("__gen"),
            F.lit(0).cast("long").alias("__seq"),
        )
        allr = o.unionByName(b)
    payload = F.struct(
        *[F.col(c) for c in data_cols], F.col("__op")
    )
    latest = allr.groupBy(*keys).agg(
        F.max_by(payload, F.struct(F.col("__gen"), F.col("__seq"))).alias(
            "__row"
        )
    )
    return latest.filter(F.col("__row.__op") != OP_DELETE).select(
        *[F.col(k) for k in keys],
        *[F.col(f"__row.{c}").alias(c) for c in data_cols if c not in keys],
    )


def split_csv_outside_parens(s: str) -> list:
    """Split a SQL item list on commas OUTSIDE parentheses and string
    literals (``''`` = escaped quote inside a literal), so function
    expressions like ``greatest(a, b) DESC`` and comparison operators
    like ``SUM(CASE WHEN v > 5 ...)`` stay intact.  The ONE splitter
    for ORDER BY items, SELECT lists, and GROUP BY lists — NOT
    sql_ddl's ``_split_top_level``, which also pairs ``<``/``>`` (the
    DDL ``ARRAY<...>`` convention) and would mis-split expressions
    containing comparisons."""
    items, depth, cur, in_str = [], 0, [], False
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if in_str:
            cur.append(ch)
            if ch == "'":
                if i + 1 < n and s[i + 1] == "'":
                    cur.append("'")
                    i += 2
                    continue
                in_str = False
            i += 1
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            items.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        items.append(tail)
    return items


def _split_order_items(order_sql: str) -> list:
    return split_csv_outside_parens(order_sql)


def _parse_order_sql(order_sql: str):
    """'value DESC NULLS LAST, user_id' → sort-order columns (F.expr
    cannot parse trailing ASC/DESC or NULLS FIRST/LAST keywords — they
    are ORDER-BY syntax, not expressions — so both suffixes are split
    off and applied via the asc/desc[_nulls_first|_last] Column
    methods).  Defaults match Spark SQL: bare items sort ascending;
    ascending puts nulls first, descending puts nulls last.  An item
    whose expression part F.expr cannot parse raises a ValueError
    naming the item, not an opaque downstream parse error."""
    out = []
    for item in _split_order_items(order_sql):
        item = item.strip()
        m = re.match(
            r"^(.*?)(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?$",
            item,
            re.IGNORECASE | re.DOTALL,
        )
        expr_sql = m.group(1).strip()
        # F.expr is lazy (the parse happens when the plan is built), so
        # an unsupported suffix or typo would otherwise surface as an
        # opaque downstream parse error far from the order_sql contract.
        # Validate eagerly through the session's SQL parser when one is
        # active; parse-only, no column resolution.
        active = SparkSession.getActiveSession()
        if active is not None:
            try:
                catalyst_parse(expr_sql, "expression", active)
            except AttributeError:
                pass  # no JVM handle (connect mode): fall through lazy
            except SqlParseError as exc:
                raise ValueError(
                    f"order_sql item {item!r}: cannot parse expression "
                    f"{expr_sql!r} (supported suffixes: ASC/DESC and "
                    f"NULLS FIRST/LAST): {exc}"
                ) from None
        e = F.expr(expr_sql)
        desc = (m.group(2) or "ASC").upper() == "DESC"
        nulls = (m.group(3) or "").upper()
        if not nulls:
            method = "desc" if desc else "asc"
        else:
            method = ("desc" if desc else "asc") + "_nulls_" + nulls.lower()
        out.append(getattr(e, method)())
    return out


def merge_topn_state(
    state: Optional[tuple],
    batch: DataFrame,
    keys: Sequence[str],
    group_cols: Sequence[str],
    order_sql: str,
    n: int,
    op_col: str = OP_COL,
    seq_col: str = SEQ_COL,
) -> tuple:
    """One microbatch step of incremental top-n-per-group maintenance.

    ``state`` is ``None`` or the ``(table_state, topn_state)`` pair from
    the previous step.  ``order_sql`` is the ORDER BY expression list
    (e.g. ``"value DESC, user_id"``) — include a deterministic
    tiebreaker, or membership diffs are not well-defined.  Returns
    ``((table_state, topn_state), out_delta)``; the delta is a signed
    multiset of membership changes (+1 entered the top n, −1 left),
    without a rank column (rank-only shifts emit nothing).

    The batch must be a FULL-RETRACTION changelog: an update that moves
    a row between groups carries its old image as -U, which places BOTH
    groups in the affected set."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    table_old, topn_old = state if state is not None else (None, None)
    table_new = _upsert_table_state(table_old, batch, keys, op_col, seq_col)
    order_exprs = _parse_order_sql(order_sql)
    affected = batch.filter(
        F.col(op_col).isin(
            OP_INSERT, OP_UPDATE_AFTER, OP_UPDATE_BEFORE, OP_DELETE
        )
    ).select(*group_cols).distinct()
    w = Window.partitionBy(*group_cols).orderBy(*order_exprs)
    rest = [c for c in table_new.columns if c not in group_cols]
    topn_new_aff = (
        _keyset_join(table_new, affected, group_cols, "left_semi")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .select(*group_cols, *rest)
    )
    if topn_old is None:
        topn_state = topn_new_aff
        out_delta = topn_new_aff.withColumn(MULT_COL, F.lit(1).cast("long"))
    else:
        topn_old_aff = _keyset_join(topn_old, affected, group_cols, "left_semi")
        topn_state = _keyset_join(
            topn_old, affected, group_cols, "left_anti"
        ).unionByName(topn_new_aff)
        pos = topn_new_aff.withColumn(MULT_COL, F.lit(1).cast("long"))
        neg = topn_old_aff.withColumn(MULT_COL, F.lit(-1).cast("long"))
        payload = [c for c in pos.columns if c != MULT_COL]
        out_delta = (
            pos.unionByName(neg)
            .groupBy(*payload)
            .agg(F.sum(MULT_COL).alias(MULT_COL))
            .filter(F.col(MULT_COL) != 0)
        )
    return (table_new, topn_state), out_delta


def topn_changelog(
    log: DataFrame,
    keys: Sequence[str],
    group_cols: Sequence[str],
    order_sql: str,
    n: int,
    n_batches: int = 4,
    op_col: str = OP_COL,
    seq_col: str = SEQ_COL,
) -> DataFrame:
    """Replay a full-retraction changelog through ``merge_topn_state``
    in ``n_batches`` sequence-range batches; returns the final top-n
    state — which equals ranking the materialized table directly, for
    ANY batch split (the invariant the tests pin).  Same batching and
    per-step local checkpointing as ``delta_join_changelog``."""
    if n_batches < 1:
        raise ValueError(f"n_batches must be >= 1, got {n_batches}")
    if n_batches > 1:
        log = pin(log)
    hi = log.agg(F.max(seq_col)).collect()[0][0]
    state = None
    conds = seq_range_conditions(hi, n_batches, seq_col) if hi is not None else []
    for cond in conds:
        state, _ = merge_topn_state(
            state, log.filter(cond), keys, group_cols, order_sql, n,
            op_col=op_col, seq_col=seq_col,
        )
        state = pin(state)
    if state is None:
        _, empty = merge_topn_state(
            None, log, keys, group_cols, order_sql, n,
            op_col=op_col, seq_col=seq_col,
        )
        return empty.drop(MULT_COL)
    return state[1]


def expire_state(
    state: DataFrame, watermark, ts_col: str
) -> DataFrame:
    """State-TTL eviction for the maintenance family (the Spark form of
    Flink's idle-state retention / table.exec.state.ttl): drop state
    rows whose event time fell behind the watermark.  Without a TTL, an
    unbounded key space (e.g. order ids) grows join/rank state forever;
    with it, state size tracks the retention window — the knob every
    production streaming join sets.

    Returns the filtered state frame; rows with a NULL event time are
    KEPT (dimension rows without a timestamp must not silently expire).
    Apply to each side of a ``merge_join_state`` pair, or to both the
    table state and the top-n membership state of ``merge_topn_state``,
    between steps.  Note the semantic consequences (same as Flink's):
    a late change to an expired key re-inserts it as if new, and a late
    RETRACTION of an expired image leaves a dangling negative
    multiplicity in join state (kept so a late out-of-order insert
    cancels it; Flink's join drops such retractions with a "state may
    have expired" warning) — the retention window is a correctness
    trade the caller opts into."""
    return state.filter(
        F.col(ts_col).isNull() | (F.col(ts_col) >= F.lit(watermark))
    )
