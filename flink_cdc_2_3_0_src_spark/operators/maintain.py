"""Incremental-maintenance planner: query shape → maintenance plan.

The maintenance family gives each relational shape an incremental
step function (agg: ``merge_agg_state`` r4, join: ``merge_join_state``
r8, top-n: ``merge_topn_state`` r8, windowed agg: the bucket-as-group
composition r8) — but a user had to pick the right ``merge_*_state``
and remember its state layout by hand.  ``maintain()`` is the
dispatcher Flink's changelog planner plays for the reference: declare
the query shape (aggregates / equi-join / top-n / ingest dedup) and
get back a plan
object with ONE uniform contract, mirroring ``agg_auto``'s design
(changelog.py) of picking the cheap signed-delta strategy when the
shape allows it and the state-backed recompute strategy when it does
not (min/max are not retraction-computable without state — the same
dichotomy agg_auto applies one-shot, applied per-batch here).

Uniform plan contract
---------------------
* ``plan.step(state, batch)`` (or ``plan.step(state, batch_a,
  batch_b)`` for the join plan) → ``(new_state, out_delta)``.
  ``state`` is ``None`` for the first batch; ``out_delta`` is the
  batch's signed multiset of RESULT-ROW membership changes
  (``__mult`` +1 appeared / −1 retracted) — the same output contract
  ``merge_join_state`` and ``merge_topn_state`` already speak, now
  also provided for aggregates.  Accumulating every batch's deltas
  and keeping rows with positive net multiplicity materializes the
  query over the full log (the telescoping invariant the tests pin).
* ``plan.expire(state, watermark)`` → state with rows behind the
  watermark evicted via ``expire_state`` (configure with
  ``ttl=<ts column>``; the join plan takes a per-side pair).  Apply
  between steps; Flink's table.exec.state.ttl semantics, including
  its late-change trade, documented at ``expire_state``.

Reference parity: the reference delegates all of these shapes to the
Flink planner's changelog rules (StreamExecGroupAggregate /
StreamingJoinOperator / RankOperator — what runs when a user writes
GROUP BY / JOIN / ROW_NUMBER()<=n over CDC tables); design provenance
flink-cdc-base's assumption of a retraction-capable downstream
planner, e.g. MySqlTableSourceFactory.java:81-150 wiring into it.
"""

from __future__ import annotations

import re
from decimal import Decimal
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.io import pin
from flink_cdc_2_3_0_src_spark.model import (
    OP_COL,
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE_AFTER,
    OP_UPDATE_BEFORE,
    SEQ_COL,
)
from flink_cdc_2_3_0_src_spark.operators.changelog import (
    MULT_COL,
    _keyset_join,
    _upsert_table_state,
    expire_state,
    merge_agg_state,
    merge_join_state,
    merge_topn_state,
    split_csv_outside_parens,
)
from flink_cdc_2_3_0_src_spark.session import _Node, catalyst_parse

_AGG_FNS = {"sum", "count", "avg", "min", "max"}


def _signed_diff(
    pos: Optional[DataFrame], neg: Optional[DataFrame]
) -> DataFrame:
    """Signed multiset delta pos − neg; identical rows cancel."""
    p = pos.withColumn(MULT_COL, F.lit(1).cast("long"))
    if neg is None:
        return p
    n = neg.withColumn(MULT_COL, F.lit(-1).cast("long"))
    payload = [c for c in p.columns if c != MULT_COL]
    return (
        p.unionByName(n)
        .groupBy(*payload)
        .agg(F.sum(MULT_COL).alias(MULT_COL))
        .filter(F.col(MULT_COL) != 0)
    )


def _affected_groups(
    batch: DataFrame, group_cols: Sequence[str], op_col: str
) -> DataFrame:
    """Distinct group keys the batch's DML rows touch (control rows
    excluded; a full-retraction update carries its old image as -U, so
    a group-moving update lands in BOTH groups — same discipline as
    merge_topn_state)."""
    return (
        batch.filter(
            F.col(op_col).isin(
                OP_INSERT, OP_UPDATE_AFTER, OP_UPDATE_BEFORE, OP_DELETE
            )
        )
        .select(*group_cols)
        .distinct()
    )


def _dml_only(batch: DataFrame, op_col: str) -> DataFrame:
    """Restrict to the four DML ops — control rows (+H/+S) carry no row
    image and must not inflate live-row counts (signed_multiset's
    discipline)."""
    return batch.filter(
        F.col(op_col).isin(
            OP_INSERT, OP_UPDATE_AFTER, OP_UPDATE_BEFORE, OP_DELETE
        )
    )


def _delta_sum_cols(aggs: dict) -> dict:
    """Signed-sum state columns for plain sum/count/avg aggregates over
    ``merge_agg_state``.  Each avg additionally tracks a signed
    NON-NULL value count so avg follows SQL semantics (NULLs excluded
    from the denominator) and agrees with the recompute plans —
    single-sourced here for every delta-state plan."""
    out: dict[str, Column] = {}
    for name, (fn, col) in aggs.items():
        if fn in ("sum", "avg"):
            out[f"__s_{name}"] = col
        if fn == "avg":
            out[f"__c_{name}"] = F.when(
                col.isNotNull(), F.lit(1)
            ).otherwise(F.lit(0))
    return out


def _delta_finalize_exprs(aggs: dict) -> list:
    """Output expressions over ``merge_agg_state`` state columns for
    the plain sum/count/avg aggregates (avg = signed sum / signed
    non-null count; NULL when the group's live values are all NULL)."""
    outs = []
    for name, (fn, _col) in aggs.items():
        if fn == "sum":
            outs.append(F.col(f"__s_{name}").alias(name))
        elif fn == "count":
            outs.append(F.col("__rows").alias(name))
        else:
            outs.append(
                (
                    F.col(f"__s_{name}").cast("double")
                    / F.nullif(F.col(f"__c_{name}"), F.lit(0)).cast(
                        "double"
                    )
                ).alias(name)
            )
    return outs


def _recompute_exprs(aggs: dict) -> list:
    """Aggregate expressions for the table-recompute plans, SQL
    semantics: COUNT = live rows, AVG = sum / non-null count (agrees
    with the delta plan's signed non-null denominator)."""
    outs = []
    for name, (fn, col) in aggs.items():
        if fn == "count":
            outs.append(F.count(F.lit(1)).alias(name))
        elif fn == "avg":
            outs.append(
                (
                    F.sum(col).cast("double") / F.count(col).cast("double")
                ).alias(name)
            )
        else:
            outs.append(getattr(F, fn)(col).alias(name))
    return outs


def _distinct_recompute_exprs(distinct: dict) -> list:
    """DISTINCT-aggregate expressions for the table-recompute plans —
    exact because those plans re-aggregate the affected groups'
    MATERIALIZED rows (no view state needed): SQL semantics, NULLs
    never enter the distinct set; AVG(DISTINCT) = sum of distinct
    values / count of distinct values (double, matching the delta
    plans' avg output type)."""
    outs = []
    for name, (fn, col) in distinct.items():
        c = F.col(col) if isinstance(col, str) else col
        if fn == "count":
            outs.append(F.count_distinct(c).alias(name))
        elif fn == "sum":
            outs.append(F.sum_distinct(c).alias(name))
        elif fn == "avg":
            outs.append(
                (
                    F.sum_distinct(c).cast("double")
                    / F.count_distinct(c).cast("double")
                ).alias(name)
            )
        else:  # min/max over DISTINCT values == plain min/max
            outs.append(getattr(F, fn)(c).alias(name))
    return outs


_GAP_RE = re.compile(
    r"^\s*(?P<n>\d+)\s+(?P<unit>second|minute|hour|day)s?\s*$", re.IGNORECASE
)
_GAP_MICROS = {
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
}


def _gap_micros(gap: str) -> int:
    m = _GAP_RE.match(str(gap))
    if not m:
        raise ValueError(
            f"session gap must be '<n> <unit>' with unit in "
            f"seconds/minutes/hours/days, got {gap!r}"
        )
    return int(m.group("n")) * _GAP_MICROS[m.group("unit").lower()]


def _gap_interval(gap_us: int) -> Column:
    return F.expr(f"INTERVAL {gap_us} MICROSECOND")


def _with_session_ids(
    df: DataFrame, ts_col: str, gap_us: int, group_cols: Sequence[str]
) -> DataFrame:
    """Assign merging session-window ids (Flink's
    ``SessionWindows.withGap`` rule: per-element windows ``[t, t+gap)``
    merge while they intersect, so a break happens exactly when the gap
    to the previous element is >= gap).  Gaps-and-islands over a
    per-group sort — per-group work is bounded by the group's size, and
    the plan only ever feeds batch-affected groups here.  Interval
    arithmetic keeps the comparison type-agnostic (TIMESTAMP and
    TIMESTAMP_NTZ both add day-time intervals; ``unix_micros`` would
    reject NTZ).  NULL-ts rows carry no event time and join no session;
    they are dropped from the windowed aggregate (Spark's ``window()``
    and Flink's window assigner both exclude them)."""
    from pyspark.sql.window import Window

    part = (
        [F.col(c) for c in group_cols] if group_cols else [F.lit(1)]
    )
    ts = F.col(ts_col)
    w = Window.partitionBy(*part).orderBy(ts)
    prev = F.lag(ts).over(w)
    brk = (
        F.when(
            prev.isNull() | (ts >= prev + _gap_interval(gap_us)), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    sid = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.filter(ts.isNotNull()).withColumn("__sid", sid)


class _Plan:
    """Base: TTL wiring shared by every maintenance plan."""

    kind: str

    def __init__(self, ttl) -> None:
        self._ttl = ttl

    def expire(self, state, watermark):
        """Evict state rows behind ``watermark`` (requires ``ttl=`` at
        plan construction).  Returns state in the same shape ``step``
        consumes."""
        if self._ttl is None:
            raise ValueError(
                f"{self.kind} plan has no ttl configured; pass "
                "ttl=<event-time column> to maintain()"
            )
        return self._expire(state, watermark)


class _AggDeltaPlan(_Plan):
    """sum/count/avg over a changelog: signed-delta state, no table
    state (merge_agg_state — O(batch + affected groups) per step).
    avg = signed sum / signed NON-NULL count (SQL semantics, matching
    agg_auto's both branches and _AggRecomputePlan — so adding a
    min/max agg never flips a query's avg semantics)."""

    kind = "agg"

    def __init__(self, group_cols, aggs, ttl, op_col, seq_col) -> None:
        super().__init__(ttl)
        self.group_cols = list(group_cols)
        self.aggs = dict(aggs)
        self.op_col = op_col
        # internal state keeps one signed sum per distinct value column
        # needed by any sum/avg, the live-row count, and — for each avg —
        # a signed NON-NULL count of its value column (see
        # _delta_sum_cols): without it, adding a min/max agg to a query
        # would silently flip its avg semantics
        self._sum_cols = _delta_sum_cols(self.aggs)

    def _finalize(self, state: DataFrame) -> DataFrame:
        return state.select(
            *self.group_cols, *_delta_finalize_exprs(self.aggs)
        )

    def step(self, state, batch: DataFrame):
        dml = _dml_only(batch, self.op_col)
        new_state = merge_agg_state(
            state, dml, self.group_cols, self._sum_cols, op_col=self.op_col
        )
        if not self.group_cols:
            # global aggregate (the empty grouping set): state is one
            # row; every batch with DML "affects" it, and an empty
            # batch's recompute diffs to nothing
            new_aff = self._finalize(new_state)
            old_aff = self._finalize(state) if state is not None else None
            return new_state, _signed_diff(new_aff, old_aff)
        affected = _affected_groups(batch, self.group_cols, self.op_col)
        new_aff = self._finalize(
            _keyset_join(new_state, affected, self.group_cols, "left_semi")
        )
        old_aff = None
        if state is not None:
            old_aff = self._finalize(
                _keyset_join(state, affected, self.group_cols, "left_semi")
            )
        return new_state, _signed_diff(new_aff, old_aff)

    def _expire(self, state, watermark):
        # agg state is per-group; TTL applies when a group column IS an
        # event-time bucket (the r8 windowed-agg composition)
        if self._ttl not in state.columns:
            raise ValueError(
                f"ttl column {self._ttl!r} is not a group column of this "
                "aggregate — time-bucketed TTL needs the bucket in "
                "group_cols"
            )
        return expire_state(state, watermark, self._ttl)


class _DistinctAggPlan(_Plan):
    """sum/count/avg aggregates where some are over DISTINCT values
    (Flink's streaming distinct aggregation — StreamExecGroupAggregate
    with DistinctViewSpec MapState): plain signed-delta state is not
    enough because a retraction only removes a VALUE from the distinct
    set when its last live occurrence goes, so the plan keeps, per
    distinct aggregate, a signed (group, value)->count multiset — the
    per-key distinct-view state Flink keeps — alongside the plain
    signed sums.  Per batch: merge the batch's signed deltas into both
    state kinds, then recompute ONLY the affected groups' outputs
    (distinct outputs from the value multiset's live rows, plain
    outputs row-wise) and emit the signed diff.  Per-batch work is
    O(batch + affected groups' distinct-value cardinality) — the same
    bound Flink's MapState update pays.

    **min/max ride the same view state** (r11): Flink's own
    retraction-capable Min/MaxWithRetractAggFunction keeps exactly
    this (value -> count) map per group, and MIN/MAX over the view's
    live values equals MIN/MAX over the rows (duplicates cannot move
    an extremum).  That makes this plan the min/max strategy wherever
    PK-keyed table state does not exist — UNION ALL inputs, tables
    without a PRIMARY KEY — and lets min/max combine with DISTINCT
    aggregates in one statement.

    NULL values never enter a distinct view (SQL: COUNT(DISTINCT x)
    ignores NULLs; an all-NULL group counts 0, sums NULL, and has
    NULL min/max); group liveness comes from the plain state's
    live-row count, so a group whose rows all carry NULL distinct
    values still emits a row.

    ``group_cols=[]`` (r12) is the GLOBAL aggregate: ONE constant
    group whose affected set is every batch — state = the global
    distinct-value cardinality per view, the bound Flink pays for a
    global Min/MaxWithRetractAggFunction or distinct view.  This
    dissolves the former refusal of min/max and DISTINCT on global
    aggregates and on the GLOBAL grouping set ().

    Input contract: FULL-RETRACTION changelogs (the signed view counts
    need the -U before-images; normalize upsert streams with
    ``ensure_retractions`` first — the family's rule for all
    value-keyed state)."""

    kind = "agg"

    def __init__(
        self, group_cols, aggs, distinct, ttl, op_col, seq_col
    ) -> None:
        super().__init__(ttl)
        self.group_cols = list(group_cols)
        self.aggs = dict(aggs)  # plain sum/count/avg
        self.distinct = list(distinct.items())  # [(name, (fn, col))]
        self.op_col = op_col
        self._sum_cols = _delta_sum_cols(self.aggs)

    def _merge_values(self, vs_old, dml, col: Column):
        from flink_cdc_2_3_0_src_spark.operators.changelog import (
            signed_count,
        )

        d = (
            dml.filter(col.isNotNull())
            .groupBy(*self.group_cols, col.alias("__v"))
            .agg(signed_count(self.op_col).alias("__n"))
        )
        if vs_old is None:
            merged = d
        else:
            merged = (
                vs_old.unionByName(d)
                .groupBy(*self.group_cols, "__v")
                .agg(F.sum("__n").alias("__n"))
            )
        return merged.filter(F.col("__n") != 0)

    def _finalize(self, plain_st, vss, affected) -> DataFrame:
        # null-safe struct key joins group rows to view aggregates; the
        # GLOBAL aggregate (no group columns) keys on a constant
        pk = (
            F.struct(*[F.col(c) for c in self.group_cols])
            if self.group_cols
            else F.lit(1)
        )
        base = plain_st
        if affected is not None and self.group_cols:
            base = _keyset_join(base, affected, self.group_cols, "left_semi")
        base = base.select(
            *self.group_cols, *_delta_finalize_exprs(self.aggs)
        ).withColumn("__pk", pk)
        for (name, (fn, _col)), vs in zip(self.distinct, vss):
            live = vs.filter(F.col("__n") > 0)
            if affected is not None and self.group_cols:
                live = _keyset_join(
                    live, affected, self.group_cols, "left_semi"
                )
            if fn == "count":
                expr = F.count(F.lit(1))
            elif fn == "sum":
                expr = F.sum("__v")
            elif fn == "min":
                expr = F.min("__v")
            elif fn == "max":
                expr = F.max("__v")
            else:
                expr = F.avg("__v")
            agg_i = (
                live.groupBy(*self.group_cols)
                .agg(expr.alias(name))
                .withColumn("__pk", pk)
                .select("__pk", name)
            )
            # null-safe struct key: NULL group values must still match
            base = base.join(agg_i, "__pk", "left")
            if fn == "count":
                # COUNT(DISTINCT x) over a live group with no non-null
                # values is 0, not NULL
                base = base.withColumn(
                    name, F.coalesce(F.col(name), F.lit(0).cast("long"))
                )
        return base.drop("__pk")

    def step(self, state, batch: DataFrame):
        dml = _dml_only(batch, self.op_col)
        plain_old, vss_old = (
            (state[0], list(state[1:]))
            if state is not None
            else (None, [None] * len(self.distinct))
        )
        plain_new = merge_agg_state(
            plain_old, dml, self.group_cols, self._sum_cols,
            op_col=self.op_col,
        )
        vss_new = [
            self._merge_values(vs, dml, col)
            for vs, (_name, (_fn, col)) in zip(vss_old, self.distinct)
        ]
        # the global aggregate is ONE group; every batch affects it
        affected = (
            _affected_groups(batch, self.group_cols, self.op_col)
            if self.group_cols
            else None
        )
        new_aff = self._finalize(plain_new, vss_new, affected)
        old_aff = None
        if plain_old is not None:
            old_aff = self._finalize(plain_old, vss_old, affected)
        return (plain_new, *vss_new), _signed_diff(new_aff, old_aff)

    def _expire(self, state, watermark):
        plain_st, vss = state[0], state[1:]
        if self._ttl not in plain_st.columns:
            raise ValueError(
                f"ttl column {self._ttl!r} is not a group column of this "
                "aggregate — time-bucketed TTL needs the bucket in "
                "group_cols"
            )
        return (
            expire_state(plain_st, watermark, self._ttl),
            *[expire_state(vs, watermark, self._ttl) for vs in vss],
        )


class _AggRecomputePlan(_Plan):
    """Aggregates including min/max: not retraction-computable without
    state (agg_auto's other branch), so the plan maintains the
    materialized table (``_upsert_table_state``) and re-aggregates ONLY
    the groups each batch touches — the affected-group recompute shape
    merge_topn_state uses for ranks, applied to aggregates.  Per-batch
    work is bounded by the affected groups' sizes, never the table.
    count/avg here follow agg_auto's materialized branch (non-null
    count for avg; the delta plan tracks the same non-null count, so
    the two plans agree on NULL-valued rows).

    Float caveat: the output delta cancels unchanged affected groups by
    recomputing their aggregates and diffing against the stored rows,
    which for floating-point sum/avg relies on bit-identical
    recomputation.  Spark's partial float/double sums are
    partition-order-dependent, so a group whose value did not
    semantically change can emit a spurious ±1 delta pair (a
    self-cancelling refresh — net state stays correct, but delta
    consumers see the touch).  Use decimal value columns when exact
    delta cancellation matters — the discipline the repo's oracle-exact
    queries already follow (e.g. cos6 fixed-point rounding)."""

    kind = "agg"

    def __init__(self, keys, group_cols, aggs, ttl, op_col, seq_col) -> None:
        super().__init__(ttl)
        self.keys = list(keys)
        self.group_cols = list(group_cols)
        self.aggs = dict(aggs)
        self.op_col = op_col
        self.seq_col = seq_col

    def _exprs(self):
        return _recompute_exprs(self.aggs)

    def step(self, state, batch: DataFrame):
        table_old, agg_old = state if state is not None else (None, None)
        table_new = _upsert_table_state(
            table_old, batch, self.keys, self.op_col, self.seq_col
        )
        affected = _affected_groups(batch, self.group_cols, self.op_col)
        new_agg_aff = (
            _keyset_join(table_new, affected, self.group_cols, "left_semi")
            .groupBy(*self.group_cols)
            .agg(*self._exprs())
        )
        old_aff = None
        if agg_old is not None:
            old_aff = _keyset_join(
                agg_old, affected, self.group_cols, "left_semi"
            )
            agg_new = _keyset_join(
                agg_old, affected, self.group_cols, "left_anti"
            ).unionByName(new_agg_aff)
        else:
            agg_new = new_agg_aff
        return (table_new, agg_new), _signed_diff(new_agg_aff, old_aff)

    def _expire(self, state, watermark):
        table_st, agg_st = state
        return (
            expire_state(table_st, watermark, self._ttl),
            # group-level state only expires when the ts column is a
            # group column (time-bucketed aggs); otherwise leave it —
            # per-row timestamps don't exist at group granularity
            expire_state(agg_st, watermark, self._ttl)
            if self._ttl in agg_st.columns
            else agg_st,
        )


class _WindowedRecomputePlan(_AggRecomputePlan):
    """min/max (with any sum/count/avg alongside) under REPLICATING
    windows — HOP's size/slide replicas and CUMULATE's per-bucket
    window sequence.  Closes the family's former refusal ("per-window
    table state cannot key by the source PK under replication"): the
    table state keys by (source PK + window columns) instead.
    Replication is a deterministic row-local function of the row
    image, so an update's -U replicas identify EXACTLY the window
    cells its old image occupied — the plan rewrites the replicated
    changelog to per-cell upserts before the inherited affected-group
    recompute:

    * ``-U`` → ``-D`` at seq ``2s`` (vacated cells must leave the
      table; ``_upsert_table_state`` ignores a bare -U, which is what
      made ghost replicas under the PK-only keying)
    * ``+U`` → ``+I`` and ``+I`` at seq ``2s + 1`` (an update whose
      old and new images share a cell resolves insert-last)
    * ``-D`` stays at ``2s``

    A ts-moving update thus deletes the old image's cells and inserts
    the new image's — no ghosts, no lost cells — and the group-level
    recompute (affected (window, group) cells only) proceeds exactly
    as the plain table-state plan.  Flink's windowed aggregates hold
    the same per-window keyed state (window + key → accumulator).

    **Input contract: FULL-RETRACTION changelogs** (-U before-images
    present).  The PK-only plan tolerates upsert-form streams because
    a +U replaces its key's whole row, but here the -U replicas are
    what names the vacated window cells — normalize upsert streams
    with ``ensure_retractions``/``normalize_upsert`` first (the
    ChangelogNormalize step Flink's planner inserts for upsert
    sources feeding exactly this kind of keyed window state).
    """

    kind = "agg"

    def __init__(
        self, keys, window_cols, group_cols, aggs, ttl, op_col, seq_col
    ) -> None:
        if not keys:
            raise ValueError(
                "windowed min/max maintenance keeps (PK, window)-keyed "
                "table state and needs keys= (the changelog's primary "
                "key)"
            )
        self.window_cols = list(window_cols)
        super().__init__(
            list(keys) + self.window_cols, group_cols, aggs, ttl,
            op_col, seq_col,
        )

    def step(self, state, batch: DataFrame):
        op = F.col(self.op_col)
        cell = batch.withColumn(
            self.seq_col,
            2 * F.col(self.seq_col).cast("long")
            + F.when(
                op.isin(OP_INSERT, OP_UPDATE_AFTER), F.lit(1)
            ).otherwise(F.lit(0)),
        ).withColumn(
            self.op_col,
            F.when(op == OP_UPDATE_BEFORE, F.lit(OP_DELETE))
            .when(op == OP_UPDATE_AFTER, F.lit(OP_INSERT))
            .otherwise(op),
        )
        return super().step(state, cell)


class _GroupingSetsPlan(_Plan):
    """GROUPING SETS over a changelog: one maintained aggregate plan
    per grouping set (Flink's streaming planner expands grouping sets
    the same way — the Expand node feeding StreamExecGroupAggregate),
    each set's delta NULL-filled to the full group-column list and
    tagged with the SQL-standard GROUPING_ID bitmask (bit i set when
    the i-th group column is AGGREGATED in that set, left-to-right) so
    subtotal rows never collide with detail rows whose group values are
    genuinely NULL.  sum/count/avg sets ride the stateless signed-delta
    plan (the empty set () on its global-aggregate form); min/max and
    DISTINCT aggregates (r11) give each set its own value-multiset
    retract plan (``_DistinctAggPlan`` — Flink's
    Min/MaxWithRetractAggFunction / distinct-view state), so no
    PRIMARY KEY is needed per set — including (r12) the GLOBAL set (),
    which runs the plan's constant-group form (one group, affected
    every batch; state = the global distinct-value cardinality).
    ttl is unsupported — a time bucket absent from a set has no state
    key to expire there."""

    kind = "agg"

    def __init__(
        self, group_cols, sets, aggs, gid_col, ttl, op_col, seq_col,
        distinct=None,
    ) -> None:
        if ttl is not None:
            raise ValueError(
                "grouping sets do not support ttl (a time-bucket column "
                "is aggregated away in subtotal sets); expire the input "
                "changelog upstream"
            )
        super().__init__(None)
        self.group_cols = list(group_cols)
        self.sets = [list(s) for s in sets]
        for s in self.sets:
            unknown = set(s) - set(self.group_cols)
            if unknown:
                raise ValueError(
                    f"grouping set {s} references non-group column(s) "
                    f"{sorted(unknown)}"
                )
        self.gid_col = gid_col
        distinct = dict(distinct or {})
        overlap = set(distinct) & set(aggs)
        if overlap:
            raise ValueError(
                f"duplicate output column(s) {sorted(overlap)}"
            )
        views_base = dict(distinct)
        plain = dict(aggs)
        for name in [
            n for n, (fn, _c) in aggs.items() if fn in ("min", "max")
        ]:
            views_base[name] = plain.pop(name)
        # output column order: SELECT order (plain and view names
        # interleave as declared — _finalize emits plain first, so a
        # stable combined order keeps per-set deltas unionable)
        self.agg_names = [n for n in plain] + [n for n in views_base]
        if views_base:
            # every set — including the GLOBAL set (), one constant
            # group whose affected set is every batch (r12) — rides
            # its own value-multiset retract plan
            self.plans = [
                _DistinctAggPlan(
                    s, plain, views_base, None, op_col, seq_col
                )
                for s in self.sets
            ]
        else:
            self.plans = [
                _AggDeltaPlan(s, aggs, None, op_col, seq_col)
                for s in self.sets
            ]

    def _gid(self, s) -> int:
        n = len(self.group_cols)
        return sum(
            1 << (n - 1 - i)
            for i, c in enumerate(self.group_cols)
            if c not in s
        )

    def step(self, state, batch: DataFrame):
        states = state if state is not None else [None] * len(self.plans)
        types = {f.name: f.dataType for f in batch.schema.fields}
        new_states, deltas = [], []
        for plan, st, s in zip(self.plans, states, self.sets):
            st2, d = plan.step(st, batch)
            new_states.append(st2)
            cols = [
                F.col(c) if c in s else F.lit(None).cast(types[c]).alias(c)
                for c in self.group_cols
            ]
            deltas.append(
                d.select(
                    *cols,
                    F.lit(self._gid(s)).cast("long").alias(self.gid_col),
                    *self.agg_names,
                    MULT_COL,
                )
            )
        out = deltas[0]
        for d in deltas[1:]:
            out = out.unionByName(d)
        return tuple(new_states), out

    def _expire(self, state, watermark):  # pragma: no cover - unreachable
        raise AssertionError("grouping sets are constructed with ttl=None")


class _SessionPlan(_Plan):
    """Session-window aggregates over a changelog (Flink's
    ``SESSION(ts, INTERVAL gap)`` merging group windows —
    SessionWindows.withGap + MergingWindowAssigner): unlike TUMBLE/HOP,
    a row's window is NOT a row-local function of its timestamp — a new
    arrival can MERGE two existing sessions and a retraction can SPLIT
    one — so the plan keeps the materialized table
    (``_upsert_table_state``, keyed by the source PRIMARY KEY) and
    re-sessionizes ONLY the groups each batch touches, the
    affected-group recompute discipline ``_AggRecomputePlan`` and
    ``merge_topn_state`` use.  Per-batch work is bounded by the
    affected groups' sizes, never the table; a group's sessionization
    is one sort of its own rows (gaps-and-islands), which is exactly
    the state Flink's merging window assigner keeps per key.

    Output rows: ``group_cols + [w_start, w_end] + aggs``, with
    ``w_start = min(ts)`` and ``w_end = max(ts) + gap`` (Flink's
    session window extent).  The output delta is the signed diff of
    the affected groups' session rows — a merge retracts both old
    sessions and inserts the union, a split retracts one and inserts
    the pieces.

    ``expire(state, watermark)`` evicts CLOSED sessions: a session is
    closed once ``w_end <= watermark`` (no on-time row at
    ``ts >= watermark`` can be within ``gap`` of its last element, so
    it can never merge again).  Table rows of closed sessions and
    result rows with ``w_end <= watermark`` are dropped together — the
    consistent forget the Top-N plan also applies; NULL-ts table rows
    are kept (``expire_state``'s convention) but never aggregate."""

    kind = "session"

    def __init__(
        self, keys, group_cols, aggs, ts_col, gap, w_start, w_end,
        ttl, op_col, seq_col, distinct=None,
    ) -> None:
        if ttl is not None and ttl != ts_col:
            raise ValueError(
                "session ttl must be the session's ts column (expiry "
                f"evicts closed sessions), got {ttl!r} != {ts_col!r}"
            )
        super().__init__(ttl)
        self.keys = list(keys)
        self.group_cols = list(group_cols)
        self.aggs = dict(aggs)
        # DISTINCT aggregates (r12): exact under merges/splits for free
        # — the plan re-sessionizes affected groups from the
        # materialized table, so distinct recomputes from raw rows (no
        # view state; a merge folds the union's distinct set by
        # construction)
        self.distinct = dict(distinct or {})
        overlap = set(self.distinct) & set(self.aggs)
        if overlap:
            raise ValueError(
                f"duplicate output column(s) {sorted(overlap)}"
            )
        self.ts_col = ts_col
        self.gap_us = _gap_micros(gap)
        self.w_start = w_start
        self.w_end = w_end
        self.op_col = op_col
        self.seq_col = seq_col
        overlap = {w_start, w_end} & set(self.group_cols)
        if overlap:
            raise ValueError(
                f"window output column(s) {sorted(overlap)} collide with "
                "group columns"
            )

    def _sessions(self, rows: DataFrame) -> DataFrame:
        s = _with_session_ids(rows, self.ts_col, self.gap_us, self.group_cols)
        return s.groupBy(*self.group_cols, "__sid").agg(
            F.min(self.ts_col).alias(self.w_start),
            (F.max(self.ts_col) + _gap_interval(self.gap_us)).alias(
                self.w_end
            ),
            *_recompute_exprs(self.aggs),
            *_distinct_recompute_exprs(self.distinct),
        ).drop("__sid")

    def step(self, state, batch: DataFrame):
        table_old, res_old = state if state is not None else (None, None)
        table_new = _upsert_table_state(
            table_old, batch, self.keys, self.op_col, self.seq_col
        )
        if self.group_cols:
            affected = _affected_groups(batch, self.group_cols, self.op_col)
            rows_aff = _keyset_join(
                table_new, affected, self.group_cols, "left_semi"
            )
        else:
            # a global session window is one group; every batch with DML
            # touches it, and its recompute is one sort of its own rows
            rows_aff = table_new
        new_aff = self._sessions(rows_aff)
        old_aff, res_keep = None, None
        if res_old is not None:
            if self.group_cols:
                old_aff = _keyset_join(
                    res_old, affected, self.group_cols, "left_semi"
                )
                res_keep = _keyset_join(
                    res_old, affected, self.group_cols, "left_anti"
                )
            else:
                old_aff = res_old
        res_new = (
            new_aff if res_keep is None else res_keep.unionByName(new_aff)
        )
        return (table_new, res_new), _signed_diff(new_aff, old_aff)

    def _expire(self, state, watermark):
        from pyspark.sql.window import Window

        table_st, res_st = state
        wm = F.lit(watermark)
        # a table row expires when its SESSION is closed (w_end behind
        # the watermark) — evicting by raw ts would split a still-open
        # chained session mid-aggregation.  NULL-ts rows are kept.
        null_ts = table_st.filter(F.col(self.ts_col).isNull())
        s = _with_session_ids(
            table_st, self.ts_col, self.gap_us, self.group_cols
        )
        part = (
            [F.col(c) for c in self.group_cols]
            if self.group_cols
            else [F.lit(1)]
        )
        send = F.max(F.col(self.ts_col)).over(
            Window.partitionBy(*part, F.col("__sid"))
        ) + _gap_interval(self.gap_us)
        table_kept = (
            s.withColumn("__send", send)
            .filter(F.col("__send") > wm)
            .drop("__sid", "__send")
            .unionByName(null_ts)
        )
        res_kept = res_st.filter(F.col(self.w_end) > wm)
        return (table_kept, res_kept)


class _JoinPlan(_Plan):
    kind = "join"

    def __init__(self, on, how, ttl, op_col, seq_col) -> None:
        if ttl is not None and not (
            isinstance(ttl, (tuple, list)) and len(ttl) == 2
        ):
            raise ValueError(
                "join ttl must be a (ts_col_a, ts_col_b) pair — one "
                "event-time column per side"
            )
        super().__init__(tuple(ttl) if ttl is not None else None)
        self.on = list(on)
        self.how = how
        self.op_col = op_col
        self.seq_col = seq_col

    def step(self, state, batch_a: DataFrame, batch_b: DataFrame = None):
        if batch_b is None:
            raise ValueError(
                "join plan steps two batches: plan.step(state, batch_a, "
                "batch_b)"
            )
        return merge_join_state(
            state, batch_a, batch_b, self.on,
            how=self.how, op_col=self.op_col, seq_col=self.seq_col,
        )

    def _expire(self, state, watermark):
        a_st, b_st = state
        ts_a, ts_b = self._ttl
        return (
            expire_state(a_st, watermark, ts_a),
            expire_state(b_st, watermark, ts_b),
        )


class _JoinChainPlan(_Plan):
    """Multi-way (3+ input) equi-join maintenance: a LEFT-DEEP cascade
    of :func:`merge_join_state_deltas` stages — the stacked
    StreamingJoinOperator chain Flink's planner builds for ``FROM a
    JOIN b ON .. JOIN c ON ..``.  Stage i's state pair is (the
    accumulated multiset of the first i+1 inputs' join, input i+2's
    accumulated multiset); stage i's OUTPUT delta — exact for arbitrary
    signed multiplicities because the delta rule is bilinear — feeds
    stage i+1 as its left-side delta, so one microbatch propagates
    through the whole chain in one pass, each stage's work
    batch-delta-driven (dA⋈B_old + A_old⋈dB + dA⋈dB), never a rescan
    of any accumulated side.

    At 100 TB the shape to watch is the INTERMEDIATE state (stage i's
    left accumulation is the i-way join's materialization — Flink pays
    the same; order the chain smallest-joins-first).  ``ttl`` is not
    supported: composed intermediate rows carry several event-time
    columns with no single eviction key — expire the INPUTS upstream
    (per-side windows) instead."""

    kind = "join_chain"

    def __init__(self, stages, ttl, op_col, seq_col) -> None:
        if ttl is not None:
            raise ValueError(
                "join chains do not support ttl (composed intermediate "
                "state has no single event-time column); expire the "
                "input changelogs upstream instead"
            )
        super().__init__(None)
        self.stages = []
        for st in stages:
            if not (isinstance(st, (tuple, list)) and len(st) in (2, 3)):
                raise ValueError(
                    "chain= takes [(on_cols, how[, pair_filter_sql]), ...] "
                    "— one stage per JOIN after the first table"
                )
            on, how = st[0], st[1]
            flt = st[2] if len(st) == 3 else None
            if how not in ("inner", "left", "right", "full"):
                raise ValueError(
                    f"how must be inner/left/right/full, got {how!r}"
                )
            if flt is not None and how != "inner":
                # σ_p commutes with the delta algebra only when the pad
                # rows don't depend on p — i.e. inner joins; an outer
                # join's ON-clause predicate changes WHICH rows get
                # null-padded, a different operator
                raise ValueError(
                    "a stage pair-filter is supported on inner stages "
                    "only (outer ON-clause predicates change the null "
                    "pad, not just the output)"
                )
            self.stages.append((list(on), how, flt))
        if len(self.stages) < 2:
            raise ValueError(
                "a join chain needs at least two stages (use on=/how= "
                "for a two-input join)"
            )
        self.op_col = op_col
        self.seq_col = seq_col

    def step(self, state, *batches):
        from flink_cdc_2_3_0_src_spark.operators.changelog import (
            merge_join_state_deltas,
            signed_multiset,
        )

        if len(batches) != len(self.stages) + 1:
            raise ValueError(
                f"join chain of {len(self.stages)} stages steps "
                f"{len(self.stages) + 1} batches, got {len(batches)}"
            )
        states = state if state is not None else [None] * len(self.stages)
        delta = signed_multiset(batches[0], self.op_col, self.seq_col)
        new_states = []
        for i, (on, how, flt) in enumerate(self.stages):
            d_right = signed_multiset(
                batches[i + 1], self.op_col, self.seq_col
            )
            st_i, delta = merge_join_state_deltas(
                states[i], delta, d_right, on, how=how
            )
            if flt is not None:
                # row-local pair predicate (interval-join bounds): exact
                # as a post-filter on the stage's output delta because
                # σ_p is linear over signed multisets — and the FILTERED
                # delta is what feeds the next stage, so its left state
                # accumulates σ_p(stage output) exactly
                delta = delta.filter(F.expr(flt))
            new_states.append(st_i)
        return tuple(new_states), delta

    def _expire(self, state, watermark):  # pragma: no cover - unreachable
        raise AssertionError("join chains are constructed with ttl=None")


class _TemporalJoinPlan(_Plan):
    """Event-time temporal join over a VERSIONED table — Flink's
    ``FROM probe p JOIN dim FOR SYSTEM_TIME AS OF p.<ptime> AS d ON
    p.k = d.k`` (TemporalRowTimeJoinOperator; the reference's
    dim-enrichment pattern for CDC pipelines, e.g. joining an order
    stream against a MySQL-CDC-maintained currency-rate table).  Each
    probe row joins the dim VERSION valid at the probe row's event
    time: the latest dim image with version time <= probe time, unless
    that image is a delete tombstone.  Output is APPEND-ONLY — an
    enrichment, once emitted, is never retracted when the dim changes
    later; the defining difference from the regular maintained join
    (``_JoinPlan``), whose output updates retroactively.

    * **probe side**: append-only (+I rows only — Flink requires the
      same; a retraction arriving here raises).  No probe state is
      kept: a probe row is enriched in its own batch.
    * **build side**: a changelog of the versioned table.  State = the
      VERSION HISTORY: every +I/+U image opens a version at its event
      time; a -D opens a TOMBSTONE version (the key has no valid image
      from then until the next insert).  -U rows are inert (the
      boundary is carried by the paired +U/-D) and NULL-version-time
      rows are dropped (a version needs an event time — Flink's
      rowtime is watermark-defined and non-null).
    * **watermark contract**: the batch boundary acts as the
      watermark — every dim version with vts <= a probe row's ptime
      must arrive in the probe row's batch or earlier.  CDC replays in
      global commit order satisfy this; Flink instead BUFFERS probe
      rows until the watermark passes both inputs, trading latency for
      the same result.
    * **ttl** (= the build version-time column): VERSIONED cleanup,
      not plain eviction — per key, keep every version at/after the
      watermark PLUS the latest one before it (still the valid image
      for future probes).  Flink's TemporalRowTimeJoinOperator cleans
      its MapState the same way.  Probes older than the watermark see
      the kept snapshot (the retention trade the caller opts into).

    At 100 TB: the probe batch shuffles once on the join key against
    key-partitioned version state (batch × affected-key versions, the
    classic distributed AS-OF join); the per-probe version pick is a
    window over each probe row's candidate versions, bounded by that
    key's version count — never state-sized work.
    """

    kind = "temporal"

    def __init__(self, opts, ttl, op_col, seq_col) -> None:
        opts = dict(opts)
        unknown = set(opts) - {"on", "ptime", "btime", "how"}
        if unknown:
            raise ValueError(f"unknown temporal options: {sorted(unknown)}")
        missing = {"on", "ptime", "btime"} - set(opts)
        if missing:
            raise ValueError(
                f"temporal= needs {sorted(missing)}: "
                "{'on': [key cols], 'ptime': <probe event-time col>, "
                "'btime': <build version-time col>[, 'how': inner|left]}"
            )
        how = opts.get("how", "inner")
        if how not in ("inner", "left"):
            raise ValueError(
                f"temporal join how must be inner or left, got {how!r} "
                "(Flink supports the same two for FOR SYSTEM_TIME AS OF)"
            )
        super().__init__(ttl)
        self.on = list(opts["on"])
        self.ptime = opts["ptime"]
        self.btime = opts["btime"]
        self.how = how
        self.op_col = op_col
        self.seq_col = seq_col
        if ttl is not None and ttl != self.btime:
            raise ValueError(
                "temporal ttl must name the build version-time column "
                f"({self.btime!r}) — versioned cleanup keys on it"
            )

    def step(self, state, batch_p: DataFrame, batch_b: DataFrame = None):
        if batch_b is None:
            raise ValueError(
                "temporal plan steps two batches: plan.step(state, "
                "probe_batch, build_batch)"
            )
        # contract check, cheap (LIMIT-1 probe): the probe side of an
        # event-time temporal join must be append-only — Flink rejects
        # an updating probe stream at plan time; we can only see it at
        # runtime
        _require_append_only(
            batch_p, self.op_col, "the probe side of a temporal join",
            "route an updating stream through a regular maintained "
            "join instead",
        )
        p_payload = [
            c for c in batch_p.columns
            if c not in (self.op_col, self.seq_col)
        ]
        b_payload = [
            c for c in batch_b.columns
            if c not in (self.op_col, self.seq_col)
        ]
        clash = (set(p_payload) & set(b_payload)) - set(self.on)
        if clash:
            raise ValueError(
                f"temporal join sides share non-key column(s) "
                f"{sorted(clash)}; rename them upstream (the enriched "
                "row carries both sides' payloads)"
            )
        vers_new = (
            batch_b.filter(
                F.col(self.op_col).isin(OP_INSERT, OP_UPDATE_AFTER, OP_DELETE)
            )
            .filter(F.col(self.btime).isNotNull())
            .select(
                *b_payload,
                F.col(self.op_col)
                .isin(OP_INSERT, OP_UPDATE_AFTER)
                .cast("int")
                .alias("__alive"),
                F.col(self.seq_col).alias("__bseq"),
            )
        )
        new_state = pin(
            vers_new if state is None else state.unionByName(vers_new)
        )

        probe = batch_p.filter(F.col(self.op_col) == OP_INSERT).select(
            *p_payload, F.col(self.seq_col).alias("__pseq")
        )
        from pyspark.sql.window import Window

        b_value_cols = [c for c in b_payload if c not in self.on]
        cand = probe.join(new_state, on=self.on, how="inner").filter(
            F.col(self.btime) <= F.col(self.ptime)
        )
        w = Window.partitionBy("__pseq").orderBy(
            F.col(self.btime).desc(), F.col("__bseq").desc()
        )
        best = (
            cand.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & (F.col("__alive") == 1))
            .select("__pseq", *b_value_cols)
        )
        out = probe.join(best, "__pseq", self.how).drop("__pseq")
        return new_state, out.withColumn(
            MULT_COL, F.lit(1).cast("long")
        )

    def _expire(self, state, watermark):
        # versioned cleanup: keep versions at/after the watermark plus,
        # per key, the LATEST version before it — that one is still the
        # valid image for any future probe between the watermark and
        # the next version boundary
        from pyspark.sql.window import Window

        wm = F.lit(watermark)
        ts = F.col(self.btime)
        old = state.filter(ts < wm)
        w = Window.partitionBy(*self.on).orderBy(
            ts.desc(), F.col("__bseq").desc()
        )
        keep_old = (
            old.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        return state.filter(ts >= wm).unionByName(keep_old)


def _require_append_only(batch: DataFrame, op_col: str, what: str,
                         hint: str) -> None:
    """Refuse updating inputs (-U/+U/-D) for the append-only plans —
    Flink's planner rejects the same statements on updating streams."""
    offending = batch.filter(
        F.col(op_col).isin(OP_UPDATE_BEFORE, OP_UPDATE_AFTER, OP_DELETE)
    ).limit(1)
    if offending.count() > 0:
        raise ValueError(
            f"{what} takes an append-only input (+I rows only) — "
            f"Flink requires the same; {hint}"
        )


class _LookupJoinPlan(_Plan):
    """Processing-time lookup join — Flink's ``FROM probe p [LEFT]
    JOIN dim FOR SYSTEM_TIME AS OF PROCTIME() AS d ON p.k = d.k``
    (StreamExecLookupJoin / LookupJoinRunner; the reference's JDBC
    dim-table enrichment, flink-connector-jdbc's
    JdbcRowDataLookupFunction).  Each arriving probe row is enriched
    against the dim table's CURRENT content at the moment it is
    processed; output is append-only — later dim changes never retract
    an emitted enrichment, and unlike the event-time temporal join no
    version history is kept (there is NO dim state in the operator at
    all: the dim is re-consulted per batch, which is exactly Flink's
    per-record external lookup batched up).

    * **probe side**: append-only (+I rows only; updating inputs are
      refused — Flink's lookup join has the same source requirement
      for deterministic results).
    * **dim side**: a SNAPSHOT of the external table's current rows
      per step (plain rows, not a changelog) — the microbatch form of
      "query the dimension at processing time".  Between batches the
      snapshot may change freely; each batch's probes see their
      batch's snapshot.
    * **determinism note**: like Flink's processing-time join, results
      depend on WHEN a probe row is processed relative to dim changes
      — the batch boundary is that clock here (documented, test-pinned
      with a mid-stream dim change).

    No state, so no ttl.  At 100 TB: per batch one equi-join of the
    probe batch against the dim (AQE broadcasts a small dim
    automatically — the lookup-cache analogue); work is batch-sized,
    never history-sized.
    """

    kind = "lookup"

    def __init__(self, opts, ttl, op_col, seq_col) -> None:
        opts = dict(opts)
        unknown = set(opts) - {"on", "how"}
        if unknown:
            raise ValueError(f"unknown lookup options: {sorted(unknown)}")
        if "on" not in opts or not list(opts["on"]):
            raise ValueError(
                "lookup= needs {'on': [join key cols][, 'how': "
                "inner|left]}"
            )
        if ttl is not None:
            raise ValueError(
                "a lookup join keeps no state (the dim is re-consulted "
                "per batch); ttl does not apply"
            )
        super().__init__(None)
        self.on = list(opts["on"])
        self.how = opts.get("how", "inner")
        if self.how not in ("inner", "left"):
            raise ValueError(
                f"lookup join how must be inner or left, got "
                f"{self.how!r} (Flink's lookup join supports the same "
                "two for deterministic enrichment)"
            )
        self.op_col = op_col
        self.seq_col = seq_col

    def step(self, state, probe: DataFrame, dim: DataFrame):
        _require_append_only(
            probe, self.op_col, "the probe side of a lookup join",
            "enrich first, aggregate later, or use a maintained "
            "equi-join for updating probes",
        )
        rows = probe.filter(F.col(self.op_col) == OP_INSERT).select(
            *[
                c
                for c in probe.columns
                if c not in (self.op_col, self.seq_col)
            ]
        )
        dim_rows = dim.select(
            *[
                c
                for c in dim.columns
                if c not in (self.op_col, self.seq_col)
            ]
        )
        shared = (
            set(rows.columns) & set(dim_rows.columns)
        ) - set(self.on)
        if shared:
            raise ValueError(
                f"lookup join sides share non-key column(s) "
                f"{sorted(shared)}; rename them on one side first"
            )
        out = rows.join(dim_rows, on=self.on, how=self.how).withColumn(
            MULT_COL, F.lit(1).cast("long")
        )
        return state, out

    def _expire(self, state, watermark):  # pragma: no cover - guarded
        raise ValueError("lookup join keeps no state; ttl does not apply")


class _MatchPlan(_Plan):
    """MATCH_RECOGNIZE maintenance — Flink's CEP SQL (StreamExecMatch /
    CepOperator) for the two-step contiguous pattern::

        PATTERN (A B)  AFTER MATCH SKIP TO NEXT ROW  WITHIN <interval>

    A match is two CONSECUTIVE rows of a key's event-time order where
    A's DEFINE holds on the first row, B's on the second, and the time
    gap is STRICTLY shorter than the interval (Flink's CEP boundary).
    SKIP TO NEXT ROW resumes at the row
    after the match's FIRST row, so matches may overlap — which makes
    the match set a pure per-position predicate (row i matches iff
    DEFINE_A(row_i) ∧ DEFINE_B(row_{i+1}) ∧ gap < within), computable
    with one LEAD window per affected key and DIFFABLE exactly between
    batches.  (SKIP PAST LAST ROW's greedy non-overlap needs a
    sequential scan and is refused with guidance.)

    * **input**: append-only (+I; Flink's MATCH_RECOGNIZE requires an
      append-only input too); NULL event times drop (window rule).
    * **state**: each key's retained rows with order time within
      ``within`` of the key's max — the rows a future arrival can
      still pair with.  Like the OVER plan's RANGE retention, the
      prune is exact under per-key in-order arrivals; an out-of-order
      row landing before already-pruned rows can re-pair across the
      pruned boundary (emitted matches are never retracted) — Flink's
      CEP state cleanup makes the same trade for late events.
    * **per batch**: affected keys' retained rows ∪ batch rows, ONE
      LEAD window over that bounded pool, measures projected, and the
      signed diff against the same computation over the pre-batch pool
      (an out-of-order arrival that breaks a previously-emitted
      adjacency retracts it — consecutive-ness is stateful).
    * ``ttl=<order col>`` additionally evicts retained rows behind an
      explicit watermark.

    ``measures`` are SQL expressions over ``A.<col>`` / ``B.<col>``;
    defines likewise (B's may reference A's columns — the pair is in
    scope, Flink's semantics for a matched earlier variable).
    """

    kind = "match"

    def __init__(self, opts, ttl, op_col, seq_col) -> None:
        opts = dict(opts)
        unknown = set(opts) - {
            "partition", "order", "within", "define_a", "define_b",
            "measures",
        }
        if unknown:
            raise ValueError(f"unknown match options: {sorted(unknown)}")
        missing = {
            "partition", "order", "within", "define_a", "define_b",
            "measures",
        } - set(opts)
        if missing:
            raise ValueError(
                f"match= needs {sorted(missing)}: {{'partition': [key "
                "cols], 'order': <ts col>, 'within': '<n> <unit>s', "
                "'define_a': <sql over A cols>, 'define_b': <sql>, "
                "'measures': [(sql, out name), ...]}"
            )
        super().__init__(ttl)
        self.partition = list(opts["partition"])
        if not self.partition:
            raise ValueError("match= needs a non-empty partition")
        self.order = opts["order"]
        self.within_us = _gap_micros(opts["within"])
        self.define_a = opts["define_a"]
        self.define_b = opts["define_b"]
        self.measures = list(opts["measures"])
        if not self.measures:
            raise ValueError("match= needs at least one measure")
        self.op_col = op_col
        self.seq_col = seq_col
        if ttl is not None and ttl != self.order:
            raise ValueError(
                "match ttl must name the ORDER BY time column "
                f"({self.order!r})"
            )

    def _matches(self, pool: DataFrame) -> DataFrame:
        """Measure rows of every A-B adjacency in the pool (per key,
        (order, seq) ascending), as a signed multiset with +1 rows."""
        from pyspark.sql.window import Window

        w = Window.partitionBy(*self.partition).orderBy(
            F.col(self.order).asc(), F.col(self.seq_col).asc()
        )
        payload = [c for c in pool.columns]
        frame = pool.withColumn(
            "__b", F.lead(F.struct(*payload)).over(w)
        )
        gap = F.unix_micros(
            F.col(f"__b.{self.order}").cast("timestamp")
        ) - F.unix_micros(F.col(self.order).cast("timestamp"))
        matched = frame.filter(
            F.col("__b").isNotNull()
            # STRICT bound — Flink's CEP/MATCH_RECOGNIZE requires the
            # first-to-last gap be strictly shorter than WITHIN (a pair
            # exactly `within` apart does NOT match)
            & (gap < F.lit(self.within_us))
            & F.expr(self.define_a)
            & F.expr(self.define_b)
        )
        return matched.select(
            *self.partition,
            *[F.expr(e).alias(n) for e, n in self.measures],
        ).withColumn(MULT_COL, F.lit(1).cast("long"))

    def step(self, state, batch: DataFrame):
        _require_append_only(
            batch, self.op_col, "MATCH_RECOGNIZE",
            "pattern-match an updating stream after materializing it "
            "upstream",
        )
        rows = batch.filter(
            (F.col(self.op_col) == OP_INSERT)
            & F.col(self.order).isNotNull()
        ).select(*[c for c in batch.columns if c != self.op_col])
        affected = rows.select(*self.partition).distinct()
        old_pool = (
            _keyset_join(state, affected, self.partition, "left_semi")
            if state is not None
            else None
        )
        new_pool = (
            rows if old_pool is None else rows.unionByName(old_pool)
        )
        new_m = self._matches(new_pool)
        delta = new_m
        if old_pool is not None:
            old_m = self._matches(old_pool).withColumn(
                MULT_COL, -F.col(MULT_COL)
            )
            payload = [c for c in new_m.columns if c != MULT_COL]
            delta = (
                new_m.unionByName(old_m)
                .groupBy(*payload)
                .agg(F.sum(MULT_COL).alias(MULT_COL))
                .filter(F.col(MULT_COL) != 0)
            )
        # retention: rows within `within` of their key's max order time
        # can still pair with a future in-order arrival
        from pyspark.sql.window import Window

        kmax = F.max(F.col(self.order)).over(
            Window.partitionBy(*self.partition)
        )
        pruned = new_pool.withColumn(
            "__keep",
            F.unix_micros(F.col(self.order).cast("timestamp"))
            >= F.unix_micros(kmax.cast("timestamp"))
            - F.lit(self.within_us),
        ).filter(F.col("__keep")).drop("__keep")
        if state is not None:
            pruned = pruned.unionByName(
                _keyset_join(state, affected, self.partition, "left_anti")
            )
        return pin(pruned), delta

    def _expire(self, state, watermark):
        return expire_state(state, watermark, self.order)


_PATTERN_TOKEN = re.compile(
    r"\s*([A-Za-z_]\w*)\s*(\+|\*|\?|\{\s*\d+\s*(?:,\s*\d*)?\s*\})?(\?)?"
)


def parse_match_pattern(pattern: str) -> list:
    """``"A B+ C{1,3} D*?"`` → ``[("A", 1, 1, True), ("B", 1, None,
    True), ("C", 1, 3, True), ("D", 0, None, False)]`` — (variable,
    min, max, greedy) per element, ``max=None`` for unbounded.
    SQL:2016 quantifiers: ``+`` = {1,}, ``*`` = {0,}, ``?`` = {0,1},
    ``{n}`` = {n,n}, ``{n,}``, ``{n,m}``; a trailing ``?`` on a
    quantifier makes it RELUCTANT (``+?`` ``*?`` ``??`` ``{n,m}?`` —
    take as FEW rows as possible, r12).  Alternation and PERMUTE are
    not in the subset and fail the token scan."""
    elems, pos, s = [], 0, pattern.strip()
    if not s:
        raise ValueError("PATTERN is empty")
    while pos < len(s):
        m = _PATTERN_TOKEN.match(s, pos)
        if not m or not m.group(1):
            raise ValueError(
                f"cannot parse PATTERN at {s[pos:]!r}: the maintained "
                "subset is a sequence of variables with optional "
                "quantifiers (+ * ? {n} {n,} {n,m}, each optionally "
                "reluctant with a trailing ?) — alternation (|) and "
                "PERMUTE need Flink's full CEP operator"
            )
        var, q, rel = m.group(1).upper(), m.group(2), m.group(3)
        # rel without q cannot happen: the quantifier alternation
        # includes '?', so a lone '?' always scans as the OPTIONAL
        # quantifier and only a SECOND '?' reaches the reluctant group
        if q is None:
            mn, mx = 1, 1
        elif q == "+":
            mn, mx = 1, None
        elif q == "*":
            mn, mx = 0, None
        elif q == "?":
            mn, mx = 0, 1
        else:
            body = q.strip("{}").strip()
            if "," in body:
                lo, hi = body.split(",", 1)
                mn = int(lo)
                mx = int(hi) if hi.strip() else None
            else:
                mn = mx = int(body)
        if mx is not None and mx < max(mn, 1):
            raise ValueError(
                f"quantifier {q!r} on {var!r}: max must be >= max(min, 1)"
            )
        elems.append((var, mn, mx, rel is None))
        pos = m.end()
    seen = set()
    for var, _mn, _mx, _g in elems:
        if var in seen:
            raise ValueError(
                f"pattern variable {var!r} appears twice; the "
                "maintained subset binds each variable to one "
                "contiguous run (write B{2,} instead of B B+)"
            )
        seen.add(var)
    if sum(mn for _v, mn, _mx, _g in elems) < 1:
        raise ValueError(
            "the pattern can match zero rows (every element is "
            "optional); require at least one element with min >= 1"
        )
    return elems


def parse_match_pattern_ex(pattern: str):
    """``parse_match_pattern`` plus SQL:2016 PATTERN EXCLUSIONS:
    ``"A {- B+ -} C"`` → (the flattened elements of ``"A B+ C"``,
    ``{"B"}``).  Excluded variables participate in MATCHING exactly
    like any other element (adjacency, WITHIN, DEFINEs, aggregate
    measures) but their rows are omitted from ALL ROWS PER MATCH
    output — the SQL:2016 ``{- -}`` refinement (beyond Flink's
    surface: Flink's MATCH_RECOGNIZE is ONE ROW PER MATCH only and
    rejects exclusions).  With ONE ROW PER MATCH the exclusion is
    accepted and has no effect (the standard's semantics)."""
    s, pos, flat, excluded = pattern, 0, [], set()
    while True:
        i = s.find("{-", pos)
        if i < 0:
            flat.append(s[pos:])
            break
        j = s.find("-}", i + 2)
        if j < 0:
            raise ValueError(
                "PATTERN: unbalanced {- -} exclusion (no closing -})"
            )
        seg = s[i + 2 : j]
        if "{-" in seg:
            raise ValueError(
                "PATTERN: nested {- -} exclusions are not valid "
                "SQL:2016"
            )
        if not seg.strip():
            raise ValueError("PATTERN: empty {- -} exclusion")
        excluded |= {v for v, _mn, _mx, _g in parse_match_pattern(seg)}
        flat.append(s[pos:i])
        flat.append(" " + seg + " ")
        pos = j + 2
    return parse_match_pattern("".join(flat)), excluded


def parse_match_pattern_alts(pattern: str):
    """The full r13 pattern grammar → ``(branches, excluded)``:

    * alternation ``A B+ | A E+`` — top-level ``|`` splits into
      ALTERNATIVE branches tried in lexical order (SQL:2016's
      leftmost preference; Flink rejects ``|`` outright);
    * ``PERMUTE(A, B+, C)`` — every ordering of the listed elements
      as a branch, in the SQL:2016-prescribed lexical order of
      permutations (≤ 4 elements, so ≤ 24 branches);
    * ``{- X -}`` exclusions inside any alternation branch
      (``parse_match_pattern_ex``); the excluded set is the union.

    Each branch is a list of (var, min, max, greedy) elements;
    variables may repeat ACROSS branches (same DEFINE applies) but
    not within one."""
    s = pattern.strip()
    pm = re.match(r"(?is)^PERMUTE\s*\((.*)\)\s*$", s)
    if pm:
        import itertools

        body = pm.group(1)
        if "{-" in body:
            raise ValueError(
                "PATTERN: {- -} exclusions inside PERMUTE are not "
                "supported; exclude in an explicit alternation"
            )
        toks = [t.strip() for t in body.split(",")]
        if not 2 <= len(toks) <= 4:
            raise ValueError(
                "PERMUTE takes 2 to 4 elements (each added element "
                "multiplies the branch count — 4 elements is already "
                "24 alternatives)"
            )
        elems = []
        for t in toks:
            m = _PATTERN_TOKEN.fullmatch(t)
            if not m or not m.group(1):
                raise ValueError(
                    f"cannot parse PERMUTE element {t!r}: one "
                    "variable with an optional quantifier"
                )
            # parse behind a min-1 sentinel so a lone optional
            # element ("B*") passes the zero-row whole-pattern check
            elems.append(parse_match_pattern(f"__zz {t}")[1])
        seen = set()
        for v, _mn, _mx, _g in elems:
            if v in seen:
                raise ValueError(
                    f"PERMUTE element {v!r} appears twice"
                )
            seen.add(v)
        if sum(mn for _v, mn, _mx, _g in elems) < 1:
            raise ValueError(
                "the pattern can match zero rows (every element is "
                "optional); require at least one element with min >= 1"
            )
        return [list(p) for p in itertools.permutations(elems)], set()
    branches, excluded = [], set()
    for part in s.split("|"):
        if not part.strip():
            raise ValueError("PATTERN: empty alternation branch")
        elems, ex = parse_match_pattern_ex(part)
        branches.append(elems)
        excluded |= ex
    return branches, excluded


#: Catalyst's comparison and arithmetic nodes → the operator of a
#: cross-variable ``("cmp", ..)`` / ``("bin", ..)`` spec; ``<>`` and
#: ``!=`` parse as Not(EqualTo)
_CMP_OPS = {
    "EqualTo": "=", "LessThan": "<", "LessThanOrEqual": "<=",
    "GreaterThan": ">", "GreaterThanOrEqual": ">=",
}
_ARITH_OPS = {"Add": "+", "Subtract": "-", "Multiply": "*", "Divide": "/"}


def _var_call(n: _Node, names) -> Optional[tuple]:
    """(NAME, variable, column or ``*``, offset or None) of a call of
    one of ``names`` over one pattern variable — ``LAST(V.col, k)``,
    ``SUM(V.col)``, ``COUNT(V.*)`` — with no DISTINCT, FILTER or
    IGNORE NULLS; else None."""
    c = n.call(names)
    if not c or len(c[1]) not in (1, 2) or n.modified():
        return None
    arg, *off = c[1]
    k = off[0].uint() if off else None
    if off and k is None:
        return None
    if arg.name == "UnresolvedStar" and "." in arg.text():
        q = arg.text().partition(".")[0].strip(), "*"
    else:
        q = arg.qref()
    return None if q is None else (c[0].upper(), q[0], q[1], k)


def _cmp_ok(op: str, a, b) -> bool:
    """SQL three-valued comparison collapsed to the DEFINE's boolean:
    NULL/NaN on either side → not satisfied (Flink's NFA condition
    treats an unknown predicate as false)."""
    # a != a catches float NaN, NaT and Decimal('NaN') without pandas
    if a is None or b is None or a != a or b != b:
        return False
    try:
        if op == "<":
            return bool(a < b)
        if op == "<=":
            return bool(a <= b)
        if op == ">":
            return bool(a > b)
        if op == ">=":
            return bool(a >= b)
        if op in ("=", "=="):
            return bool(a == b)
        return bool(a != b)  # <> / !=
    except TypeError:
        return False


def _num(x):
    """Unbox numpy scalars so Decimal arithmetic accepts them
    (``Decimal * np.int64`` raises; ``Decimal * int`` is exact)."""
    if type(x).__module__ == "numpy":
        return x.item()
    return x


def _arith(op: str, a, b):
    """SQL arithmetic over one binary node of a comparison side:
    NULL/NaN propagates (SQL), ``/`` is true division (Spark's and
    DuckDB's non-integer ``/``), division by zero is NULL (Spark's
    non-ANSI behavior), and a Decimal meeting a float coerces to
    float (the engines' DOUBLE-wins rule) while Decimal-with-int
    stays exact.  A type-mismatched operation (arithmetic over
    strings, timestamps, ...) is unknown → None, the same
    collapse-to-false discipline ``_cmp_ok`` applies."""
    if a is None or b is None or a != a or b != b:
        return None
    a, b = _num(a), _num(b)
    if isinstance(a, Decimal) and isinstance(b, float):
        a = float(a)
    elif isinstance(b, Decimal) and isinstance(a, float):
        b = float(b)
    try:
        if op == "+":
            return a + b
        if op == "-":
            return a - b
        if op == "*":
            return a * b
        return a / b
    except (ArithmeticError, TypeError):
        return None


def _nav_value(side, vals, bound, var2el, cur_var, ri):
    """Resolve one side of a cross-variable comparison while
    classifying row ``ri`` for variable ``cur_var`` — sides are
    expression TREES (r13): ``("cur", col)`` reads the candidate
    row's precomputed column; ``("lit", v)`` is a numeric literal;
    ``("bin", op, l, r)`` is ``+ - * /`` arithmetic over sub-sides;
    ``("nav", var, col, is_last, off)`` reads the FIRST/LAST
    (± logical offset) row currently bound to pattern variable
    ``var`` in the partial match — the candidate row itself counts
    as bound to its own variable (SQL:2016 running semantics).
    ``var2el`` maps the CURRENT BRANCH's variables to element
    indices (r13 alternation); a variable absent from the branch,
    unbound, or out-of-range navigation → None (SQL NULL)."""
    tag = side[0]
    if tag == "cur":
        return vals[side[1]][ri]
    if tag == "lit":
        return side[1]
    if tag == "bin":
        return _arith(
            side[1],
            _nav_value(side[2], vals, bound, var2el, cur_var, ri),
            _nav_value(side[3], vals, bound, var2el, cur_var, ri),
        )
    _kind, v_var, col, is_last, off = side
    e = var2el.get(v_var)
    if e is None:
        return None
    n_bound = len(bound[e]) + (1 if v_var == cur_var else 0)
    j = (n_bound - 1 - off) if is_last else off
    if j < 0 or j >= n_bound:
        return None
    if v_var == cur_var and j == n_bound - 1:
        return vals[col][ri]
    return vals[col][bound[e][j]]


def _cross_ok(specs, vals, bound, var2el, cur_var, ri) -> bool:
    """``specs`` = one list per AND-conjunct; each conjunct is a list
    of OR-combined disjuncts (r13), each either ``("cmp", lhs, op,
    rhs)`` — a comparison of expression-tree sides — or ``("bool",
    col)``, a row-local boolean disjunct precomputed as a JVM column.
    A conjunct is satisfied when ANY disjunct is; NULL disjuncts are
    not satisfied (unknown-is-false)."""
    for disjuncts in specs:
        ok = False
        for d in disjuncts:
            if d[0] == "bool":
                v = vals[d[1]][ri]
                if v is not None and v == v and bool(v):
                    ok = True
                    break
            else:
                _t, lhs, op, rhs = d
                if _cmp_ok(
                    op,
                    _nav_value(lhs, vals, bound, var2el, cur_var, ri),
                    _nav_value(rhs, vals, bound, var2el, cur_var, ri),
                ):
                    ok = True
                    break
        if not ok:
            return False
    return True


def _side_cols(side, out: set) -> None:
    """Collect every column an expression-tree side reads."""
    tag = side[0]
    if tag == "cur":
        out.add(side[1])
    elif tag == "nav":
        out.add(side[2])
    elif tag == "bin":
        _side_cols(side[2], out)
        _side_cols(side[3], out)


def _cross_spec_cols(cross_specs) -> set:
    """Every column the per-element cross specs consult at scan time
    (precomputed ``__cx<i>`` columns and raw navigation columns)."""
    out: set = set()
    for specs in cross_specs:
        for disjuncts in specs:
            for d in disjuncts:
                if d[0] == "bool":
                    out.add(d[1])
                else:
                    _side_cols(d[1], out)
                    _side_cols(d[3], out)
    return out


#: per-ATTEMPT step budget for the memo-disabled cross-variable NFA
#: path (r13): rec entries + row-scan iterations.  Real CEP patterns
#: (short, WITHIN-bounded pools) stay orders of magnitude below it —
#: the cross-var fuzz batteries peak in the low thousands — while a
#: pathologically ambiguous quantified pattern over a dense pool hits
#: it in well under a second instead of hanging the executor.
NFA_CROSS_STEP_BUDGET = 500_000


def _nfa_scan(branches, ots, within_us, skip, vals=None):
    """Sequential scan of ONE key's ordered rows.  ``branches`` (r13
    alternation) is a list of pattern ALTERNATIVES in lexical order,
    each ``(elems, flags, cross)`` with ``elems`` = (var, min, max,
    greedy) per element, ``flags`` a per-element boolean array
    (row-local DEFINE conjuncts satisfied per row) and ``cross`` the
    per-element cross-variable specs; ``ots`` int64 microseconds.
    At each attempt position the branches are tried IN ORDER and the
    first that matches wins — SQL:2016's alternation preference
    (leftmost alternative preferred).  Returns a list of matches,
    each a list of (row index, variable name).

    Per-position attempt = regex semantics with backtracking: a GREEDY
    quantified element takes as many consecutive qualifying rows as
    possible and gives rows back when a later element cannot match; a
    RELUCTANT one (``+?`` etc., r12) takes as few as possible and
    grows on demand.  Failed (element, position) states are memoized,
    so an attempt is O(elements × rows × max-run) — and the row pool
    itself is WITHIN-bounded per key, the CepOperator state bound.  A
    row joins a match only while its gap from the match's FIRST row is
    strictly under WITHIN (Flink's boundary).

    ``cross``/``vals`` (r12) carry cross-variable DEFINE conjuncts:
    ``cross[e]`` lists per-conjunct DISJUNCT lists (r13 — OR-combined
    comparisons and row-local booleans, see ``_cross_ok``) evaluated
    against the PARTIAL MATCH's bound rows (``_nav_value``), ``vals``
    maps column name → numpy array.  With cross conjuncts the
    (element, position) memo is disabled — a state's failure then
    depends on the bindings that reached it — so an attempt is
    worst-case exponential in the number of quantified elements;
    patterns are short and the pool is WITHIN-bounded, the same cost
    profile Flink's NFA pays for IterativeConditions over partial
    matches.  As a defensive bound (r13), each ATTEMPT on the
    memo-disabled path carries a step budget per branch
    (``NFA_CROSS_STEP_BUDGET`` — rec entries + row-scan iterations);
    a pathological pool raises a clean error instead of hanging.

    ``skip`` = AFTER MATCH strategy (SQL:2016 / Flink's
    AfterMatchSkipStrategy): ``("next",)`` attempts at every position
    (matches may overlap); ``("past",)`` resumes after the match's
    last row (greedy non-overlap); ``("first", el)`` / ``("last", el)``
    (r12) resume AT the first/last row bound to pattern element
    ``el``.  A skip-to target that lands on (or before) the match's
    own first row would loop forever — Flink raises there, and so does
    this scan; a skip-to variable that matched no row is the same
    error (SQL:2016 runtime condition)."""
    n = len(ots)

    def attempt(i, elems, flags, cross):
        t0 = ots[i]
        n_el = len(elems)
        has_cross = any(cross)
        dead = set()  # failed (elem, pos) states for THIS attempt
        # per-element row bindings of the partial match under
        # construction (cross-variable navigation's context)
        bound = [[] for _ in range(n_el)] if has_cross else None
        var2el = {v: j for j, (v, _mn, _mx, _g) in enumerate(elems)}
        steps = [0]  # this attempt's step count (cross path only)

        def rec(e, pos):
            if e == n_el:
                return []
            if not has_cross and (e, pos) in dead:
                return None
            var, mn, mx, greedy = elems[e]
            fl = flags[e]
            cr = cross[e]
            taken = []
            if has_cross:
                bound[e] = taken
                steps[0] += 1
                if steps[0] > NFA_CROSS_STEP_BUDGET:
                    raise ValueError(
                        "MATCH_RECOGNIZE: cross-variable pattern too "
                        "ambiguous over this key's row pool — one "
                        "attempt exceeded the step budget "
                        f"({NFA_CROSS_STEP_BUDGET}; cross-variable "
                        "DEFINEs disable state memoization, so "
                        "backtracking is worst-case exponential in "
                        "the quantified elements).  Narrow WITHIN, "
                        "tighten the quantifier bounds, or split the "
                        "pattern."
                    )
            k = 0
            limit = n - pos if mx is None else min(mx, n - pos)
            while (
                k < limit
                and fl[pos + k]
                and ots[pos + k] - t0 < within_us
            ):
                if has_cross:
                    steps[0] += 1
                if cr and not _cross_ok(
                    cr, vals, bound, var2el, var, pos + k
                ):
                    break
                taken.append(pos + k)
                k += 1
            order = (
                range(k, mn - 1, -1)  # greedy: longest first
                if greedy
                else range(mn, k + 1)  # reluctant: shortest first
            )
            for take in order:
                if has_cross:
                    bound[e] = taken[:take]
                rest = rec(e + 1, pos + take)
                if rest is not None:
                    if has_cross:
                        bound[e] = []
                    return [
                        (pos + j, var) for j in range(take)
                    ] + rest
            if has_cross:
                bound[e] = []
            else:
                dead.add((e, pos))
            return None

        return rec(0, i)

    matches = []
    i = 0
    while i < n:
        asg = None
        # branch preference: lexical order (SQL:2016 alternation)
        for elems, flags, cross in branches:
            asg = attempt(i, elems, flags, cross)
            if asg:
                break
        if asg:  # zero-row matches are not emitted
            matches.append(asg)
            if skip[0] == "past":
                i = asg[-1][0] + 1
                continue
            if skip[0] in ("first", "last"):
                rows_v = [ri for ri, vv in asg if vv == skip[1]]
                if not rows_v:
                    raise ValueError(
                        "AFTER MATCH SKIP TO "
                        f"{skip[0].upper()} {skip[1]}: the "
                        "variable matched no row in this match "
                        "(SQL:2016 runtime error; bound its "
                        "quantifier's minimum above 0 or use SKIP "
                        "PAST LAST ROW)"
                    )
                resume = rows_v[0] if skip[0] == "first" else rows_v[-1]
                if resume <= i:
                    raise ValueError(
                        "AFTER MATCH SKIP TO "
                        f"{skip[0].upper()} {skip[1]} "
                        "resumes at the match's own first row — an "
                        "infinite loop (Flink's "
                        "AfterMatchSkipStrategy raises the same)"
                    )
                i = resume
                continue
        i += 1
    return matches


class _MatchNfaPlan(_Plan):
    """General-pattern MATCH_RECOGNIZE maintenance — Flink's CEP SQL
    (StreamExecMatch / CepOperator's NFA, reference design provenance:
    the planner surface MySqlTableSourceFactory.java:81-150 delegates
    to) for contiguous patterns with greedy quantifiers::

        PATTERN (A B+ C{1,3} D?)  WITHIN <interval>
        PATTERN (A B+ | A E+)  |  PATTERN (PERMUTE(A, B+, C))   (r13)
        AFTER MATCH SKIP TO NEXT ROW | SKIP PAST LAST ROW

    The two-step ``PATTERN (A B)`` rides the LEAD-window ``_MatchPlan``
    (pure JVM); everything beyond it — quantifiers, >2 variables,
    greedy non-overlap — runs a per-key NFA as an Arrow-batched
    grouped-pandas step over the SAME bounded pool that plan keeps
    (each key's rows within WITHIN of its max event time), so per-batch
    cost stays ∝ batch + affected keys' WITHIN-horizon state, never
    total history.

    * **input**: append-only (+I — Flink's MATCH_RECOGNIZE requires
      it); NULL event times drop (window rule).
    * **defines**: ``{var: sql}``, each parsed by Spark's own parser
      (``catalyst_parse(sql, "expression")``) and read as an
      unresolved tree.  Its top-level ``And`` nodes are the conjuncts,
      in two classes.  ROW-LOCAL conjuncts (bare identifiers and
      ``<var>.col`` self-references bind to the row being classified,
      SQL:2016) are PRE-computed as JVM boolean columns via ``F.expr``
      before the pandas step, so Python only consults bitmaps; their
      SQL is the user's text at the node's span, with each ``<var>.``
      qualifier and ``PREV(col[, k])`` replaced at its own span.
      CROSS-VARIABLE conjuncts (r12) — ``B.price > A.price``,
      ``B.price > LAST(A.price)`` / ``FIRST(A.price[, k])`` — are
      ``Or`` lists of disjuncts (r13), each a comparison node
      (``= < <= > >= <>``) whose sides are ``Add``/``Subtract``/
      ``Multiply``/``Divide``/unary-minus trees over navigation
      references, numeric literals, and row-local subexpressions
      (JVM-precomputed) — ``B.price > A.price * 1.1`` and ``B.v -
      FIRST(B.v) >= 10`` (the threshold-breakout predicates) parse
      directly; a row-local boolean may stand as a whole disjunct
      (``B.qty > 5 OR B.price > A.price``).  A CASE, function call
      or BETWEEN is one node, so its inner AND/OR never splits.  The
      disjuncts evaluate inside the NFA scan against the partial
      match's bound rows, Flink's IterativeCondition-over-partial-
      match semantics.  A bare ``V.col`` cross-reference means
      ``LAST(V.col)`` (SQL:2016); unbound navigation is NULL →
      comparison not satisfied, and NULL/type-mismatched arithmetic
      is NULL (unknown-is-false).  Forward references (a variable
      bound later in the pattern) refuse at construction.
    * **measures**: SQL aggregate expressions over the matched rows'
      exploded frame (payload + ``__var``/``__pos``) — the bridge
      rewrites ``FIRST/LAST/SUM/MIN/MAX/AVG/COUNT(V.col)`` into
      ``FILTER (WHERE __var = 'V')`` forms, keeping evaluation JVM-side
      with full SQL expression power.  ONE ROW PER MATCH output:
      partition columns + measures.
    * **state**: ONE pool frame — each key's retained rows plus
      ``__cns`` (the consumed mark below) and, when MATCH_NUMBER is
      used, ``__mn_base`` as a per-key column.  Flink's CEP keeps one
      NFA state per key; this is its keyed-state frame.
    * **per batch**: ONE grouped-pandas pass over the batch rows plus
      the affected keys' pool rows (tagged ``__new``).  Per key it
      scans the old pool and the new pool, emits both match sets'
      exploded rows tagged −1/+1, and emits the pruned new pool tagged
      0.  The output is checkpointed once; the tag-0 rows (with the
      unaffected keys' pool) are the next state, and the ±1 rows feed
      one JVM measure aggregation per (key, tag, match), netted into
      the signed delta.  matches(new pool) − matches(old pool) as a
      signed multiset: a greedy match that EXTENDS when a new row
      arrives (``B+`` absorbing it) retracts its old image and emits
      the grown one, the changelog-native rendering of CEP's
      wait-for-completion.
    * **DEFINE navigation**: ``PREV(col[, k])`` reads the k-th
      previous INPUT row per key (SQL:2016 PREV — for contiguous
      patterns, the previous row of the match) and rewrites to a JVM
      LAG column before the scan, so predicates stay row-local
      bitmaps.  The old pool's scan reads LAG over the old pool
      alone, the new pool's over the whole new pool.  The canonical
      CEP shape ``PATTERN (A B+) DEFINE B AS B.price > PREV(B.price)``
      (the rising run) rides it.
    * **state prune** (inside the pass): a CONTIGUOUS SUFFIX cut of
      each key's ordered rows — rows within WITHIN of the key's max
      order time, extended ``max_prev`` rows below the horizon when
      PREV is used (LAG sources survive).  Under SKIP PAST LAST ROW,
      rows consumed by a match STRADDLING the horizon are MARKED
      unmatchable rather than dropped: the pruned-prefix match stays
      emitted and its suffix cannot re-match, while the rows keep
      standing in the sequence as adjacency blockers and PREV sources
      (removal would create false adjacency next to retained extras).
      As with the two-step plan the prune is exact under per-key
      in-order arrivals; an out-of-order row landing behind the
      horizon can re-pair across the pruned boundary (Flink's CEP
      state cleanup makes the same trade).
    * **pattern exclusions** (r13, SQL:2016 ``{- B+ -}`` — beyond
      Flink, which rejects exclusions): excluded variables MATCH
      (adjacency, WITHIN, DEFINEs and aggregate measures all see
      their rows) but are omitted from ALL ROWS PER MATCH output;
      with ONE ROW PER MATCH the exclusion is accepted and has no
      effect.  String patterns parse ``{- -}`` directly
      (``parse_match_pattern_ex``); tuple patterns pass
      ``exclude=[vars]``.
    * **CLASSIFIER() / MATCH_NUMBER()** (r13, SQL:2016): CLASSIFIER
      is the row's own variable under RUNNING semantics and the last
      row's under the engine's FINAL default; MATCH_NUMBER is the
      LIFETIME per-key sequence number — ``__match_id`` (the pool
      scan's enumeration) plus ``__mn_base``, the per-key count of
      matches already pruned out of the pool.  The base telescopes:
      pool rows are time-ordered, so matches leaving at a prune are
      always a numbering PREFIX, and base += |matches whose first
      row fell behind the horizon| keeps emitted numbers stable.
      Both sides of a batch's diff read the base from before that
      batch's prune; the pass writes the advanced base onto the
      key's retained rows.
      MATCH_NUMBER with a state ttl refuses at construction (expiry
      cannot count the matches it destroys).
    """

    kind = "match_nfa"

    _CONSUMED = "__cns"

    def __init__(self, opts, ttl, op_col, seq_col) -> None:
        opts = dict(opts)
        unknown = set(opts) - {
            "partition", "order", "within", "pattern", "defines",
            "measures", "skip", "rows_per_match", "exclude",
        }
        if unknown:
            raise ValueError(
                f"unknown match_nfa options: {sorted(unknown)}"
            )
        missing = {
            "partition", "order", "within", "pattern", "measures",
        } - set(opts)
        if missing:
            raise ValueError(
                f"match_nfa= needs {sorted(missing)}: {{'partition': "
                "[key cols], 'order': <ts col>, 'within': '<n> "
                "<unit>s', 'pattern': 'A B+ C' | [(var, min, max"
                "[, greedy])], "
                "'defines': {var: <sql over the row>}, 'measures': "
                "[(agg sql over __var/__pos frame, name), ...]"
                "[, 'skip': 'to_next'|'past_last'|'to_first <VAR>'|"
                "'to_last <VAR>'][, 'rows_per_match': 'one'|'all']}"
            )
        super().__init__(ttl)
        self.partition = list(opts["partition"])
        if not self.partition:
            raise ValueError("match_nfa= needs a non-empty partition")
        self.order = opts["order"]
        self.within_us = _gap_micros(opts["within"])
        pat = opts["pattern"]
        pat_excluded: set = set()
        if isinstance(pat, str):
            # full grammar: alternation branches, PERMUTE, {- -}
            self.branches, pat_excluded = parse_match_pattern_alts(pat)
        else:
            # tuple form: one branch (alternation is string-only)
            self.branches = [[
                (t[0].upper(), t[1], t[2], t[3] if len(t) > 3 else True)
                for t in pat
            ]]
        #: branch 0 — the single pattern for the (common) 1-branch
        #: case; error messages and var enumeration read it first
        self.pattern = self.branches[0]
        #: ordered union of every branch's variables
        self._pat_vars: list = []
        for br in self.branches:
            for v, _mn, _mx, _g in br:
                if v not in self._pat_vars:
                    self._pat_vars.append(v)
        #: var → [(branch idx, element idx)] across branches
        self.var_positions: dict = {}
        for b_i, br in enumerate(self.branches):
            for e_i, (v, _mn, _mx, _g) in enumerate(br):
                self.var_positions.setdefault(v, []).append((b_i, e_i))
        # SQL:2016 pattern exclusions: matched but omitted from ALL
        # ROWS PER MATCH output ({- -} in a string pattern, or the
        # explicit 'exclude' option for tuple patterns)
        self.excluded = pat_excluded | {
            v.upper() for v in (opts.get("exclude") or [])
        }
        defines = {
            k.upper(): v for k, v in dict(opts.get("defines") or {}).items()
        }
        pat_vars = set(self._pat_vars)
        bad = set(defines) - pat_vars
        if bad:
            raise ValueError(
                f"DEFINE names variable(s) {sorted(bad)} not in the "
                f"pattern ({sorted(pat_vars)})"
            )
        bad_ex = self.excluded - pat_vars
        if bad_ex:
            raise ValueError(
                f"exclusion names variable(s) {sorted(bad_ex)} not in "
                f"the pattern ({sorted(pat_vars)})"
            )
        # an undefined pattern variable matches any row (SQL:2016);
        # PREV(col[, k]) navigation reads LAG columns computed JVM-side
        # over the key's (order, seq) sequence
        self.prev_cols: set = set()
        self.cur_exprs: list = []  # [(__cx<i>, row-local side SQL)]
        self.nav_cols: set = set()  # raw columns navigation reads
        self.defines = {}  # var -> AND of row-local conjuncts (JVM)
        #: per VARIABLE: cross-variable conjunct specs the NFA scan
        #: evaluates against the partial match (one define serves the
        #: variable wherever it sits across alternation branches)
        self.cross_by_var: dict = {}
        for v in self._pat_vars:
            local, cross = self._compile_define(v, defines.get(v, "true"))
            self.defines[v] = local
            self.cross_by_var[v] = cross
        self.max_prev = max(
            (k for _c, k in self.prev_cols), default=0
        )
        self.rows_per_match = str(
            opts.get("rows_per_match", "one")
        ).lower()
        if self.rows_per_match not in ("one", "all"):
            raise ValueError(
                f"rows_per_match must be 'one' or 'all', got "
                f"{opts.get('rows_per_match')!r}"
            )
        # measures normalize to (sql, name, semantics): 2-tuples are
        # FINAL; "running" (r13) marks a pre-rewritten CUMULATIVE
        # window expression over the exploded frame (only meaningful
        # with one output row per matched input row)
        self.measures = []
        for mitem in opts["measures"]:
            if len(mitem) == 2:
                msql, mname = mitem
                sem = "final"
            else:
                msql, mname, sem = mitem
            if sem not in ("final", "running"):
                raise ValueError(
                    f"measure {mname!r}: semantics must be 'final' "
                    f"or 'running', got {sem!r}"
                )
            if sem == "running" and self.rows_per_match != "all":
                raise ValueError(
                    f"measure {mname!r}: RUNNING semantics require "
                    "ALL ROWS PER MATCH — with ONE ROW PER MATCH the "
                    "evaluation point is after the last row, where "
                    "RUNNING and FINAL coincide (SQL:2016); use a "
                    "final measure"
                )
            self.measures.append((msql, mname, sem))
        if not self.measures:
            raise ValueError("match_nfa= needs at least one measure")
        #: MATCH_NUMBER() measures read ``__mn_base`` — the per-key
        #: count of matches already pruned out of the pool (state),
        #: making __match_id + base the lifetime sequence number
        self._uses_mn = any(
            "__mn_base" in s for s, _n, _sem in self.measures
        )
        if self._uses_mn and ttl is not None:
            raise ValueError(
                "MATCH_NUMBER() with a state TTL would renumber "
                "matches when expire() drops pool rows mid-match "
                "(the expiry path cannot count the matches it "
                "destroys); drop the ttl or the MATCH_NUMBER measure"
            )
        sk = str(opts.get("skip", "to_next")).lower().split()
        if sk == ["to_next"]:
            self.skip = ("next",)
        elif sk == ["past_last"]:
            self.skip = ("past",)
        elif len(sk) == 2 and sk[0] in ("to_first", "to_last"):
            v = sk[1].upper()
            if v not in pat_vars:
                raise ValueError(
                    f"skip names unknown pattern variable {sk[1]!r}; "
                    f"the pattern defines {sorted(pat_vars)}"
                )
            if sk[0] == "to_first" and all(
                e_i == 0 for _b, e_i in self.var_positions[v]
            ):
                raise ValueError(
                    f"AFTER MATCH SKIP TO FIRST {v}: {v} is the "
                    "pattern's first element (in every alternation "
                    "branch), so every match would "
                    "resume at its own first row — an infinite loop "
                    "(Flink's AfterMatchSkipStrategy raises the "
                    "same); use SKIP TO NEXT ROW"
                )
            self.skip = ("first" if sk[0] == "to_first" else "last", v)
        else:
            raise ValueError(
                f"skip must be 'to_next', 'past_last', 'to_first "
                f"<VAR>' or 'to_last <VAR>', got {opts.get('skip')!r}"
            )
        self.op_col = op_col
        self.seq_col = seq_col
        if ttl is not None and ttl != self.order:
            raise ValueError(
                "match_nfa ttl must name the ORDER BY time column "
                f"({self.order!r})"
            )

    # -- DEFINE compilation --------------------------------------------
    def _compile_define(self, var: str, sql: str):
        """Split one DEFINE, as Catalyst parses it, into (row-local SQL,
        [cross conjunct specs]).  Row-local conjuncts keep full SQL
        power (they become one JVM boolean column); cross-variable
        conjuncts become ``(side, cmp, side)`` specs evaluated in the
        NFA scan."""
        root = _Node(catalyst_parse(sql, "expression"), sql)
        self.prev_cols |= {p for n in root.walk() if (p := self._prev(n))}
        local, cross = [], []
        for conj in root.operands("And"):
            spec = self._compile_conjunct(var, conj)
            if spec is None:
                local.append(self._local_sql(var, conj))
            else:
                cross.append(spec)
        return (
            " AND ".join(f"({c})" for c in local) if local else "true",
            cross,
        )

    def _compile_conjunct(self, var: str, conj):
        """None when the conjunct is row-local; else a cross spec —
        a list of OR-combined disjuncts (r13), each ``("cmp", lhs,
        op, rhs)`` over expression-tree sides or ``("bool", __cx<i>)``
        for a row-local boolean disjunct (JVM-precomputed)."""
        unknown = self._refs(conj)[1] - set(self._pat_vars)
        if unknown:
            raise ValueError(
                f"DEFINE {var} references unknown qualifier(s) "
                f"{sorted(unknown)}; the pattern defines "
                f"{sorted(self._pat_vars)}"
            )
        if self._is_local(var, conj):
            return None
        specs = []
        for d in conj.operands("Or", grouped=True):
            if self._is_local(var, d):
                # a row-local disjunct next to cross ones — one JVM
                # boolean column, consulted per candidate row
                specs.append(("bool", self._cur(var, d)))
                continue
            c = d.kids()[0] if d.name == "Not" else d
            if c.name not in _CMP_OPS or (
                d is not c and (c.name != "EqualTo" or d.span() != c.span())
            ):
                raise ValueError(
                    f"DEFINE {var}: cross-variable disjunct {d.text()!r} "
                    "must be a single comparison <side> <cmp> <side> "
                    "(cmp in < <= > >= = <> !=) — each side an "
                    "arithmetic (+ - * /) combination of FIRST/LAST"
                    "(V.col[, k]) / V.col navigation references, "
                    "numeric literals and row-local expressions"
                )
            lhs, rhs = c.kids()
            op = "<>" if d is not c else _CMP_OPS[c.name]
            specs.append(
                ("cmp", self._side(var, lhs), op, self._side(var, rhs))
            )
        return specs

    def _refs(self, n) -> tuple:
        """(whether ``n`` navigates — a FIRST/LAST call over a qualified
        reference —, the upper-case qualifiers of its qualified
        references outside complete navigation leaves)."""
        args = n.call(("first", "last"))
        if args and args[1] and args[1][0].has(lambda x: x.qref()):
            if self._nav_leaf(n):
                return True, set()
            nav = True
        else:
            nav = False
        quals = {n.qref()[0].upper()} if n.qref() else set()
        for k in n.kids():
            k_nav, k_quals = self._refs(k)
            nav, quals = nav or k_nav, quals | k_quals
        return nav, quals

    def _is_local(self, var: str, n) -> bool:
        """No navigation and no other variable's reference: ``n`` reads
        the row being classified only."""
        nav, quals = self._refs(n)
        return not nav and quals <= {var}

    @staticmethod
    def _prev(n):
        """(col, k) of a ``PREV(col[, k])`` call, else None."""
        args = n.kids() if n.fn() == "prev" else []
        if len(args) not in (1, 2) or args[0].col() is None:
            return None
        k = args[1].uint() if len(args) == 2 else 1
        if k is None:
            return None
        if k < 1:
            raise ValueError("PREV offset must be >= 1")
        return args[0].col(), k

    @staticmethod
    def _nav_leaf(n):
        """(var, col, is_last, off) of ``FIRST/LAST(V.col[, k])``, else
        None."""
        c = _var_call(n, ("first", "last"))
        if c is None or c[2] == "*" or "." in c[2]:
            return None
        return c[1].upper(), c[2], c[0] == "LAST", c[3] or 0

    def _nav(self, var: str, n):
        """A navigation leaf → ``("nav", V, col, is_last, off)``:
        ``FIRST/LAST(V.col[, k])``, or a bare ``V.col`` of another
        pattern variable ≡ ``LAST(V.col)`` (SQL:2016's running
        default); else None."""
        leaf = self._nav_leaf(n)
        q = n.qcol()
        if leaf is None and q and q[0].upper() in self._pat_vars and (
            q[0].upper() != var
        ):
            leaf = q[0].upper(), q[1], True, 0
        if leaf is None:
            return None
        self._check_nav_target(var, leaf[0])
        self.nav_cols.add(leaf[1])
        return ("nav",) + leaf

    def _check_nav_target(self, var: str, v: str) -> str:
        if v not in set(self._pat_vars):
            raise ValueError(
                f"DEFINE {var} navigates unknown pattern variable "
                f"{v!r}; the pattern defines {sorted(self._pat_vars)}"
            )
        together = bound_somewhere = False
        for br in self.branches:
            pos = {bv: j for j, (bv, _mn, _mx, _g) in enumerate(br)}
            if var in pos and v in pos:
                together = True
                if pos[v] <= pos[var]:
                    bound_somewhere = True
        # a PURE forward reference (v after var in EVERY shared
        # branch) is never bound when var rows are classified —
        # SQL:2016 forbids it.  Under alternation/PERMUTE (r13) it is
        # enough that SOME branch binds v at-or-before var: branches
        # where it does not simply evaluate the navigation to NULL
        # (unknown-is-false), which is what makes
        # PERMUTE(A, B) + DEFINE B AS B.v > A.v mean "B qualifies
        # when A came first".
        if together and not bound_somewhere:
            raise ValueError(
                f"DEFINE {var} references {v}, which is bound LATER "
                "in the pattern (in every branch the two share) — a "
                f"forward reference is never bound when {var} rows "
                "are classified (SQL:2016 forbids it)"
            )
        if not together and v != var:
            raise ValueError(
                f"DEFINE {var} navigates {v}, but no alternation "
                "branch binds both variables — the navigation would "
                "always be NULL and the conjunct never satisfied"
            )
        return v

    def _side(self, var: str, n, top: bool = True):
        """One comparison side → an expression TREE (r13): a nav-free
        side compiles whole to a ``("cur", __cx<i>)`` JVM column (full
        SQL power preserved); a side containing navigation reads
        Catalyst's ``+ - * /`` nodes as ``("bin", op, l, r)`` whose
        leaves are ``("nav", var, col, is_last, off)`` navigation
        references, ``("lit", n)`` numeric literals, and ``("cur",
        ...)`` row-local subexpressions — ``B.price > A.price * 1.1``
        and ``B.v - FIRST(B.v) >= 10`` (the threshold-breakout
        predicates) parse directly."""
        if top and self._is_local(var, n):
            return ("cur", self._cur(var, n))
        if n.name in _ARITH_OPS:
            lhs, rhs = n.kids()
            return (
                "bin", _ARITH_OPS[n.name],
                self._side(var, lhs, False), self._side(var, rhs, False),
            )
        if n.name == "UnaryMinus":
            operand = self._side(var, n.kids()[0], False)
            return ("bin", "-", ("lit", 0), operand)
        if n.name == "UnaryPositive":
            return self._side(var, n.kids()[0], False)
        nav = self._nav(var, n)
        if nav:
            return nav
        text = n.text()
        if n.name == "Literal":
            # numeric literal: int (exact with Decimal columns) or
            # Decimal (DECIMAL-typed column arithmetic stays exact; a
            # float column coerces it to float, see ``_arith``)
            num = text.lstrip("-").strip()
            whole, dot, frac = num.partition(".")
            if whole.isdigit() and (frac.isdigit() or not dot):
                lit = ("lit", Decimal(num) if dot else int(num))
                return ("bin", "-", ("lit", 0), lit) if num != text else lit
        nav, quals = self._refs(n)
        if nav:
            raise ValueError(
                f"DEFINE {var}: navigation inside {text!r} is not "
                "supported — only + - * / arithmetic may combine "
                "FIRST/LAST(V.col[, k]) / V.col navigation with "
                "literals and row-local expressions (a function call "
                "OVER a navigation reference has no partial-match "
                "evaluation)"
            )
        if quals - {var}:
            raise ValueError(
                f"DEFINE {var}: operand {text!r} mixes a cross-variable "
                f"reference ({sorted(quals - {var})}) into "
                "a non-arithmetic expression — only + - * / may "
                "combine navigation references"
            )
        # nav-free operand (row-local subexpression or non-numeric
        # literal) — one JVM column
        return ("cur", self._cur(var, n))

    def _cur(self, var: str, n) -> str:
        """Register ``n`` as the row-local JVM column ``__cx<i>``."""
        name = f"__cx{len(self.cur_exprs)}"
        self.cur_exprs.append((name, self._local_sql(var, n)))
        return name

    def _local_sql(self, var: str, n) -> str:
        """``n``'s text with ``<var>.col`` → ``col`` (the defined
        variable's reference IS the row being classified) and
        ``PREV(col[, k])`` → its LAG column ``__prev<k>_<col>``."""

        def repl(x):
            q, p = x.qref(), self._prev(x)
            if q and q[0].upper() == var:
                return q[1]
            return f"__prev{p[1]}_{p[0]}" if p else None

        return n.splice(repl)

    # -- the per-batch grouped pass ------------------------------------
    def _scan(self, frame: DataFrame, par: int) -> DataFrame:
        """The batch's ONE grouped-pandas pass.  ``frame`` holds the
        pool columns plus ``__new`` (batch row vs. old pool row) for
        every affected key.  Per key it returns the old pool's matched
        rows tagged −1 and the new pool's tagged +1 — payload +
        (__match_id unique within its key and tag, __var element
        variable, __pos 0-based position in the match) — and the
        pruned new pool tagged 0, carrying the straddle marks and the
        advanced MATCH_NUMBER base."""
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T
        from pyspark.sql.window import Window

        pool_cols = [c for c in frame.columns if c != "__new"]
        # cross-variable conjuncts: row-local comparison sides become
        # JVM columns; navigation reads raw payload columns
        missing_nav = self.nav_cols - set(pool_cols)
        if missing_nav:
            raise ValueError(
                f"DEFINE navigation references column(s) "
                f"{sorted(missing_nav)} absent from the input "
                f"({sorted(pool_cols)})"
            )
        # Explicit repartition before the grouped-pandas scan: the pool
        # shuffle is small (hundreds of KB at bench scale), so AQE's
        # size-based coalescing folds EVERY key into one task and the
        # per-group pandas overhead (~7ms/group) runs sequentially —
        # measured 10-16s per batch for 1500 keys at sf0.1, the whole
        # operator's cost.  An explicit partition count is exempt from
        # coalescing and hash-satisfies the LAG windows' and the
        # groupBy's clustered distributions (no second exchange).
        prepped = frame.repartition(par, *self.partition).withColumn(
            "__ots", F.unix_micros(F.col(self.order).cast("timestamp"))
        )

        def derive(df: DataFrame, sfx: str) -> DataFrame:
            # one boolean column per VARIABLE (a define serves the
            # variable wherever it sits across alternation branches);
            # rows consumed by a horizon-straddling match (SKIP PAST
            # LAST ROW) stay in the pool as PREV/adjacency context but
            # can never be matched again
            for cx_name, cx_sql in self.cur_exprs:
                df = df.withColumn(cx_name + sfx, F.expr(cx_sql))
            for var in self._pat_vars:
                df = df.withColumn(
                    f"__defv{sfx}_{var}",
                    F.coalesce(F.expr(self.defines[var]), F.lit(False))
                    & ~F.col(self._CONSUMED),
                )
            return df

        old_sfx = ""
        if self.prev_cols:
            # the old pool's scan reads LAG over the old pool alone (the
            # window per __new side; the batch side's values go unread),
            # the new pool's over every row — derived columns are built
            # once per version
            old_sfx = "_o"
            for sfx, side in (("_o", ["__new"]), ("", [])):
                lw = Window.partitionBy(*self.partition, *side).orderBy(
                    F.col(self.order).asc(), F.col(self.seq_col).asc()
                )
                for col, k in sorted(self.prev_cols):
                    prepped = prepped.withColumn(
                        f"__prev{k}_{col}", F.lag(col, k).over(lw)
                    )
                prepped = derive(prepped, sfx)
        else:
            prepped = derive(prepped, "")
        out_schema = T.StructType(
            [f for f in frame.schema.fields if f.name != "__new"]
            + [
                T.StructField("__match_id", T.LongType()),
                T.StructField("__var", T.StringType()),
                T.StructField("__pos", T.LongType()),
                T.StructField("__tag", T.IntegerType()),
            ]
        )
        branches, cross_by_var = self.branches, self.cross_by_var
        needed_cols = sorted(_cross_spec_cols(list(cross_by_var.values())))
        cx_names = {n for n, _sql in self.cur_exprs}
        within_us, skip, seq = self.within_us, self.skip, self.seq_col
        max_prev, uses_mn, cns = self.max_prev, self._uses_mn, self._CONSUMED

        def matches_of(cols, rows, sfx):
            # the NFA over the (sorted) rows at positions ``rows``, as
            # lists of (sorted position, variable)
            vals = {
                c: cols[c + sfx if c in cx_names else c][rows]
                for c in needed_cols
            }
            found = _nfa_scan(
                [
                    (
                        br,
                        [cols[f"__defv{sfx}_{v}"][rows] for v, *_q in br],
                        [cross_by_var.get(v, []) for v, *_q in br],
                    )
                    for br in branches
                ],
                cols["__ots"][rows], within_us, skip, vals,
            )
            return [[(rows[r], v) for r, v in asg] for asg in found]

        def run_key(pdf):
            # plain numpy columns in (order, seq) order: the per-group
            # cost is pandas overhead, not the scan
            order = np.lexsort((pdf[seq].to_numpy(), pdf["__ots"].to_numpy()))
            cols = {c: pdf[c].to_numpy()[order] for c in pdf.columns}
            ots = cols["__ots"]
            old_rows = np.flatnonzero(~cols["__new"].astype(bool))
            old_m = matches_of(cols, old_rows, old_sfx) if old_rows.size else []
            new_m = matches_of(cols, np.arange(len(ots)), "")
            # retention: rows within WITHIN of the key's max order time
            # — a CONTIGUOUS SUFFIX cut of the ordered rows (the
            # telescoping-consistency requirement), extended max_prev
            # rows BELOW the horizon when PREV navigation is in play so
            # every above-horizon row keeps its LAG sources
            horizon = ots[-1] - within_us
            keep = ots >= horizon
            if max_prev:
                keep[np.flatnonzero(~keep)[-max_prev:]] = True
            # matches whose FIRST row fell behind the horizon leave the
            # pool this prune: the straddle marks and the MATCH_NUMBER
            # base advance both read them
            behind = [asg for asg in new_m if ots[asg[0][0]] < horizon]
            idx, tag, mid, mvar, mpos = [], [], [], [], []
            for t, found in ((-1, old_m), (1, new_m)):
                for m_i, asg in enumerate(found):
                    for p, (ri, v) in enumerate(asg):
                        idx.append(ri)
                        tag.append(t)
                        mid.append(m_i)
                        mvar.append(v)
                        mpos.append(p)
            kept = np.flatnonzero(keep)
            n_m, n_k = len(idx), len(kept)
            sel = np.concatenate([np.asarray(idx, dtype=np.int64), kept])
            out = {c: cols[c][sel] for c in pool_cols}
            out["__match_id"] = np.asarray(mid + [-1] * n_k, dtype=np.int64)
            out["__var"] = mvar + [None] * n_k
            out["__pos"] = np.asarray(mpos + [-1] * n_k, dtype=np.int64)
            out["__tag"] = np.asarray(tag + [0] * n_k, dtype=np.int32)
            if skip[0] == "past" and behind:
                # rows consumed by a match whose FIRST row fell behind
                # the horizon are MARKED unmatchable (not removed): the
                # straddling match stays emitted (its prefix is pruned,
                # so it is never recomputed) and its retained suffix
                # rows must not re-match — but they still stand in the
                # row sequence as adjacency blockers and PREV/LAG
                # sources, which removal would falsify
                gone = cols[seq][[ri for asg in behind for ri, _v in asg]]
                marks = out[cns].astype(bool)
                marks[n_m:] |= np.isin(out[seq][n_m:], gone)
                out[cns] = marks
            if uses_mn:
                # matches leaving the pool are a numbering PREFIX (pool
                # rows are time-ordered, so matches' first rows are
                # non-decreasing): base += |behind| keeps __match_id +
                # base the lifetime sequence number.  Both match sets
                # read the base from before this prune.
                base = (
                    int(cols["__mn_base"][old_rows[0]]) if old_rows.size else 0
                )
                out["__mn_base"] = np.asarray(
                    [base] * n_m + [base + len(behind)] * n_k,
                    dtype=np.int64,
                )
            return pd.DataFrame(out)

        return prepped.groupBy(*self.partition).applyInPandas(
            run_key, out_schema
        )

    def _measure_rows(self, matched: DataFrame) -> DataFrame:
        """The scan's ±1 match rows as signed measure rows (``__tag``
        becomes the multiplicity), one evaluation per (key, tag,
        match).  ONE ROW PER MATCH: partition cols + measures.  ALL
        ROWS PER MATCH (r12): one output row per MATCHED INPUT ROW —
        the source columns plus the match's measures.  Measure
        semantics per measure (r13): FINAL (the default — the SQL:2016
        FINAL modifier's values on every row; a documented deviation
        from the standard's running default, pinned by the r12
        all-rows oracle) evaluates once per match and joins back;
        RUNNING evaluates as a CUMULATIVE window over the match's rows
        in ``__pos`` order (partitioned by ``__mkey`` = struct(key,
        tag, match) — no join, one window pass).  Flink does not
        support ALL ROWS PER MATCH at all, so both are a superset of
        reference parity."""
        mk = [*self.partition, "__tag", "__match_id"]
        finals = [
            (s, n) for s, n, sem in self.measures if sem == "final"
        ]
        names = [n for _s, n, _sem in self.measures]
        if self.rows_per_match == "all":
            payload = [
                c
                for c in matched.columns
                if c not in (
                    "__match_id", "__var", "__pos", "__tag", "__mn_base",
                    self._CONSUMED,
                )
            ]
            out = matched
            runnings = [
                (s, n) for s, n, sem in self.measures if sem == "running"
            ]
            if runnings:
                out = out.withColumn("__mkey", F.struct(*mk))
                for msql, mname in runnings:
                    out = out.withColumn(mname, F.expr(msql))
            if finals:
                out = out.join(
                    matched.groupBy(*mk).agg(
                        *[F.expr(s).alias(n) for s, n in finals]
                    ),
                    mk,
                    "inner",
                )
            if self.excluded:
                # SQL:2016 pattern exclusion: excluded variables'
                # rows MATCH (adjacency, WITHIN, aggregates all see
                # them — the running windows above already did) but
                # are omitted from the all-rows output
                out = out.filter(
                    ~F.col("__var").isin(*sorted(self.excluded))
                )
            out = out.select(*payload, *names, "__tag")
        else:
            out = (
                matched.groupBy(*mk)
                .agg(*[F.expr(s).alias(n) for s, n in finals])
                .select(*self.partition, *names, "__tag")
            )
        return out.withColumn(MULT_COL, F.col("__tag").cast("long")).drop(
            "__tag"
        )

    def step(self, state, batch: DataFrame):
        _require_append_only(
            batch, self.op_col, "MATCH_RECOGNIZE",
            "pattern-match an updating stream after materializing it "
            "upstream",
        )
        extra = [F.lit(False).alias(self._CONSUMED)]
        if self._uses_mn:
            extra.append(F.lit(None).cast("long").alias("__mn_base"))
        rows = batch.filter(
            (F.col(self.op_col) == OP_INSERT)
            & F.col(self.order).isNotNull()
        ).select(*[c for c in batch.columns if c != self.op_col], *extra)
        frame = rows.withColumn("__new", F.lit(True))
        par = max(2, batch.sparkSession.sparkContext.defaultParallelism)
        rest = None
        if state is not None:
            affected = rows.select(*self.partition)
            frame = frame.unionByName(
                _keyset_join(
                    state, affected, self.partition, "left_semi"
                ).withColumn("__new", F.lit(False))
            )
            # the unaffected keys' pool rides the pass's checkpoint as
            # tag-0 rows: one query, so both key-set joins share one
            # build of the affected key set
            rest = _keyset_join(
                state, affected, self.partition, "left_anti"
            ).select(
                *rows.columns,
                F.lit(-1).cast("long").alias("__match_id"),
                F.lit(None).cast("string").alias("__var"),
                F.lit(-1).cast("long").alias("__pos"),
                F.lit(0).alias("__tag"),
            )
        scanned = self._scan(frame, par)
        if rest is not None:
            scanned = scanned.unionByName(rest)
        # ONE checkpoint of the pass: the delta and the next state both
        # read it, so the pandas scan runs once.  Lazy (r14): an eager
        # checkpoint is a separate driver job round trip per batch;
        # laziness keeps compute-once (the RDD persists at its first
        # materialization, inside the caller's delta fold) and elides
        # the LAST batch's state materialization entirely.  The state
        # is coalesced back to ``par`` partitions — a union adds the
        # pass's partitions to the old state's every batch.
        out = pin(scanned)
        pool = (
            out.filter(F.col("__tag") == 0)
            .select(*rows.columns)
            .coalesce(par)
        )
        # one exchange for the measure aggregation AND the netting:
        # both group by keys that include the partition columns
        signed = self._measure_rows(
            out.filter(F.col("__tag") != 0).repartition(*self.partition)
        )
        payload = [c for c in signed.columns if c != MULT_COL]
        delta = (
            signed.groupBy(*payload)
            .agg(F.sum(MULT_COL).alias(MULT_COL))
            .filter(F.col(MULT_COL) != 0)
        )
        return pin(pool), delta

    def _expire(self, state, watermark):
        # MATCH_NUMBER + ttl refuses at construction, so the per-key
        # base needs no expiry-side bookkeeping here
        return expire_state(state, watermark, self.order)


class _CalcPlan(_Plan):
    """Row-local projection + filter over a changelog (Flink's
    StreamExecCalc — the plainest streaming pipeline statement,
    ``INSERT INTO sink SELECT <exprs> FROM t WHERE <pred>``).  σ_p and
    row-local projection are LINEAR over signed multisets, so the
    output delta is just the mapped signed multiset of the batch.

    ZERO EXCHANGES by default (r13): each changelog row maps to one
    ±1 output row — a pure narrow pipeline, matching Flink's
    exchange-free StreamExecCalc.  Same-batch ±pairs of identical
    projected images are NOT collapsed; every downstream consumer of
    a signed multiset (the accumulator fold, a maintained stage, a
    multiset sink) nets them anyway.  Sinks that require collapsed
    ±pairs opt in with ``net=True``, which restores the
    one-exchange groupBy netting over the batch delta (never over
    state — the plan is STATELESS either way; nothing to expire)."""

    kind = "calc"

    def __init__(self, opts, ttl, op_col, seq_col) -> None:
        opts = dict(opts)
        unknown = set(opts) - {"exprs", "where", "net"}
        if unknown:
            raise ValueError(f"unknown calc options: {sorted(unknown)}")
        exprs = list(opts.get("exprs") or [])
        if not exprs:
            raise ValueError(
                "calc= needs {'exprs': [(sql, name), ...][, 'where': "
                "<row-local sql>][, 'net': bool]}"
            )
        if ttl is not None:
            raise ValueError(
                "the calc plan is stateless; ttl has nothing to expire"
            )
        super().__init__(None)
        self.exprs = exprs
        self.where = opts.get("where")
        self.net = bool(opts.get("net", False))
        self.op_col = op_col
        self.seq_col = seq_col

    def step(self, state, batch: DataFrame):
        # map ops to ±1 signs row-by-row (no signed_multiset: its
        # payload groupBy is an exchange the stateless plan does not
        # need); control rows (+H/+S) carry no image and drop
        sign = (
            F.when(
                F.col(self.op_col).isin(OP_INSERT, OP_UPDATE_AFTER),
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .cast("long")
        )
        d = batch.filter(
            F.col(self.op_col).isin(
                OP_INSERT, OP_UPDATE_AFTER, OP_UPDATE_BEFORE, OP_DELETE
            )
        ).select(
            *[c for c in batch.columns if c not in (self.op_col, self.seq_col)],
            sign.alias(MULT_COL),
        )
        if self.where:
            d = d.filter(F.expr(self.where))
        names = [n for _s, n in self.exprs]
        out = d.select(
            *[F.expr(s).alias(n) for s, n in self.exprs], MULT_COL
        )
        if self.net:
            out = (
                out.groupBy(*names)
                .agg(F.sum(MULT_COL).alias(MULT_COL))
                .filter(F.col(MULT_COL) != 0)
            )
        return None, out

    def _expire(self, state, watermark):  # pragma: no cover - guarded
        raise AssertionError("calc plans are constructed with ttl=None")


class _SetOpPlan(_Plan):
    """Streaming INTERSECT [ALL] / EXCEPT [ALL] over two changelogs —
    Flink's set operations on unbounded inputs (Table API
    intersect/intersectAll/minus/minusAll; SQL INTERSECT/EXCEPT, which
    Flink's planner rewrites to stateful aggregates).  Set operations
    are NOT linear over signed multisets (min/clamped-difference of
    multiplicities), so unlike UNION ALL they need their own keyed
    state: one row per DISTINCT payload image with the two sides' live
    multiplicities — exactly the count state Flink's rewrite keeps.

    Per batch: fold each side's signed row-multiset delta into the
    affected payloads' (cntA, cntB) counts and emit the signed diff of
    the result multiplicity

    * ``INTERSECT ALL``:   min(cntA, cntB)
    * ``INTERSECT``:       1 if cntA > 0 and cntB > 0
    * ``EXCEPT ALL``:      max(cntA - cntB, 0)
    * ``EXCEPT``:          1 if cntA > 0 and cntB = 0

    Updating inputs are exact by construction (counts fold signed
    deltas).  Per-batch work = batch + affected payloads' single count
    rows; state = |distinct payload images| count rows.  No event-time
    column in state, so no ttl.
    """

    kind = "setop"

    def __init__(self, opts, ttl, op_col, seq_col) -> None:
        opts = dict(opts)
        unknown = set(opts) - {"op", "all"}
        if unknown:
            raise ValueError(f"unknown setop options: {sorted(unknown)}")
        if opts.get("op") not in ("intersect", "except"):
            raise ValueError(
                "setop= needs {'op': 'intersect'|'except'[, 'all': "
                "bool]}"
            )
        if ttl is not None:
            raise ValueError(
                "set-operation state is keyed by the payload image "
                "with no event-time column; ttl is not supported"
            )
        super().__init__(None)
        self.op = opts["op"]
        self.all = bool(opts.get("all", False))
        self.op_col = op_col
        self.seq_col = seq_col

    def _result_mult(self, ca, cb):
        if self.op == "intersect" and self.all:
            out = F.least(ca, cb)
        elif self.op == "intersect":
            out = ((ca > 0) & (cb > 0)).cast("long")
        elif self.all:  # except all
            out = F.greatest(ca - cb, F.lit(0).cast("long"))
        else:  # except
            out = ((ca > 0) & (cb == 0)).cast("long")
        return F.greatest(out, F.lit(0).cast("long"))

    def step(self, state, batch_a: DataFrame, batch_b: DataFrame):
        from flink_cdc_2_3_0_src_spark.operators.changelog import (
            signed_multiset,
        )

        da = signed_multiset(batch_a, self.op_col, self.seq_col)
        db = signed_multiset(batch_b, self.op_col, self.seq_col)
        payload = [c for c in da.columns if c != MULT_COL]
        if payload != [c for c in db.columns if c != MULT_COL]:
            raise ValueError(
                "set-operation sides must project the same columns "
                f"(got {payload} vs "
                f"{[c for c in db.columns if c != MULT_COL]})"
            )
        zero = F.lit(0).cast("long")
        sides = da.select(
            *payload, F.col(MULT_COL).alias("__ca"), zero.alias("__cb")
        ).unionByName(
            db.select(
                *payload, zero.alias("__ca"),
                F.col(MULT_COL).alias("__cb"),
            )
        )
        affected = sides.select(*payload).distinct()
        if state is not None:
            old_aff = _keyset_join(state, affected, payload, "left_semi")
            sides = sides.unionByName(old_aff)
            unaffected = _keyset_join(state, affected, payload, "left_anti")
        else:
            old_aff, unaffected = None, None
        new_counts = sides.groupBy(*payload).agg(
            F.sum("__ca").alias("__ca"), F.sum("__cb").alias("__cb")
        )
        old_mult = (
            old_aff.select(
                *payload,
                self._result_mult(
                    F.col("__ca"), F.col("__cb")
                ).alias(MULT_COL),
            )
            if old_aff is not None
            else None
        )
        new_mult = new_counts.select(
            *payload,
            self._result_mult(F.col("__ca"), F.col("__cb")).alias(MULT_COL),
        )
        delta = new_mult
        if old_mult is not None:
            delta = new_mult.unionByName(
                old_mult.withColumn(MULT_COL, -F.col(MULT_COL))
            )
        delta = (
            delta.groupBy(*payload)
            .agg(F.sum(MULT_COL).alias(MULT_COL))
            .filter(F.col(MULT_COL) != 0)
        )
        kept = new_counts.filter(
            (F.col("__ca") != 0) | (F.col("__cb") != 0)
        )
        new_state = (
            kept if unaffected is None else unaffected.unionByName(kept)
        )
        return pin(new_state), delta

    def _expire(self, state, watermark):  # pragma: no cover - guarded
        raise ValueError("set-operation state has no event-time column")


class _OverPlan(_Plan):
    """OVER aggregation on an append-only stream — Flink's
    StreamExecOverAggregate (``SUM(v) OVER (PARTITION BY k ORDER BY ts
    ROWS|RANGE BETWEEN .. PRECEDING AND CURRENT ROW)``): each arriving
    row is emitted once, enriched with its frame aggregate over the
    rows at/before it within its key.  Input must be append-only and
    the ORDER BY a time attribute ascending — Flink's requirements;
    output is append-only.

    State, by frame:

    * ``ROWS n PRECEDING``: the latest n rows per key (what any future
      row's frame can still reach).  Per-batch work = batch + affected
      keys' retained rows.
    * ``RANGE INTERVAL g PRECEDING``: rows within g of each key's max
      time.  Retention is sound because arrivals are in-order per key
      (the seq/event-time consistency contract the family's replay
      model gives — Flink gets it from the watermark).
    * ``UNBOUNDED PRECEDING``: one ACCUMULATOR row per key (signed sums
      + counts; min/max accumulate monotonically on an append-only
      stream, so they fold too) — O(keys) state, never a history
      rescan.

    Ordering inside a batch is (ts, seq) — the unique seq breaks ties
    deterministically (DuckDB oracles order the same way).
    """

    kind = "over"

    def __init__(self, opts, ttl, op_col, seq_col) -> None:
        opts = dict(opts)
        unknown = set(opts) - {
            "partition", "order", "aggs", "rows", "range"
        }
        if unknown:
            raise ValueError(f"unknown over options: {sorted(unknown)}")
        missing = {"partition", "order", "aggs"} - set(opts)
        if missing:
            raise ValueError(
                f"over= needs {sorted(missing)}: {{'partition': [key "
                "cols], 'order': <ts col>, 'aggs': {name: (fn, col "
                "sql)}, 'rows': <n>|None, 'range': '<n> <unit>'|None}} "
                "(rows/range both absent = UNBOUNDED PRECEDING)"
            )
        if opts.get("rows") is not None and opts.get("range") is not None:
            raise ValueError("over= takes rows= or range=, not both")
        super().__init__(ttl)
        self.partition = list(opts["partition"])
        if not self.partition:
            raise ValueError(
                "over= needs a non-empty partition (a global OVER "
                "window funnels every row through one task — Flink "
                "refuses it on streams too)"
            )
        self.order = opts["order"]
        self.aggs = dict(opts["aggs"])
        bad = {fn for fn, _ in self.aggs.values()} - _AGG_FNS - {"lag"}
        if bad:
            raise ValueError(f"unsupported aggregate(s): {sorted(bad)}")
        self.rows = opts.get("rows")
        if self.rows is not None:
            self.rows = int(self.rows)
            if self.rows < 0:
                raise ValueError("rows= must be >= 0")
        # LAG(col[, k]): offset access rides the same retained-rows
        # state as the ROWS frame, so it requires one — and the frame
        # bound must cover the largest offset (retention keeps exactly
        # `rows` prior rows per key)
        self._lag = {}
        for name, (fn, args) in self.aggs.items():
            if fn != "lag":
                continue
            # top-level (paren/string-aware) comma split: a single-
            # column expression containing commas — LAG(COALESCE(a,b))
            # or LAG(COALESCE(a,b), 2) — is one argument, not two
            parts = [
                a.strip() for a in split_csv_outside_parens(str(args))
            ]
            if len(parts) == 1:
                col_sql, off = parts[0], 1
            elif len(parts) == 2 and parts[1].isdigit() and int(parts[1]) >= 1:
                col_sql, off = parts[0], int(parts[1])
            else:
                raise ValueError(
                    f"LAG takes (col) or (col, k) with integer k >= 1, "
                    f"got LAG({args})"
                )
            self._lag[name] = (col_sql, off)
        if self._lag:
            if self.rows is None:
                raise ValueError(
                    "LAG in an OVER aggregation requires a ROWS frame "
                    "(ROWS BETWEEN n PRECEDING AND CURRENT ROW) — the "
                    "retained per-key rows are its state; UNBOUNDED "
                    "and RANGE frames do not guarantee the offset row "
                    "is retained"
                )
            worst = max(off for _, off in self._lag.values())
            if worst > self.rows:
                raise ValueError(
                    f"LAG offset {worst} exceeds the ROWS frame bound "
                    f"{self.rows}: state retains exactly {self.rows} "
                    "prior rows per key — widen the ROWS bound to at "
                    "least the largest offset"
                )
        self.range_us = (
            _gap_micros(opts["range"])
            if opts.get("range") is not None
            else None
        )
        self.op_col = op_col
        self.seq_col = seq_col
        if ttl is not None and ttl != self.order:
            raise ValueError(
                "over ttl must name the ORDER BY time column "
                f"({self.order!r})"
            )

    # frame aggregate expressions over a (partitioned, ordered) window
    def _win_exprs(self, w, w_unframed=None):
        outs = []
        for name, (fn, col_sql) in self.aggs.items():
            if fn == "lag":
                # offset access is position-based, not frame-based —
                # Spark requires a frame-less window spec for lag()
                lcol, off = self._lag[name]
                outs.append(
                    F.lag(F.expr(lcol), off).over(w_unframed).alias(name)
                )
                continue
            col = F.expr(col_sql)
            if fn == "count":
                expr = F.count(
                    F.lit(1) if col_sql.strip() == "*" else col
                ).over(w)
            elif fn == "avg":
                # .over applies per aggregate — a windowed division of
                # two aggregates is not a valid window expression
                expr = F.sum(col).over(w).cast("double") / F.count(
                    col
                ).over(w).cast("double")
            else:
                expr = getattr(F, fn)(col).over(w)
            outs.append(expr.alias(name))
        return outs

    def step(self, state, batch: DataFrame):
        from pyspark.sql.window import Window

        _require_append_only(
            batch, self.op_col, "OVER aggregation",
            "pre-aggregate an updating stream with GROUP BY instead",
        )
        # NULL event times are dropped (the session/cumulate/dedup
        # rule): a NULL sorts differently per batch split (NULLS FIRST
        # in the window, last in the retention rank), so keeping them
        # would break split-invariance — and Flink's rowtime is
        # watermark-defined and non-null anyway
        rows = batch.filter(
            (F.col(self.op_col) == OP_INSERT)
            & F.col(self.order).isNotNull()
        ).select(*[c for c in batch.columns if c != self.op_col])
        payload = [c for c in rows.columns if c != self.seq_col]

        if self.rows is None and self.range_us is None:
            return self._step_unbounded(state, rows, payload)

        affected = rows.select(*self.partition).distinct()
        kept = (
            _keyset_join(state, affected, self.partition, "left_semi")
            if state is not None
            else None
        )
        hist = rows.withColumn("__new", F.lit(1))
        if kept is not None:
            hist = hist.unionByName(kept.withColumn("__new", F.lit(0)))
        order = [F.col(self.order).asc(), F.col(self.seq_col).asc()]
        w_unframed = Window.partitionBy(*self.partition).orderBy(*order)
        w = Window.partitionBy(*self.partition).orderBy(*order)
        if self.rows is not None:
            w = w.rowsBetween(-self.rows, 0)
            # retention: the latest `rows` rows per key can still sit in
            # a future row's frame
            rk = F.row_number().over(
                Window.partitionBy(*self.partition).orderBy(
                    F.col(self.order).desc(), F.col(self.seq_col).desc()
                )
            )
            keep_pred = rk <= max(self.rows, 1)
        else:
            # RANGE over event time: order by epoch micros so the frame
            # bound is a plain long offset (timestamp- and numeric-
            # agnostic via the caller's contract that `order` is a
            # timestamp column)
            w = (
                Window.partitionBy(*self.partition)
                .orderBy(F.unix_micros(
                    F.col(self.order).cast("timestamp")
                ))
                .rangeBetween(-self.range_us, 0)
            )
            kmax = F.max(F.col(self.order)).over(
                Window.partitionBy(*self.partition)
            )
            keep_pred = F.unix_micros(
                F.col(self.order).cast("timestamp")
            ) >= F.unix_micros(
                kmax.cast("timestamp")
            ) - F.lit(self.range_us)
        out = (
            hist.select("*", *self._win_exprs(w, w_unframed))
            .filter(F.col("__new") == 1)
            .drop("__new", self.seq_col)
            .withColumn(MULT_COL, F.lit(1).cast("long"))
        )
        pruned = (
            hist.drop("__new").withColumn("__keep", keep_pred)
            .filter(F.col("__keep"))
            .drop("__keep")
        )
        if state is not None:
            unaffected = _keyset_join(
                state, affected, self.partition, "left_anti"
            )
            pruned = pruned.unionByName(unaffected)
        return pin(pruned), out

    def _step_unbounded(self, state, rows, payload):
        from pyspark.sql.window import Window

        # per-key accumulators: signed sums + counts for sum/count/avg,
        # monotone min/max (append-only ⇒ min/max only improve)
        acc_cols, needs = {}, []
        for name, (fn, col_sql) in self.aggs.items():
            col = F.expr(col_sql)
            if fn in ("sum", "avg"):
                acc_cols[f"__s_{name}"] = F.sum(col)
            if fn in ("avg",):
                acc_cols[f"__c_{name}"] = F.count(col)
            if fn == "count":
                acc_cols[f"__n_{name}"] = F.count(
                    F.lit(1) if col_sql.strip() == "*" else col
                )
            if fn in ("min", "max"):
                acc_cols[f"__m_{name}"] = getattr(F, fn)(col)
            needs.append(name)
        w = Window.partitionBy(*self.partition).orderBy(
            F.col(self.order).asc(), F.col(self.seq_col).asc()
        ).rowsBetween(Window.unboundedPreceding, 0)
        run = rows.select(
            "*",
            *[e.over(w).alias(f"__r{k}") for k, e in acc_cols.items()],
        )
        if state is not None:
            st = state
            for k in acc_cols:
                st = st.withColumnRenamed(k, f"__o{k}")
            run = run.join(st, on=self.partition, how="left")
        else:
            for k in acc_cols:
                run = run.withColumn(
                    f"__o{k}", F.lit(None).cast(run.schema[f"__r{k}"].dataType)
                )
        outs = []
        for name, (fn, _col_sql) in self.aggs.items():
            if fn == "sum":
                expr = F.col(f"__o__s_{name}") + F.col(f"__r__s_{name}")
                expr = F.coalesce(
                    expr, F.col(f"__r__s_{name}"), F.col(f"__o__s_{name}")
                )
            elif fn == "count":
                expr = F.coalesce(
                    F.col(f"__o__n_{name}"), F.lit(0).cast("long")
                ) + F.col(f"__r__n_{name}")
            elif fn == "avg":
                s = F.coalesce(
                    F.col(f"__o__s_{name}") + F.col(f"__r__s_{name}"),
                    F.col(f"__r__s_{name}"),
                    F.col(f"__o__s_{name}"),
                )
                c = F.coalesce(
                    F.col(f"__o__c_{name}"), F.lit(0).cast("long")
                ) + F.col(f"__r__c_{name}")
                expr = s.cast("double") / F.nullif(
                    c, F.lit(0)
                ).cast("double")
            else:  # min / max — monotone on append-only input
                pick = F.least if fn == "min" else F.greatest
                expr = pick(
                    F.col(f"__o__m_{name}"), F.col(f"__r__m_{name}")
                )
                expr = F.coalesce(
                    expr, F.col(f"__r__m_{name}"), F.col(f"__o__m_{name}")
                )
            outs.append(expr.alias(name))
        out = run.select(
            *[c for c in payload if c != self.seq_col], *outs
        ).withColumn(MULT_COL, F.lit(1).cast("long"))
        batch_acc = rows.groupBy(*self.partition).agg(
            *[e.alias(k) for k, e in acc_cols.items()]
        )
        if state is None:
            new_state = batch_acc
        else:
            merged = (
                state.unionByName(batch_acc)
                .groupBy(*self.partition)
            )
            folds = []
            for name, (fn, _c) in self.aggs.items():
                if fn in ("sum", "avg"):
                    folds.append(
                        F.sum(f"__s_{name}").alias(f"__s_{name}")
                    )
                if fn == "avg":
                    folds.append(
                        F.sum(f"__c_{name}").alias(f"__c_{name}")
                    )
                if fn == "count":
                    folds.append(
                        F.sum(f"__n_{name}").alias(f"__n_{name}")
                    )
                if fn in ("min", "max"):
                    folds.append(
                        getattr(F, fn)(f"__m_{name}").alias(f"__m_{name}")
                    )
            new_state = merged.agg(*folds)
        return pin(new_state), out

    def _expire(self, state, watermark):
        if self.rows is None and self.range_us is None:
            raise ValueError(
                "UNBOUNDED OVER state is one accumulator per key with "
                "no event-time column; ttl does not apply"
            )
        return expire_state(state, watermark, self.order)


class _DedupRowPlan(_Plan):
    """Row deduplication on an append-only stream — Flink's
    StreamExecDeduplicate (``SELECT .. FROM (SELECT *, ROW_NUMBER()
    OVER (PARTITION BY k ORDER BY ts [DESC]) AS rn FROM t) WHERE
    rn = 1``): keep each key's FIRST (ASC) or LAST (DESC) row by event
    time, ties broken by arrival seq.  State = exactly ONE row per key
    (Flink's RowTimeDeduplicateFunction ValueState).  Out-of-order
    arrivals are handled exactly: a later batch's row can beat the
    stored winner in either direction, emitting a retraction of the
    previously-emitted row and an insert of the new winner — so
    keep-first output is updating too when events arrive out of order
    (the rowtime dedup semantics; proc-time keep-first never updates
    because arrival order IS the order).

    Exactness for any batch split: per-key min/max by (order, seq) is
    a monoid, so folding batches in any grouping lands on the same
    winner.  Rows with a NULL order value are dropped (a NULL event
    time has no place in time-ordered dedup — same rule the session
    and cumulate windows apply).

    Per-batch work = batch + affected keys' single state rows (a
    left-semi keyset probe); unaffected state is carried untouched.
    ``ttl=<order col>`` evicts winners behind the watermark — a late
    re-arrival then re-emits as a fresh first/last (Flink's state-TTL
    trade: forget state, never retract emitted results)."""

    kind = "dedup_row"

    def __init__(self, opts, ttl, op_col, seq_col) -> None:
        opts = dict(opts)
        unknown = set(opts) - {"keys", "order", "keep"}
        if unknown:
            raise ValueError(f"unknown dedup_row options: {sorted(unknown)}")
        missing = {"keys", "order"} - set(opts)
        if missing:
            raise ValueError(
                f"dedup_row= needs {sorted(missing)}: {{'keys': [partition "
                "cols], 'order': <ts col>[, 'keep': 'first'|'last']}}"
            )
        super().__init__(ttl)
        self.keys = list(opts["keys"])
        if not self.keys:
            raise ValueError("dedup_row= needs a non-empty keys list")
        self.order = opts["order"]
        self.keep = opts.get("keep", "first")
        if self.keep not in ("first", "last"):
            raise ValueError(
                f"keep must be 'first' or 'last', got {self.keep!r}"
            )
        if self.order in self.keys:
            raise ValueError(
                "the order column cannot be a partition key of the "
                "deduplication"
            )
        self.op_col = op_col
        self.seq_col = seq_col
        if ttl is not None and ttl != self.order:
            raise ValueError(
                "dedup_row ttl must name the ORDER BY time column "
                f"({self.order!r})"
            )

    def step(self, state, batch: DataFrame):
        from pyspark.sql.window import Window

        _require_append_only(
            batch, self.op_col, "row deduplication",
            "materialize an updating stream by its key instead",
        )
        cand = batch.filter(
            (F.col(self.op_col) == OP_INSERT)
            & F.col(self.order).isNotNull()
        ).select(*[c for c in batch.columns if c != self.op_col])
        affected = cand.select(*self.keys).distinct()
        state_aff = (
            _keyset_join(state, affected, self.keys, "left_semi")
            if state is not None
            else None
        )
        pool = (
            cand if state_aff is None else cand.unionByName(state_aff)
        )
        asc = self.keep == "first"
        order_cols = [
            F.col(self.order).asc() if asc else F.col(self.order).desc(),
            F.col(self.seq_col).asc() if asc else F.col(self.seq_col).desc(),
        ]
        w = Window.partitionBy(*self.keys).orderBy(*order_cols)
        best = (
            pool.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        payload = list(best.columns)
        pos = best.withColumn(MULT_COL, F.lit(1).cast("long"))
        delta = (
            pos
            if state_aff is None
            else pos.unionByName(
                state_aff.withColumn(MULT_COL, F.lit(-1).cast("long"))
            )
        )
        delta = (
            delta.groupBy(*payload)
            .agg(F.sum(MULT_COL).alias(MULT_COL))
            .filter(F.col(MULT_COL) != 0)
        )
        new_state = (
            best
            if state is None
            else _keyset_join(
                state, affected, self.keys, "left_anti"
            ).unionByName(best)
        )
        return pin(new_state), delta

    def _expire(self, state, watermark):
        return expire_state(state, watermark, self.order)


class _DedupPlan(_Plan):
    """Incremental ingest near-dup dedup (merge_neardup_state): each
    arrival batch probes the seen corpus's LSH bucket state.  Batches
    must arrive in ascending doc_id ranges (stream arrival order — the
    operator's contract).  The output delta is the batch's KEPT rows
    as +1 inserts: an append-only corpus never retracts, so the signed
    contract degenerates to inserts by construction."""

    kind = "dedup"

    def __init__(self, opts, ttl) -> None:
        if ttl is not None:
            raise ValueError(
                "dedup state is keyed by doc_id with no event-time "
                "column; ttl is not supported for the dedup plan"
            )
        super().__init__(None)
        from flink_cdc_2_3_0_src_spark.operators.dedup import (
            JACCARD_THRESHOLD,
            LSH_BANDS,
            LSH_ROWS,
        )

        opts = dict(opts) if opts is not True else {}
        unknown = set(opts) - {"bands", "rows", "threshold"}
        if unknown:
            raise ValueError(f"unknown dedup options: {sorted(unknown)}")
        self.bands = int(opts.get("bands", LSH_BANDS))
        self.rows = int(opts.get("rows", LSH_ROWS))
        self.threshold = float(opts.get("threshold", JACCARD_THRESHOLD))

    def step(self, state, batch: DataFrame):
        from flink_cdc_2_3_0_src_spark.operators.dedup import (
            merge_neardup_state,
        )

        state, kept = merge_neardup_state(
            state, batch, self.bands, self.rows, self.threshold
        )
        return state, kept.withColumn(MULT_COL, F.lit(1).cast("long"))


class _HllPlan(_Plan):
    """Incremental per-group HLL distinct-count maintenance
    (merge_hll_state — the sketch member of the family).  The output
    delta is the signed diff of the FINALIZED estimates for the groups
    the batch touched (batch-driven, like the agg plans): +1 the
    group's new estimate row, −1 its previous one.  ttl applies when
    the group column is an event-time bucket."""

    kind = "hll"

    def __init__(self, opts, ttl) -> None:
        super().__init__(ttl)
        opts = dict(opts) if opts is not True else {}
        unknown = set(opts) - {"group_col", "m"}
        if unknown:
            raise ValueError(f"unknown hll options: {sorted(unknown)}")
        self.group_col = opts.get("group_col", "source")
        self.m = int(opts.get("m", 64))

    def step(self, state, batch: DataFrame):
        from flink_cdc_2_3_0_src_spark.operators.sketch import (
            hll_state_estimate,
            merge_hll_state,
        )

        new_state = merge_hll_state(state, batch, self.group_col, self.m)
        affected = batch.select(self.group_col).distinct()
        new_aff = hll_state_estimate(
            _keyset_join(new_state, affected, [self.group_col], "left_semi"),
            self.group_col,
            self.m,
        )
        old_aff = None
        if state is not None:
            old_aff = hll_state_estimate(
                _keyset_join(state, affected, [self.group_col], "left_semi"),
                self.group_col,
                self.m,
            )
        return new_state, _signed_diff(new_aff, old_aff)

    def _expire(self, state, watermark):
        if self._ttl != self.group_col:
            raise ValueError(
                "hll state is per-group; ttl must name the group column "
                "(an event-time bucket) to expire whole groups"
            )
        return expire_state(state, watermark, self._ttl)


class _HistPlan(_Plan):
    """Incremental per-group equi-width histogram quantile maintenance
    (merge_hist_state — the distribution member of the sketch trio:
    HLL = cardinality, CMS = frequency, histogram = distribution).  The
    declared domain (vmin, vmax) fixes the bin edges so the cell-count
    addition monoid holds across any batch split.  The output delta is
    the signed diff of the FINALIZED quantile rows for the groups the
    batch touched (batch-driven, like the agg and hll plans).  ttl
    applies when the group column is an event-time bucket."""

    kind = "hist"

    def __init__(self, opts, ttl) -> None:
        super().__init__(ttl)
        # defaults come from the sketch module, not re-hardcoded —
        # retuning QH_BINS/QH_QUANTILES must not desync this plan from
        # the one-shot path it is bit-identical to
        from flink_cdc_2_3_0_src_spark.operators.sketch import (
            QH_BINS,
            QH_QUANTILES,
        )

        opts = dict(opts) if opts is not True else {}
        unknown = set(opts) - {"group_col", "bins", "vmin", "vmax", "quantiles"}
        if unknown:
            raise ValueError(f"unknown hist options: {sorted(unknown)}")
        if "vmin" not in opts or "vmax" not in opts:
            raise ValueError(
                "hist maintenance needs a declared domain: pass "
                "hist={'vmin': ..., 'vmax': ...} — fixed bin edges are "
                "what make the cell-count monoid hold across batches"
            )
        self.group_col = opts.get("group_col", "source")
        self.bins = int(opts.get("bins", QH_BINS))
        self.vmin = int(opts["vmin"])
        self.vmax = int(opts["vmax"])
        self.quantiles = tuple(opts.get("quantiles", QH_QUANTILES))

    def step(self, state, batch: DataFrame):
        from flink_cdc_2_3_0_src_spark.operators.sketch import (
            hist_state_quantiles,
            merge_hist_state,
        )

        new_state = merge_hist_state(
            state, batch, self.vmin, self.vmax,
            group_col=self.group_col, bins=self.bins,
        )
        affected = batch.select(
            F.col(self.group_col).alias("g")
        ).distinct()

        def _finalize(cells):
            return hist_state_quantiles(
                _keyset_join(cells, affected, ["g"], "left_semi"),
                self.vmin, self.vmax, group_col=self.group_col,
                quantiles=self.quantiles, bins=self.bins,
            )

        old_aff = None if state is None else _finalize(state)
        return new_state, _signed_diff(_finalize(new_state), old_aff)

    def _expire(self, state, watermark):
        if self._ttl != self.group_col:
            raise ValueError(
                "hist state is per-group; ttl must name the group column "
                "(an event-time bucket) to expire whole groups"
            )
        # cell state carries the group as 'g' (the shared projection's
        # column name); expire on that
        return expire_state(state, watermark, "g")


class _TopNPlan(_Plan):
    kind = "topn"

    def __init__(
        self, keys, group_cols, order_sql, n, ttl, op_col, seq_col
    ) -> None:
        super().__init__(ttl)
        self.keys = list(keys)
        self.group_cols = list(group_cols)
        self.order_sql = order_sql
        self.n = int(n)
        self.op_col = op_col
        self.seq_col = seq_col

    def step(self, state, batch: DataFrame):
        return merge_topn_state(
            state, batch, self.keys, self.group_cols, self.order_sql,
            self.n, op_col=self.op_col, seq_col=self.seq_col,
        )

    def _expire(self, state, watermark):
        table_st, topn_st = state
        # consistent forget: evict from BOTH the table state and the
        # membership state (the composition the streaming TTL witness
        # pins) — expiring only one would let the other resurrect rows
        return (
            expire_state(table_st, watermark, self._ttl),
            expire_state(topn_st, watermark, self._ttl),
        )


def maintain(
    *,
    keys: Optional[Sequence[str]] = None,
    group_cols: Optional[Sequence[str]] = None,
    aggs: Optional[dict] = None,
    on: Optional[Sequence[str]] = None,
    how: str = "inner",
    order_sql: Optional[str] = None,
    n: Optional[int] = None,
    dedup=None,
    dedup_row=None,
    hll=None,
    hist=None,
    session=None,
    chain=None,
    temporal=None,
    lookup=None,
    setop=None,
    match=None,
    match_nfa=None,
    over=None,
    calc=None,
    distinct=None,
    grouping_sets=None,
    window_key=None,
    gid_col: str = "__gid",
    ttl=None,
    op_col: str = OP_COL,
    seq_col: str = SEQ_COL,
):
    """Build an incremental-maintenance plan from a query shape.

    Exactly one shape must be declared:

    * ``aggs={name: (fn, col)}`` (+ ``group_cols``) — grouped
      aggregation.  sum/count/avg get the stateless signed-delta plan;
      any min/max switches to the table-state + affected-group
      recompute plan when ``keys=`` is given — the same strategy
      split ``agg_auto`` applies one-shot.  Without ``keys`` (r11),
      min/max ride the value-multiset retract plan instead (Flink's
      Min/MaxWithRetractAggFunction (value -> count) state, shared
      with the distinct views) — the strategy for PK-less tables and
      UNION ALL inputs; full-retraction input required there.
    * ``on=[...]`` (+ ``how``) — two-changelog equi-join
      (``plan.step(state, batch_a, batch_b)``).
    * ``chain=[(on_cols, how[, pair_filter_sql]), ...]`` — multi-way
      (3+ changelog) equi-join as a left-deep cascade of maintained
      join stages (``plan.step(state, b0, b1, b2, ...)``); each stage's
      on-columns name columns of the ACCUMULATED left side (rename
      right-side join columns to match before stepping).  An optional
      third element is a row-local pair predicate (interval-join
      bounds) filtering that INNER stage's output delta.  No ttl —
      expire the input changelogs upstream.
    * ``n=...`` + ``order_sql`` (+ ``group_cols``, ``keys``) — top-n
      per group.
    * ``temporal={"on": [...], "ptime": <col>, "btime": <col>[,
      "how": "inner"|"left"]}`` — event-time temporal join of an
      append-only probe stream against a VERSIONED changelog
      (Flink's ``FOR SYSTEM_TIME AS OF``; ``plan.step(state,
      probe_batch, build_batch)``).  Output is append-only (+1 rows
      only); ``ttl=<btime>`` enables versioned state cleanup (keep
      the latest version before the watermark, drop older ones).
    * ``match={"partition": [...], "order": <ts col>, "within":
      "<n> <unit>s", "define_a": <sql>, "define_b": <sql>,
      "measures": [(sql, name), ...]}`` — MATCH_RECOGNIZE maintenance
      for the two-step contiguous pattern (A B), SKIP TO NEXT ROW
      (Flink's StreamExecMatch): state = each key's rows within
      ``within`` of its max event time; per batch one LEAD window
      over the affected keys' pool, diffed exactly.
    * ``match_nfa={"partition": [...], "order": <ts col>, "within":
      "<n> <unit>s", "pattern": "A B+ C{1,3} D*?", "defines": {var:
      <sql over the row / cross-variable comparisons>}, "measures":
      [(agg sql over the __var/__pos match frame, name), ...][,
      "skip": "to_next"|"past_last"|"to_first <VAR>"|"to_last <VAR>"]
      [, "rows_per_match": "one"|"all"]}`` — general-pattern
      MATCH_RECOGNIZE (greedy AND reluctant quantifiers, any number
      of variables, all four AFTER MATCH skip strategies,
      cross-variable DEFINEs, ONE/ALL ROWS PER MATCH — r12) via a
      per-key NFA over the same WITHIN-bounded pool, run as ONE
      Arrow-batched grouped-pandas step per batch; see
      ``_MatchNfaPlan``.
    * ``calc={"exprs": [(sql, name), ...][, "where": <sql>]}`` —
      row-local projection + filter (Flink's StreamExecCalc, the
      plainest pipeline statement): stateless, the output delta is the
      mapped signed multiset of the batch (σ and projection are linear
      over signed multisets); no ttl.
    * ``setop={"op": "intersect"|"except"[, "all": bool]}`` —
      streaming INTERSECT [ALL] / EXCEPT [ALL] of two changelogs
      (``plan.step(state, batch_a, batch_b)``): state = one (cntA,
      cntB) live-multiplicity row per distinct payload image; the
      output delta is the signed diff of min / clamped-difference of
      the counts.  No ttl (no event-time column in state).
    * ``lookup={"on": [...][, "how": "inner"|"left"]}`` —
      processing-time lookup join (Flink's ``FOR SYSTEM_TIME AS OF
      PROCTIME()`` / JDBC dim enrichment): ``plan.step(None,
      probe_batch, dim_snapshot)`` — probe rows are append-only, the
      dim argument is the external table's CURRENT rows (a snapshot,
      not a changelog), output is append-only; no state, no ttl.
    * ``over={"partition": [...], "order": <ts col>, "aggs": {name:
      (fn, col sql)}[, "rows": <n> | "range": "<n> <unit>"]}`` — OVER
      aggregation on an append-only stream (Flink's
      StreamExecOverAggregate): each arriving row emits once with its
      frame aggregate (``.. PRECEDING AND CURRENT ROW``; rows/range
      both absent = UNBOUNDED).  State = the latest frame-reachable
      rows per key (bounded frames) or one accumulator per key
      (unbounded); ``ttl=<order col>`` evicts bounded-frame state.
    * ``dedup=True`` (or ``dedup={"bands":…, "rows":…,
      "threshold":…}``) — incremental ingest near-dup dedup over
      document batches arriving in ascending doc_id order; the output
      delta is the kept rows as +1 inserts.
    * ``dedup_row={"keys": [...], "order": <ts col>[, "keep":
      "first"|"last"]}`` — row deduplication on an append-only stream
      (Flink's StreamExecDeduplicate, the ``ROW_NUMBER() .. WHERE
      rn = 1`` SQL pattern): keep each key's first/last row by
      (order, arrival seq); state = one row per key; out-of-order
      arrivals retract the previously-emitted winner exactly.
      ``ttl=<order col>`` evicts winners behind the watermark.
    * ``hll=True`` (or ``hll={"group_col":…, "m":…}``) — incremental
      per-group HLL distinct-count maintenance over document batches;
      the output delta is the signed diff of the affected groups'
      finalized estimates.
    * ``hist={"vmin":…, "vmax":…[, "group_col":…, "bins":…,
      "quantiles":…]}`` — incremental per-group equi-width histogram
      quantile maintenance over document batches; the declared
      (vmin, vmax) domain fixes the bin edges (the cell-count addition
      monoid needs them fixed), and the output delta is the signed diff
      of the affected groups' finalized quantile rows.

    The aggregate shape takes three modifiers:

    * ``grouping_sets=[[cols...], ...]`` (+ ``group_cols`` = the union
      list, ``gid_col`` for the GROUPING_ID output) — one maintained
      plan per set, deltas NULL-filled to the full group list and
      tagged with the SQL GROUPING_ID bitmask; sum/count/avg sets ride
      the stateless signed-delta plan, min/max and DISTINCT aggregates
      (r11) give each set a value-multiset retract plan — including
      (r12) the GLOBAL set (), which runs its constant-group form; no
      ttl.

    * ``distinct={name: (fn, col)}`` — sum/count/avg over DISTINCT
      values (Flink's streaming distinct aggregation): the plan keeps a
      signed (group, value)->count multiset per distinct aggregate (the
      distinct-view MapState) so a retraction removes a value only when
      its last live occurrence goes.  Combine with plain sum/count/avg
      in ``aggs`` (which may then be ``{}``); min/max in the same
      statement join the view plan (r11 — same state shape).  Under
      SESSION windows (r12), distinct instead recomputes from the
      session plan's materialized table — exact under merges/splits
      with no view state.

    * ``session=("<ts col>", "<n> <unit>")`` (or a dict adding
      ``w_start``/``w_end`` output names) — session-window aggregation
      (Flink's ``SESSION(ts, INTERVAL gap)`` merging windows).  Always
      table-state backed (``keys=`` required): a session's window is
      not a row-local timestamp function — arrivals merge sessions and
      retractions split them — so affected groups re-sessionize from
      the materialized table.  ``ttl=<ts col>`` then evicts CLOSED
      sessions (w_end behind the watermark).

    The family's k-NN graph member (``similarity.merge_knn_state``) is
    deliberately NOT dispatched here: exact k-NN has no batch-restricted
    affected set (every seen node may gain a closer neighbor from any
    batch), so it cannot honor the planner's batch-driven output-delta
    contract — use it directly.

    ``ttl``: event-time column (a ``(ts_a, ts_b)`` pair for the join
    plan) enabling ``plan.expire(state, watermark)``.

    Every plan's ``step`` returns ``(new_state, out_delta)`` with the
    family's shared signed-multiset output contract; see the module
    docstring.
    """
    # dedup=False / hll=False / hist=False read as "not this shape" —
    # treat them as undeclared rather than letting dict(False) raise
    # mid-dispatch
    if dedup is False:
        dedup = None
    if hll is False:
        hll = None
    if hist is False:
        hist = None
    for label, opt in (("dedup", dedup), ("hll", hll), ("hist", hist)):
        if opt is not None and opt is not True and not isinstance(opt, dict):
            raise ValueError(
                f"{label}= takes True or an options dict, got {opt!r}"
            )
    shapes = [
        aggs is not None, on is not None, n is not None,
        dedup is not None, hll is not None, hist is not None,
        chain is not None, temporal is not None, over is not None,
        dedup_row is not None, lookup is not None, setop is not None,
        match is not None, match_nfa is not None, calc is not None,
    ]
    if sum(shapes) != 1:
        raise ValueError(
            "declare exactly one shape: aggs=... | on=... | chain=... | "
            "temporal=... | lookup=... | setop=... | match=... | "
            "match_nfa=... | calc=... | "
            "over=... | n=...+order_sql | dedup=... | dedup_row=... | "
            "hll=... | hist=..."
        )
    if session is not None and aggs is None:
        raise ValueError(
            "session= is a modifier of the aggregate shape; declare "
            "aggs= with it"
        )
    if distinct is not None and aggs is None:
        raise ValueError(
            "distinct= is a modifier of the aggregate shape; declare "
            "aggs= with it (aggs={} is fine for distinct-only queries)"
        )
    if grouping_sets is not None and aggs is None:
        raise ValueError(
            "grouping_sets= is a modifier of the aggregate shape; "
            "declare aggs= with it"
        )
    if window_key is not None and aggs is None:
        raise ValueError(
            "window_key= is a modifier of the aggregate shape; "
            "declare aggs= with it"
        )
    if window_key and (
        session is not None or grouping_sets is not None or distinct
    ):
        raise ValueError(
            "window_key= does not combine with session/grouping_sets/"
            "distinct modifiers — those plans key their own state"
        )
    if dedup is not None:
        return _DedupPlan(dedup, ttl)
    if dedup_row is not None:
        if not isinstance(dedup_row, dict):
            raise ValueError(
                "dedup_row= takes an options dict: {'keys': [partition "
                "cols], 'order': <ts col>[, 'keep': 'first'|'last']}"
            )
        return _DedupRowPlan(dedup_row, ttl, op_col, seq_col)
    if hll is not None:
        return _HllPlan(hll, ttl)
    if hist is not None:
        return _HistPlan(hist, ttl)
    if chain is not None:
        return _JoinChainPlan(chain, ttl, op_col, seq_col)
    if temporal is not None:
        if not isinstance(temporal, dict):
            raise ValueError(
                "temporal= takes an options dict: {'on': [key cols], "
                "'ptime': <probe ts col>, 'btime': <build version-time "
                "col>[, 'how': inner|left]}"
            )
        return _TemporalJoinPlan(temporal, ttl, op_col, seq_col)
    if lookup is not None:
        if not isinstance(lookup, dict):
            raise ValueError(
                "lookup= takes an options dict: {'on': [join key cols]"
                "[, 'how': inner|left]}"
            )
        return _LookupJoinPlan(lookup, ttl, op_col, seq_col)
    if setop is not None:
        if not isinstance(setop, dict):
            raise ValueError(
                "setop= takes an options dict: {'op': 'intersect'|"
                "'except'[, 'all': bool]}"
            )
        return _SetOpPlan(setop, ttl, op_col, seq_col)
    if match is not None:
        if not isinstance(match, dict):
            raise ValueError(
                "match= takes an options dict: {'partition': [...], "
                "'order': <ts col>, 'within': '<n> <unit>s', "
                "'define_a': <sql>, 'define_b': <sql>, 'measures': "
                "[(sql, name), ...]}"
            )
        return _MatchPlan(match, ttl, op_col, seq_col)
    if calc is not None:
        if not isinstance(calc, dict):
            raise ValueError(
                "calc= takes an options dict: {'exprs': [(sql, name), "
                "...][, 'where': <row-local sql>]}"
            )
        return _CalcPlan(calc, ttl, op_col, seq_col)
    if match_nfa is not None:
        if not isinstance(match_nfa, dict):
            raise ValueError(
                "match_nfa= takes an options dict: {'partition': [...], "
                "'order': <ts col>, 'within': '<n> <unit>s', "
                "'pattern': 'A B+ C' | [(var, min, max[, greedy])], "
                "'defines': "
                "{var: <sql>}, 'measures': [(agg sql, name), ...]"
                "[, 'skip': 'to_next'|'past_last'|'to_first <VAR>'|"
                "'to_last <VAR>'][, 'rows_per_match': 'one'|'all']}"
            )
        return _MatchNfaPlan(match_nfa, ttl, op_col, seq_col)
    if over is not None:
        if not isinstance(over, dict):
            raise ValueError(
                "over= takes an options dict: {'partition': [key cols], "
                "'order': <ts col>, 'aggs': {name: (fn, col sql)}[, "
                "'rows': <n> | 'range': '<n> <unit>']}"
            )
        return _OverPlan(over, ttl, op_col, seq_col)
    if on is not None:
        if how not in ("inner", "left", "right", "full"):
            raise ValueError(
                f"how must be inner/left/right/full, got {how!r}"
            )
        return _JoinPlan(on, how, ttl, op_col, seq_col)
    if n is not None:
        if not order_sql or not group_cols or not keys:
            raise ValueError(
                "top-n maintenance needs keys=, group_cols= and order_sql="
            )
        return _TopNPlan(keys, group_cols, order_sql, n, ttl, op_col, seq_col)
    if session is not None and not group_cols:
        group_cols = []
    elif group_cols is None:
        raise ValueError(
            "aggregate maintenance needs group_cols= (pass [] explicitly "
            "for a GLOBAL aggregate — the empty grouping set)"
        )
    fns = {fn for fn, _ in aggs.values()}
    unsupported = fns - _AGG_FNS
    if unsupported:
        raise ValueError(f"unsupported aggregate(s): {sorted(unsupported)}")
    if grouping_sets is not None:
        if session is not None:
            raise ValueError(
                "grouping sets do not combine with SESSION windows "
                "(a merging window is not a row-local group column); "
                "split the statements"
            )
        return _GroupingSetsPlan(
            group_cols, grouping_sets, aggs, gid_col, ttl, op_col,
            seq_col, distinct=distinct,
        )
    if distinct:
        bad = {fn for fn, _ in distinct.values()} - {"sum", "count", "avg"}
        if bad:
            raise ValueError(
                f"distinct aggregates support sum/count/avg, got "
                f"{sorted(bad)} (MIN/MAX(DISTINCT x) equals plain "
                "MIN/MAX(x) — drop the DISTINCT)"
            )
        overlap = set(distinct) & set(aggs)
        if overlap:
            raise ValueError(f"duplicate output column(s) {sorted(overlap)}")
    if distinct and session is None:
        # min/max in the same statement join the view plan (r11): the
        # (group, value)->count state IS Flink's retraction-capable
        # Min/MaxWithRetractAggFunction accumulator, so no second
        # (table-state) plan is needed.  (Under SESSION windows,
        # distinct instead recomputes from the session plan's
        # materialized table — see below.)
        views = dict(distinct)
        plain = dict(aggs)
        for name in [n for n, (fn, _c) in aggs.items()
                     if fn in ("min", "max")]:
            views[name] = plain.pop(name)
        return _DistinctAggPlan(
            group_cols, plain, views, ttl, op_col, seq_col
        )
    if session is not None:
        if isinstance(session, dict):
            unknown = set(session) - {"ts", "gap", "w_start", "w_end"}
            if unknown:
                raise ValueError(
                    f"unknown session options: {sorted(unknown)}"
                )
            if "ts" not in session or "gap" not in session:
                raise ValueError(
                    "session= needs at least {'ts': <col>, 'gap': "
                    "'<n> <unit>'}"
                )
            ts_col, gap = session["ts"], session["gap"]
            w_start = session.get("w_start", "w_start")
            w_end = session.get("w_end", "w_end")
        elif isinstance(session, (tuple, list)) and len(session) == 2:
            (ts_col, gap), w_start, w_end = session, "w_start", "w_end"
        else:
            raise ValueError(
                "session= takes (ts_col, gap) or a dict with "
                "ts/gap/w_start/w_end"
            )
        if not keys:
            raise ValueError(
                "session-window maintenance keeps table state and needs "
                "keys= (the changelog's primary key)"
            )
        return _SessionPlan(
            keys, group_cols, aggs, ts_col, gap, w_start, w_end,
            ttl, op_col, seq_col, distinct=distinct,
        )
    if fns & {"min", "max"}:
        if keys and window_key and group_cols:
            return _WindowedRecomputePlan(
                keys, window_key, group_cols, aggs, ttl, op_col, seq_col
            )
        if keys and group_cols:
            return _AggRecomputePlan(
                keys, group_cols, aggs, ttl, op_col, seq_col
            )
        # no PRIMARY KEY (a PK-less table, a UNION ALL of tables) or a
        # GLOBAL aggregate (group_cols=[], one constant group — r12):
        # the value-multiset retract plan — Flink's own min/max
        # strategy (Min/MaxWithRetractAggFunction's value->count map),
        # riding the distinct-view plan's state; full-retraction input
        # required (the -U images decrement the counts).  Window
        # replication needs no special keying here: replicas fold into
        # per-(group incl. window, value) signed counts.
        views = {
            n: a for n, a in aggs.items() if a[0] in ("min", "max")
        }
        plain = {
            n: a for n, a in aggs.items() if a[0] not in ("min", "max")
        }
        return _DistinctAggPlan(
            group_cols, plain, views, ttl, op_col, seq_col
        )
    if window_key:
        raise ValueError(
            "window_key= applies to min/max maintenance only (the "
            "stateless signed-delta plan handles window replication "
            "exactly without table state) — drop it for sum/count/avg"
        )
    return _AggDeltaPlan(group_cols, aggs, ttl, op_col, seq_col)
