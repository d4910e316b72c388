"""General-pattern MATCH_RECOGNIZE (the per-key NFA plan).

Flink compiles MATCH_RECOGNIZE to StreamExecMatch / CepOperator — a
per-key NFA with WITHIN-bounded state (reference design provenance:
the planner surface the connectors delegate to,
MySqlTableSourceFactory.java:81-150).  The repo's ``_MatchNfaPlan``
runs the same shape as an Arrow-batched grouped-pandas scan over the
WITHIN-bounded affected-key pools, with measures evaluated JVM-side as
FILTER-form SQL aggregates and the signed diff maintaining the match
set exactly between batches.

The reference replays here are INDEPENDENT implementations: a pure-
Python greedy-backtracking matcher (different code path from the
plan's numpy scan) and, for the funnel pattern, a gaps-and-islands SQL
formulation (valid because its defines are mutually exclusive)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.model import OP_COL, SEQ_COL
from flink_cdc_2_3_0_src_spark.operators.changelog import MULT_COL
from flink_cdc_2_3_0_src_spark.operators.maintain import (
    maintain,
    parse_match_pattern,
)
from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
    parse_insert_select,
    plan_insert_maintained,
    replay_insert_maintained,
)

pytestmark = pytest.mark.usefixtures("spark")


# ---------------------------------------------------------------------------
# independent reference matcher (pure Python, recursive — a different
# formulation from the plan's iterative numpy scan)
# ---------------------------------------------------------------------------

def _ref_matches(rows, elems, defines, within_us, past_last):
    """rows = [(ots, seq, rowdict)] ONE key, any order.  Returns a list
    of matches, each a list of (rowdict, var)."""
    rows = sorted(rows, key=lambda r: (r[0], r[1]))
    n = len(rows)

    def ok(var, r):
        return bool(defines[var](r[2]))

    def attempt(i):
        def rec(e, pos):
            if e == len(elems):
                return []
            var, mn, mx, greedy = elems[e]
            k = 0
            while (
                (mx is None or k < mx)
                and pos + k < n
                and ok(var, rows[pos + k])
                and rows[pos + k][0] - rows[i][0] < within_us
            ):
                k += 1
            order = range(k, mn - 1, -1) if greedy else range(mn, k + 1)
            for take in order:
                rest = rec(e + 1, pos + take)
                if rest is not None:
                    return [
                        (rows[pos + j][2], var) for j in range(take)
                    ] + rest
            return None

        return rec(0, i)

    out, i = [], 0
    while i < n:
        m = attempt(i)
        if m:
            out.append(m)
            if past_last:
                i += len(m)
                continue
        i += 1
    return out


def _mk_log(spark, rows):
    """rows = [(id, key, et, v, ts string or None)]"""
    return spark.createDataFrame(
        [(i, u, t, v, ts, "+I", i) for (i, u, t, v, ts) in rows],
        f"id long, u string, et string, v double, ts string,"
        f" {OP_COL} string, {SEQ_COL} long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


_FUNNEL_SQL = (
    "INSERT INTO sink SELECT u, a_ts, n_b, b_sum, c_ts FROM ev"
    " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
    " MEASURES FIRST(A.ts) AS a_ts, COUNT(B.*) AS n_b,"
    " SUM(B.v) AS b_sum, LAST(C.ts) AS c_ts"
    " AFTER MATCH SKIP PAST LAST ROW"
    " PATTERN (A B+ C) WITHIN INTERVAL '1' DAY"
    " DEFINE A AS A.et = 'view', B AS B.et = 'click',"
    " C AS C.et = 'purchase')"
)
_EV_TABLES = {"ev": {"primary_key": ["id"], "rowtime": "ts"}}


def test_parse_match_pattern_forms():
    assert parse_match_pattern("A B+ C") == [
        ("A", 1, 1, True), ("B", 1, None, True), ("C", 1, 1, True)
    ]
    assert parse_match_pattern("a b* c? d{2} e{1,3} f{2,}") == [
        ("A", 1, 1, True), ("B", 0, None, True), ("C", 0, 1, True),
        ("D", 2, 2, True), ("E", 1, 3, True), ("F", 2, None, True),
    ]
    # reluctant quantifiers (r12): trailing ? flips greedy off
    assert parse_match_pattern("A B+? C*? D?? E{1,3}?") == [
        ("A", 1, 1, True), ("B", 1, None, False), ("C", 0, None, False),
        ("D", 0, 1, False), ("E", 1, 3, False),
    ]
    with pytest.raises(ValueError, match="alternation"):
        parse_match_pattern("A | B")
    with pytest.raises(ValueError, match="appears twice"):
        parse_match_pattern("A B A")
    with pytest.raises(ValueError, match="zero rows"):
        parse_match_pattern("A* B?")
    with pytest.raises(ValueError, match="max must be"):
        parse_match_pattern("A{3,2}")
    with pytest.raises(ValueError, match="empty"):
        parse_match_pattern("   ")


def test_nfa_funnel_matches_islands_sql(spark):
    """The B+ funnel vs an INDEPENDENT gaps-and-islands one-shot SQL
    (valid because view/click/purchase defines are mutually exclusive,
    which also makes SKIP PAST LAST ROW equal SKIP TO NEXT ROW — no
    match can start on a consumed row)."""
    rng = random.Random(411)
    rows = []
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    for i in range(300):
        u = f"u{rng.randrange(8)}"
        et = rng.choice(["view", "click", "click", "purchase", "error"])
        ts = base + rng.randrange(0, 6 * 86400)
        rows.append(
            (i, u, et, float(rng.randrange(100)) / 4.0,
             f"{__import__('datetime').datetime.utcfromtimestamp(ts):%Y-%m-%d %H:%M:%S}")
        )
    # arrival (id/seq) order follows event time — the retained-pool
    # contract (exact under per-key in-order arrivals; the driver's
    # events table has 0 per-key inversions of event_id vs ts).
    # Bounded out-of-order arrivals are pinned separately by
    # test_nfa_out_of_order_retracts_and_regrows.
    rows = [
        (j, u, et, v, ts)
        for j, (_i, u, et, v, ts) in enumerate(
            sorted(rows, key=lambda r: (r[4], r[0]))
        )
    ]
    log = _mk_log(spark, rows)
    log.drop(OP_COL).createOrReplaceTempView("__nfa_t")
    one_shot = spark.sql(
        """
        WITH isl AS (
            SELECT *, SUM(CASE WHEN et <> 'click' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY u ORDER BY ts, _seq
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS g,
                   ROW_NUMBER() OVER (PARTITION BY u ORDER BY ts, _seq)
                   AS rn
            FROM __nfa_t WHERE ts IS NOT NULL
        ),
        fa AS (
            SELECT u, g, et AS fet, ts AS fts FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY u, g
                                             ORDER BY rn) AS irn
                FROM isl
            ) WHERE irn = 1
        ),
        agg AS (
            SELECT u, g, COUNT(*) AS cnt,
                   SUM(v) FILTER (WHERE et = 'click') AS bsum
            FROM isl GROUP BY u, g
        )
        SELECT f1.u AS u, f1.fts AS a_ts, a1.cnt - 1 AS n_b,
               a1.bsum AS b_sum, f2.fts AS c_ts
        FROM fa f1
        JOIN agg a1 ON a1.u = f1.u AND a1.g = f1.g
        JOIN fa f2 ON f2.u = f1.u AND f2.g = f1.g + 1
        WHERE f1.fet = 'view' AND a1.cnt >= 2 AND f2.fet = 'purchase'
          AND f2.fts < f1.fts + INTERVAL 1 DAY
        """
    )
    exp = sorted(map(tuple, one_shot.collect()), key=str)
    for n in (1, 4):
        got = replay_insert_maintained(
            _FUNNEL_SQL, _EV_TABLES, {"ev": log}, n_batches=n
        )
        assert sorted(map(tuple, got.collect()), key=str) == exp
    assert len(exp) > 0


def test_nfa_greedy_backtracking_pinned(spark):
    """Greedy B+ gives rows back when C cannot match after it — a row
    satisfying BOTH defines goes to C when that is the only way the
    pattern completes (SQL:2016 greedy-with-backtracking)."""
    rows = [
        (1, "u1", "a", 0.0, "2024-01-01 00:00:00"),
        (2, "u1", "b", 5.0, "2024-01-01 00:10:00"),
        (3, "u1", "b", 20.0, "2024-01-01 00:20:00"),  # B and C both hold
        (4, "u1", "b", 1.0, "2024-01-01 00:30:00"),
    ]
    sql = (
        "INSERT INTO sink SELECT u, n_b, c_v FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES COUNT(B.*) AS n_b, LAST(C.v) AS c_v"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B+ C) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'a', B AS B.v > 0, C AS C.v > 10)"
    )
    got = replay_insert_maintained(
        sql, _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=1
    ).collect()
    # greedy B+ first takes rows 2,3,4; no row left for C; backtracks
    # until C lands on row 3 (v=20) with B = [row 2]
    assert [(r["u"], r["n_b"], r["c_v"]) for r in got] == [("u1", 1, 20.0)]


def test_nfa_skip_modes_differ(spark):
    """SKIP TO NEXT ROW attempts at every position (overlap allowed);
    SKIP PAST LAST ROW consumes matched rows.  With defines that hold
    on every row, A B over 3 rows yields 2 overlapping matches for
    TO NEXT and 1 for PAST LAST."""
    rows = [
        (1, "u1", "x", 1.0, "2024-01-01 00:00:00"),
        (2, "u1", "x", 2.0, "2024-01-01 00:10:00"),
        (3, "u1", "x", 3.0, "2024-01-01 00:20:00"),
    ]
    base = (
        "INSERT INTO sink SELECT u, a_v, b_v FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES FIRST(A.v) AS a_v, LAST(B.v) AS b_v"
        " AFTER MATCH SKIP {skip}"
        " PATTERN (A B{{1}}) WITHIN INTERVAL '1' HOUR"
        " DEFINE A AS A.v > 0, B AS B.v > 0)"
    )
    log = _mk_log(spark, rows)
    to_next = replay_insert_maintained(
        base.format(skip="TO NEXT ROW"), _EV_TABLES, {"ev": log},
        n_batches=1,
    )
    past = replay_insert_maintained(
        base.format(skip="PAST LAST ROW"), _EV_TABLES, {"ev": log},
        n_batches=1,
    )
    assert sorted(map(tuple, to_next.collect())) == [
        ("u1", 1.0, 2.0), ("u1", 2.0, 3.0)
    ]
    assert sorted(map(tuple, past.collect())) == [("u1", 1.0, 2.0)]


@pytest.mark.parametrize("skip", ["TO NEXT ROW", "PAST LAST ROW"])
@pytest.mark.parametrize(
    "pattern, defs",
    [
        (
            "A B+ C",
            {"A": "et = 'view'", "B": "et = 'click'",
             "C": "et = 'purchase'"},
        ),
        (
            "A B{1,2} C?",
            {"A": "v > 8", "B": "et = 'click'", "C": "et = 'error'"},
        ),
        ("A B*", {"A": "et = 'view'", "B": "v > 5"}),
        # reluctant quantifier (r12): B takes as few rows as possible
        (
            "A B+? C",
            {"A": "et = 'view'", "B": "v > 3", "C": "et = 'error'"},
        ),
    ],
)
@pytest.mark.slow
def test_nfa_fuzz_split_invariance_vs_reference(spark, skip, pattern, defs):
    """Seeded fuzz: random per-key event soup, three pattern shapes ×
    both skip modes.  The replay (any batch split) must equal the
    independent pure-Python greedy matcher's one-shot measures."""
    import datetime as dt

    rng = random.Random(hash((skip, pattern)) & 0xFFFF)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(160):
        u = f"u{rng.randrange(5)}"
        et = rng.choice(["view", "click", "purchase", "error"])
        ts = base + dt.timedelta(minutes=rng.randrange(0, 5000))
        rows.append(
            (i, u, et, float(rng.randrange(20)),
             f"{ts:%Y-%m-%d %H:%M:%S}")
        )
    # arrival order follows event time (the retained-pool contract)
    rows = [
        (j, u, et, v, ts)
        for j, (_i, u, et, v, ts) in enumerate(
            sorted(rows, key=lambda r: (r[4], r[0]))
        )
    ]
    # build DEFINE with variable-qualified refs
    def qual(var, pred):
        return (
            pred.replace("et =", f"{var}.et =")
            .replace("v >", f"{var}.v >")
        )

    sql = (
        "INSERT INTO sink SELECT u, n_rows, v_sum FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES COUNT(A.*) + COUNT(B.*) + COUNT(C.*) AS n_rows,"
        " COALESCE(SUM(A.v), 0) + COALESCE(SUM(B.v), 0)"
        " + COALESCE(SUM(C.v), 0) AS v_sum"
        f" AFTER MATCH SKIP {skip}"
        f" PATTERN ({pattern}) WITHIN INTERVAL '12' HOUR"
        " DEFINE "
        + ", ".join(f"{v} AS {qual(v, d)}" for v, d in defs.items())
        + ")"
    )
    if "C" not in pattern:
        sql = sql.replace(" + COUNT(C.*)", "").replace(
            " + COALESCE(SUM(C.v), 0)", ""
        )
    elems = parse_match_pattern(pattern)
    within_us = 12 * 3600 * 1_000_000
    defines = {
        v: (lambda d: (lambda r: (
            r["et"] == d.split("'")[1] if "et" in d
            else r["v"] > float(d.split(">")[1])
        )))(d)
        for v, d in defs.items()
    }
    by_key = {}
    for i, u, et, v, ts in rows:
        import calendar

        ots = int(
            calendar.timegm(
                dt.datetime.strptime(ts, "%Y-%m-%d %H:%M:%S").timetuple()
            )
        ) * 1_000_000
        by_key.setdefault(u, []).append(
            (ots, i, {"et": et, "v": v, "u": u})
        )
    expected = []
    for u, krows in by_key.items():
        for m in _ref_matches(
            krows, elems, defines, within_us, skip == "PAST LAST ROW"
        ):
            n_rows = len(m)
            v_sum = sum(r["v"] for r, _var in m)
            expected.append((u, n_rows, v_sum))
    log = _mk_log(spark, rows)
    for n in (1, 4):
        got = replay_insert_maintained(
            sql, _EV_TABLES, {"ev": log}, n_batches=n
        )
        assert sorted(map(tuple, got.collect()), key=str) == sorted(
            expected, key=str
        ), f"skip={skip} pattern={pattern} n_batches={n}"


def test_nfa_out_of_order_retracts_and_regrows(spark):
    """A late row landing inside a greedy B+ run re-derives the
    affected key's matches: the emitted match retracts and the grown
    one emits — replay equals one-shot for any arrival order."""
    in_order = [
        (1, "u1", "view", 1.0, "2024-01-01 00:00:00"),
        (2, "u1", "click", 2.0, "2024-01-01 01:00:00"),
        (4, "u1", "purchase", 4.0, "2024-01-01 03:00:00"),
    ]
    late = (3, "u1", "click", 3.0, "2024-01-01 02:00:00")
    log_all = _mk_log(spark, in_order + [late])
    one_shot = replay_insert_maintained(
        _FUNNEL_SQL, _EV_TABLES, {"ev": log_all}, n_batches=1
    )
    exp = sorted(map(tuple, one_shot.collect()), key=str)
    assert [r[2] for r in exp] == [2]  # n_b grew to 2
    # replay with the late row in its own final batch (arrival order
    # differs from event-time order)
    job = plan_insert_maintained(_FUNNEL_SQL, _EV_TABLES)
    job.step({"ev": _mk_log(spark, in_order)})
    job.step({"ev": _mk_log(spark, [late])})
    assert sorted(map(tuple, job.result().collect()), key=str) == exp


def test_nfa_retention_prunes_and_past_last_drops_straddle(spark):
    """State keeps rows within WITHIN of the key's max; under SKIP
    PAST LAST ROW rows consumed by a match straddling that horizon
    are dropped too (the match stays emitted; its suffix must not
    re-match)."""
    job = plan_insert_maintained(_FUNNEL_SQL, _EV_TABLES, ttl="ts")
    b1 = [
        (1, "u1", "view", 1.0, "2024-01-01 00:00:00"),
        (2, "u1", "click", 2.0, "2024-01-01 12:00:00"),
        (3, "u1", "purchase", 3.0, "2024-01-01 23:00:00"),
        # a later row pushes the horizon past the match's first row
        (4, "u1", "error", 0.0, "2024-01-02 06:00:00"),
    ]
    job.step({"ev": _mk_log(spark, b1)})
    assert job.result().count() == 1
    # horizon = 01-02 06:00 − 1 day = 01-01 06:00; the view row (00:00)
    # is pruned by time, and the consumed click/purchase rows straddle
    # (match first row behind the horizon) so they are MARKED
    # unmatchable — kept as adjacency/PREV context, never re-matched
    state = {r["id"]: r["__cns"] for r in job._state.collect()}
    assert state == {2: True, 3: True, 4: False}
    # a later view+click+purchase still matches normally
    b2 = [
        (5, "u1", "view", 5.0, "2024-01-02 07:00:00"),
        (6, "u1", "click", 6.0, "2024-01-02 08:00:00"),
        (7, "u1", "purchase", 7.0, "2024-01-02 09:00:00"),
    ]
    job.step({"ev": _mk_log(spark, b2)})
    assert job.result().count() == 2
    # ttl additionally evicts behind an explicit watermark: the one
    # state frame (the pool) empties
    job.expire("2024-01-03 00:00:00")
    assert job._state.count() == 0


def test_nfa_within_boundary_is_strict(spark):
    """Flink's WITHIN is strict: a funnel spanning exactly the
    interval does not match."""
    rows = [
        (1, "u1", "view", 1.0, "2024-01-01 00:00:00"),
        (2, "u1", "click", 2.0, "2024-01-01 12:00:00"),
        (3, "u1", "purchase", 3.0, "2024-01-02 00:00:00"),  # == 1 day
        (4, "u2", "view", 4.0, "2024-01-01 00:00:00"),
        (5, "u2", "click", 5.0, "2024-01-01 12:00:00"),
        (6, "u2", "purchase", 6.0, "2024-01-01 23:59:59"),
    ]
    got = replay_insert_maintained(
        _FUNNEL_SQL, _EV_TABLES, {"ev": _mk_log(spark, rows)},
        n_batches=1,
    ).collect()
    assert [r["u"] for r in got] == ["u2"]


def test_nfa_undefined_variable_matches_any_row(spark):
    """A pattern variable with no DEFINE matches any row (SQL:2016)."""
    rows = [
        (1, "u1", "view", 1.0, "2024-01-01 00:00:00"),
        (2, "u1", "error", 9.0, "2024-01-01 00:30:00"),
        (3, "u1", "purchase", 3.0, "2024-01-01 01:00:00"),
    ]
    sql = (
        "INSERT INTO sink SELECT u, mid_et FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES LAST(B.et) AS mid_et"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B C) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'view', C AS C.et = 'purchase')"
    )
    got = replay_insert_maintained(
        sql, _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=1
    ).collect()
    assert [(r["u"], r["mid_et"]) for r in got] == [("u1", "error")]


_RISE_SQL = (
    "INSERT INTO sink SELECT u, a_v, top_v, n_up FROM ev"
    " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
    " MEASURES FIRST(A.v) AS a_v, LAST(B.v) AS top_v,"
    " COUNT(B.*) AS n_up"
    " AFTER MATCH SKIP PAST LAST ROW"
    " PATTERN (A B+) WITHIN INTERVAL '1' DAY"
    " DEFINE B AS B.v > PREV(B.v))"
)


def test_nfa_prev_rising_run(spark):
    """SQL:2016 PREV navigation — the canonical rising-run CEP
    pattern: A (any row) then B+ where each B strictly exceeds the
    previous INPUT row.  PREV rewrites to a JVM LAG column; a run
    split across batches retracts its shorter image and emits the
    grown one, converging on the one-shot greedy match set."""
    rows = [
        # u1: 1, 2, 5, 3, 4 → greedy runs: (1,2,5) then (3,4)
        (1, "u1", "t", 1.0, "2024-01-01 00:00:00"),
        (2, "u1", "t", 2.0, "2024-01-01 01:00:00"),
        (3, "u1", "t", 5.0, "2024-01-01 02:00:00"),
        (4, "u1", "t", 3.0, "2024-01-01 03:00:00"),
        (5, "u1", "t", 4.0, "2024-01-01 04:00:00"),
        # u2: strictly falling → no match
        (6, "u2", "t", 9.0, "2024-01-01 00:00:00"),
        (7, "u2", "t", 7.0, "2024-01-01 01:00:00"),
    ]
    st = parse_insert_select(_RISE_SQL)
    assert st.shape == "match_nfa"
    # the bridge rewrites PREV only; the plan binds B.v to the row
    # being classified (r12: qualified refs pass through so the plan
    # can classify cross-variable conjuncts itself)
    assert st.match_nfa["defines"]["B"] == "B.v > PREV(v)"
    exp = [("u1", 1.0, 5.0, 2), ("u1", 3.0, 4.0, 1)]
    for n in (1, 3, 5):
        got = replay_insert_maintained(
            _RISE_SQL, _EV_TABLES, {"ev": _mk_log(spark, rows)},
            n_batches=n,
        )
        assert sorted(map(tuple, got.collect()), key=str) == sorted(
            exp, key=str
        ), n


def test_nfa_prev_lag_sources_survive_prune(spark):
    """The suffix prune keeps max_prev extra rows BELOW the WITHIN
    horizon so retained rows keep their LAG sources — without them, a
    below-horizon predecessor's disappearance would flip a retained
    row's DEFINE bit between batches and emit a spurious
    retraction."""
    job = plan_insert_maintained(_RISE_SQL, _EV_TABLES)
    t0 = "2024-01-01 00:00:00"
    b1 = [
        (1, "u1", "t", 1.0, t0),
        (2, "u1", "t", 2.0, "2024-01-01 20:00:00"),
    ]
    job.step({"ev": _mk_log(spark, b1)})
    assert job.result().count() == 1  # (1 → 2)
    # a row 30h in pushes the horizon past row 1; it must survive as
    # row 2's PREV source (the contiguous-suffix extra)
    job.step({"ev": _mk_log(spark, [(3, "u1", "t", 1.5,
                                     "2024-01-02 06:00:00")])})
    assert 1 in {r["id"] for r in job._state.collect()}
    # a third batch must NOT retract the emitted (1 → 2) match
    job.step({"ev": _mk_log(spark, [(4, "u1", "t", 9.0,
                                     "2024-01-02 07:00:00")])})
    got = sorted(map(tuple, job.result().collect()), key=str)
    assert ("u1", 1.0, 2.0, 1) in got
    # and the new rising pair (1.5 → 9.0) is found
    assert ("u1", 1.5, 9.0, 1) in got


def test_nfa_prev_guards(spark):
    # PREV may qualify with ANY pattern variable (physical navigation)
    st = parse_insert_select(
        _RISE_SQL.replace("PREV(B.v)", "PREV(A.v)")
    )
    assert st.match_nfa["defines"]["B"] == "B.v > PREV(v)"
    # explicit offset
    st = parse_insert_select(
        _RISE_SQL.replace("PREV(B.v)", "PREV(B.v, 2)")
    )
    assert st.match_nfa["defines"]["B"] == "B.v > PREV(v, 2)"
    with pytest.raises(ValueError, match="unknown pattern variable"):
        parse_insert_select(_RISE_SQL.replace("PREV(B.v)", "PREV(Z.v)"))
    with pytest.raises(ValueError, match="DEFINE-only"):
        parse_insert_select(
            _RISE_SQL.replace("LAST(B.v) AS top_v",
                              "PREV(B.v) AS top_v")
        )
    # PREV in a two-variable PATTERN (A B) routes to the NFA plan, not
    # the LEAD plan (which has no physical-row axis)
    st = parse_insert_select(
        "INSERT INTO sink SELECT u, b_v FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES LAST(B.v) AS b_v"
        " AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A B) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'view', B AS B.v > PREV(B.v))"
    )
    assert st.shape == "match_nfa"


# ---------------------------------------------------------------------------
# cross-variable DEFINEs (r12): predicates over the partial match
# ---------------------------------------------------------------------------

def _ref_matches_ctx(rows, elems, defines, within_us, skip):
    """Context-aware reference matcher: ``defines[var]`` is a callable
    ``(rowdict, bound)`` with ``bound`` = {var: [rowdicts already bound
    in the partial match]} — the candidate row is NOT in ``bound``
    (mirror SQL:2016 by appending it for self-references inside the
    callable).  ``skip`` mirrors the plan: ``("next",)`` /
    ``("past",)`` / ``("first"|"last", <var name>)``."""
    rows = sorted(rows, key=lambda r: (r[0], r[1]))
    n = len(rows)
    out, i = [], 0
    while i < n:
        bound = {v: [] for v, _mn, _mx, _g in elems}

        def rec(e, pos):
            if e == len(elems):
                return []
            var, mn, mx, greedy = elems[e]
            taken = []
            k = 0
            while (
                (mx is None or k < mx)
                and pos + k < n
                and rows[pos + k][0] - rows[i][0] < within_us
            ):
                bound[var] = taken
                if not defines[var](rows[pos + k][2], bound):
                    break
                taken.append(rows[pos + k][2])
                k += 1
            order = range(k, mn - 1, -1) if greedy else range(mn, k + 1)
            for take in order:
                bound[var] = taken[:take]
                rest = rec(e + 1, pos + take)
                if rest is not None:
                    bound[var] = []
                    return [
                        (pos + j, var) for j in range(take)
                    ] + rest
            bound[var] = []
            return None

        m = rec(0, i)
        if m:
            out.append([(rows[ri][2], var) for ri, var in m])
            if skip[0] == "past":
                i = m[-1][0] + 1
                continue
            if skip[0] in ("first", "last"):
                rows_v = [ri for ri, var in m if var == skip[1]]
                resume = rows_v[0] if skip[0] == "first" else rows_v[-1]
                assert resume > i, "reference matcher: skip-to loop"
                i = resume
                continue
        i += 1
    return out


_CROSS_SQL = (
    "INSERT INTO sink SELECT u, a_ts, n_b, max_b FROM ev"
    " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
    " MEASURES FIRST(A.ts) AS a_ts, COUNT(B.*) AS n_b,"
    " MAX(B.v) AS max_b"
    " AFTER MATCH SKIP PAST LAST ROW"
    " PATTERN (A B+) WITHIN INTERVAL '1' DAY"
    " DEFINE A AS A.et = 'view',"
    " B AS B.et = 'click' AND B.v > A.v)"
)


def test_nfa_cross_var_pinned(spark):
    """``B.v > A.v`` — the B run is bounded by the A row's value (a
    bare cross-reference means LAST(A.v), SQL:2016).  NULLs on either
    side of the comparison end the run (unknown → not satisfied)."""
    rows = [
        (1, "u1", "view", 5.0, "2024-01-01 00:00:01"),
        (2, "u1", "click", 7.0, "2024-01-01 00:00:02"),   # B (> 5)
        (3, "u1", "click", 9.0, "2024-01-01 00:00:03"),   # B (> 5)
        (4, "u1", "click", 4.0, "2024-01-01 00:00:04"),   # breaks
        (5, "u1", "view", 8.0, "2024-01-01 00:00:05"),
        (6, "u1", "click", 8.5, "2024-01-01 00:00:06"),   # B (> 8)
        (7, "u2", "view", None, "2024-01-01 00:00:01"),   # NULL A.v
        (8, "u2", "click", 9.0, "2024-01-01 00:00:02"),   # no B
        (9, "u2", "view", 1.0, "2024-01-01 00:00:03"),
        (10, "u2", "click", None, "2024-01-01 00:00:04"),  # NULL B.v
    ]
    exp = [
        ("u1", "2024-01-01 00:00:01", 2, 9.0),
        ("u1", "2024-01-01 00:00:05", 1, 8.5),
    ]
    for n in (1, 3):
        got = replay_insert_maintained(
            _CROSS_SQL, _EV_TABLES, {"ev": _mk_log(spark, rows)},
            n_batches=n,
        )
        assert sorted(
            (r["u"], str(r["a_ts"])[:19], r["n_b"], r["max_b"])
            for r in got.collect()
        ) == exp, n


def test_nfa_cross_var_first_and_last_nav(spark):
    """Explicit FIRST/LAST navigation, including self-navigation:
    ``B.v >= FIRST(B.v)`` keeps the run at-or-above its own first row
    (the candidate row counts as bound to its own element), and
    ``C.v > FIRST(A.v)`` reaches back across B to the match's A row."""
    rows = [
        (1, "u1", "view", 5.0, "2024-01-01 00:00:01"),
        (2, "u1", "click", 6.0, "2024-01-01 00:00:02"),  # B first (>=6)
        (3, "u1", "click", 8.0, "2024-01-01 00:00:03"),  # B (>= 6)
        (4, "u1", "purchase", 5.2, "2024-01-01 00:00:04"),  # C: > 5 ok
        (5, "u2", "view", 5.0, "2024-01-01 00:00:01"),
        (6, "u2", "click", 6.0, "2024-01-01 00:00:02"),
        (7, "u2", "purchase", 4.0, "2024-01-01 00:00:03"),  # C: <= 5
        # u3: the self-floor BREAKS the B run mid-funnel; the breaking
        # click then blocks C's adjacency, so no match — without the
        # floor conjunct B would absorb 5.5 and the funnel would match
        (8, "u3", "view", 5.0, "2024-01-01 00:00:01"),
        (9, "u3", "click", 6.0, "2024-01-01 00:00:02"),
        (10, "u3", "click", 5.5, "2024-01-01 00:00:03"),  # < 6 floor
        (11, "u3", "purchase", 9.9, "2024-01-01 00:00:04"),
    ]
    sql = (
        "INSERT INTO sink SELECT u, n_b, c_v FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES COUNT(B.*) AS n_b, LAST(C.v) AS c_v"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B+ C) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'view',"
        " B AS B.et = 'click' AND B.v >= FIRST(B.v),"
        " C AS C.et = 'purchase' AND C.v > FIRST(A.v))"
    )
    got = replay_insert_maintained(
        sql, _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=2
    )
    # u1: A=5.0, B=(6.0, 8.0), C=5.2 > FIRST(A.v)=5.0 — match
    # u2: C.v 4.0 fails > FIRST(A.v)=5.0 — no match
    # u3: floor break blocks C's adjacency — no match
    assert sorted(map(tuple, got.collect())) == [("u1", 2, 5.2)]
    # dropping the self-floor conjunct lets B absorb u3's 5.5 click and
    # the u3 funnel matches (the differential witness for FIRST(B.v))
    got2 = replay_insert_maintained(
        sql.replace(" AND B.v >= FIRST(B.v)", ""),
        _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=2,
    )
    assert sorted(map(tuple, got2.collect())) == [
        ("u1", 2, 5.2), ("u3", 2, 9.9)
    ]


@pytest.mark.parametrize(
    "skip", ["TO NEXT ROW", "PAST LAST ROW", "TO LAST B"]
)
@pytest.mark.slow
def test_nfa_cross_var_fuzz_vs_reference(spark, skip):
    """Seeded fuzz for cross-variable DEFINEs across ALL skip modes
    (r12 adds TO LAST <var>): random event soup, PATTERN (A B+) with B
    bounded by the A row's value — replay at any batch split must
    equal the context-aware reference matcher."""
    import datetime as dt

    rng = random.Random(hash(skip) & 0xFFFF)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(140):
        u = f"u{rng.randrange(4)}"
        et = rng.choice(["view", "click", "error"])
        ts = base + dt.timedelta(minutes=rng.randrange(0, 4000))
        rows.append(
            (i, u, et, float(rng.randrange(12)),
             f"{ts:%Y-%m-%d %H:%M:%S}")
        )
    rows = [
        (j, u, et, v, ts)
        for j, (_i, u, et, v, ts) in enumerate(
            sorted(rows, key=lambda r: (r[4], r[0]))
        )
    ]
    sql = (
        "INSERT INTO sink SELECT u, n_rows, v_sum FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES COUNT(A.*) + COUNT(B.*) AS n_rows,"
        " COALESCE(SUM(A.v), 0) + COALESCE(SUM(B.v), 0) AS v_sum"
        f" AFTER MATCH SKIP {skip}"
        " PATTERN (A B+) WITHIN INTERVAL '12' HOUR"
        " DEFINE A AS A.et = 'view',"
        " B AS B.et = 'click' AND B.v > A.v)"
    )
    elems = parse_match_pattern("A B+")
    within_us = 12 * 3600 * 1_000_000
    defines = {
        "A": lambda r, b: r["et"] == "view",
        "B": lambda r, b: (
            r["et"] == "click"
            and bool(b["A"])
            and r["v"] > b["A"][-1]["v"]
        ),
    }
    import calendar

    by_key = {}
    for i, u, et, v, ts in rows:
        ots = int(
            calendar.timegm(
                dt.datetime.strptime(ts, "%Y-%m-%d %H:%M:%S").timetuple()
            )
        ) * 1_000_000
        by_key.setdefault(u, []).append(
            (ots, i, {"et": et, "v": v, "u": u})
        )
    ref_skip = {
        "TO NEXT ROW": ("next",),
        "PAST LAST ROW": ("past",),
        "TO LAST B": ("last", "B"),
    }[skip]
    expected = []
    for u, krows in by_key.items():
        for m in _ref_matches_ctx(
            krows, elems, defines, within_us, ref_skip
        ):
            expected.append(
                (u, len(m), sum(r["v"] for r, _var in m))
            )
    log = _mk_log(spark, rows)
    for n in (1, 4):
        got = replay_insert_maintained(
            sql, _EV_TABLES, {"ev": log}, n_batches=n
        )
        assert sorted(map(tuple, got.collect()), key=str) == sorted(
            expected, key=str
        ), f"skip={skip} n_batches={n}"


def test_nfa_cross_var_guards():
    def mk(defs):
        return maintain(match_nfa={
            "partition": ["u"], "order": "ts", "within": "1 day",
            "pattern": "A B+ C", "defines": defs,
            "measures": [("count(*)", "n")],
        })

    # forward reference: C is bound after B
    with pytest.raises(ValueError, match="bound LATER"):
        mk({"B": "B.v > LAST(C.v)"})
    # a cross disjunct must be a single comparison
    with pytest.raises(ValueError, match="single comparison"):
        mk({"B": "LAST(A.v) IS NULL"})
    # unknown qualifier refuses
    with pytest.raises(ValueError, match="unknown qualifier"):
        mk({"B": "B.v > Z.v"})
    # navigation inside a non-arithmetic expression (function call
    # over a nav reference) still refuses — only + - * / combine
    with pytest.raises(ValueError, match="non-arithmetic"):
        mk({"B": "B.v > ABS(A.v)"})
    with pytest.raises(ValueError, match="not supported"):
        mk({"B": "B.v > COALESCE(LAST(A.v), 0)"})
    # row-local conjuncts keep full SQL power next to cross conjuncts
    plan = mk({
        "B": "B.v BETWEEN 1 AND 99 AND COALESCE(B.et, 'x') = 'click'"
             " AND B.v > FIRST(A.v)"
    })
    assert plan.defines["B"] == (
        "(v BETWEEN 1 AND 99) AND (COALESCE(et, 'x') = 'click')"
    )
    assert plan.cross_by_var["B"] == [
        [("cmp", ("cur", "__cx0"), ">", ("nav", "A", "v", False, 0))]
    ]


def test_nfa_cross_var_affine_and_or_compile():
    """r13: arithmetic over navigation references (the threshold-
    breakout predicate the r12 surface refused) and OR-combined
    disjuncts compile to evaluable specs."""
    from decimal import Decimal

    def mk(defs):
        return maintain(match_nfa={
            "partition": ["u"], "order": "ts", "within": "1 day",
            "pattern": "A B+ C", "defines": defs,
            "measures": [("count(*)", "n")],
        })

    p = mk({"B": "B.v > A.v * 1.1"})
    assert p.cross_by_var["B"] == [[(
        "cmp", ("cur", "__cx0"), ">",
        ("bin", "*", ("nav", "A", "v", True, 0), ("lit", Decimal("1.1"))),
    )]]
    # self-delta breakout: B.v - FIRST(B.v) >= 10
    p = mk({"B": "B.v - FIRST(B.v) >= 10"})
    assert p.cross_by_var["B"] == [[(
        "cmp",
        ("bin", "-", ("cur", "__cx0"), ("nav", "B", "v", False, 0)),
        ">=", ("cur", "__cx1"),
    )]]
    # precedence + parens: (A.v + 3) * 2 - 1, left-assoc
    p = mk({"B": "B.v > (A.v + 3) * 2 - 1"})
    assert p.cross_by_var["B"] == [[(
        "cmp", ("cur", "__cx0"), ">",
        ("bin", "-",
         ("bin", "*",
          ("bin", "+", ("nav", "A", "v", True, 0), ("lit", 3)),
          ("lit", 2)),
         ("lit", 1)),
    )]]
    # unary minus: A.v > -5
    p = mk({"B": "B.v > A.v + -5"})
    assert p.cross_by_var["B"] == [[(
        "cmp", ("cur", "__cx0"), ">",
        ("bin", "+", ("nav", "A", "v", True, 0),
         ("bin", "-", ("lit", 0), ("lit", 5))),
    )]]
    # OR: a row-local disjunct next to a cross comparison
    p = mk({"B": "B.v > 90 OR B.v > A.v * 2"})
    assert p.cross_by_var["B"][0][0] == ("bool", "__cx0")
    assert p.cross_by_var["B"][0][1][0] == "cmp"
    assert dict(p.cur_exprs)["__cx0"] == "v > 90"


def test_nfa_cross_arith_eval_nulls_and_types():
    """_arith/_nav_value evaluation semantics: NULL/NaN propagate,
    type mismatch and division by zero are NULL (unknown-is-false),
    Decimal literals stay exact with Decimal columns and coerce to
    float against float columns, numpy scalars unbox."""
    from decimal import Decimal

    import numpy as np

    from flink_cdc_2_3_0_src_spark.operators.maintain import _arith

    assert _arith("*", Decimal("5.55"), Decimal("1.1")) == Decimal("6.105")
    assert _arith("*", np.float64(2.0), Decimal("1.1")) == 2.0 * 1.1
    assert _arith("+", Decimal("1.5"), np.int64(2)) == Decimal("3.5")
    assert _arith("/", 1, 2) == 0.5
    assert _arith("/", 1.0, 0.0) is None
    assert _arith("/", Decimal(1), Decimal(0)) is None
    assert _arith("+", None, 1) is None
    assert _arith("+", float("nan"), 1) is None
    assert _arith("+", "abc", 1) is None


def test_nfa_side_parser_eval_fuzz():
    """Seeded fuzz for the r13 arithmetic side compiler: random
    expressions over navigation leaves, literals and the self column,
    with RANDOM parenthesization, must evaluate exactly as Python
    evaluates the same string (same + - * / precedence and true
    division); division by zero is SQL NULL.  Pure plan construction
    + ``_nav_value`` — no Spark session."""
    import numpy as np

    from flink_cdc_2_3_0_src_spark.operators.maintain import (
        _nav_value,
        maintain,
    )

    rng = random.Random(1307)
    # candidate B row: v = 7.0; A bound rows: x = [2.0, 5.0]
    leaves = [
        ("B.v", "7.0"),
        ("A.x", "5.0"),          # bare ≡ LAST
        ("FIRST(A.x)", "2.0"),
        ("LAST(A.x)", "5.0"),
        ("FIRST(A.x, 1)", "5.0"),
        ("3", "3"),
        ("0.5", "0.5"),
        ("0", "0"),
    ]

    def gen(depth: int) -> str:
        if depth == 0 or rng.random() < 0.35:
            return rng.choice(leaves)[0]
        l, r = gen(depth - 1), gen(depth - 1)
        op = rng.choice("+-*/")
        s = f"{l} {op} {r}"
        return f"({s})" if rng.random() < 0.5 else s

    checked = 0
    for _trial in range(250):
        expr = gen(3)
        while "A.x" not in expr:  # keep the conjunct cross-variable
            expr = gen(3)
        plan = maintain(match_nfa={
            "partition": ["u"], "order": "ts", "within": "1 day",
            "pattern": "A B+",
            "defines": {"B": f"({expr}) >= B.v"},
            "measures": [("count(*)", "n")],
        })
        [[(tag, lhs, _op, _rhs)]] = plan.cross_by_var["B"]
        assert tag == "cmp"
        # vals: every __cx column is a row-local SQL over {v} or a
        # literal — evaluate it with Python (the fuzz leaves keep
        # row-local SQL to bare v / numeric text)
        vals = {}
        for name, sql_ in plan.cur_exprs:
            sql_ = sql_.strip()
            cv = 7.0 if sql_ == "v" else float(sql_)
            vals[name] = np.array([cv] * 3)
        vals["v"] = np.array([7.0] * 3)
        vals["x"] = np.array([2.0, 5.0, 7.0])
        # bound: A holds rows 0 and 1; candidate row index 2 is B's
        bound = [[0, 1], []]
        got = _nav_value(lhs, vals, bound, {"A": 0, "B": 1}, "B", 2)
        py = expr
        for tok, val in sorted(leaves, key=lambda t: -len(t[0])):
            py = py.replace(tok, val)
        try:
            exp = eval(py)  # noqa: S307 - test-local arithmetic only
        except ZeroDivisionError:
            exp = None
        if exp is None:
            assert got is None, (expr, got)
        else:
            assert got is not None, (expr, exp)
            assert float(got) == pytest.approx(float(exp), rel=1e-9), expr
        checked += 1
    assert checked == 250


def test_nfa_cross_var_affine_pinned(spark):
    """Threshold breakout — ``B.v > A.v * 1.1 + 1`` written AS-IS
    (the exact statement the r12 surface refused with 'rewrite the
    arithmetic onto the row-local side')."""
    rows = [
        (1, "u1", "view", 10.0, "2024-01-01 00:00:01"),
        (2, "u1", "click", 12.5, "2024-01-01 00:00:02"),  # > 12.0 → B
        (3, "u1", "click", 12.0, "2024-01-01 00:00:03"),  # == → breaks
        (4, "u2", "view", 10.0, "2024-01-01 00:00:01"),
        (5, "u2", "click", 11.9, "2024-01-01 00:00:02"),  # < 12.0
    ]
    sql = (
        "INSERT INTO sink SELECT u, n_b, max_b FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES COUNT(B.*) AS n_b, MAX(B.v) AS max_b"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B+) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'view',"
        " B AS B.et = 'click' AND B.v > A.v * 1.1 + 1)"
    )
    for n in (1, 2):
        got = replay_insert_maintained(
            sql, _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=n
        )
        assert sorted(map(tuple, got.collect())) == [("u1", 1, 12.5)], n


def test_nfa_cross_var_or_pinned(spark):
    """OR-combined cross disjuncts — the breakout BAND predicate
    ``B.v > A.v + 2 OR B.v < A.v - 2`` (r11/r12's single-comparison
    restriction lifted)."""
    rows = [
        (1, "u1", "view", 5.0, "2024-01-01 00:00:01"),
        (2, "u1", "click", 8.0, "2024-01-01 00:00:02"),   # > 7 → B
        (3, "u1", "click", 2.5, "2024-01-01 00:00:03"),   # < 3 → B
        (4, "u1", "click", 6.0, "2024-01-01 00:00:04"),   # in band
        (5, "u2", "view", 5.0, "2024-01-01 00:00:01"),
        (6, "u2", "click", 6.0, "2024-01-01 00:00:02"),   # in band
    ]
    sql = (
        "INSERT INTO sink SELECT u, n_b FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES COUNT(B.*) AS n_b"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B+) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'view',"
        " B AS B.et = 'click' AND"
        " (B.v > A.v + 2 OR B.v < A.v - 2))"
    )
    for n in (1, 2):
        got = replay_insert_maintained(
            sql, _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=n
        )
        assert sorted(map(tuple, got.collect())) == [("u1", 2)], n


def test_nfa_cross_step_budget():
    """The memo-disabled cross-variable path is worst-case
    exponential; an ambiguous quantified pattern over a dense pool
    must hit the per-attempt step budget as a clean error (r13),
    not a hang."""
    import numpy as np

    from flink_cdc_2_3_0_src_spark.operators.maintain import (
        NFA_CROSS_STEP_BUDGET,
        _nfa_scan,
    )

    n = 200
    ots = np.arange(n, dtype=np.int64)
    elems = [
        ("A", 1, None, True), ("B", 1, None, True),
        ("C", 1, None, True), ("D", 1, None, True),
        ("E", 1, 1, True),
    ]
    # A..D dense (every row qualifies), E impossible → full
    # backtracking over all run splits, steps ~ C(n, 4)
    flags = [np.ones(n, dtype=bool)] * 4 + [np.zeros(n, dtype=bool)]
    cross = [[[("cmp", ("lit", 1), "=", ("lit", 1))]], [], [], [], []]
    with pytest.raises(ValueError, match="step budget"):
        _nfa_scan([(elems, flags, cross)], ots, 10**15, ("past",), {})
    assert NFA_CROSS_STEP_BUDGET >= 100_000  # roomy for real patterns
    # the SAME shape without cross conjuncts rides the (elem, pos)
    # memo and completes instantly
    no_cross = [[] for _ in elems]
    assert _nfa_scan(
        [(elems, flags, no_cross)], ots, 10**15, ("past",)
    ) == []


def test_nfa_all_rows_running_measures(spark):
    """RUNNING-semantics measures under ALL ROWS PER MATCH (r13):
    per-row cumulative aggregates over the match's rows in __pos
    order, next to FINAL measures on the same statement; stable
    across batch splits.  (Engine default stays FINAL — SQL:2016's
    running default is a documented deviation pinned by the r12
    all-rows oracle row.)"""
    rows = [
        (1, "u1", "view", 5.0, "2024-01-01 00:00:01"),
        (2, "u1", "click", 2.0, "2024-01-01 00:00:02"),
        (3, "u1", "click", 3.0, "2024-01-01 00:00:03"),
        (4, "u1", "purchase", 9.0, "2024-01-01 00:00:04"),
    ]
    sql = (
        "INSERT INTO sink SELECT u, id, et, nb_run, v_run, v_last,"
        " n_total FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES RUNNING COUNT(B.*) AS nb_run,"
        " RUNNING SUM(B.v) AS v_run,"
        " RUNNING LAST(B.v) AS v_last,"
        " FINAL COUNT(B.*) AS n_total"
        " ALL ROWS PER MATCH"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B+ C) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'view', B AS B.et = 'click',"
        " C AS C.et = 'purchase')"
    )
    exp = [
        ("u1", 1, "view", 0, None, None, 2),       # before any B
        ("u1", 2, "click", 1, 2.0, 2.0, 2),
        ("u1", 3, "click", 2, 5.0, 3.0, 2),
        ("u1", 4, "purchase", 2, 5.0, 3.0, 2),     # carried forward
    ]
    for n in (1, 2, 3):
        got = replay_insert_maintained(
            sql, _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=n
        )
        assert sorted(map(tuple, got.collect())) == exp, n


def test_nfa_pattern_exclusion_classifier_match_number(spark):
    """SQL:2016 pattern exclusions ``{- B+ -}`` (rows match — the
    FINAL aggregate still counts them — but are omitted from the
    all-rows output) plus CLASSIFIER() / MATCH_NUMBER() (r13; both
    beyond Flink's surface).  MATCH_NUMBER is the per-partition
    sequential match number; RUNNING CLASSIFIER is the row's own
    variable."""
    rows = [
        (1, "u1", "view", 5.0, "2024-01-01 00:00:01"),
        (2, "u1", "click", 2.0, "2024-01-01 00:00:02"),
        (3, "u1", "click", 3.0, "2024-01-01 00:00:03"),
        (4, "u1", "purchase", 9.0, "2024-01-01 00:00:04"),
        (5, "u1", "view", 6.0, "2024-01-01 00:10:00"),
        (6, "u1", "click", 1.0, "2024-01-01 00:10:01"),
        (7, "u1", "purchase", 2.0, "2024-01-01 00:10:02"),
    ]
    sql = (
        "INSERT INTO sink SELECT u, id, cls, mn, n_b FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES RUNNING CLASSIFIER() AS cls, MATCH_NUMBER() AS mn,"
        " FINAL COUNT(B.*) AS n_b"
        " ALL ROWS PER MATCH"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A {- B+ -} C) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'view', B AS B.et = 'click',"
        " C AS C.et = 'purchase')"
    )
    exp = [
        ("u1", 1, "A", 1, 2), ("u1", 4, "C", 1, 2),
        ("u1", 5, "A", 2, 1), ("u1", 7, "C", 2, 1),
    ]
    for n in (1, 3):
        got = replay_insert_maintained(
            sql, _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=n
        )
        assert sorted(map(tuple, got.collect())) == exp, n
    # dropping the exclusion emits the click rows too (differential)
    got2 = replay_insert_maintained(
        sql.replace("{- B+ -}", "B+"), _EV_TABLES,
        {"ev": _mk_log(spark, rows)}, n_batches=2,
    )
    assert len(got2.collect()) == 7


def test_nfa_pattern_exclusion_guards():
    from flink_cdc_2_3_0_src_spark.operators.maintain import (
        parse_match_pattern_ex,
    )

    elems, ex = parse_match_pattern_ex("A {- B+ -} C{1,2}")
    assert [v for v, *_ in elems] == ["A", "B", "C"]
    assert ex == {"B"}
    elems, ex = parse_match_pattern_ex("A B+")
    assert ex == set()
    with pytest.raises(ValueError, match="unbalanced"):
        parse_match_pattern_ex("A {- B+ C")
    with pytest.raises(ValueError, match="nested"):
        parse_match_pattern_ex("A {- {- B -} -} C")
    with pytest.raises(ValueError, match="empty"):
        parse_match_pattern_ex("A {-  -} C")
    with pytest.raises(ValueError, match="exclusion names"):
        maintain(match_nfa={
            "partition": ["u"], "order": "ts", "within": "1 day",
            "pattern": "A B+", "defines": {"A": "et = 'view'"},
            "measures": [("count(*)", "n")], "exclude": ["Z"],
        })
    # ONE ROW PER MATCH accepts the exclusion with no effect
    plan = maintain(match_nfa={
        "partition": ["u"], "order": "ts", "within": "1 day",
        "pattern": "A {- B+ -} C", "defines": {"A": "et = 'view'"},
        "measures": [("count(*)", "n")],
    })
    assert plan.excluded == {"B"}


def _ref_matches_alt(rows, branches, defines, within_us, skip):
    """Branch-aware reference matcher: like ``_ref_matches_ctx`` but
    with SQL:2016 alternation preference — at each attempt position
    the branches are tried in lexical order, first match wins."""
    rows = sorted(rows, key=lambda r: (r[0], r[1]))
    n = len(rows)
    out, i = [], 0
    while i < n:
        m = None
        for elems in branches:
            bound = {v: [] for v, _mn, _mx, _g in elems}

            def rec(e, pos, elems=elems, bound=bound):
                if e == len(elems):
                    return []
                var, mn, mx, greedy = elems[e]
                taken = []
                k = 0
                while (
                    (mx is None or k < mx)
                    and pos + k < n
                    and rows[pos + k][0] - rows[i][0] < within_us
                ):
                    bound[var] = taken
                    if not defines[var](rows[pos + k][2], bound):
                        break
                    taken.append(rows[pos + k][2])
                    k += 1
                order = (
                    range(k, mn - 1, -1) if greedy else range(mn, k + 1)
                )
                for take in order:
                    bound[var] = taken[:take]
                    rest = rec(e + 1, pos + take)
                    if rest is not None:
                        bound[var] = []
                        return [
                            (pos + j, var) for j in range(take)
                        ] + rest
                bound[var] = []
                return None

            m = rec(0, i)
            if m:
                break
        if m:
            out.append([(rows[ri][2], var) for ri, var in m])
            if skip[0] == "past":
                i = m[-1][0] + 1
                continue
            if skip[0] in ("first", "last"):
                rows_v = [ri for ri, var in m if var == skip[1]]
                resume = rows_v[0] if skip[0] == "first" else rows_v[-1]
                assert resume > i, "reference matcher: skip-to loop"
                i = resume
                continue
        i += 1
    return out


def test_nfa_alternation_parse():
    from flink_cdc_2_3_0_src_spark.operators.maintain import (
        parse_match_pattern_alts,
    )

    branches, ex = parse_match_pattern_alts("A B+ | A E+")
    assert branches == [
        [("A", 1, 1, True), ("B", 1, None, True)],
        [("A", 1, 1, True), ("E", 1, None, True)],
    ]
    assert ex == set()
    # exclusions inside a branch
    branches, ex = parse_match_pattern_alts("A {- B+ -} C | A D")
    assert ex == {"B"}
    # PERMUTE expands to every ordering, lexical permutation order
    branches, ex = parse_match_pattern_alts("PERMUTE(A, B)")
    assert branches == [
        [("A", 1, 1, True), ("B", 1, 1, True)],
        [("B", 1, 1, True), ("A", 1, 1, True)],
    ]
    branches, _ = parse_match_pattern_alts("PERMUTE(A, B+, C)")
    assert len(branches) == 6
    with pytest.raises(ValueError, match="2 to 4"):
        parse_match_pattern_alts("PERMUTE(A)")
    with pytest.raises(ValueError, match="2 to 4"):
        parse_match_pattern_alts("PERMUTE(A, B, C, D, E)")
    with pytest.raises(ValueError, match="appears twice"):
        parse_match_pattern_alts("PERMUTE(A, A)")
    with pytest.raises(ValueError, match="empty alternation"):
        parse_match_pattern_alts("A B | ")
    with pytest.raises(ValueError, match="zero rows"):
        parse_match_pattern_alts("A? | B")


def test_nfa_alternation_pinned(spark):
    """``PATTERN (A B+ | A E+)`` — a view followed by a click run OR
    an error run; the CLICK branch is preferred when both could match
    (SQL:2016 leftmost-alternative preference), and FINAL
    CLASSIFIER() tags which branch won."""
    rows = [
        (1, "u1", "view", 1.0, "2024-01-01 00:00:01"),
        (2, "u1", "click", 2.0, "2024-01-01 00:00:02"),
        (3, "u1", "click", 3.0, "2024-01-01 00:00:03"),
        (4, "u1", "view", 4.0, "2024-01-01 00:00:04"),
        (5, "u1", "error", 5.0, "2024-01-01 00:00:05"),
        (6, "u2", "view", 1.0, "2024-01-01 00:00:01"),
        (7, "u2", "signup", 2.0, "2024-01-01 00:00:02"),  # neither
    ]
    sql = (
        "INSERT INTO sink SELECT u, branch, n_run FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES CLASSIFIER() AS branch,"
        " COUNT(B.*) + COUNT(E.*) AS n_run"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B+ | A E+) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'view', B AS B.et = 'click',"
        " E AS E.et = 'error')"
    )
    exp = [("u1", "B", 2), ("u1", "E", 1)]
    for n in (1, 3):
        got = replay_insert_maintained(
            sql, _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=n
        )
        assert sorted(map(tuple, got.collect())) == exp, n


def test_nfa_permute_pinned(spark):
    """``PERMUTE(A, B)`` matches the two events in either order."""
    rows = [
        (1, "u1", "view", 1.0, "2024-01-01 00:00:01"),
        (2, "u1", "click", 2.0, "2024-01-01 00:00:02"),
        (3, "u2", "click", 1.0, "2024-01-01 00:00:01"),
        (4, "u2", "view", 2.0, "2024-01-01 00:00:02"),
        (5, "u3", "view", 1.0, "2024-01-01 00:00:01"),
        (6, "u3", "view", 2.0, "2024-01-01 00:00:02"),  # no click
    ]
    sql = (
        "INSERT INTO sink SELECT u, a_v, b_v FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES LAST(A.v) AS a_v, LAST(B.v) AS b_v"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (PERMUTE(A, B)) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'view', B AS B.et = 'click')"
    )
    exp = [("u1", 1.0, 2.0), ("u2", 2.0, 1.0)]
    for n in (1, 2):
        got = replay_insert_maintained(
            sql, _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=n
        )
        assert sorted(map(tuple, got.collect())) == exp, n


@pytest.mark.parametrize("skip", ["TO NEXT ROW", "PAST LAST ROW"])
@pytest.mark.slow
def test_nfa_alternation_fuzz_vs_reference(spark, skip):
    """Seeded fuzz for alternation (r13): two branches with a
    cross-variable define in the first — replay at any batch split
    must equal the branch-aware reference matcher with leftmost
    preference."""
    import calendar
    import datetime as dt

    from flink_cdc_2_3_0_src_spark.operators.maintain import (
        parse_match_pattern_alts,
    )

    rng = random.Random((hash(skip) ^ 0xA17) & 0xFFFF)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(140):
        u = f"u{rng.randrange(4)}"
        et = rng.choice(["view", "click", "error", "signup"])
        ts = base + dt.timedelta(minutes=rng.randrange(0, 4000))
        rows.append(
            (i, u, et, float(rng.randrange(12)),
             f"{ts:%Y-%m-%d %H:%M:%S}")
        )
    rows = [
        (j, u, et, v, ts)
        for j, (_i, u, et, v, ts) in enumerate(
            sorted(rows, key=lambda r: (r[4], r[0]))
        )
    ]
    sql = (
        "INSERT INTO sink SELECT u, n_rows, v_sum FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES COUNT(A.*) + COUNT(B.*) + COUNT(E.*) AS n_rows,"
        " COALESCE(SUM(A.v), 0) + COALESCE(SUM(B.v), 0)"
        " + COALESCE(SUM(E.v), 0) AS v_sum"
        f" AFTER MATCH SKIP {skip}"
        " PATTERN (A B+ | A E{2,}) WITHIN INTERVAL '12' HOUR"
        " DEFINE A AS A.et = 'view',"
        " B AS B.et = 'click' AND B.v > A.v,"
        " E AS E.et = 'error')"
    )
    branches, _ = parse_match_pattern_alts("A B+ | A E{2,}")
    within_us = 12 * 3600 * 1_000_000
    defines = {
        "A": lambda r, b: r["et"] == "view",
        "B": lambda r, b: (
            r["et"] == "click"
            and bool(b["A"])
            and r["v"] > b["A"][-1]["v"]
        ),
        "E": lambda r, b: r["et"] == "error",
    }
    by_key = {}
    for i, u, et, v, ts in rows:
        ots = int(
            calendar.timegm(
                dt.datetime.strptime(ts, "%Y-%m-%d %H:%M:%S").timetuple()
            )
        ) * 1_000_000
        by_key.setdefault(u, []).append(
            (ots, i, {"et": et, "v": v, "u": u})
        )
    ref_skip = {
        "TO NEXT ROW": ("next",), "PAST LAST ROW": ("past",),
    }[skip]
    expected = []
    for u, krows in by_key.items():
        for m in _ref_matches_alt(
            krows, branches, defines, within_us, ref_skip
        ):
            expected.append(
                (u, len(m), sum(r["v"] for r, _var in m))
            )
    log = _mk_log(spark, rows)
    for n in (1, 4):
        got = replay_insert_maintained(
            sql, _EV_TABLES, {"ev": log}, n_batches=n
        )
        assert sorted(map(tuple, got.collect()), key=str) == sorted(
            expected, key=str
        ), f"skip={skip} n_batches={n}"


def test_nfa_match_rowtime(spark):
    """MATCH_ROWTIME() (Flink parity): the match's event time = the
    LAST matched row's rowtime; MATCH_PROCTIME() refuses
    (nondeterministic under replay)."""
    rows = [
        (1, "u1", "view", 1.0, "2024-01-01 00:00:01"),
        (2, "u1", "click", 2.0, "2024-01-01 00:00:02"),
        (3, "u1", "click", 3.0, "2024-01-01 00:00:03"),
    ]
    sql = (
        "INSERT INTO sink SELECT u, mrt, n_b FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES MATCH_ROWTIME() AS mrt, COUNT(B.*) AS n_b"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B+) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'view', B AS B.et = 'click')"
    )
    got = replay_insert_maintained(
        sql, _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=2
    )
    assert [
        (r["u"], str(r["mrt"])[:19], r["n_b"]) for r in got.collect()
    ] == [("u1", "2024-01-01 00:00:03", 2)]
    with pytest.raises(ValueError, match="processing-time"):
        parse_insert_select(
            sql.replace("MATCH_ROWTIME()", "MATCH_PROCTIME()")
        )


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
@pytest.mark.slow
def test_nfa_random_pattern_fuzz_vs_reference(spark, seed):
    """Grammar-wide seeded fuzz (r13): RANDOM patterns — 1-2
    alternation branches, 2-3 variables each, random quantifiers
    (greedy and reluctant, bounded and unbounded) — over random event
    soups, replayed at multiple batch splits against the branch-aware
    reference matcher.  The parser-fuzzing discipline: the accepted
    grammar grew (alternation, PERMUTE, exclusions), so the fuzz
    samples the whole grammar, not one fixed pattern."""
    import calendar
    import datetime as dt

    from flink_cdc_2_3_0_src_spark.operators.maintain import (
        parse_match_pattern_alts,
    )

    rng = random.Random(1300 + seed)
    ET = {"A": "view", "B": "click", "C": "error", "D": "purchase"}
    MINS = {
        "": 1, "+": 1, "?": 0, "*": 0,
        "{1,2}": 1, "{2,}": 2, "+?": 1, "*?": 0,
    }

    def gen_branch():
        k = rng.randint(2, 3)
        vars_ = rng.sample(sorted(ET), k)
        while True:
            toks = [(v, rng.choice(sorted(MINS))) for v in vars_]
            if sum(MINS[q] for _v, q in toks) >= 1:
                return " ".join(v + q for v, q in toks)

    pattern = " | ".join(
        gen_branch() for _ in range(rng.randint(1, 2))
    )
    skip = rng.choice(["TO NEXT ROW", "PAST LAST ROW"])
    branches, _ = parse_match_pattern_alts(pattern)
    union = sorted({v for br in branches for v, *_ in br})
    defines_sql = ", ".join(
        f"{v} AS {v}.et = '{ET[v]}'" for v in union
    )
    measures_sql = (
        " + ".join(f"COUNT({v}.*)" for v in union) + " AS n_rows, "
        + " + ".join(f"COALESCE(SUM({v}.v), 0)" for v in union)
        + " AS v_sum"
    )
    sql = (
        "INSERT INTO sink SELECT u, n_rows, v_sum FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        f" MEASURES {measures_sql}"
        f" AFTER MATCH SKIP {skip}"
        f" PATTERN ({pattern}) WITHIN INTERVAL '12' HOUR"
        f" DEFINE {defines_sql})"
    )
    rows = []
    base = dt.datetime(2024, 1, 1)
    for i in range(120):
        u = f"u{rng.randrange(3)}"
        et = rng.choice(
            ["view", "click", "error", "purchase", "signup"]
        )
        ts = base + dt.timedelta(minutes=rng.randrange(0, 3000))
        rows.append(
            (i, u, et, float(rng.randrange(9)),
             f"{ts:%Y-%m-%d %H:%M:%S}")
        )
    rows = [
        (j, u, et, v, ts)
        for j, (_i, u, et, v, ts) in enumerate(
            sorted(rows, key=lambda r: (r[4], r[0]))
        )
    ]
    defines = {
        v: (lambda r, b, t=ET[v]: r["et"] == t) for v in union
    }
    by_key = {}
    for i, u, et, v, ts in rows:
        ots = int(
            calendar.timegm(
                dt.datetime.strptime(ts, "%Y-%m-%d %H:%M:%S").timetuple()
            )
        ) * 1_000_000
        by_key.setdefault(u, []).append(
            (ots, i, {"et": et, "v": v, "u": u})
        )
    ref_skip = (
        ("next",) if skip == "TO NEXT ROW" else ("past",)
    )
    within_us = 12 * 3600 * 1_000_000
    expected = []
    for u, krows in by_key.items():
        for m in _ref_matches_alt(
            krows, branches, defines, within_us, ref_skip
        ):
            expected.append(
                (u, len(m), sum(r["v"] for r, _var in m))
            )
    log = _mk_log(spark, rows)
    for n in (1, 3):
        got = replay_insert_maintained(
            sql, _EV_TABLES, {"ev": log}, n_batches=n
        )
        assert sorted(map(tuple, got.collect()), key=str) == sorted(
            expected, key=str
        ), f"pattern={pattern!r} skip={skip} n_batches={n}"


def test_nfa_match_number_base_state(spark):
    """MATCH_NUMBER's per-key base state (r13): when a whole match
    falls behind the WITHIN horizon and leaves the pool, __mn_base
    advances by the dropped-match count, so later matches keep their
    LIFETIME numbers — the emitted rows never renumber."""
    sql = (
        "INSERT INTO sink SELECT u, mn, n_b FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES MATCH_NUMBER() AS mn, COUNT(B.*) AS n_b"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B+) WITHIN INTERVAL '1' HOUR"
        " DEFINE A AS A.et = 'view', B AS B.et = 'click')"
    )
    job = plan_insert_maintained(sql, _EV_TABLES)
    b1 = [
        (1, "u1", "view", 1.0, "2024-01-01 00:00:00"),
        (2, "u1", "click", 2.0, "2024-01-01 00:10:00"),
    ]
    job.step({"ev": _mk_log(spark, b1)})
    assert sorted(map(tuple, job.result().collect())) == [("u1", 1, 1)]
    # a far-later batch prunes match #1 entirely out of the pool ...
    b2 = [
        (3, "u1", "view", 3.0, "2024-01-01 06:00:00"),
        (4, "u1", "click", 4.0, "2024-01-01 06:10:00"),
        (5, "u1", "click", 5.0, "2024-01-01 06:20:00"),
    ]
    job.step({"ev": _mk_log(spark, b2)})
    # ... and the new match is #2, not a renumbered #1
    assert sorted(map(tuple, job.result().collect())) == [
        ("u1", 1, 1), ("u1", 2, 2)
    ]
    # the pool's per-key base column carries the dropped count, the
    # same on every retained row of the key
    bases = {(r["u"], r["__mn_base"]) for r in job._state.collect()}
    assert bases == {("u1", 1)}
    # a third epoch: the base keeps accumulating
    b3 = [
        (6, "u1", "view", 6.0, "2024-01-01 12:00:00"),
        (7, "u1", "click", 7.0, "2024-01-01 12:01:00"),
    ]
    job.step({"ev": _mk_log(spark, b3)})
    assert sorted(map(tuple, job.result().collect())) == [
        ("u1", 1, 1), ("u1", 2, 2), ("u1", 3, 1)
    ]


def test_nfa_skip_to_var_single_branch(spark):
    """AFTER MATCH SKIP TO LAST E where E exists in only ONE
    alternation branch: matches from the click branch (no E row)
    raise the SQL:2016 skip-to-unmatched-variable runtime error —
    pinned so the alternation surface keeps Flink's error parity."""
    rows = [
        (1, "u1", "view", 1.0, "2024-01-01 00:00:01"),
        (2, "u1", "click", 2.0, "2024-01-01 00:00:02"),
    ]
    sql = (
        "INSERT INTO sink SELECT u, n_run FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES COUNT(B.*) + COUNT(E.*) AS n_run"
        " AFTER MATCH SKIP TO LAST E"
        " PATTERN (A B+ | A E+) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'view', B AS B.et = 'click',"
        " E AS E.et = 'error')"
    )
    with pytest.raises(Exception, match="matched no row"):
        replay_insert_maintained(
            sql, _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=1
        ).collect()
    # the error-branch match resolves the skip target fine
    rows_e = [
        (1, "u1", "view", 1.0, "2024-01-01 00:00:01"),
        (2, "u1", "error", 2.0, "2024-01-01 00:00:02"),
        (3, "u1", "error", 3.0, "2024-01-01 00:00:03"),
    ]
    got = replay_insert_maintained(
        sql, _EV_TABLES, {"ev": _mk_log(spark, rows_e)}, n_batches=1
    )
    assert sorted(map(tuple, got.collect())) == [("u1", 2)]


def test_nfa_permute_cross_var_order_sensitivity(spark):
    """PERMUTE(A, B) + ``DEFINE B AS B.v > A.v``: in the A-first
    branch the navigation binds; in the B-first branch A is unbound →
    NULL → unknown-is-false, so the cross predicate effectively
    demands the A-first order — the r13 per-branch relaxation of the
    forward-reference rule (a PURE forward reference still
    refuses)."""
    rows = [
        (1, "u1", "view", 1.0, "2024-01-01 00:00:01"),
        (2, "u1", "click", 2.0, "2024-01-01 00:00:02"),  # A then B(>1)
        (3, "u2", "click", 2.0, "2024-01-01 00:00:01"),
        (4, "u2", "view", 1.0, "2024-01-01 00:00:02"),   # B first: NULL
    ]
    sql = (
        "INSERT INTO sink SELECT u, n FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES COUNT(B.*) AS n"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (PERMUTE(A, B)) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'view',"
        " B AS B.et = 'click' AND B.v > A.v)"
    )
    got = replay_insert_maintained(
        sql, _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=2
    )
    assert sorted(map(tuple, got.collect())) == [("u1", 1)]
    # a PURE forward reference (every shared branch) still refuses
    with pytest.raises(ValueError, match="bound LATER"):
        maintain(match_nfa={
            "partition": ["u"], "order": "ts", "within": "1 day",
            "pattern": "A B+ C", "defines": {"B": "B.v > LAST(C.v)"},
            "measures": [("count(*)", "n")],
        })


def test_nfa_running_measure_guards():
    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
        _rewrite_nfa_measure,
    )

    # unqualified aggregate has no per-variable cumulative rendering
    with pytest.raises(ValueError, match="RUNNING measures support"):
        _rewrite_nfa_measure("count(*)", ["A", "B"], "m", running=True)
    # logical offsets have no running form
    with pytest.raises(ValueError, match="logical "):
        _rewrite_nfa_measure(
            "LAST(B.v, 1)", ["A", "B"], "m", running=True
        )
    # mid-expression semantics modifiers refuse at the bridge
    with pytest.raises(ValueError, match="WHOLE measure"):
        parse_insert_select(
            "INSERT INTO sink SELECT u, x FROM ev"
            " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
            " MEASURES SUM(B.v) + RUNNING COUNT(B.*) AS x"
            " ALL ROWS PER MATCH AFTER MATCH SKIP PAST LAST ROW"
            " PATTERN (A B+) WITHIN INTERVAL '1' DAY"
            " DEFINE A AS A.et = 'view')"
        )
    # RUNNING with ONE ROW PER MATCH coincides with FINAL (SQL:2016:
    # the evaluation point is after the last row) → final rewrite
    st = parse_insert_select(
        "INSERT INTO sink SELECT u, x FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES RUNNING SUM(B.v) AS x"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B+) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'view')"
    )
    assert st.match_nfa["measures"] == [
        ("sum(v) FILTER (WHERE __var = 'B')", "x")
    ]
    # operator-level: a running measure demands all-rows output
    with pytest.raises(ValueError, match="require ALL ROWS"):
        maintain(match_nfa={
            "partition": ["u"], "order": "ts", "within": "1 day",
            "pattern": "A B+", "defines": {"A": "et = 'view'"},
            "measures": [("count(*)", "n", "running")],
        })


#: DEFINE B of the affine/OR fuzz and its reference predicate
_AFFINE_OR_DEFINES = {
    "affine_or": (
        "B.et = 'click' AND (B.v > A.v * 1.1 - 2 OR B.v + 3 < FIRST(A.v))",
        lambda r, b: (
            r["et"] == "click"
            and bool(b["A"])
            and (
                r["v"] > b["A"][-1]["v"] * 1.1 - 2
                or r["v"] + 3 < b["A"][0]["v"]
            )
        ),
    ),
    # the AND inside a CASE belongs to the CASE, not to the DEFINE
    "case_and": (
        "CASE WHEN B.v > 1 AND B.et = 'click' THEN 1 ELSE 0 END = 1",
        lambda r, b: r["v"] > 1 and r["et"] == "click",
    ),
    # the OR inside a CASE inside a cross-variable disjunct belongs to
    # the CASE, not to the disjunct list
    "case_or_cross": (
        "B.et = 'click' AND (B.v > A.v OR B.v + CASE WHEN B.v > 9"
        " OR B.v < 2 THEN 3 ELSE 0 END < FIRST(A.v))",
        lambda r, b: (
            r["et"] == "click"
            and bool(b["A"])
            and (
                r["v"] > b["A"][-1]["v"]
                or r["v"] + (3 if r["v"] > 9 or r["v"] < 2 else 0)
                < b["A"][0]["v"]
            )
        ),
    ),
}


@pytest.mark.parametrize("define", sorted(_AFFINE_OR_DEFINES))
@pytest.mark.parametrize(
    "skip", ["TO NEXT ROW", "PAST LAST ROW", "TO LAST B"]
)
@pytest.mark.slow
def test_nfa_cross_var_affine_or_fuzz_vs_reference(spark, skip, define):
    """Seeded fuzz for the r13 surface — ARITHMETIC over navigation
    (affine threshold) OR-combined with a second comparison whose
    left side is row-local arithmetic, and CASE expressions whose inner
    AND/OR must not split the DEFINE — across all skip modes and batch
    splits, against the context-aware reference matcher."""
    import calendar
    import datetime as dt

    rng = random.Random((hash(skip) ^ 0x5EED) & 0xFFFF)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(140):
        u = f"u{rng.randrange(4)}"
        et = rng.choice(["view", "click", "error"])
        ts = base + dt.timedelta(minutes=rng.randrange(0, 4000))
        rows.append(
            (i, u, et, float(rng.randrange(12)),
             f"{ts:%Y-%m-%d %H:%M:%S}")
        )
    rows = [
        (j, u, et, v, ts)
        for j, (_i, u, et, v, ts) in enumerate(
            sorted(rows, key=lambda r: (r[4], r[0]))
        )
    ]
    sql = (
        "INSERT INTO sink SELECT u, n_rows, v_sum FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES COUNT(A.*) + COUNT(B.*) AS n_rows,"
        " COALESCE(SUM(A.v), 0) + COALESCE(SUM(B.v), 0) AS v_sum"
        f" AFTER MATCH SKIP {skip}"
        " PATTERN (A B+) WITHIN INTERVAL '12' HOUR"
        " DEFINE A AS A.et = 'view',"
        f" B AS {_AFFINE_OR_DEFINES[define][0]})"
    )
    elems = parse_match_pattern("A B+")
    within_us = 12 * 3600 * 1_000_000
    defines = {
        "A": lambda r, b: r["et"] == "view",
        "B": _AFFINE_OR_DEFINES[define][1],
    }
    by_key = {}
    for i, u, et, v, ts in rows:
        ots = int(
            calendar.timegm(
                dt.datetime.strptime(ts, "%Y-%m-%d %H:%M:%S").timetuple()
            )
        ) * 1_000_000
        by_key.setdefault(u, []).append(
            (ots, i, {"et": et, "v": v, "u": u})
        )
    ref_skip = {
        "TO NEXT ROW": ("next",),
        "PAST LAST ROW": ("past",),
        "TO LAST B": ("last", "B"),
    }[skip]
    expected = []
    for u, krows in by_key.items():
        for m in _ref_matches_ctx(
            krows, elems, defines, within_us, ref_skip
        ):
            expected.append(
                (u, len(m), sum(r["v"] for r, _var in m))
            )
    log = _mk_log(spark, rows)
    for n in (1, 4):
        got = replay_insert_maintained(
            sql, _EV_TABLES, {"ev": log}, n_batches=n
        )
        assert sorted(map(tuple, got.collect()), key=str) == sorted(
            expected, key=str
        ), f"skip={skip} define={define} n_batches={n}"


def test_nfa_cross_var_routes_two_var_agg_pattern(spark):
    """PATTERN (A B) + aggregate measures + cross-variable DEFINE —
    formerly refused (the LEAD plan owned cross-vars, the NFA refused
    them) — now runs on the NFA path."""
    st = parse_insert_select(
        "INSERT INTO sink SELECT u, n FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES COUNT(B.*) AS n"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'view', B AS B.v > A.v)"
    )
    assert st.shape == "match_nfa"
    rows = [
        (1, "u1", "view", 1.0, "2024-01-01 00:00:00"),
        (2, "u1", "x", 2.0, "2024-01-01 00:10:00"),
        (3, "u1", "view", 9.0, "2024-01-01 00:20:00"),
        (4, "u1", "x", 3.0, "2024-01-01 00:30:00"),
    ]
    got = replay_insert_maintained(
        "INSERT INTO sink SELECT u, n FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES COUNT(B.*) AS n"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'view', B AS B.v > A.v)",
        _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=2,
    )
    # (view 1.0 → 2.0) matches; view 9.0's next row 3.0 is not greater
    assert sorted(map(tuple, got.collect())) == [("u1", 1)]


# ---------------------------------------------------------------------------
# r12: reluctant quantifiers, SKIP TO FIRST/LAST <var>, ALL ROWS PER MATCH
# ---------------------------------------------------------------------------

def test_nfa_reluctant_vs_greedy_differential(spark):
    """``B+?`` takes as FEW rows as possible: with an undefined C (any
    row qualifies), the greedy form absorbs both clicks into B and
    ends on the purchase; the reluctant form stops B after one click
    and binds C to the second."""
    rows = [
        (1, "u1", "view", 1.0, "2024-01-01 00:00:00"),
        (2, "u1", "click", 2.0, "2024-01-01 00:01:00"),
        (3, "u1", "click", 3.0, "2024-01-01 00:02:00"),
        (4, "u1", "purchase", 4.0, "2024-01-01 00:03:00"),
    ]
    base = (
        "INSERT INTO sink SELECT u, n_b, c_et FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES COUNT(B.*) AS n_b, LAST(C.et) AS c_et"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A {q} C) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'view', B AS B.v > 0)"
    )
    log = _mk_log(spark, rows)
    for q, exp in (("B+", [("u1", 2, "purchase")]),
                   ("B+?", [("u1", 1, "click")])):
        for n in (1, 2):
            got = replay_insert_maintained(
                base.format(q=q), _EV_TABLES, {"ev": log}, n_batches=n
            )
            assert sorted(map(tuple, got.collect())) == exp, (q, n)


def test_nfa_skip_to_last_var(spark):
    """AFTER MATCH SKIP TO LAST B resumes AT the last B row (it may
    start the next match) — Flink's AfterMatchSkipStrategy.skipToLast.
    Rising pairs A B+ with B > LAST(A): from 1,2,3,4 the first match
    greedily takes (1; 2,3,4); resuming AT row 4 finds no riser."""
    rows = [
        (1, "u1", "t", 1.0, "2024-01-01 00:00:00"),
        (2, "u1", "t", 2.0, "2024-01-01 00:01:00"),
        (3, "u1", "t", 3.0, "2024-01-01 00:02:00"),
        (4, "u1", "t", 4.0, "2024-01-01 00:03:00"),
        (5, "u1", "t", 0.5, "2024-01-01 00:04:00"),
        (6, "u1", "t", 9.0, "2024-01-01 00:05:00"),
    ]
    sql = (
        "INSERT INTO sink SELECT u, a_v, n_b FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES FIRST(A.v) AS a_v, COUNT(B.*) AS n_b"
        " AFTER MATCH SKIP TO LAST B"
        " PATTERN (A B+) WITHIN INTERVAL '1' DAY"
        " DEFINE B AS B.v > A.v)"
    )
    # match 1: A=1.0, B=(2,3,4); resume AT row4: A=4.0, B needs >4:
    # 0.5 breaks adjacency -> no match at 4; row5: A=0.5, B=(9.0)
    exp = [("u1", 0.5, 1), ("u1", 1.0, 3)]
    for n in (1, 3):
        got = replay_insert_maintained(
            sql, _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=n
        )
        assert sorted(map(tuple, got.collect())) == exp, n


def test_nfa_skip_to_var_guards(spark):
    # SKIP TO FIRST <first element> is a guaranteed infinite loop —
    # refused at construction (Flink raises at runtime)
    with pytest.raises(ValueError, match="infinite loop"):
        maintain(match_nfa={
            "partition": ["u"], "order": "ts", "within": "1 day",
            "pattern": "A B+", "defines": {},
            "measures": [("count(*)", "n")], "skip": "to_first A",
        })
    with pytest.raises(ValueError, match="unknown pattern variable"):
        maintain(match_nfa={
            "partition": ["u"], "order": "ts", "within": "1 day",
            "pattern": "A B+", "defines": {},
            "measures": [("count(*)", "n")], "skip": "to_last Z",
        })
    # SKIP TO LAST B where B binds one row adjacent to the start loops
    # at runtime: B's last row IS reachable as the next match's start
    # only when it advances — a single-element pattern cannot advance
    with pytest.raises(Exception, match="infinite loop|resumes"):
        rows = [(1, "u1", "t", 1.0, "2024-01-01 00:00:00")]
        replay_insert_maintained(
            "INSERT INTO sink SELECT u, n FROM ev"
            " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
            " MEASURES COUNT(A.*) AS n"
            " AFTER MATCH SKIP TO LAST A"
            " PATTERN (A) WITHIN INTERVAL '1' DAY"
            " DEFINE A AS A.v > 0)",
            _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=1,
        ).collect()


def test_nfa_all_rows_per_match(spark):
    """ALL ROWS PER MATCH emits one row per MATCHED INPUT ROW with the
    match's measures joined back (FINAL semantics).  Unmatched rows do
    not appear; replay equals one-shot across splits."""
    rows = [
        (1, "u1", "view", 1.0, "2024-01-01 00:00:00"),
        (2, "u1", "click", 2.0, "2024-01-01 00:01:00"),
        (3, "u1", "purchase", 3.0, "2024-01-01 00:02:00"),
        (4, "u1", "error", 0.0, "2024-01-01 00:03:00"),  # unmatched
        (5, "u2", "view", 5.0, "2024-01-01 00:00:00"),   # no funnel
    ]
    sql = (
        "INSERT INTO sink SELECT u, id, et, n_b FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES COUNT(B.*) AS n_b"
        " ALL ROWS PER MATCH"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B+ C) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'view', B AS B.et = 'click',"
        " C AS C.et = 'purchase')"
    )
    exp = [
        ("u1", 1, "view", 1), ("u1", 2, "click", 1),
        ("u1", 3, "purchase", 1),
    ]
    for n in (1, 3):
        got = replay_insert_maintained(
            sql, _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=n
        )
        assert sorted(map(tuple, got.collect())) == exp, n
    st = parse_insert_select(sql)
    assert st.match_nfa["rows_per_match"] == "all"


def test_nfa_measure_navigation_offsets(spark):
    """SQL:2016 / Flink logical offsets in MEASURES navigation:
    ``LAST(V.col, k)`` / ``FIRST(V.col, k)`` read the k-th row from
    the matching end of the variable's rows; out-of-range navigation
    is SQL NULL; set aggregates take no offset."""
    rows = [
        (1, "u1", "view", 1.0, "2024-01-01 00:00:00"),
        (2, "u1", "click", 2.0, "2024-01-01 00:01:00"),
        (3, "u1", "click", 3.0, "2024-01-01 00:02:00"),
        (4, "u1", "click", 4.0, "2024-01-01 00:03:00"),
        (5, "u1", "purchase", 5.0, "2024-01-01 00:04:00"),
    ]
    sql = (
        "INSERT INTO sink SELECT u, b_last1, b_first1, b_last9 FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES LAST(B.v, 1) AS b_last1, FIRST(B.v, 1) AS b_first1,"
        " LAST(B.v, 9) AS b_last9"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B+ C) WITHIN INTERVAL '1' DAY"
        " DEFINE A AS A.et = 'view', B AS B.et = 'click',"
        " C AS C.et = 'purchase')"
    )
    for n in (1, 2):
        got = replay_insert_maintained(
            sql, _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=n
        )
        assert sorted(map(tuple, got.collect())) == [
            ("u1", 3.0, 3.0, None)
        ], n
    with pytest.raises(ValueError, match="no logical offset"):
        parse_insert_select(sql.replace("LAST(B.v, 1)", "SUM(B.v, 1)"))


def test_nfa_step_runs_one_grouped_pandas_pass(spark, monkeypatch):
    """One batch runs ONE grouped-pandas pass: counted over every frame
    the step checkpoints plus the state and delta it returns, the plan
    holds exactly one FlatMapGroupsInPandas — the old and new pools'
    scans, the prune, the straddle marks and the MATCH_NUMBER advance
    all live in it, and the delta and the next state both read its
    single checkpoint.  The state is one frame: the pool."""
    from pyspark.sql import DataFrame

    sql = _FUNNEL_SQL.replace(
        "MEASURES FIRST(A.ts) AS a_ts,", "MEASURES MATCH_NUMBER() AS a_ts,"
    )
    plan = maintain(match_nfa=parse_insert_select(sql).match_nfa)
    frame_cls = type(spark.range(1))
    real = frame_cls.localCheckpoint
    seen = []

    def spy(self, *args, **kwargs):
        seen.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)

    def n_pandas(df):
        txt = df._jdf.queryExecution().analyzed().toString()
        return txt.count("FlatMapGroupsInPandas")

    b1 = [
        (1, "u1", "view", 1.0, "2024-01-01 00:00:00"),
        (2, "u1", "click", 2.0, "2024-01-01 00:30:00"),
        (3, "u2", "view", 3.0, "2024-01-01 01:00:00"),
    ]
    b2 = [
        (4, "u1", "purchase", 4.0, "2024-01-01 01:00:00"),
        (5, "u2", "click", 5.0, "2024-01-01 02:00:00"),
    ]
    state = None
    for rows in (b1, b2):
        seen.clear()
        state, delta = plan.step(state, _mk_log(spark, rows))
        assert isinstance(state, DataFrame)
        assert sum(n_pandas(df) for df in seen + [state, delta]) == 1
        # the pass itself is checkpointed; the outputs read it back
        assert n_pandas(state) == n_pandas(delta) == 0
    assert [tuple(r)[:2] for r in delta.collect()] == [("u1", 1)]
    assert {r["id"] for r in state.collect()} == {1, 2, 3, 4, 5}


def _session_log(spark, seed):
    """Seeded funnel sessions for three keys: within a session events
    are 1-9 minutes apart (a session spans under 2 hours), sessions
    are 3-5 hours apart — so a 2-hour WITHIN prune only ever drops
    whole earlier sessions and every split is exact."""
    import datetime as dt

    rng = random.Random(seed)
    evs = []
    for u in ("u1", "u2", "u3"):
        t = dt.datetime(2024, 1, 1) + dt.timedelta(minutes=rng.randrange(60))
        for _s in range(5):
            kinds = (
                ["view"] * rng.randrange(1, 3)
                + ["click"] * rng.randrange(0, 4)
                + ["purchase"] * rng.randrange(0, 2)
            )
            kinds = [
                "error" if rng.random() < 0.15 else k for k in kinds
            ]
            for k in kinds:
                evs.append((t, u, k, float(rng.randrange(10))))
                t += dt.timedelta(minutes=rng.randrange(1, 10))
            t += dt.timedelta(hours=rng.randrange(3, 6))
    evs.sort(key=lambda e: (e[0], e[1]))
    return _mk_log(
        spark,
        [
            (i, u, et, v, f"{t:%Y-%m-%d %H:%M:%S}")
            for i, (t, u, et, v) in enumerate(evs)
        ],
    )


_SPLIT_SQL = {
    "prev_match_number": (
        "INSERT INTO sink SELECT u, mn, n_b, top FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES MATCH_NUMBER() AS mn, COUNT(B.*) AS n_b,"
        " LAST(B.v) AS top"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A B+) WITHIN INTERVAL '2' HOUR"
        " DEFINE A AS A.et = 'view', B AS B.v > PREV(B.v))"
    ),
    "cross_var_skip_to_last": (
        "INSERT INTO sink SELECT u, a_v, n_b FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES FIRST(A.v) AS a_v, COUNT(B.*) AS n_b"
        " AFTER MATCH SKIP TO LAST B"
        " PATTERN (A B+) WITHIN INTERVAL '2' HOUR"
        " DEFINE B AS B.v > A.v)"
    ),
    "all_rows_running_final_exclusion": (
        "INSERT INTO sink SELECT u, id, cls, nb_run, v_tot FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES RUNNING CLASSIFIER() AS cls,"
        " RUNNING COUNT(B.*) AS nb_run, FINAL SUM(B.v) AS v_tot"
        " ALL ROWS PER MATCH"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (A {- B+ -} C) WITHIN INTERVAL '2' HOUR"
        " DEFINE A AS A.et = 'view', B AS B.et = 'click',"
        " C AS C.et = 'purchase')"
    ),
    "alternation_skip_to_next": (
        "INSERT INTO sink SELECT u, branch, n_run FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES CLASSIFIER() AS branch,"
        " COUNT(B.*) + COUNT(E.*) AS n_run"
        " AFTER MATCH SKIP TO NEXT ROW"
        " PATTERN (A B+ | A E+) WITHIN INTERVAL '2' HOUR"
        " DEFINE A AS A.et = 'view', B AS B.et = 'click',"
        " E AS E.et = 'error')"
    ),
    "skip_to_first": (
        "INSERT INTO sink SELECT u, a_et, n_b, c_v FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES FIRST(A.et) AS a_et, COUNT(B.*) AS n_b,"
        " LAST(C.v) AS c_v"
        " AFTER MATCH SKIP TO FIRST B"
        " PATTERN (A B+ C) WITHIN INTERVAL '2' HOUR"
        " DEFINE B AS B.et = 'click', C AS C.et = 'purchase')"
    ),
}


@pytest.mark.parametrize("name", sorted(_SPLIT_SQL))
def test_nfa_split_invariance_seeded(spark, name):
    """The same seeded log replayed in 1, 3 and 7 batches gives the
    same sink: the single-frame state (pool, consumed marks, per-key
    MATCH_NUMBER base) carries every semantic across batches."""
    log = _session_log(spark, seed=7).localCheckpoint()
    got = {
        n: sorted(
            map(tuple, replay_insert_maintained(
                _SPLIT_SQL[name], _EV_TABLES, {"ev": log}, n_batches=n
            ).collect()),
            key=str,
        )
        for n in (1, 3, 7)
    }
    assert got[1], "the seeded log must produce matches"
    assert got[3] == got[1] and got[7] == got[1]


def test_nfa_parser_edge_cases(spark):
    """Parser-surface pins growing with the accepted grammar (the
    verdict's hold-the-line rule): literals, numerics, bare COUNT(*),
    wrapped aggregates, and keyword-adjacent identifiers must not
    confuse the measure/define rewriters."""
    st = parse_insert_select(
        _FUNNEL_SQL.replace(
            "SUM(B.v) AS b_sum", "ROUND(SUM(B.v), 2) * 1.5 AS b_sum"
        )
    )
    assert (
        "ROUND(sum(v) FILTER (WHERE __var = 'B'), 2) * 1.5"
        in dict((n, s) for s, n in st.match_nfa["measures"])["b_sum"]
    )
    # COUNT(*) with no variable counts ALL rows of the match
    st = parse_insert_select(
        _FUNNEL_SQL.replace("COUNT(B.*) AS n_b", "COUNT(*) AS n_b")
    )
    assert dict(
        (n, s) for s, n in st.match_nfa["measures"]
    )["n_b"].lower().startswith("count(*)")
    # a string literal containing 'A.x' stays verbatim through the
    # bridge (r12: self-qual stripping moved to the plan, which is
    # also literal-aware — asserted on the compiled define)
    st = parse_insert_select(
        _FUNNEL_SQL.replace(
            "A AS A.et = 'view'", "A AS A.et = 'A.x view'"
        )
    )
    assert st.match_nfa["defines"]["A"] == "A.et = 'A.x view'"
    plan = maintain(match_nfa=st.match_nfa)
    assert plan.defines["A"] == "(et = 'A.x view')"
    # function calls and boolean operators inside a DEFINE rewrite
    # only the variable's own refs (plan-side, r12)
    st = parse_insert_select(
        _FUNNEL_SQL.replace(
            "B AS B.et = 'click'",
            "B AS B.et = 'click' AND ABS(B.v) > 0.5",
        )
    )
    assert st.match_nfa["defines"]["B"] == (
        "B.et = 'click' AND ABS(B.v) > 0.5"
    )
    plan = maintain(match_nfa=st.match_nfa)
    assert plan.defines["B"] == "(et = 'click') AND (ABS(v) > 0.5)"
    # quantifier on the first element; executed end to end
    rows = [
        (1, "u1", "click", 1.0, "2024-01-01 00:00:00"),
        (2, "u1", "click", 2.0, "2024-01-01 00:10:00"),
        (3, "u1", "purchase", 3.0, "2024-01-01 00:20:00"),
    ]
    got = replay_insert_maintained(
        "INSERT INTO sink SELECT u, n FROM ev"
        " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
        " MEASURES COUNT(B.*) AS n"
        " AFTER MATCH SKIP PAST LAST ROW"
        " PATTERN (B+ C) WITHIN INTERVAL '1' DAY"
        " DEFINE B AS B.et = 'click', C AS C.et = 'purchase')",
        _EV_TABLES, {"ev": _mk_log(spark, rows)}, n_batches=1,
    ).collect()
    assert [(r["u"], r["n"]) for r in got] == [("u1", 2)]


def test_streaming_nfa_matches_one_shot(spark, tmp_path):
    """The NFA plan through a REAL Structured Streaming query: per-
    microbatch greedy scans over WITHIN-bounded key pools, with a
    funnel whose rows cross microbatch boundaries, land on the
    one-shot match set."""
    from flink_cdc_2_3_0_src_spark.streaming.replay import (
        read_replay_stream,
        write_replay_files,
    )

    rows = [
        (1, "u1", "view", 1.0, "2024-01-01 01:00:00"),
        (2, "u1", "click", 2.0, "2024-01-01 02:00:00"),
        (3, "u1", "click", 3.0, "2024-01-01 03:00:00"),
        (4, "u1", "purchase", 4.0, "2024-01-01 04:00:00"),
        (5, "u2", "view", 5.0, "2024-01-01 01:00:00"),
        (6, "u2", "purchase", 6.0, "2024-01-01 02:00:00"),  # no click
        (7, "u1", "view", 7.0, "2024-01-03 01:00:00"),
        (8, "u1", "click", 8.0, "2024-01-03 02:00:00"),
        (9, "u1", "purchase", 9.0, "2024-01-03 03:00:00"),
    ]
    log = _mk_log(spark, rows)
    exp = sorted(
        map(
            tuple,
            replay_insert_maintained(
                _FUNNEL_SQL, _EV_TABLES, {"ev": log}, n_batches=1
            ).collect(),
        ),
        key=str,
    )
    replay_dir = str(tmp_path / "replay_nfa")
    write_replay_files(log, replay_dir, n_files=4)
    job = plan_insert_maintained(_FUNNEL_SQL, _EV_TABLES)

    def process(batch_df, batch_id):
        job.step({"ev": batch_df})

    q = (
        read_replay_stream(spark, replay_dir, log.schema)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_nfa"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(map(tuple, job.result().collect()), key=str) == exp
    assert len(exp) == 2


def test_nfa_guards(spark):
    from flink_cdc_2_3_0_src_spark.plans.sql_maintain import (
        explain_insert_maintained,
    )

    # cross-variable DEFINEs parse on the NFA path (r12): the bridge
    # passes V.col / FIRST/LAST(V.col) through for the plan to evaluate
    # against the partial match's bound rows
    st = parse_insert_select(
        _FUNNEL_SQL.replace("B AS B.et = 'click'",
                            "B AS B.et = 'click' AND B.v > A.v")
    )
    assert "B.v > A.v" in st.match_nfa["defines"]["B"]
    # unqualified column in a DEFINE is ACCEPTED on the NFA path (it
    # binds to the row being classified — which the NFA honors)
    st = parse_insert_select(
        _FUNNEL_SQL.replace("B AS B.et = 'click'", "B AS et = 'click'")
    )
    assert st.match_nfa["defines"]["B"] == "et = 'click'"
    # unqualified measure refs refuse (no row binding per match)
    with pytest.raises(ValueError, match="unqualified column"):
        parse_insert_select(
            _FUNNEL_SQL.replace("SUM(B.v) AS b_sum", "SUM(v) AS b_sum")
        )
    with pytest.raises(ValueError, match="unknown pattern variable"):
        parse_insert_select(
            _FUNNEL_SQL.replace("SUM(B.v)", "SUM(Z.v)")
        )
    # bare columns named like SQL keywords refuse like any other
    with pytest.raises(ValueError, match="unqualified column"):
        parse_insert_select(
            _FUNNEL_SQL.replace("SUM(B.v) AS b_sum", "MAX(B.v) + day AS b_sum")
        )
    with pytest.raises(ValueError, match="unqualified column"):
        parse_insert_select(
            "INSERT INTO sink SELECT u, b_v FROM ev"
            " MATCH_RECOGNIZE (PARTITION BY u ORDER BY ts"
            " MEASURES B.v AS b_v AFTER MATCH SKIP TO NEXT ROW"
            " PATTERN (A B) WITHIN INTERVAL '1' DAY"
            " DEFINE A AS A.et = 'view', B AS B.et = 'error' AND hour = 3)"
        )
    with pytest.raises(ValueError, match="only COUNT takes a star"):
        parse_insert_select(
            _FUNNEL_SQL.replace("SUM(B.v)", "SUM(B.*)")
        )
    with pytest.raises(ValueError, match="not in the pattern"):
        parse_insert_select(
            _FUNNEL_SQL.replace("DEFINE A AS", "DEFINE Z AS Z.v > 0, A AS")
        )
    # ORDER BY must be the declared rowtime
    with pytest.raises(ValueError, match="declared event-time column"):
        plan_insert_maintained(
            _FUNNEL_SQL.replace("ORDER BY ts", "ORDER BY v"), _EV_TABLES
        )
    # append-only input required
    job = plan_insert_maintained(_FUNNEL_SQL, _EV_TABLES)
    bad = _mk_log(
        spark, [(1, "u1", "view", 1.0, "2024-01-01 00:00:00")]
    ).withColumn(OP_COL, F.lit("-D"))
    with pytest.raises(ValueError, match="append-only"):
        job.step({"ev": bad})
    # multiset output: no keyed changelog rendering
    d = job.step(
        {"ev": _mk_log(spark, [(1, "u1", "view", 1.0,
                                "2024-01-01 00:00:00")])}
    )
    with pytest.raises(ValueError, match="multiset"):
        job.delta_changelog(d, 0)
    # ttl must be the ORDER BY column
    with pytest.raises(ValueError, match="ORDER BY time column"):
        plan_insert_maintained(_FUNNEL_SQL, _EV_TABLES, ttl="v")
    # plan-level guards
    with pytest.raises(ValueError, match="skip must be"):
        maintain(match_nfa={
            "partition": ["u"], "order": "ts", "within": "1 day",
            "pattern": "A B", "measures": [("count(*)", "n")],
            "skip": "sideways",
        })
    with pytest.raises(ValueError, match="non-empty partition"):
        maintain(match_nfa={
            "partition": [], "order": "ts", "within": "1 day",
            "pattern": "A B", "measures": [("count(*)", "n")],
        })
    txt = explain_insert_maintained(_FUNNEL_SQL, _EV_TABLES, ttl="ts")
    assert "CepOperator NFA" in txt
    assert "pattern: (A B+ C)" in txt and "skip past_last" in txt
