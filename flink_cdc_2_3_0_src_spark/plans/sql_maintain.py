"""INSERT INTO ... SELECT over CDC tables → incremental maintenance.

The reference's core user contract is SQL-first: a user writes

    INSERT INTO sink SELECT name, SUM(weight) FROM debezium_source
    GROUP BY name

and Flink's changelog planner — not the user — picks the incremental
operator (StreamExecGroupAggregate with retraction handling into an
upsert sink; the flagship ITCase is exactly this statement,
flink-connector-mysql-cdc/src/test/java/com/ververica/cdc/connectors/
mysql/table/MySqlConnectorITCase.java:213-271, golden
``+I[hammer, 2.625]`` after live UPDATE/INSERT/DELETE mid-run).  This
module is that bridge for the Spark engine: parse the INSERT-SELECT's
shape, route it to the matching ``maintain()`` plan, and fold the
plan's signed output deltas into a maintained sink table per
microbatch.

Spark's own SQL parser reads the statement: :func:`parse_insert_select`
walks the unresolved plan of ``sessionState.sqlParser.parsePlan`` (no
name is resolved, no job runs) and takes every expression string from
the statement's own text, sliced by the parser's origin offsets.  Two
Flink-only forms are outside Spark's grammar and get a thin pre-pass,
routed by keyword before any parse: ``MATCH_RECOGNIZE`` keeps its own
clause regex (its DEFINE and MEASURES expressions are parsed by
Catalyst one by one), and the column-valued ``FOR SYSTEM_TIME AS OF
<alias>.<col>`` is cut out of the text and handed to the join walker.
Parsing needs a SparkSession: the active one, else ``get_spark()``'s.

Three dispatchable shapes — the same three Flink's streaming planner
compiles to stateful operators for CDC pipelines:

* **Grouped aggregate** ``SELECT g, FN(expr) .. FROM t [WHERE p]
  GROUP BY g`` → ``maintain(aggs=..)`` (StreamExecGroupAggregate).
  sum/count/avg ride the stateless signed-delta plan; any min/max
  switches to table-state + affected-group recompute, keyed by the
  source table's declared PRIMARY KEY — the planner decides, exactly
  like ``agg_auto``.  ``GROUP BY TUMBLE(ts, INTERVAL '<n>' <unit>)``
  (with ``TUMBLE_START``/``TUMBLE_END`` projections) maps onto
  Spark's ``window()`` buckets — the r8 bucket-as-group composition
  behind Flink's windowed-aggregate syntax; ``ttl=<ts col>`` then
  expires whole windows behind the watermark.  ``GROUP BY HOP(ts,
  INTERVAL '<slide>' u, INTERVAL '<size>' u)`` (sliding windows) rides
  Spark's sliding ``window()`` generator — each row replicates into
  its size/slide windows and the signed algebra holds per window
  group; sum/count/avg only (min/max would need per-window table state
  a PK-keyed upsert cannot express under replication).  ``GROUP BY
  CUMULATE(ts, INTERVAL '<step>' u, INTERVAL '<size>' u)`` (cumulative
  windows — within each size-aligned bucket the windows are [S,
  S+k*step), the running-total dashboard shape) replicates rows into
  the remaining windows of their bucket via an exploded k-sequence;
  row-local like HOP, sum/count/avg only.  ``GROUP BY
  [g,] SESSION(ts, INTERVAL '<gap>' u)`` (merging session windows,
  Flink's SessionWindows.withGap) dispatches the dedicated table-state
  session plan: a session's window is NOT a row-local timestamp
  function — an arrival can merge two sessions, a retraction can split
  one — so affected groups re-sessionize from the materialized table
  (all five aggregate functions supported; ``SESSION_START/END``
  project the window; ``ttl=<ts col>`` evicts CLOSED sessions behind
  the watermark).
* **Equi-join** ``SELECT a.x, b.y FROM ta a [INNER|LEFT|RIGHT|FULL]
  JOIN tb b ON a.k = b.k [AND ..]`` → ``maintain(on=..)``
  (StreamingJoinOperator).  Three or more tables — ``FROM a JOIN b ON
  .. JOIN c ON ..``, each ON referencing the newly-joined alias and
  one earlier alias (a left-deep chain) → ``maintain(chain=..)``, the
  stacked-StreamingJoinOperator cascade Flink's planner builds; each
  stage's output delta feeds the next stage (exact for arbitrary
  multiplicities — the delta rule is bilinear), so one microbatch
  propagates through the chain in one batch-driven pass.  Non-equi ON
  conjuncts (``AND a.ts BETWEEN b.ts - x AND b.ts + y`` — Flink's
  interval join) ride alongside the equi key on INNER joins: a pair
  predicate is row-local over the joined row, so filtering the output
  delta with it is exact (outer ON-clause predicates change the null
  pad and are refused with guidance).
* **Temporal join** ``SELECT p.x, d.y FROM probe p [LEFT] JOIN dim
  FOR SYSTEM_TIME AS OF p.<ptime> AS d ON p.k = d.k`` →
  ``maintain(temporal=..)`` (TemporalRowTimeJoinOperator; the
  reference's dim-enrichment pattern — each append-only probe row
  joins the dim VERSION valid at the probe's event time, and the
  output is append-only: later dim changes never retract an emitted
  enrichment).  The versioned side must be registered with a rowtime
  (a ``WATERMARK`` clause, or ``{'primary_key': .., 'rowtime': ..}``)
  and the ON clause must cover its full PRIMARY KEY, both Flink
  requirements; INNER/LEFT only; ``ttl=<version-time col>`` enables
  versioned state cleanup (keep the latest version before the
  watermark).
* **Top-N** ``SELECT .. FROM (SELECT *, ROW_NUMBER() OVER (PARTITION
  BY g ORDER BY o) AS rn FROM t [WHERE p]) WHERE rn <= n`` →
  ``maintain(n=..)`` (RankOperator; Flink's documented streaming Top-N
  pattern).
* **OVER aggregation** ``SELECT c1, .., FN(x) OVER (PARTITION BY k
  ORDER BY ts [ROWS|RANGE BETWEEN <bound> PRECEDING AND CURRENT ROW])
  FROM t [WHERE p]`` → ``maintain(over=..)``
  (StreamExecOverAggregate): append-only input, each arrival emitted
  once with its frame aggregate — state is the frame-reachable rows
  per key (bounded frames) or one accumulator row per key
  (UNBOUNDED).  All OVER windows of one SELECT must be identical and
  the ORDER BY ascending event time, Flink's requirements; updating
  inputs are refused with guidance.  ``WHERE`` filters arrivals
  before they enter any frame (SQL's evaluation order);
  ``ttl=<order col>`` expires bounded-frame state behind the
  watermark.

Semantics notes
---------------
* ``WHERE`` must be row-local; HOW it is applied depends on the plan's
  state discipline.  For the stateless signed-delta aggregate, a plain
  per-batch row filter commutes (the signed algebra balances a
  filtered-out -U against its equally-filtered original insert).  For
  the TABLE-STATE plans (min/max recompute, Top-N) the maintained
  object is ``filter(materialize(log))``, so an update whose NEW image
  fails the predicate must REMOVE its key from the filtered table: the
  failing +I/+U is rewritten to a ``-D`` tombstone instead of dropped —
  a dropped +U would leave the key's old image live in table state
  forever (``_upsert_table_state`` ignores lone ``-U`` rows by design).
  Both directions of predicate-boundary-crossing updates are
  test-pinned.
* ``COUNT(expr)`` is translated to a signed sum of a non-null
  indicator (SQL semantics on both maintenance plans); ``COUNT(*)``
  maps to the live-row count.
* ``HAVING`` (aggregate shape) is row-local on RESULT rows, so it
  filters the signed delta stream directly — a group crossing the
  bound emits exactly the retraction (leaving) or insert (entering)
  side of its ±pair.  Plan state stays unfiltered: the group keeps
  aggregating and only emission is gated, matching Flink's HAVING over
  a streaming aggregate.  Textual aggregate calls in the predicate are
  rewritten to their SELECT aliases.
* A source registered as a :class:`ResolvedTable` (the ``CREATE
  TABLE .. WITH ('connector'=..)`` surface, sources/sql_ddl.py)
  contributes its computed columns (applied per batch before the plan
  sees it — the reference's planner-side projection) and its PRIMARY
  KEY (the ``keys=`` for min/max recompute and Top-N table state).

The executor's per-batch work is the underlying plan's (batch-driven,
never a history rescan — see operators/maintain.py); the sink fold is
one groupBy over accumulated live rows, locally checkpointed per batch
so lineage stays flat, the exact discipline ``delta_join_changelog``
uses.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.io import pin
from flink_cdc_2_3_0_src_spark.model import (
    OP_COL,
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE_AFTER,
    SEQ_COL,
)
from flink_cdc_2_3_0_src_spark.operators.changelog import (
    MULT_COL,
    split_csv_outside_parens as _split_select_items,
)
from flink_cdc_2_3_0_src_spark.operators.maintain import _var_call, maintain
from flink_cdc_2_3_0_src_spark.session import _Node, _seq, catalyst_parse


@dataclass
class InsertSelect:
    """Parsed, shape-classified INSERT-SELECT statement."""

    sink: str
    shape: str  # "agg" | "join" | "temporal" | "topn" | "over"
    sources: list  # source table names, in FROM order
    # agg / topn
    group_cols: list = field(default_factory=list)
    aggs: dict = field(default_factory=dict)  # name -> (fn, sql expr str)
    where: Optional[str] = None
    order_sql: Optional[str] = None
    n: Optional[int] = None
    # join
    join_how: str = "inner"
    join_aliases: tuple = ()  # (alias_a, alias_b[, alias_c, ...])
    join_on: list = field(default_factory=list)  # [(col_a, col_b)]
    # non-equi ON conjuncts of a two-way join (interval bounds etc.),
    # alias-qualified SQL strings applied as a row-local filter on the
    # output delta (inner joins only)
    join_extra: list = field(default_factory=list)
    # multi-way (3+ table) chain: one dict per JOIN after the first
    # table — {"alias": <new alias>, "how": .., "on": [(earlier alias,
    # earlier col, new-side col), ...], "extra": [pair-predicate SQL]};
    # empty for two-way joins
    join_chain: list = field(default_factory=list)
    # output projection: (source column name or "<alias>.<col>", out name)
    select: list = field(default_factory=list)
    # event-time temporal join (shape == "temporal"): (probe alias,
    # probe event-time column, build alias) — FOR SYSTEM_TIME AS OF
    temporal: Optional[tuple] = None
    # processing-time lookup join (shape == "lookup"): the dim alias —
    # FOR SYSTEM_TIME AS OF PROCTIME()
    lookup: Optional[str] = None
    # set operation (shape == "setop"): {"op": "intersect"|"except",
    # "all": bool}; the two branches ride union_branches
    setop: Optional[dict] = None
    # MATCH_RECOGNIZE (shape == "match"): {"partition": [...],
    # "order": ts, "within": "<n> <unit>s", "define_a": sql,
    # "define_b": sql, "measures": [(sql, name)]}
    match: Optional[dict] = None
    # general-pattern MATCH_RECOGNIZE (shape == "match_nfa"):
    # {"partition": [...], "order": ts, "within": "<n> <unit>s",
    # "pattern": [(var, min, max)], "defines": {var: sql over the
    # classified row}, "measures": [(FILTER-form agg sql, name)],
    # "skip": "to_next"|"past_last"}
    match_nfa: Optional[dict] = None
    # window join (two-way shape "join"): ((alias_a, ts_a),
    # (alias_b, ts_b), "<n> <unit>s") — a TUMBLE-bucket equality in
    # the ON clause; rows join within the same tumbling window
    join_window: Optional[tuple] = None
    # tumbling event-time window: (ts column, Spark duration string)
    tumble: Optional[tuple] = None
    # sliding window: (ts column, slide duration, size duration)
    hop: Optional[tuple] = None
    # cumulative window: (ts column, step duration, size duration)
    cumulate: Optional[tuple] = None
    # merging session window: (ts column, gap duration string)
    session: Optional[tuple] = None
    # Top-N rank filter spelled ``rn = 1`` (deduplication candidate:
    # the job dispatch routes it to the dedup plan when the ORDER BY
    # is the source's declared rowtime — Flink's Deduplicate-vs-Rank
    # planner split)
    rank_eq: bool = False
    # OVER aggregation (shape == "over"): {"partition": [cols],
    # "order": <ts col>, "rows": n|None, "range": "<n> <unit>s"|None}
    # — rows/range both None means UNBOUNDED PRECEDING
    over: Optional[dict] = None
    # GROUPING SETS: list of column lists (group_cols is their ordered
    # union); empty when the GROUP BY is plain
    grouping_sets: list = field(default_factory=list)
    # UNION ALL aggregate: one (select_exprs, where) per source, where
    # select_exprs = [(expr sql, out name)] aligned positionally onto
    # the first branch's output names; empty for single-source shapes
    union_branches: list = field(default_factory=list)
    # HAVING predicate over the RESULT columns (aggregate aliases +
    # group cols); row-local on result rows, so it filters the signed
    # delta stream directly
    having: Optional[str] = None
    # row-local calc (shape == "calc"): [(expr sql, out name)] — the
    # plain SELECT <exprs> FROM t [WHERE p] pipeline statement
    calc_exprs: list = field(default_factory=list)


_IDENT = re.compile(r"^[`\"]?(?P<name>\w+)[`\"]?$")
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<sink>[`\"\w.]+)\s+(?P<select>SELECT\s+.*)$",
    re.IGNORECASE | re.DOTALL,
)
# The two pre-passes, routed by keyword before any Catalyst call:
# MATCH_RECOGNIZE is outside Spark's grammar (its own clause regex
# below; only its expressions reach Catalyst), and Spark's FOR
# SYSTEM_TIME AS OF takes only constant expressions, so Flink's
# column-valued event-time form is blanked out of the text (same
# length: Catalyst's offsets still index the statement) and handed to
# the join walker on the side.
_MATCH_KW = re.compile(r"(?i)\bMATCH_RECOGNIZE\b")
_LITERAL = re.compile(r"'(?:[^']|'')*'")
_TEMPORAL_AS_OF = re.compile(
    r"(?i)\bFOR\s+SYSTEM_TIME\s+AS\s+OF\s+(?P<pq>\w+)\.(?P<pc>\w+)"
)
# Flink's interval literal in TUMBLE/HOP/CUMULATE/SESSION and RANGE
# frames: INTERVAL '<n>' <unit> → the Spark duration "<n> <unit>s"
_INTERVAL = re.compile(
    r"(?i)^INTERVAL\s+'(?P<n>\d+)'\s+(?P<unit>SECOND|MINUTE|HOUR|DAY)S?$"
)
_AGG_FNS = ("sum", "count", "avg", "min", "max")
# window-group function → INTERVAL arguments after the time column
_WINDOW_FNS = {"tumble": 1, "hop": 2, "cumulate": 2, "session": 1}
_WINDOW_ARGS = {
    "tumble": " and interval", "hop": ", slide and size",
    "cumulate": ", step and size", "session": " and gap",
}
_W_START, _W_END = "__w_start", "__w_end"
_JOIN_HOW = {
    "Inner": "inner", "LeftOuter": "left", "RightOuter": "right",
    "FullOuter": "full",
}

_SHAPES_MSG = (
    "unsupported INSERT-SELECT shape; the maintenance planner dispatches "
    "the forms Flink's streaming planner compiles for CDC "
    "pipelines: row-local projection (SELECT <exprs> FROM t [WHERE p]), "
    "grouped or GLOBAL aggregate (SELECT [g,] FN(x) .. FROM t [WHERE p] "
    "[GROUP BY g]), equi-join (SELECT a.x, b.y FROM ta a JOIN tb b ON "
    "a.k = b.k), Top-N (SELECT .. FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY g ORDER BY o) AS rn FROM t) WHERE rn <= n), and OVER "
    "aggregation (SELECT c1, .., FN(x) OVER (PARTITION BY k ORDER BY ts "
    "[ROWS|RANGE BETWEEN .. PRECEDING AND CURRENT ROW]) FROM t)"
)
_NOT_INSERT_MSG = (
    "not an INSERT INTO <sink> SELECT ... statement; the SQL maintenance "
    "surface mirrors the reference's ITCase contract "
    "(MySqlConnectorITCase.java:215)"
)
_UNION_AGG_MSG = (
    "a UNION ALL source must feed a grouped aggregate: SELECT g, FN(x) .. "
    "FROM (SELECT .. UNION ALL SELECT ..) [WHERE p] GROUP BY g"
)


def _split_alias(item: str) -> tuple[str, Optional[str]]:
    """Split ``<expr> AS <alias>`` at the LAST top-level AS (outside
    parens and quotes) — ``CAST(x AS INT) AS y`` keeps the inner AS."""
    item = item.strip()
    # depth/quote state per character, so a whitespace-tolerant AS match
    # can be tested for top-levelness without rewriting the item (string
    # literals keep their exact spacing)
    depth, in_str = 0, False
    top = []
    for ch in item:
        if in_str:
            top.append(False)
            in_str = ch != "'"
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        top.append(not in_str and depth == 0)
    last = None
    for m in re.finditer(r"\sAS\s+", item, re.IGNORECASE):
        if all(top[i] for i in range(m.start(), m.end())):
            last = m
    if last is None:
        return item, None
    alias = item[last.end() :].strip().strip('`" ')
    if not re.fullmatch(r"\w+", alias):
        return item, None
    return item[: last.start()].strip(), alias


def _item(node: _Node) -> tuple:
    """(expression node, alias or None) of one select item."""
    if node.name in ("Alias", "UnresolvedAlias"):
        return node.kids()[0], node.j.name() if node.name == "Alias" else None
    return node, None


def _rel_name(j) -> str:
    return j.multipartIdentifier().mkString(".")


def _interval(node: _Node) -> Optional[str]:
    """``INTERVAL '<n>' <unit>`` → ``"<n> <unit>s"``, else None."""
    m = _INTERVAL.match(node.text()) if node.name == "Literal" else None
    return f"{m.group('n')} {m.group('unit').lower()}s" if m else None


def _window_call(node: _Node, qualified: bool = False):
    """A TUMBLE/HOP/CUMULATE/SESSION call, or its _START/_END field →
    (kind, "START"/"END" or None for the call, (time column,
    durations..)); the column is ``(alias, col)`` when ``qualified``.
    None unless the arguments are a column and INTERVAL literals."""
    kind, _, which = node.fn().partition("_")
    if kind not in _WINDOW_FNS or which not in ("", "start", "end"):
        return None
    args = node.subs("arguments")
    if len(args) != 1 + _WINDOW_FNS[kind]:
        return None
    ts = args[0].qcol() if qualified else args[0].col()
    durs = [_interval(a) for a in args[1:]]
    if ts is None or None in durs:
        return None
    return kind, which.upper() or None, (ts, *durs)


def _window_field(wc, spec, kind: str, clause: str, expr: _Node):
    """Source column of a TUMBLE_START/_END-style field whose window
    must equal the statement's ``spec``."""
    if wc[2] != spec:
        raise ValueError(
            f"{expr.ptext()!r} does not match the {clause} {kind.upper()} "
            f"window (same time column{_WINDOW_ARGS[kind]} required)"
        )
    return _W_START if wc[1] == "START" else _W_END


def _split_on_conjuncts(conds: str) -> list:
    """Split a condition on its top-level ``AND``s as Catalyst reads
    them: BETWEEN's AND, ANDs inside parentheses or literals and
    ``_and_`` inside identifiers never split."""
    root = _Node(catalyst_parse(conds, "expression"), conds)
    return [c.ptext() for c in root.operands("And")]


def _strip_filter(node: _Node) -> tuple:
    """(child under an optional Filter, WHERE text or None)."""
    if node.name == "Filter":
        return node.sub("child"), node.sub("condition").ptext()
    return node, None


def _names_of(nodes: list, what: str) -> list:
    for n in nodes:
        if n.col() is None:
            raise ValueError(
                f"{what} items must be plain column names, got {n.text()!r}"
            )
    return [n.col() for n in nodes]


def _agg_alias(fn: str, args: str, alias, aggs: dict, idx: list) -> str:
    """The output name of an aggregate: its alias, else a stable derived
    name (Flink's EXPR$i is unfriendly for an upsert sink)."""
    if alias is None:
        base = re.sub(r"\W+", "_", args.strip("*") or "all")
        alias = f"{fn}_{base}".strip("_") or f"{fn}_{idx[0]}"
        idx[0] += 1
    if alias in aggs:
        raise ValueError(f"duplicate output column {alias!r}")
    return alias


def parse_insert_select(sql: str) -> InsertSelect:
    """Parse an ``INSERT INTO <sink> SELECT ..`` statement into its
    maintenance shape by walking Spark's unresolved plan of it, after
    the two pre-passes (see ``_MATCH_KW``).  Refusals are ValueErrors."""
    # keywords inside string literals route nothing
    masked = _LITERAL.sub(lambda m: " " * len(m.group(0)), sql)
    if _MATCH_KW.search(masked):
        return _parse_match(sql)
    as_of, text = [], sql
    for m in _TEMPORAL_AS_OF.finditer(masked):
        as_of.append((m.start(), m.group("pq"), m.group("pc")))
        text = text[: m.start()] + " " * len(m.group(0)) + text[m.end() :]
    root = _Node(catalyst_parse(text), text)
    if root.name != "InsertIntoStatement" or root.j.overwrite() or (
        root.j.userSpecifiedCols().nonEmpty()
        or root.j.partitionSpec().nonEmpty()
    ):
        raise ValueError(_NOT_INSERT_MSG)
    sink = _rel_name(root.j.table())
    q = root.sub("query")
    if as_of and (q.name != "Project" or (
        _strip_filter(q.sub("child"))[0].name != "Join"
    )):
        raise ValueError(_SHAPES_MSG)  # AS OF <alias>.<col> outside a join
    if q.name in ("Intersect", "Except"):
        return _parse_setop(sink, q)
    having = None
    if q.name == "UnresolvedHaving":
        having, q = q.sub("havingCondition"), q.sub("child")
    if q.name == "Aggregate":
        items = q.subs("aggregateExpressions")
        if q.subs("groupingExpressions") or _has_agg(items):
            return _parse_agg(sink, q, items, having)
        if having is not None:
            raise ValueError("HAVING needs a GROUP BY")
    if q.name != "Project":
        raise ValueError(_SHAPES_MSG)
    items, child = q.subs("projectList"), q.sub("child")
    topn = _parse_topn(sink, items, child)
    if topn is not None:
        return topn
    base = _strip_filter(child)[0]
    if base.name == "Join":
        return _parse_join(sink, items, child, as_of)
    if base.name != "UnresolvedRelation":
        _source(child, grouped=False)  # raises the UNION / shape refusal
    windowed = any(
        it.has(lambda n: n.name == "WindowExpression") for it in items
    )
    if not windowed and _has_agg(items):
        # no GROUP BY and every item aggregates: the GLOBAL aggregate
        return _parse_agg(sink, q, items, None)
    return (windowed and _parse_over(sink, items, child)) or _parse_calc(
        sink, items, child
    )


def _has_agg(items: list) -> bool:
    return any(it.has(lambda n: n.fn() in _AGG_FNS) for it in items)


def _parse_topn(sink: str, items: list, child: _Node):
    """Flink's streaming Top-N: ``SELECT .. FROM (SELECT *, ROW_NUMBER()
    OVER (PARTITION BY g ORDER BY o) AS rn FROM t [WHERE p]) [x] WHERE rn
    <= n`` (``rn = 1``: deduplication).  None for any other shape."""
    if child.name != "Filter" or child.sub("child").name != "SubqueryAlias":
        return None
    inner = child.sub("child").sub("child")
    if inner.name != "Project":
        return None
    inner_items = inner.subs("projectList")
    rel, where = _strip_filter(inner.sub("child"))
    if len(inner_items) != 2 or rel.name != "UnresolvedRelation":
        return None
    star, rn_item = inner_items
    if star.name != "UnresolvedStar" or rn_item.name != "Alias":
        return None
    win = rn_item.kids()[0]
    if win.name != "WindowExpression" or (
        win.sub("windowFunction").fn() != "row_number"
    ):
        return None
    spec = win.sub("windowSpec")
    parts, orders = spec.subs("partitionSpec"), spec.subs("orderSpec")
    cond = child.sub("condition")
    if (
        not parts or not orders
        or spec.sub("frameSpecification").name != "UnspecifiedFrame"
        or cond.name not in ("LessThanOrEqual", "EqualTo")
    ):
        return None
    rn_ref, n_lit = cond.kids()
    if rn_ref.col() is None or not (
        n_lit.name == "Literal" and n_lit.text().isdigit()
    ):
        return None
    rn, n = rn_item.j.name(), int(n_lit.text())
    rank_eq = cond.name == "EqualTo"
    if rn != rn_ref.col():
        raise ValueError(
            f"Top-N rank filter references {rn_ref.col()!r} but the "
            f"ROW_NUMBER column is {rn!r}"
        )
    # PARTITION BY items: plain columns, plus at most one TUMBLE(ts,
    # INTERVAL ..) — Flink's WINDOW Top-N / window deduplication.  The
    # bucket is row-local, so it derives per batch like the aggregate
    # shape's TUMBLE and becomes two ordinary group columns.
    groups, tumble = [], None
    for part in parts:
        wc = _window_call(part)
        if wc is not None and wc[0] == "tumble" and wc[1] is None:
            if tumble is not None:
                raise ValueError("at most one TUMBLE window per PARTITION BY")
            tumble = wc[2]
            groups.extend([_W_START, _W_END])
        elif part.col() is None:
            raise ValueError(
                "PARTITION BY items must be plain column names or "
                f"TUMBLE(ts, INTERVAL ..), got {part.ptext()!r}"
            )
        else:
            groups.append(part.col())
    out = []
    for it in items:
        expr, alias = _item(it)
        wc = _window_call(expr)
        if wc is not None and wc[0] == "tumble" and wc[1] is not None:
            src = _window_field(wc, tumble, "tumble", "PARTITION BY's", expr)
            out.append((src, alias or f"w_{wc[1].lower()}"))
            continue
        if expr.col() is None:
            raise ValueError(
                "Top-N select items must be plain columns of the source "
                f"table, got {it.item_text()!r}"
            )
        if expr.col() == rn:
            raise ValueError(
                "the rank column must not be projected — membership "
                "maintenance omits rank numbers (Flink's no-rank-output "
                "optimization); select the table columns only"
            )
        out.append((expr.col(), alias or expr.col()))
    if rank_eq and n != 1:
        raise ValueError(
            f"rank = {n} selects a single rank position; only rank = 1 "
            "(deduplication / per-group winner) is supported — use <= n "
            "for Top-N membership"
        )
    return InsertSelect(
        sink=sink, shape="topn", sources=[_rel_name(rel.j)],
        group_cols=groups, n=n, where=where, select=out, rank_eq=rank_eq,
        order_sql=child.sql[orders[0].span()[0] : orders[-1].span()[1] + 1],
        tumble=tumble,
    )


def _parse_join(sink: str, items: list, child: _Node, as_of: list):
    """Two-way and chained equi-joins with interval (pair-predicate) and
    TUMBLE window conjuncts, the temporal join (``FOR SYSTEM_TIME AS OF
    <probe>.<ts>``, cut out by the pre-pass into ``as_of``) and the
    lookup join (``.. AS OF PROCTIME()``)."""
    joins, node = [], child
    while node.name == "Join":
        joins.insert(0, node)
        node = node.sub("left")
    if not joins or node.name != "SubqueryAlias" or (
        node.sub("child").name != "UnresolvedRelation"
    ):
        raise ValueError(_SHAPES_MSG)
    aliases, tables = [node.j.alias()], [_rel_name(node.sub("child").j)]
    raw_stages, temporal, lookup_alias = [], None, None
    for jn in joins:
        how = _JOIN_HOW.get(jn.j.joinType().toString())
        if how is None:  # CROSS, SEMI, ANTI, NATURAL, USING
            raise ValueError(_SHAPES_MSG)
        right, cond = jn.sub("right"), jn.opt("condition")
        rel = right.sub("child") if right.name == "SubqueryAlias" else None
        travel = rel is not None and rel.name == "RelationTimeTravel"
        ts = rel.opt("timestamp") if travel else None
        if cond is None or rel is None or travel and (
            ts is None or ts.fn() != "proctime" or ts.kids()
        ):
            seg = child.sql[right.span()[0] : jn.span()[1] + 1].strip()
            raise ValueError(
                f"cannot parse join segment {seg!r}: expected <table> [AS] "
                "<alias> ON <equi-join conditions> (or <table> FOR "
                "SYSTEM_TIME AS OF <probe>.<ts> [AS] <alias> ON ... for a "
                "temporal join)"
            )
        lo, hi = right.span()
        cut = [a[1:] for a in as_of if lo <= a[0] <= hi]
        kind = "lookup" if travel else "temporal" if cut else None
        if kind and (temporal or lookup_alias or raw_stages):
            raise ValueError(
                "a lookup join (FOR SYSTEM_TIME AS OF PROCTIME()) is "
                "supported as the only join of the statement — enrich "
                "first, then feed the sink to further statements "
                "(STATEMENT SET)" if travel else
                "a temporal join (FOR SYSTEM_TIME AS OF) is supported as "
                "the only join of the statement — enrich first, then feed "
                "the sink to further statements (STATEMENT SET) for more "
                "joins"
            )
        if kind and how not in ("inner", "left"):
            raise ValueError(
                f"{kind} joins support INNER and LEFT only, got "
                f"{how.upper()} (Flink's "
                + ("lookup join" if travel else "FOR SYSTEM_TIME AS OF")
                + " supports the same two)"
            )
        if not kind and (temporal or lookup_alias):
            raise ValueError(
                "a temporal/lookup join (FOR SYSTEM_TIME AS OF) is "
                "supported as the only join of the statement — enrich "
                "first, then feed the sink to further statements "
                "(STATEMENT SET) for more joins"
            )
        if travel:
            lookup_alias, rel = right.j.alias(), rel.sub("relation")
        elif rel.name != "UnresolvedRelation":
            raise ValueError(_SHAPES_MSG)
        temporal = temporal or (cut[0] if cut else None)
        raw_stages.append((how, _rel_name(rel.j), right.j.alias(), cond))
    if len(as_of) != (temporal is not None):
        raise ValueError(_SHAPES_MSG)  # an AS OF <alias>.<col> off a JOIN
    two_way = len(raw_stages) == 1
    stages, join_window = [], None
    for how, tb, bal, conds in raw_stages:
        if bal in aliases:
            raise ValueError(f"duplicate table alias {bal!r}")
        on, extra = [], []
        for c in conds.operands("And"):
            cond = c.ptext()
            sides = c.kids() if c.name == "EqualTo" else []
            wins = [_window_call(s, qualified=True) for s in sides]
            if sides and all(
                w is not None and w[0] == "tumble" and w[1] is None
                for w in wins
            ):
                # TUMBLE-bucket equality — Flink's window join
                (lq, lc), ldur = wins[0][2]
                (rq, rc), rdur = wins[1][2]
                for bad, msg in (
                    (temporal or lookup_alias,
                     "temporal/lookup join ON clauses support equi "
                     "conditions only — a TUMBLE window equality belongs "
                     "to a regular stream-stream join (window join)"),
                    (not two_way,
                     "window joins (TUMBLE(..) = TUMBLE(..)) are supported "
                     "on two-way joins only — stage a chain through a "
                     "STATEMENT SET"),
                    (0 in (int(ldur.split()[0]), int(rdur.split()[0])),
                     "the window join's TUMBLE interval must be positive"),
                    (join_window is not None,
                     "at most one TUMBLE window equality per join"),
                    (ldur != rdur,
                     "both sides of a window join must use the SAME "
                     "tumbling interval (Flink's window join requires "
                     "equal window specs)"),
                    ({lq, rq} != {aliases[0], bal},
                     f"window-join condition {cond!r} must reference both "
                     f"table aliases {aliases[0]!r} and {bal!r}"),
                ):
                    if bad:
                        raise ValueError(msg)
                join_window = (
                    ((lq, lc), (rq, rc), ldur) if lq == aliases[0]
                    else ((rq, rc), (lq, lc), ldur)
                )
                # the derived bucket columns are ordinary equi keys
                on += [(aliases[0], _W_START, _W_START),
                       (aliases[0], _W_END, _W_END)]
                continue
            refs = [s.qcol() for s in sides]
            if not sides or None in refs or c.span() != c.wrapped():
                # a non-equi conjunct is a row-local PAIR predicate —
                # Flink's interval-join bounds (a.ts BETWEEN b.ts - x AND
                # b.ts + y) and the like — applied as a filter on the
                # stage's OUTPUT delta: exact for INNER stages (σ_p
                # commutes with the delta algebra); outer stages refuse
                bad = [n.qcol()[0] for n in c.walk() if n.qcol() and (
                    n.qcol()[0] not in aliases + [bal])]
                if bad:
                    raise ValueError(
                        f"join condition {cond!r} references unknown "
                        f"alias(es) {sorted(set(bad))}; known: "
                        f"{aliases + [bal]}"
                    )
                extra.append(cond)
                continue
            (lq, lc), (rq, rc) = refs
            if two_way and {lq, rq} != {aliases[0], bal}:
                raise ValueError(
                    f"join condition {cond!r} must reference both table "
                    f"aliases {aliases[0]!r} and {bal!r}"
                )
            if rq == bal and lq in aliases:
                on.append((lq, lc, rc))
            elif lq == bal and rq in aliases:
                on.append((rq, rc, lc))
            else:
                raise ValueError(
                    f"join condition {cond!r} must reference the newly-"
                    f"joined alias {bal!r} and one earlier alias (of "
                    f"{aliases}) — a left-deep chain joins each table "
                    "against the tables before it"
                )
        if all(o[1] in (_W_START, _W_END) for o in on):
            raise ValueError(
                f"the JOIN on {bal!r} needs at least one equi-join "
                "condition <a>.<col> = <b>.<col> (the maintained join's "
                "key); time bounds, TUMBLE window equalities and other "
                "pair predicates ride alongside it as ON conjuncts"
            )
        if extra and how != "inner":
            raise ValueError(
                "non-equi ON conjuncts are supported on INNER joins only: "
                "on an OUTER join the ON clause decides the null pad "
                "(different semantics from a post-join filter) — move the "
                "predicate to a WHERE over the sink, or use an inner join"
            )
        aliases.append(bal)
        tables.append(tb)
        stages.append({"alias": bal, "how": how, "on": on, "extra": extra})
    out = []
    for it in items:
        expr, alias = _item(it)
        wc = _window_call(expr, qualified=True)
        if wc is not None and wc[0] == "tumble" and wc[1] is not None:
            (q, c), dur = wc[2]
            if join_window is None or dur != join_window[2] or (
                (q, c) not in join_window[:2]
            ):
                raise ValueError(
                    f"{expr.ptext()!r} does not match the ON clause's "
                    "TUMBLE window equality (same side time column and "
                    "interval required)"
                )
            src = _W_START if wc[1] == "START" else _W_END
            out.append((f"{q}.{src}", alias or f"w_{wc[1].lower()}"))
            continue
        qc = expr.qcol()
        if qc is None or qc[0] not in aliases:
            hint = (
                f"({aliases[0]}.<col> / {aliases[1]}.<col>)" if two_way
                else f"(<alias>.<col> with alias in {aliases})"
            )
            raise ValueError(
                f"join select items must be alias-qualified columns {hint}, "
                f"got {it.item_text()!r}"
            )
        out.append((f"{qc[0]}.{qc[1]}", alias or qc[1]))
    st = stages[0]
    if temporal is not None and temporal[0] != aliases[0]:
        raise ValueError(
            f"FOR SYSTEM_TIME AS OF {temporal[0]}.{temporal[1]} must "
            f"reference the probe (first) table's alias {aliases[0]!r} — "
            "the AS OF time is the probe row's event time"
        )
    kind = "temporal" if temporal else "lookup" if lookup_alias else None
    if kind and st["extra"]:
        raise ValueError(
            f"{kind} join ON clauses support equi conditions only, got "
            f"{st['extra']}; filter the enriched sink downstream instead"
        )
    if not two_way:
        return InsertSelect(
            sink=sink, shape="join", sources=tables,
            join_aliases=tuple(aliases), join_chain=stages, select=out,
        )
    return InsertSelect(
        sink=sink, shape=kind or "join", sources=tables, join_how=st["how"],
        join_aliases=tuple(aliases), select=out,
        join_on=[(lc, rc) for _, lc, rc in st["on"]],
        **(
            {"temporal": (*temporal, st["alias"])} if temporal
            else {"lookup": st["alias"]} if lookup_alias
            else {"join_extra": st["extra"], "join_window": join_window}
        ),
    )


def _group_by(q: _Node) -> tuple:
    """(group columns, grouping sets, (window kind, spec) or None) of an
    Aggregate's GROUP BY."""
    exprs = q.subs("groupingExpressions")
    head = exprs[0].name if len(exprs) == 1 else None
    if head in ("Rollup", "Cube"):
        # ROLLUP/CUBE are GROUPING SETS sugar (the SQL standard's and
        # Flink's expansion): ROLLUP(a, b) = ((a,b),(a),()), CUBE(a, b)
        # = every subset — one plan path and one GROUPING_ID discipline
        cols = _names_of(exprs[0].kids(), head.upper())
        if head == "Cube" and len(cols) > 6:
            raise ValueError(
                f"CUBE over more than 6 columns expands to {2 ** len(cols)} "
                "grouping sets — write the GROUPING SETS you actually need"
            )
        sets = [cols[:i] for i in range(len(cols), -1, -1)] if (
            head == "Rollup"
        ) else [
            [c for j, c in enumerate(cols) if mask & (1 << j)]
            for mask in range((1 << len(cols)) - 1, -1, -1)
        ]
    elif head == "GroupingSets":
        # GROUP BY GROUPING SETS ((a, b), (a), ()): each set compiles to
        # its own maintenance plan, deltas tagged with GROUPING_ID
        sets = [
            _names_of([_Node(x, q.sql) for x in _seq(s)], "GROUPING SETS")
            for s in _seq(exprs[0].j.groupingSets())
        ]
    else:
        sets = None
    if sets is not None:  # the group columns are the sets' ordered union
        return list(dict.fromkeys(c for s in sets for c in s)), sets, None
    groups, window = [], None
    for part in exprs:
        if part.fn() in ("rollup", "cube"):  # ROLLUP () / CUBE ()
            raise ValueError(f"{part.fn().upper()} needs at least one column")
        wc = _window_call(part)
        if wc is not None and wc[1] is None:
            if window is not None:
                raise ValueError(
                    "at most one TUMBLE/HOP/"
                    + ("CUMULATE/" if wc[0] == "cumulate" else "")
                    + "SESSION window per GROUP BY"
                )
            window = (wc[0], wc[2])
            # window start+end are both group columns (carrying both
            # keeps the delta frame self-describing); SESSION windows
            # are not row-local — the session plan itself produces them
            if wc[0] != "session":
                groups.extend([_W_START, _W_END])
        elif part.col() is None:
            # a ROLLUP/CUBE node's origin is the whole GROUP BY clause
            raw = part.ptext()
            if part.name in ("Rollup", "Cube"):
                cols = ", ".join(k.text() for k in part.kids())
                raw = f"{part.name.upper()}({cols})"
            raise ValueError(
                "GROUP BY items must be plain column names or "
                f"TUMBLE/HOP/SESSION(ts, INTERVAL ..), got {raw!r}"
            )
        else:
            groups.append(part.col())
    return groups, [], window


def _source(child: _Node, grouped: bool) -> tuple:
    """(source tables, WHERE text, UNION ALL branches) under an
    aggregate: one table, or — for a grouped aggregate — a
    parenthesized UNION ALL of single-table branches.  The union is
    exact by linearity (a union's signed multiset is the sum of its
    branches'), so each branch is projected row-locally, stacked and
    fed to one aggregate plan, as Flink compiles the same statement."""
    rel, where = _strip_filter(child)
    if rel.name == "UnresolvedRelation":
        return [_rel_name(rel.j)], where, []
    body = rel.sub("child") if rel.name == "SubqueryAlias" else rel
    if body.name == "Distinct" and body.sub("child").name == "Union":
        raise ValueError(
            "only UNION ALL is supported over changelogs (plain UNION's "
            "dedup is a stateful operator of its own — aggregate with "
            "COUNT/GROUP BY instead)"
        )
    if rel.name != "SubqueryAlias" or body.name != "Union":
        raise ValueError(_SHAPES_MSG)
    if not grouped:
        raise ValueError(_UNION_AGG_MSG)
    flat, todo = [], [body]
    while todo:
        n = todo.pop(0)
        if n.name == "Union":
            todo[:0] = n.kids()
        else:
            flat.append(n)
    sources, names, parsed = _branches(
        flat, "UNION ALL", " (it defines the union's output columns)"
    )
    for src, exprs, _w in parsed:
        if len(exprs) != len(names):
            raise ValueError(
                f"UNION ALL branch over {src!r} selects {len(exprs)} "
                f"column(s) but the first branch selects {len(names)} — "
                "branches align positionally"
            )
    return sources, where, [
        (list(zip(exprs, names)), w) for _, exprs, w in parsed
    ]


def _branches(nodes: list, what: str, hint: str = "") -> tuple:
    """Set-operation branches, each ``SELECT <exprs> FROM <table> [WHERE
    p]`` → (sources, the first branch's output names, [(source, expr
    texts, where)]); columns align positionally (SQL's rule)."""
    names, parsed = [], []
    for bi, node in enumerate(nodes):
        rel, where = (
            _strip_filter(node.sub("child")) if node.name == "Project"
            else (node, None)
        )
        if node.name != "Project" or rel.name != "UnresolvedRelation":
            raise ValueError(
                f"cannot parse {what} branch {node.text()[:80]!r}: "
                "expected SELECT <exprs> FROM <table> [WHERE <pred>]"
                + (" (one source table per branch)" if hint else "")
            )
        exprs = []
        for it in node.subs("projectList"):
            expr, alias = _item(it)
            if bi == 0 and (alias or expr.col()) is None:
                raise ValueError(
                    f"first {what} branch item {it.item_text()!r} needs a "
                    f"name: a plain column or <expr> AS <alias>{hint}"
                )
            names += [alias or expr.col()] if bi == 0 else []
            exprs.append(expr.ptext())
        parsed.append((_rel_name(rel.j), exprs, where))
    return [src for src, _, _ in parsed], names, parsed


def _parse_agg(sink: str, q: _Node, items: list, having) -> InsertSelect:
    """Grouped aggregates (plain, DISTINCT, windowed, GROUPING SETS,
    HAVING, UNION ALL input) and the GLOBAL aggregate (no GROUP BY:
    ``group_cols`` stays [] and every select item must aggregate)."""
    grouped = q.name == "Aggregate" and q.j.groupingExpressions().nonEmpty()
    sources, where, branches = _source(q.sub("child"), grouped)
    groups, grouping_sets, window = (
        _group_by(q) if q.name == "Aggregate" else ([], [], None)
    )
    kind, spec = window or (None, None)
    out, aggs, idx = [], {}, [0]
    for it in items:
        expr, alias = _item(it)
        fn, wc = expr.fn(), _window_call(expr)
        if fn in _AGG_FNS and not expr.j.filter().isDefined():
            args = expr.call_args()
            alias = _agg_alias(fn, args, alias, aggs, idx)
            aggs[alias] = (fn, args)
            out.append((None, alias))
        elif wc is not None and wc[1] is not None:
            src = _window_field(
                wc, spec if wc[0] == kind else None, wc[0], "GROUP BY's", expr
            )
            out.append((src, alias or f"w_{wc[1].lower()}"))
        elif fn == "grouping_id" and not expr.kids():
            if not grouping_sets:
                raise ValueError(
                    "GROUPING_ID() is only valid with GROUP BY GROUPING SETS"
                )
            out.append(("__gid", alias or "grouping_id"))
        elif expr.col() is None or expr.col() not in groups:
            raise ValueError(
                f"aggregate select item {it.item_text()!r} is neither a "
                "GROUP BY column, TUMBLE/HOP/SESSION_START/END of the "
                "window, nor FN(expr) with FN in SUM/COUNT/AVG/MIN/MAX"
            )
        else:
            out.append((expr.col(), alias or expr.col()))
    selected = {s for s, _ in out if s is not None}
    missing = [g for g in groups
               if g not in selected and g not in (_W_START, _W_END)]
    if missing:
        raise ValueError(
            "SELECT must project every GROUP BY column (the upsert sink's "
            f"key — Flink requires the same); missing {missing}"
        )
    if window is not None and not selected & {_W_START, _W_END}:
        raise ValueError(
            "a windowed aggregate must project TUMBLE/HOP/CUMULATE/"
            "SESSION_START and/or _END (the window is the sink's key)"
        )
    if not aggs:
        raise ValueError("no aggregate function in the SELECT list")
    if len(grouping_sets) > 1 and "__gid" not in selected:
        raise ValueError(
            "a GROUPING SETS query with more than one set must project "
            "GROUPING_ID() — without it, subtotal rows collide with detail "
            "rows whose group values are NULL in a keyed sink"
        )
    return InsertSelect(
        sink=sink, shape="agg", sources=sources, group_cols=groups,
        aggs=aggs, where=where, select=out, grouping_sets=grouping_sets,
        having=having and _rewrite_having(having.ptext(), aggs, having),
        union_branches=branches, **({kind: spec} if kind else {}),
    )


def _parse_over(sink: str, items: list, child: _Node):
    """The OVER-aggregation shape (Flink's StreamExecOverAggregate:
    ``FN(x) OVER (PARTITION BY k ORDER BY ts [ROWS|RANGE BETWEEN n
    PRECEDING AND CURRENT ROW])``).  None when no item is such an OVER
    aggregate (the calc walker then refuses the window with guidance)."""
    overs = [_over_item(_item(it)[0]) for it in items]
    if not any(overs):
        return None
    out, aggs, idx = [], {}, [0]
    spec = spec_src = None
    for it, ov in zip(items, overs):
        expr, alias = _item(it)
        if ov is None:
            if expr.col() is None:
                raise ValueError(
                    "OVER-shape select items must be plain source columns "
                    "or FN(expr) OVER (<the shared window>), got "
                    f"{it.item_text()!r}"
                )
            out.append((expr.col(), alias or expr.col()))
            continue
        fn, args, wspec, distinct = ov
        order = wspec.subs("orderSpec")[0]
        partition = _names_of(wspec.subs("partitionSpec"), "PARTITION BY")
        if distinct:
            raise ValueError(
                f"{fn.upper()}(DISTINCT ..) OVER is not supported: a "
                "distinct frame aggregate needs per-frame distinct views — "
                "pre-aggregate with GROUP BY FN(DISTINCT ..) instead"
            )
        if order.j.direction().toString() == "Descending":
            raise ValueError(
                "OVER aggregation requires the ORDER BY to be an ASCENDING "
                "time attribute (Flink's StreamExecOverAggregate requires "
                "the same — frames grow forward in event time)"
            )
        rows_n = range_s = None
        frame = wspec.sub("frameSpecification")
        unspecified = frame.name == "UnspecifiedFrame"
        lower = None if unspecified else frame.sub("lower")
        if lower is not None and lower.name != "UnboundedPreceding":
            bound = lower.kids()[0]  # UNBOUNDED is the accumulator form
            if frame.j.frameType().toString() == "RowFrame":
                if not bound.text().isdigit():
                    raise ValueError(
                        "ROWS frame bound must be an integer or UNBOUNDED, "
                        f"got {bound.text()!r}"
                    )
                rows_n = int(bound.text())
            else:
                range_s = _interval(bound)
                if range_s is None:
                    raise ValueError(
                        "RANGE frame bound must be INTERVAL '<n>' <unit> or "
                        f"UNBOUNDED, got {bound.text()!r}"
                    )
        this_spec = (tuple(partition), order.kids()[0].col(), rows_n, range_s)
        if spec is None:
            spec, spec_src = this_spec, expr.ptext()
        elif spec != this_spec:
            raise ValueError(
                "all OVER windows of one SELECT must be identical (Flink's "
                "StreamExecOverAggregate compiles ONE over window per "
                f"query): {expr.ptext()!r} differs from {spec_src!r} — "
                "split differing windows into separate statements"
            )
        alias = _agg_alias(fn, args, alias, aggs, idx)
        aggs[alias] = (fn, args)
        out.append((None, alias))
    rel, where = _strip_filter(child)
    return InsertSelect(
        sink=sink, shape="over", sources=[_rel_name(rel.j)], aggs=aggs,
        where=where, select=out,
        over={"partition": list(spec[0]), "order": spec[1],
              "rows": spec[2], "range": spec[3]},
    )


def _over_item(expr: _Node):
    """(fn, args text, window spec, is DISTINCT) when ``expr`` is
    ``FN(x) OVER (PARTITION BY .. ORDER BY <col> [ASC|DESC] [ROWS|RANGE
    BETWEEN .. PRECEDING AND CURRENT ROW])`` with FN in
    SUM/COUNT/AVG/MIN/MAX/LAG; else None."""
    if expr.name != "WindowExpression":
        return None
    fn, wspec = expr.sub("windowFunction"), expr.sub("windowSpec")
    orders = wspec.subs("orderSpec")
    if (
        fn.fn() not in _AGG_FNS + ("lag",) or not wspec.subs("partitionSpec")
        or len(orders) != 1 or orders[0].kids()[0].col() is None
    ):
        return None
    frame = wspec.sub("frameSpecification")
    if frame.name == "SpecifiedWindowFrame":
        lower = frame.sub("lower")
        if frame.sub("upper").name != "CurrentRow" or not (
            lower.name == "UnboundedPreceding" or lower.name == "UnaryMinus"
            and lower.kids()[0].name == "Literal"
        ):
            return None
    elif frame.name != "UnspecifiedFrame":
        return None
    return fn.fn(), fn.call_args(), wspec, fn.j.isDistinct()


def _parse_calc(sink: str, items: list, child: _Node) -> InsertSelect:
    """Row-local calc: ``SELECT <exprs> FROM t [WHERE p]`` with no GROUP
    BY and no aggregate call — Flink's StreamExecCalc.  σ and projection
    are linear over signed multisets, so the plan is stateless."""
    out = []
    for it in items:
        expr, alias = _item(it)
        raw = it.item_text()
        if expr.has(lambda n: n.name == "WindowExpression"):
            raise ValueError(
                f"cannot parse the OVER clause in {raw!r}; the maintained "
                "OVER subset is FN(x) OVER (PARTITION BY k ORDER BY ts "
                "[ROWS|RANGE BETWEEN n PRECEDING AND CURRENT ROW])"
            )
        if expr.has(lambda n: n.fn() in _AGG_FNS):
            raise ValueError(
                f"select item {raw!r} aggregates but other items are "
                "row-local and there is no GROUP BY — aggregate every item "
                "(a GLOBAL aggregate) or none (a row-local projection)"
            )
        if (alias or expr.col()) is None:
            raise ValueError(
                f"select item {raw!r} needs AS <name>: a plain column or "
                "<expr> AS <alias>"
            )
        out.append((expr.ptext(), alias or expr.col()))
    names = [a for _e, a in out]
    dup = sorted({n for n in names if names.count(n) > 1})
    if dup:
        raise ValueError(f"duplicate output column(s) {dup}")
    rel, where = _strip_filter(child)
    return InsertSelect(
        sink=sink, shape="calc", sources=[_rel_name(rel.j)], where=where,
        calc_exprs=out, select=[(a, a) for a in names],
    )


def _parse_setop(sink: str, q: _Node) -> InsertSelect:
    """``SELECT .. FROM a [WHERE ..] INTERSECT [ALL]|EXCEPT [ALL] SELECT
    .. FROM b [WHERE ..]`` — Flink's streaming set operations (its
    planner rewrites them to stateful count aggregates, which is the
    maintenance plan here).  Two branches; chain more via STATEMENT
    SET."""
    op = q.name.upper()
    if any(s.name in ("Intersect", "Except") for s in q.kids()):
        raise ValueError(
            "one set operation per statement — chain further "
            "INTERSECT/EXCEPT steps through a STATEMENT SET"
        )
    sources, names, parsed = _branches(q.kids(), op)
    if len(parsed[1][1]) != len(names):
        raise ValueError(
            f"{op} branches select {len(parsed[0][1])} vs "
            f"{len(parsed[1][1])} column(s) — branches align positionally"
        )
    return InsertSelect(
        sink=sink, shape="setop", sources=sources,
        select=[(n, n) for n in names],
        union_branches=[(list(zip(e, names)), w) for _, e, w in parsed],
        setop={"op": op.lower(), "all": bool(q.j.isAll())},
    )


def _parse_match(sql: str) -> InsertSelect:
    """The MATCH_RECOGNIZE pre-pass: Flink's CEP clause is outside
    Spark's grammar, so ``_MATCH_RE`` cuts its clauses and
    ``parse_match_pattern_alts`` reads its PATTERN; each DEFINE and
    MEASURES expression is parsed by Catalyst and rewritten as a tree."""
    m = _INSERT_RE.match(sql)
    if not m:
        raise ValueError(_NOT_INSERT_MSG)
    sink = m.group("sink").strip('`"')
    select = m.group("select").strip()
    mm = _MATCH_RE.match(select)
    if not mm:
        # the statement clearly wants CEP but missed the grammar —
        # refuse with the supported form instead of the generic error
        raise ValueError(
            "cannot parse the MATCH_RECOGNIZE clause; the maintained "
            "subset is: SELECT <partition cols / measure names> FROM "
            "<t> MATCH_RECOGNIZE (PARTITION BY <cols> ORDER BY <rowtime "
            "ASC> MEASURES [RUNNING|FINAL] <V.x exprs / CLASSIFIER() / "
            "MATCH_NUMBER()> AS <name>, .. [ONE ROW | ALL "
            "ROWS PER MATCH] AFTER MATCH "
            "SKIP TO NEXT ROW | SKIP PAST LAST ROW | SKIP TO "
            "FIRST/LAST <var> PATTERN "
            "(<vars with optional + * ? {n,m} quantifiers, reluctant "
            "with a trailing ?, {- excluded -} segments>) WITHIN "
            "INTERVAL '<n>' <unit> DEFINE <V> AS <pred>, ..)"
        )

    from flink_cdc_2_3_0_src_spark.operators.maintain import (
        parse_match_pattern_alts,
    )

    branches, excluded = parse_match_pattern_alts(
        mm.group("pattern")
    )
    pat_vars = []
    for br in branches:
        for v, _mn, _mx, _g in br:
            if v not in pat_vars:
                pat_vars.append(v)
    sk_words = mm.group("skip").upper().split()
    if sk_words[0] == "PAST":
        skip_opt = "past_last"
    elif sk_words[:2] == ["TO", "NEXT"]:
        skip_opt = "to_next"
    else:  # TO FIRST <var> | TO LAST <var>  (r12)
        skip_opt = (
            ("to_first " if sk_words[1] == "FIRST" else "to_last ")
            + sk_words[2]
        )
    all_rows = (mm.group("rpm") or "ONE").upper().startswith("ALL")
    defines = _parse_match_defines(mm.group("defines"), pat_vars)
    partition = _names(mm.group("partition"), "PARTITION BY")
    within = f"{mm.group('wn')} {mm.group('wu').lower()}s"
    order = mm.group("order").strip('`"')
    src = mm.group("src").strip('`"')
    parsed = []
    for raw in _split_select_items(mm.group("measures")):
        expr, alias = _split_alias(raw)
        if alias is None:
            raise ValueError(
                f"MEASURES item {raw!r} needs AS <name>"
            )
        if alias in partition:
            raise ValueError(
                f"measure name {alias!r} collides with a PARTITION "
                "BY column"
            )
        # SQL:2016 RUNNING/FINAL semantics prefix (r13): whole-
        # measure only.  With ONE ROW PER MATCH the evaluation
        # point is after the last row, where RUNNING and FINAL
        # coincide (SQL:2016) — both prefixes reduce to the
        # final rewrite.  Under ALL ROWS PER MATCH this engine's
        # DEFAULT is FINAL (a documented deviation from the
        # standard's running default, pinned by the r12 all-rows
        # oracle row); RUNNING opts into per-row cumulation.
        sem = "final"
        pm = re.match(r"(?is)^\s*(RUNNING|FINAL)\b(.*)$", expr)
        if pm:
            sem = pm.group(1).lower()
            expr = pm.group(2).strip()
        if re.search(r"(?i)\b(?:RUNNING|FINAL)\b", expr):
            raise ValueError(
                f"measure {alias!r}: RUNNING/FINAL must prefix "
                "the WHOLE measure expression (per-call "
                "semantics modifiers are not supported)"
            )
        node = _Node(catalyst_parse(expr, "expression"), expr)
        parsed.append((node, alias, sem))
    trees = {
        v: _Node(catalyst_parse(d, "expression"), d)
        for v, d in defines.items()
    }
    # FIRST/LAST/SUM/... measure forms need the NFA's per-match
    # aggregate frame; plain A.x/B.x row measures on PATTERN (A B)
    # + SKIP TO NEXT ROW ride the pure-JVM LEAD plan (which also
    # allows cross-variable DEFINEs — the pair is in scope there)
    uses_agg_measures = any(
        n.has(lambda x: _var_call(x, _VAR_AGGS)) for n, _a, _s in parsed
    )
    # PREV navigation is the NFA plan's (it precomputes LAG
    # columns); the LEAD-frame plan has no physical-row axis
    uses_prev = any(
        t.has(lambda n: n.fn() == "prev") for t in trees.values()
    )
    two_step = (
        skip_opt == "to_next"
        and not all_rows
        and branches == [[("A", 1, 1, True), ("B", 1, 1, True)]]
        and set(defines) == {"A", "B"}
        and not uses_agg_measures
        and not uses_prev
        and not excluded
    )
    measures = []
    for node, alias, sem in parsed:
        clause = f"measure {alias!r}"
        if two_step:
            measures.append((_rewrite_match_refs(node, clause), alias))
        elif sem == "running" and all_rows:
            measures.append((
                _rewrite_nfa_measure(
                    node, pat_vars, clause, running=True, order=order
                ),
                alias, "running",
            ))
        else:
            measures.append((
                _rewrite_nfa_measure(node, pat_vars, clause, order=order),
                alias,
            ))
    out_names = list(partition) + [m[1] for m in measures]
    items = []
    for raw in _split_select_items(mm.group("items")):
        expr, alias = _split_alias(raw)
        im = _IDENT.match(expr)
        # ALL ROWS PER MATCH (r12) additionally exposes every
        # SOURCE column — those resolve at plan time, so only the
        # identifier shape is checked here
        if not im or (not all_rows and im.group("name") not in out_names):
            raise ValueError(
                f"MATCH_RECOGNIZE select items must be PARTITION BY "
                f"columns or measure names ({out_names})"
                + (" or source columns" if all_rows else "")
                + f", got {raw!r}"
            )
        items.append((im.group("name"), alias or im.group("name")))
    if two_step:
        # PATTERN (A B) + SKIP TO NEXT ROW: the LEAD-window plan —
        # pure JVM, and its DEFINE B may reference the A row (the
        # pair is in scope)
        define_a = _rewrite_match_refs(trees["A"], "DEFINE A")
        return InsertSelect(
            sink=sink, shape="match", sources=[src], select=items,
            match={
                "partition": partition, "order": order,
                "within": within, "define_a": define_a,
                "define_b": _rewrite_match_refs(trees["B"], "DEFINE B"),
                "measures": measures,
            },
        )
    # general pattern → the per-key NFA plan: defines evaluate
    # against the row being classified only
    nfa_defines = {
        v: _rewrite_nfa_define(t, v, pat_vars) for v, t in trees.items()
    }
    return InsertSelect(
        sink=sink, shape="match_nfa", sources=[src], select=items,
        match_nfa={
            "partition": partition, "order": order,
            # the ORIGINAL pattern text: the plan re-parses the
            # full grammar (alternation / PERMUTE / {- -}), so
            # exclusions need no side channel
            "within": within, "pattern": mm.group("pattern"),
            "defines": nfa_defines, "measures": measures,
            "skip": skip_opt,
            "rows_per_match": "all" if all_rows else "one",
        },
    )


# Flink's MATCH_RECOGNIZE (CEP SQL — StreamExecMatch / CepOperator).
# PATTERN (A B) + SKIP TO NEXT ROW dispatches the LEAD-window two-step
# plan; general patterns (greedy quantifiers, >2 variables, SKIP PAST
# LAST ROW) dispatch the per-key NFA plan (_MatchNfaPlan).
_MATCH_RE = re.compile(
    r"(?is)^SELECT\s+(?P<items>.*?)\s+FROM\s+(?P<src>[`\"\w.]+)\s+"
    r"MATCH_RECOGNIZE\s*\(\s*"
    r"PARTITION\s+BY\s+(?P<partition>.*?)\s+"
    r"ORDER\s+BY\s+(?P<order>[`\"]?\w+[`\"]?)(?:\s+ASC)?\s+"
    r"MEASURES\s+(?P<measures>.*?)\s+"
    r"(?:(?P<rpm>ONE\s+ROW|ALL\s+ROWS)\s+PER\s+MATCH\s+)?"
    r"AFTER\s+MATCH\s+SKIP\s+(?P<skip>TO\s+NEXT\s+ROW|PAST\s+LAST\s+ROW|"
    r"TO\s+(?:FIRST|LAST)\s+\w+)\s+"
    r"PATTERN\s*\(\s*(?P<pattern>(?:[^()]|\([^()]*\))*)\)\s+"
    r"WITHIN\s+INTERVAL\s+'(?P<wn>\d+)'\s+"
    r"(?P<wu>SECOND|MINUTE|HOUR|DAY)S?\s+"
    r"DEFINE\s+(?P<defines>.*?)\s*"
    r"\)\s*(?:AS\s+\w+)?\s*;?\s*$"
)


def _rewrite_match_refs(node: _Node, clause: str) -> str:
    """``A.<col>`` → ``<col>``, ``B.<col>`` → ``__b.<col>`` (variables
    are case-insensitive, like the grammar) — the pair frame's physical
    names (the A row is the current row, the B row the LEAD struct).
    Unknown qualifiers refuse, and so do UNQUALIFIED column refs: the
    SQL standard binds them to the row being classified, which the
    rewritten frame cannot honor (they would silently evaluate against
    the A row) — qualify every column with A. or B."""
    refs = [n for n in node.walk() if n.name == "UnresolvedAttribute"]
    bad_q = {
        n.qref()[0] for n in refs
        if n.qref() and n.qref()[0].upper() not in ("A", "B")
    }
    if bad_q:
        raise ValueError(
            f"{clause} references unknown pattern variable(s) "
            f"{sorted(bad_q)}; the pattern defines A and B"
        )
    bare = {n.col() for n in refs if n.col()}
    if bare:
        raise ValueError(
            f"{clause} contains unqualified column reference(s) "
            f"{sorted(bare)}: qualify every column with A. or "
            "B. — the SQL standard binds bare names to the row "
            "being classified, which the maintained LEAD frame "
            "cannot honor"
        )

    def repl(n):
        q = n.qref()
        if q:
            return q[1] if q[0].upper() == "A" else f"__b.{q[1]}"
        return None

    return node.splice(repl, outer=True)


def _parse_match_defines(defines_sql: str, pat_vars: list) -> dict:
    """``A AS <pred>, B AS <pred>, ...`` (top-level commas) →
    ``{VAR: pred}``.  A pattern variable with no DEFINE matches any
    row (SQL:2016); a DEFINE naming a variable absent from the
    pattern refuses."""
    out = {}
    for raw in _split_select_items(defines_sql):
        dm = re.match(r"(?is)^([A-Za-z_]\w*)\s+AS\s+(.+)$", raw.strip())
        if not dm:
            raise ValueError(
                f"cannot parse DEFINE item {raw!r}: expected "
                "<variable> AS <predicate>"
            )
        var = dm.group(1).upper()
        if var not in pat_vars:
            raise ValueError(
                f"DEFINE names variable {var!r} not in the pattern "
                f"({pat_vars})"
            )
        if var in out:
            raise ValueError(f"duplicate DEFINE for variable {var!r}")
        out[var] = dm.group(2).strip()
    return out


def _rewrite_nfa_define(node: _Node, var: str, pat_vars: list) -> str:
    """DEFINE rewrite for the NFA plan.  ``PREV(V.col[, k])`` is
    physical row navigation (the k-th previous INPUT row per key —
    which for contiguous patterns is the previous row of the match)
    and may qualify with ANY pattern variable; it rewrites to the
    plan's ``PREV(col[, k])`` form, which becomes a JVM LAG column.
    Everything else passes through: the plan itself binds ``<var>.col``
    and bare identifiers to the row being classified (SQL:2016),
    and (r12) evaluates cross-variable references — ``V.col``,
    ``FIRST/LAST(V.col[, k])`` — against the partial match's bound
    rows inside the NFA scan.  Unknown qualifiers refuse here, with
    the full statement context."""
    upper_vars = {v.upper() for v in pat_vars}
    quals = set()

    def repl(n):
        args = n.kids() if n.fn() == "prev" else []
        k = args[1].uint() if len(args) == 2 else None
        if args[:1] and args[0].qcol() and (len(args) == 1 or k is not None):
            q, col = args[0].qcol()
            if q.upper() not in upper_vars:
                raise ValueError(
                    f"DEFINE {var}: PREV qualifies with unknown pattern "
                    f"variable {q!r}; the pattern defines {pat_vars}"
                )
            return f"PREV({col}{'' if k is None else f', {k}'})"
        if n.qref():
            quals.add(n.qref()[0].upper())
        return None

    out = node.splice(repl, outer=True)
    if quals - upper_vars:
        raise ValueError(
            f"DEFINE {var} references unknown qualifier(s) "
            f"{sorted(quals - upper_vars)}; the pattern defines {pat_vars}"
        )
    return out


#: measure aggregates over one pattern variable's matched rows:
#: FIRST/LAST (positional) and SUM/MIN/MAX/AVG/COUNT (set)
_VAR_AGGS = ("first", "last", "sum", "min", "max", "avg", "count")


#: the cumulative frame RUNNING-semantics measures evaluate over —
#: ``__mkey`` = struct(partition cols, __match_id), added by the NFA
#: plan's measure step, so the rewrite needs no knowledge of the
#: statement's PARTITION BY columns
_NFA_RUNNING_W = (
    "OVER (PARTITION BY __mkey ORDER BY __pos ROWS BETWEEN "
    "UNBOUNDED PRECEDING AND CURRENT ROW)"
)


def _rewrite_nfa_measure(
    expr,
    pat_vars: list,
    clause: str,
    running: bool = False,
    order: str = None,
) -> str:
    """MEASURES rewrite for the NFA plan (``expr`` is the measure's text
    or its parsed node): aggregate calls over one variable's rows
    become ``FILTER (WHERE __var = '<V>')`` SQL aggregates over the
    exploded match frame (payload + ``__var`` / ``__pos``), evaluated
    JVM-side per (key, match):

    * ``FIRST(V.c)`` → ``min_by(c, __pos) FILTER ...`` and ``LAST`` →
      ``max_by`` (ONE ROW PER MATCH final semantics)
    * ``SUM/MIN/MAX/AVG(V.c)``, ``COUNT(V.c)``, ``COUNT(V.*)`` →
      the same aggregate FILTERed to the variable's rows
    * a bare ``V.c`` outside an aggregate = ``LAST(V.c)`` (SQL:2016's
      final-LAST default for one-row-per-match output)

    Arbitrary SQL may surround and combine the rewritten aggregates
    (``LAST(C.ts) - FIRST(A.ts)``).

    ``running=True`` (r13, ALL ROWS PER MATCH only): each aggregate
    becomes a CUMULATIVE window over the match's rows up to the
    current one — ``sum(CASE WHEN __var = 'V' THEN c END) OVER
    (... ROWS UNBOUNDED PRECEDING .. CURRENT ROW)`` (FILTER is not
    valid on window aggregates, so the variable gate moves into a
    CASE), FIRST/LAST via ignore-nulls ``first``/``last``; a bare
    ``V.c`` = RUNNING LAST.  Logical offsets and aggregate calls not
    of the ``<agg>(V.col)`` form refuse (no per-row cumulative
    rendering)."""
    node = expr if isinstance(expr, _Node) else _Node(
        catalyst_parse(expr, "expression"), expr
    )
    nodes = list(node.walk())
    fns = {n.fn() for n in nodes}
    if "prev" in fns:
        raise ValueError(
            f"{clause}: PREV navigation is DEFINE-only in the "
            "maintained subset; project the row's own column with "
            "FIRST/LAST(V.col) instead"
        )
    # an unqualified column binds to "the row" in SQL:2016, which a
    # per-match aggregate frame cannot honor
    bare = {n.col() for n in nodes if n.col()}
    if bare:
        raise ValueError(
            f"{clause} contains unqualified column reference(s) "
            f"{sorted(bare)}: qualify every column with a "
            "pattern variable (V.col), optionally wrapped in "
            "FIRST/LAST/SUM/MIN/MAX/AVG/COUNT(V.col)"
        )
    if "match_rowtime" in fns and order is None:
        raise ValueError(
            f"{clause}: MATCH_ROWTIME() needs the statement's "
            "ORDER BY rowtime (bridge-only function)"
        )
    if "match_proctime" in fns:
        raise ValueError(
            f"{clause}: MATCH_PROCTIME() is processing-time "
            "(nondeterministic under replay) — use "
            "MATCH_ROWTIME() for the match's event time"
        )
    # every aggregate call of a RUNNING measure must be the
    # <agg>(V.col) form — an unqualified count(*)/sum(x) has no
    # cumulative per-variable rendering
    if running and any(
        n.call(_VAR_AGGS) and not _var_call(n, _VAR_AGGS) for n in nodes
    ):
        raise ValueError(
            f"{clause}: RUNNING measures support only "
            "<agg>(V.col) aggregate forms (FIRST/LAST/SUM/"
            "MIN/MAX/AVG/COUNT over one pattern variable's "
            "column)"
        )
    upper_vars = {v.upper() for v in pat_vars}

    def agg_sql(fn, var, col, off):
        if var not in upper_vars:
            raise ValueError(
                f"{clause} references unknown pattern variable "
                f"{var!r}; the pattern defines {pat_vars}"
            )
        if off is not None and fn not in ("FIRST", "LAST"):
            raise ValueError(
                f"{clause}: {fn} takes no logical offset — only "
                "FIRST/LAST(V.col, k) navigate"
            )
        if col == "*" and fn != "COUNT":
            raise ValueError(
                f"{clause}: {fn}({var}.*) is not valid SQL — "
                "only COUNT takes a star"
            )
        if running:
            if off is not None:
                raise ValueError(
                    f"{clause}: RUNNING {fn} with a logical "
                    "offset is not supported — drop the offset "
                    "or use FINAL semantics"
                )
            inner = "1" if col == "*" else col
            case = f"CASE WHEN __var = '{var}' THEN {inner} END"
            if fn in ("FIRST", "LAST"):
                return f"{fn.lower()}({case}, true) {_NFA_RUNNING_W}"
            return f"{fn.lower()}({case}) {_NFA_RUNNING_W}"
        filt = f" FILTER (WHERE __var = '{var}')"
        if fn in ("FIRST", "LAST") and off is not None:
            # logical offset k (SQL:2016 / Flink's LAST(A.price,
            # 1)): the k-th row from the first/last row bound to
            # the variable — materialize the variable's rows in
            # __pos order and index from the matching end;
            # out-of-range navigation is SQL NULL (try_element_at)
            idx = off + 1 if fn == "FIRST" else -(off + 1)
            return (
                "try_element_at(array_sort(collect_list("
                f"named_struct('p', __pos, 'v', {col})){filt}), "
                f"{idx}).v"
            )
        if fn in ("FIRST", "LAST"):
            by = "min_by" if fn == "FIRST" else "max_by"
            return f"{by}({col}, __pos)" + filt
        return f"{fn.lower()}({col})" + filt

    def repl(n):
        fn = n.fn()
        # SQL:2016 CLASSIFIER() / MATCH_NUMBER() (r13).  MATCH_NUMBER
        # numbers matches sequentially within the partition: the
        # plan's per-key __match_id enumerates the CURRENT pool's
        # matches, and __mn_base (plan state) counts the matches
        # already pruned out of the pool — their sum is the lifetime
        # sequence number (pruned matches are always a numbering
        # PREFIX, so the base telescopes across batches).  CLASSIFIER
        # under RUNNING semantics is the row's OWN pattern variable,
        # under the engine's FINAL default the LAST row's (the same
        # final-vs-running discipline as every measure).
        if fn == "match_number":
            base = "__mn_base" if running else "min(__mn_base)"
            return f"(__match_id + {base} + 1)"
        if fn == "classifier":
            return "__var" if running else "max_by(__var, __pos)"
        # MATCH_ROWTIME() (Flink parity): the match's event time =
        # the LAST matched row's rowtime; under RUNNING semantics the
        # rowtime so far is the current row's own
        if fn == "match_rowtime":
            return order if running else f"max({order})"
        agg = _var_call(n, _VAR_AGGS)
        if agg:
            return agg_sql(agg[0], agg[1].upper(), *agg[2:])
        q = n.qref()
        if q is None:
            return None
        if q[0].upper() not in upper_vars:
            raise ValueError(
                f"{clause} references unknown pattern variable "
                f"{q[0]!r}; the pattern defines {pat_vars}"
            )
        if running:
            # bare V.c ≡ RUNNING LAST(V.c) — the most recent
            # V-row value at each output row (SQL:2016)
            return (
                f"last(CASE WHEN __var = '{q[0].upper()}' THEN {q[1]} "
                f"END, true) {_NFA_RUNNING_W}"
            )
        return (
            f"max_by({q[1]}, __pos) FILTER (WHERE __var = "
            f"'{q[0].upper()}')"
        )

    return node.splice(repl, outer=True)


def _rewrite_having(having: str, aggs: dict, node: "_Node" = None) -> str:
    """HAVING over the maintained aggregate: rewrite each aggregate
    call (``SUM(weight)``) to its output alias so the predicate
    evaluates against the plan's delta/result columns.  The predicate
    is row-local on RESULT rows, so filtering the signed delta stream
    with it is exact: a group crossing the bound emits only the side of
    its ±pair that satisfies the predicate — the retraction when it
    leaves, the insert when it enters.

    Calls are found in Catalyst's parse of the predicate (``node``, or
    a fresh parse of ``having``), so ``array_min(x)`` and text inside
    string literals are never rewritten."""
    if node is None:
        node = _Node(catalyst_parse(having, "expression"), having)
    base = node.wrapped()[0]
    reps, leftover = [], []

    def visit(n: _Node) -> None:
        fn = n.fn()
        if fn in _AGG_FNS:
            args = n.call_args().lower()
            for alias, (afn, aargs) in aggs.items():
                if (afn, aargs.lower()) == (fn, args) and not (
                    n.j.filter().isDefined()
                ):
                    reps.append((n.span(), alias))
                    return
            leftover.append(n)
        for k in n.kids():
            visit(k)

    visit(node)
    if leftover:
        t = leftover[0].text()
        raise ValueError(
            f"HAVING references an aggregate not in the SELECT list "
            f"(near {t[: t.index('(') + 1]!r}); the maintained sink only "
            "carries the SELECT's aggregates — add it to the SELECT or "
            "reference an existing output alias"
        )
    out = having
    for (s, e), alias in sorted(reps, reverse=True):
        out = out[: s - base] + alias + out[e + 1 - base :]
    return out


def _names(csv: str, what: str) -> list:
    out = []
    for part in csv.split(","):
        m = _IDENT.match(part.strip())
        if not m:
            raise ValueError(
                f"{what} items must be plain column names, got {part.strip()!r}"
            )
        out.append(m.group("name"))
    return out


def _table_meta(tables: dict, name: str):
    """(primary_key, apply_computed) for a registered source: accepts a
    ResolvedTable (full DDL surface), a plain primary-key sequence, or
    a dict ``{"primary_key": [...][, "rowtime": <col>]}`` (the light
    registration form for versioned tables outside the DDL surface)."""
    if name not in tables:
        raise ValueError(
            f"unknown table {name!r}; registered: {sorted(tables)}"
        )
    t = tables[name]
    if hasattr(t, "primary_key"):
        return list(t.primary_key), t.apply_computed
    if isinstance(t, dict):
        return list(t.get("primary_key", [])), (lambda df: df)
    return list(t), (lambda df: df)


def _table_rowtime(tables: dict, name: str) -> Optional[str]:
    """The registered table's event-time (rowtime) column: a
    ResolvedTable's WATERMARK column, or the ``rowtime`` key of a
    dict registration.  None when undeclared — the temporal join's
    versioned side requires one (Flink derives version boundaries from
    the versioned table's watermark-declared rowtime)."""
    t = tables[name]
    if hasattr(t, "watermark"):
        return t.watermark[0] if t.watermark else None
    if isinstance(t, dict):
        return t.get("rowtime")
    return None


def _where_over_table_state(df: DataFrame, pred_sql: str, op_col: str):
    """WHERE for the TABLE-STATE plans (min/max recompute, Top-N): the
    maintained object is ``filter(materialize(log))``, so a +I/+U image
    FAILING the predicate is rewritten to a ``-D`` tombstone (its key
    left the filtered table) rather than dropped — a dropped +U would
    leave the key's old image live forever, since
    ``_upsert_table_state`` applies only +I/+U/-D and ignores the lone
    surviving -U.  Retraction rows (-U/-D) pass through: a -D of an
    absent key is a no-op, and a -U's work is done by its paired row's
    rewrite.  A NULL predicate counts as failing (SQL WHERE)."""
    keep = F.expr(pred_sql)
    fails = F.col(op_col).isin(OP_INSERT, OP_UPDATE_AFTER) & ~keep.eqNullSafe(
        F.lit(True)
    )
    return df.withColumn(
        op_col, F.when(fails, F.lit(OP_DELETE)).otherwise(F.col(op_col))
    )


def _rewrite_pair_pred(conds: Sequence[str], aliases, resolve) -> Optional[str]:
    """Rewrite alias-qualified references (``a.ts``) in pair predicates
    to their unqualified names in the joined delta frame (join-column
    renames applied via ``resolve``), AND-join the conjuncts.  Only
    known aliases rewrite, only OUTSIDE string literals — ``1.5`` and
    ``'a.b'`` text stays verbatim."""

    def repl(m):
        q, c = m.group(1), m.group(2)
        return resolve(q, c) if q in aliases else m.group(0)

    def rewrite(cond: str) -> str:
        segs = re.split(r"('(?:[^']|'')*')", cond)
        return "".join(
            seg
            if i % 2
            else re.sub(
                r"\b([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*)\b", repl, seg
            )
            for i, seg in enumerate(segs)
        )

    rewritten = ["(" + rewrite(cond) + ")" for cond in conds]
    return " AND ".join(rewritten) if rewritten else None


def _agg_col(fn: str, args: str):
    """(maintain-fn, Column) for one parsed aggregate — COUNT(*) is the
    live-row count; COUNT(expr) becomes a signed non-null-indicator sum
    (SQL semantics on both maintenance plans)."""
    if fn == "count":
        if args == "*":
            return "count", F.lit(1)
        return "sum", F.expr(
            f"CASE WHEN ({args}) IS NOT NULL THEN CAST(1 AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
        )
    return fn, F.expr(args)


class SqlMaintenanceJob:
    """A compiled INSERT-SELECT maintenance job: ``step(batches)`` folds
    one microbatch (dict of per-source changelog DataFrames, full
    retraction form) through the underlying ``maintain()`` plan and into
    the accumulated sink; ``result()`` is the sink's current content
    with the SELECT's column names.  Construct via
    :func:`plan_insert_maintained`."""

    def __init__(self, stmt: InsertSelect, tables: dict,
                 op_col: str = OP_COL, seq_col: str = SEQ_COL,
                 ttl=None) -> None:
        self.stmt = stmt
        self.op_col = op_col
        self.seq_col = seq_col
        self._preps = [_table_meta(tables, s) for s in stmt.sources]
        # rank=1 ordered by the declared rowtime dispatches the dedup
        # plan below; computed ONCE here because the window-ttl rewrite
        # must not fire for it (dedup state rows carry the ORDER BY
        # time column itself — ttl on it forgets winners directly,
        # window columns play no part in its eviction)
        dedup_spec = (
            self._dedup_row_spec(tables) if stmt.shape == "topn" else None
        )
        win_ts = (stmt.tumble or stmt.hop or stmt.cumulate or (None,))[0]
        if (
            stmt.shape in ("agg", "topn")
            and dedup_spec is None
            and win_ts is not None
            and ttl == win_ts
        ):
            # ttl on the window's TIME column means "expire whole
            # CLOSED windows behind the watermark" — Flink's
            # windowed-state eviction.  The eviction keys on the
            # window's END: a window is only complete once the
            # watermark passes its end; keying on start would evict a
            # still-OPEN window (start < watermark < end) mid-
            # aggregation, and an on-time row would then rebuild it
            # from empty, emitting a duplicate-keyed result with no
            # retraction of the earlier one
            ttl = _W_END
        aggs, distinct = {}, {}
        if stmt.shape == "agg":
            # FN(DISTINCT expr) routes to the distinct-view plan
            # (Flink's streaming distinct aggregation); MIN/MAX
            # (DISTINCT x) equals plain MIN/MAX(x) and rides as such.
            # \b (not \s) after DISTINCT: COUNT(DISTINCT(v)) is valid
            # SQL with no whitespace before the expression
            for name, (fn, args) in stmt.aggs.items():
                dm = re.match(r"(?is)^DISTINCT\b\s*(.+)$", args.strip())
                if dm is None:
                    aggs[name] = _agg_col(fn, args)
                elif dm.group(1).strip() == "*":
                    raise ValueError(
                        f"{fn.upper()}(DISTINCT *) is not valid SQL"
                    )
                elif fn in ("min", "max"):
                    aggs[name] = _agg_col(fn, dm.group(1))
                else:
                    distinct[name] = (fn, F.expr(dm.group(1)))
        if stmt.shape == "agg" and stmt.union_branches:
            if stmt.session is not None:
                raise ValueError(
                    "UNION ALL inputs support sum/count/avg/min/max "
                    "(incl. DISTINCT) aggregates and row-local windows "
                    "only — SESSION windows keep PK-keyed table state, "
                    "which a union of tables does not have; aggregate "
                    "per source in a STATEMENT SET and combine the "
                    "sinks instead"
                )
        if stmt.shape == "agg" and stmt.session is not None:
            # merging session windows: always the table-state session
            # plan (arrivals merge sessions, retractions split them —
            # never row-local), keyed by the source PRIMARY KEY; all
            # five aggregate functions recompute per affected group
            keys, _ = self._preps[0]
            if not keys:
                raise ValueError(
                    f"SESSION windows keep table state keyed by the "
                    f"source's PRIMARY KEY, but table {stmt.sources[0]!r} "
                    "declares none"
                )
            ts_col, gap = stmt.session
            # DISTINCT aggregates (r12) recompute from the session
            # plan's materialized table per affected group — exact
            # under session merges/splits with no view state
            self.plan = maintain(
                aggs=aggs,
                group_cols=stmt.group_cols, keys=keys,
                session={
                    "ts": ts_col, "gap": gap,
                    "w_start": _W_START, "w_end": _W_END,
                },
                distinct=distinct or None,
                op_col=op_col, seq_col=seq_col, ttl=ttl,
            )
        elif stmt.shape == "agg" and stmt.grouping_sets:
            # GROUPING SETS: one maintained plan per set, deltas
            # NULL-filled + GROUPING_ID-tagged; min/max and DISTINCT
            # sets ride per-set value-multiset retract plans (r11)
            self.plan = maintain(
                aggs=aggs, group_cols=stmt.group_cols,
                grouping_sets=stmt.grouping_sets, gid_col="__gid",
                distinct=distinct or None,
                op_col=op_col, seq_col=seq_col, ttl=ttl,
            )
        elif stmt.shape == "agg":
            keys, _ = self._preps[0]
            if stmt.union_branches:
                # a union of tables has no single PRIMARY KEY — min/max
                # ride the value-multiset retract plan (keys=None)
                keys = []
            fns = {fn for fn, _ in aggs.values()}
            if stmt.cumulate is not None:
                from flink_cdc_2_3_0_src_spark.operators.maintain import (
                    _gap_micros,
                )

                _, step, size = stmt.cumulate
                step_us, size_us = _gap_micros(step), _gap_micros(size)
                if size_us % step_us != 0 or size_us < step_us:
                    raise ValueError(
                        f"CUMULATE size ({size}) must be a positive "
                        f"integral multiple of step ({step}) — Flink "
                        "requires the same"
                    )
                self._cumulate_n = size_us // step_us
                self._cumulate_step_us = step_us
            # min/max strategy (the agg_auto dichotomy, refined r11):
            # * PK + plain groups/TUMBLE → PK-keyed table recompute
            # * PK + replicating window (HOP/CUMULATE) → (PK, window)-
            #   keyed table state (_WindowedRecomputePlan per-cell
            #   upserts — replication is deterministic per row image)
            # * no PK (PK-less table, UNION ALL), or combined with
            #   DISTINCT aggregates → the value-multiset retract plan
            #   (Flink's Min/MaxWithRetractAggFunction state), which
            #   handles window replication through its signed counts
            replicating = (
                stmt.hop is not None or stmt.cumulate is not None
            )
            use_table_state = bool(
                fns & {"min", "max"} and keys and not distinct
            )
            self.plan = maintain(
                aggs=aggs, group_cols=stmt.group_cols,
                keys=keys if use_table_state else None,
                distinct=distinct or None,
                window_key=(
                    [_W_START, _W_END]
                    if replicating and use_table_state
                    else None
                ),
                op_col=op_col, seq_col=seq_col, ttl=ttl,
            )
        elif stmt.shape == "over":
            # OVER aggregation: append-only input, each row emitted
            # once with its frame aggregate — Flink's
            # StreamExecOverAggregate; the plan validates the frame
            # and refuses updating inputs with guidance.  The ORDER BY
            # must be the source's event-time column: the retained-
            # frame state assumes per-key in-order arrivals w.r.t. it
            # (Flink requires a time attribute outright).  Enforced
            # against the declared rowtime when the table has one;
            # a plain PK-list table leans on the documented contract.
            rowtime = _table_rowtime(tables, stmt.sources[0])
            if rowtime is not None and stmt.over["order"] != rowtime:
                raise ValueError(
                    f"the OVER ORDER BY column {stmt.over['order']!r} "
                    f"must be the source's declared event-time column "
                    f"{rowtime!r} — Flink's StreamExecOverAggregate "
                    "requires a time attribute: frames over a value "
                    "column cannot be maintained from retained arrival "
                    "state"
                )
            self.plan = maintain(
                over={
                    "partition": stmt.over["partition"],
                    "order": stmt.over["order"],
                    "aggs": dict(stmt.aggs),
                    "rows": stmt.over["rows"],
                    "range": stmt.over["range"],
                },
                op_col=op_col, seq_col=seq_col, ttl=ttl,
            )
        elif stmt.shape == "join" and stmt.join_chain:
            # multi-way chain: resolve each stage's ON columns to their
            # names in the ACCUMULATED left frame (a right-side join
            # column is renamed to the earlier column's accumulated
            # name, exactly like the two-way alignment below) — all
            # statically known from the join conditions
            outname: dict = {}

            def _resolve(q: str, c: str) -> str:
                return outname.get((q, c), c)

            self._chain_on, self._chain_renames = [], []
            for stage in stmt.join_chain:
                ons, rns = [], []
                for q, lc, rc in stage["on"]:
                    target = _resolve(q, lc)
                    ons.append(target)
                    if rc != target:
                        rns.append((rc, target))
                        outname[(stage["alias"], rc)] = target
                self._chain_on.append(ons)
                self._chain_renames.append(rns)
            self._join_outname = outname
            alias_set = set(stmt.join_aliases)
            self.plan = maintain(
                chain=[
                    (
                        ons,
                        stage["how"],
                        _rewrite_pair_pred(
                            stage.get("extra") or [], alias_set, _resolve
                        ),
                    )
                    for ons, stage in zip(self._chain_on, stmt.join_chain)
                ],
                op_col=op_col, seq_col=seq_col, ttl=ttl,
            )
        elif stmt.shape == "temporal":
            # FOR SYSTEM_TIME AS OF: the versioned (build) side needs a
            # declared rowtime (its version boundaries) and its PRIMARY
            # KEY fully covered by the ON clause — Flink requires both
            # of an event-time temporal join
            pk_b, _ = self._preps[1]
            btime = _table_rowtime(tables, stmt.sources[1])
            if btime is None:
                raise ValueError(
                    f"the versioned side {stmt.sources[1]!r} of a "
                    "temporal join needs a declared event-time column: "
                    "register it with a WATERMARK clause "
                    "(create_table_source) or as {'primary_key': [...], "
                    "'rowtime': <col>}"
                )
            if not pk_b:
                raise ValueError(
                    f"the versioned side {stmt.sources[1]!r} of a "
                    "temporal join needs a PRIMARY KEY (the version key)"
                )
            on_b = {cb for _, cb in stmt.join_on}
            missing_pk = [k for k in pk_b if k not in on_b]
            if missing_pk:
                raise ValueError(
                    f"a temporal join's ON clause must cover the "
                    f"versioned table's full PRIMARY KEY; missing "
                    f"{missing_pk} (Flink requires the same — versions "
                    "are keyed by it)"
                )
            if btime in on_b:
                raise ValueError(
                    f"the version-time column {btime!r} cannot be a "
                    "join key of the temporal join"
                )
            self._join_filter_sql = None
            self._btime = btime
            pq, pc, _b_al = stmt.temporal
            self.plan = maintain(
                temporal={
                    "on": [ca for ca, _ in stmt.join_on],
                    "ptime": pc, "btime": btime, "how": stmt.join_how,
                },
                op_col=op_col, seq_col=seq_col, ttl=ttl,
            )
        elif stmt.shape == "match":
            # MATCH_RECOGNIZE: the ORDER BY must be the source's event
            # time (the OVER rule — retained-pool adjacency assumes it)
            rowtime = _table_rowtime(tables, stmt.sources[0])
            if rowtime is not None and stmt.match["order"] != rowtime:
                raise ValueError(
                    f"MATCH_RECOGNIZE ORDER BY {stmt.match['order']!r} "
                    f"must be the source's declared event-time column "
                    f"{rowtime!r} (Flink requires a time attribute)"
                )
            self.plan = maintain(
                match=stmt.match, op_col=op_col, seq_col=seq_col,
                ttl=ttl,
            )
        elif stmt.shape == "match_nfa":
            # general-pattern MATCH_RECOGNIZE: same rowtime rule as
            # the two-step plan (the retained-pool NFA assumes it)
            rowtime = _table_rowtime(tables, stmt.sources[0])
            if (
                rowtime is not None
                and stmt.match_nfa["order"] != rowtime
            ):
                raise ValueError(
                    f"MATCH_RECOGNIZE ORDER BY "
                    f"{stmt.match_nfa['order']!r} must be the source's "
                    f"declared event-time column {rowtime!r} (Flink "
                    "requires a time attribute)"
                )
            self.plan = maintain(
                match_nfa=stmt.match_nfa, op_col=op_col,
                seq_col=seq_col, ttl=ttl,
            )
        elif stmt.shape == "setop":
            # INTERSECT/EXCEPT: count-keyed state plan (the branch
            # projections ride union_branches in _prep)
            self.plan = maintain(
                setop=stmt.setop, op_col=op_col, seq_col=seq_col,
                ttl=ttl,
            )
        elif stmt.shape == "calc":
            # row-local projection + filter (r12) — Flink's
            # StreamExecCalc; stateless
            self.plan = maintain(
                calc={"exprs": stmt.calc_exprs, "where": stmt.where},
                op_col=op_col, seq_col=seq_col, ttl=ttl,
            )
        elif stmt.shape == "lookup":
            # processing-time lookup join: no state, the dim's CURRENT
            # snapshot is consulted per batch (step() takes it under
            # the dim table's name)
            self._join_filter_sql = None
            self.plan = maintain(
                lookup={
                    "on": [ca for ca, _ in stmt.join_on],
                    "how": stmt.join_how,
                },
                op_col=op_col, seq_col=seq_col, ttl=ttl,
            )
        elif stmt.shape == "join":
            self._join_filter_sql = None
            if stmt.join_extra:
                a_al, b_al = stmt.join_aliases

                def _resolve2(q, c):
                    if q == b_al:
                        for ca, cb in stmt.join_on:
                            if c == cb:
                                return ca
                    return c

                self._join_filter_sql = _rewrite_pair_pred(
                    stmt.join_extra, {a_al, b_al}, _resolve2
                )
            self.plan = maintain(
                on=[ca for ca, _ in stmt.join_on], how=stmt.join_how,
                op_col=op_col, seq_col=seq_col, ttl=ttl,
            )
        elif stmt.shape == "topn" and dedup_spec:
            # rank = 1 ordered by the source's declared ROWTIME — the
            # deduplication form (Flink's planner compiles exactly this
            # split: rank over a time attribute → StreamExecDeduplicate,
            # rank over a value → StreamExecRank).  State = one row per
            # partition key; no PRIMARY KEY needed.
            order_col, keep = dedup_spec
            projected = {s for s, _ in stmt.select}
            # window start/end are functionally dependent (fixed
            # interval): projecting either identifies the window —
            # the same rule the aggregate shape applies
            win_ok = bool(projected & {_W_START, _W_END})
            missing_keys = [
                k for k in stmt.group_cols
                if k not in projected
                and not (k in (_W_START, _W_END) and win_ok)
            ]
            if missing_keys:
                raise ValueError(
                    f"deduplication SELECT must project the PARTITION BY "
                    f"column(s) {missing_keys} — the winners are keyed "
                    "by them in an upsert sink"
                )
            self.plan = maintain(
                dedup_row={
                    "keys": stmt.group_cols, "order": order_col,
                    "keep": keep,
                },
                op_col=op_col, seq_col=seq_col, ttl=ttl,
            )
        else:  # topn
            keys, _ = self._preps[0]
            if not keys:
                raise ValueError(
                    f"Top-N maintenance keeps table state keyed by the "
                    f"source's PRIMARY KEY, but table {stmt.sources[0]!r} "
                    "declares none"
                )
            missing_keys = [
                k for k in keys if k not in {s for s, _ in stmt.select}
            ]
            if missing_keys:
                raise ValueError(
                    f"Top-N SELECT must project the source's PRIMARY KEY "
                    f"column(s) {missing_keys} — without them, distinct "
                    "top-n members with equal projected values collapse in "
                    "a keyed sink (and a later retraction of one would "
                    "delete the survivor)"
                )
            self.plan = maintain(
                n=stmt.n, order_sql=stmt.order_sql,
                group_cols=stmt.group_cols, keys=keys,
                op_col=op_col, seq_col=seq_col, ttl=ttl,
            )
        # NULL-correct projection of a PADDED side's join column (r11,
        # formerly refused): the maintained frame carries ONE physical
        # column per join key (right side renamed onto left), and an
        # outer stage's PAD rows carry the non-padded side's value in
        # it — but SQL emits NULL there (Flink does too).  The job
        # appends a constant presence column to each padded side whose
        # join column the SELECT projects; pad rows carry NULL in it
        # (the padding delta null-extends the missing side's payload),
        # so the projection rewrites to
        # ``CASE WHEN <pres> IS NULL THEN NULL ELSE <key> END``.
        # Chain stages padding the ACCUMULATED left side (right/full —
        # r12, formerly refused): the presence column attaches to the
        # OWNING side's prep and rides the accumulated frame through
        # later stages as ordinary payload — a later stage's pad rows
        # null-extend it exactly like the rest of that side's columns,
        # and an earlier stage padding the owning side itself also
        # NULLs it (both cases are SQL-NULL projections), so no
        # per-stage threading is needed.
        self._pad_pres: dict = {}   # (alias, col) -> (pres col, phys col)
        self._pres_sides: dict = {}  # prep side index -> pres col name
        if stmt.shape in ("join", "temporal", "lookup"):
            pad = set()
            if stmt.shape == "temporal":
                if stmt.join_how == "left":
                    b_al = stmt.temporal[2]
                    pad |= {(b_al, cb) for _, cb in stmt.join_on}
            elif stmt.shape == "lookup":
                if stmt.join_how == "left":
                    pad |= {(stmt.lookup, cb) for _, cb in stmt.join_on}
            elif stmt.join_chain:
                for stage in stmt.join_chain:
                    if stage["how"] in ("left", "full"):
                        pad |= {
                            (stage["alias"], rc) for _, _, rc in stage["on"]
                        }
                    if stage["how"] in ("right", "full"):
                        # right/full pads the ACCUMULATED left side:
                        # presence on the owning side (r12)
                        pad |= {(q, lc) for q, lc, _ in stage["on"]}
            else:
                a_al, b_al = stmt.join_aliases
                if stmt.join_how in ("left", "full"):
                    pad |= {(b_al, cb) for _, cb in stmt.join_on}
                if stmt.join_how in ("right", "full"):
                    pad |= {(a_al, ca) for ca, _ in stmt.join_on}
            projected = {tuple(src.split(".", 1)) for src, _ in stmt.select}
            for q, c in sorted(projected & pad):
                if stmt.join_chain:
                    side = stmt.join_aliases.index(q)
                    phys = self._join_outname.get((q, c), c)
                elif stmt.shape == "join":
                    a_al, b_al = stmt.join_aliases
                    side = 0 if q == a_al else 1
                    phys = c
                else:
                    side, phys = 1, c  # temporal build / lookup dim
                if side != 0 and phys == c:
                    for ca, cb in stmt.join_on:
                        if c == cb:
                            phys = ca
                            break
                pres = f"__pres_{q}"
                self._pres_sides[side] = pres
                self._pad_pres[(q, c)] = (pres, phys)
        # WHERE application mode: the table-state plans (min/max
        # recompute, Top-N) need failing +I/+U images rewritten to -D
        # tombstones; the stateless delta plan uses a plain row filter
        from flink_cdc_2_3_0_src_spark.operators.maintain import (
            _AggRecomputePlan,
            _SessionPlan,
        )

        self._where_tombstones = stmt.where is not None and (
            (stmt.shape == "topn"
             and getattr(self.plan, "kind", None) == "topn")
            or isinstance(self.plan, (_AggRecomputePlan, _SessionPlan))
        )
        self._state = None
        self._acc: Optional[DataFrame] = None

    def _dedup_row_spec(self, tables):
        """(order col, keep) when this rank-=1 statement is the
        DEDUPLICATION form: ORDER BY the source's declared rowtime
        [ASC→keep-first | DESC→keep-last] — the exact split Flink's
        planner applies (time-attribute rank → StreamExecDeduplicate,
        value rank → StreamExecRank); None routes to Top-N."""
        stmt = self.stmt
        if stmt.shape != "topn" or not stmt.rank_eq:
            return None
        om = re.match(
            r"^[`\"]?(?P<col>\w+)[`\"]?(?:\s+(?P<dir>ASC|DESC))?$",
            stmt.order_sql.strip(), re.IGNORECASE,
        )
        if not om:
            return None
        rowtime = _table_rowtime(tables, stmt.sources[0])
        if rowtime is None or om.group("col") != rowtime:
            return None
        keep = (
            "last"
            if (om.group("dir") or "asc").lower() == "desc"
            else "first"
        )
        return rowtime, keep

    # -- per-batch ---------------------------------------------------
    def _prep(self, i: int, batch: DataFrame) -> DataFrame:
        _, computed = self._preps[i]
        out = computed(batch)
        if self.stmt.union_branches:
            # per-branch projection of a UNION ALL input: row-local, so
            # it commutes with the signed algebra like the WHERE below;
            # branch columns align positionally onto the first branch's
            # output names (SQL's union column rule)
            exprs, where = self.stmt.union_branches[i]
            if where is not None:
                out = out.filter(F.expr(where))
            out = out.select(
                *[F.expr(e).alias(o) for e, o in exprs],
                F.col(self.op_col), F.col(self.seq_col),
            )
            return out
        return self._agg_transforms(out)

    def _agg_transforms(self, out: DataFrame) -> DataFrame:
        if self.stmt.where and self.stmt.shape in ("agg", "topn", "over"):
            if self._where_tombstones:
                # table-state plans: failing +I/+U images become -D
                # tombstones so the key leaves the filtered table (see
                # _where_over_table_state / the module's semantics note)
                out = _where_over_table_state(
                    out, self.stmt.where, self.op_col
                )
            else:
                # stateless signed-delta plan: a plain row filter
                # commutes (the signed algebra balances filtered pairs)
                out = out.filter(F.expr(self.stmt.where))
        if self.stmt.tumble is not None:
            # TUMBLE(ts, INTERVAL ..) → Spark's window() struct, derived
            # per batch (row-local, so it commutes like the WHERE above).
            # NULL event times drop — the family's windowing rule
            # (Flink's window assigner excludes them); without the
            # filter F.window(NULL) yields a NULL window struct and the
            # rows would aggregate/rank inside a ghost NULL bucket
            ts_col, dur = self.stmt.tumble
            w = F.window(F.col(ts_col), dur)
            out = (
                out.filter(F.col(ts_col).isNotNull())
                .withColumn(_W_START, w["start"])
                .withColumn(_W_END, w["end"])
            )
        elif self.stmt.hop is not None:
            # HOP(ts, slide, size) → Spark's sliding window() GENERATOR:
            # each row replicates into its size/slide windows (must go
            # through select, not withColumn).  A changelog row's ±pair
            # replicates identically per window, so the signed algebra
            # holds within every window group
            ts_col, slide, size = self.stmt.hop
            w = F.window(F.col(ts_col), size, slide)
            out = (
                # NULL event times drop — same rule as TUMBLE above
                out.filter(F.col(ts_col).isNotNull())
                .select("*", w.alias("__w"))
                .withColumn(_W_START, F.col("__w.start"))
                .withColumn(_W_END, F.col("__w.end"))
                .drop("__w")
            )
        elif self.stmt.cumulate is not None:
            # CUMULATE(ts, step, size): within each size-aligned bucket
            # [S, S+size) the windows are [S, S+k*step) for k=1..n; a
            # row at t belongs to every window of its bucket whose end
            # is past t.  Row-local, like HOP: replicate via an exploded
            # k-sequence over the size bucket's window() start, then
            # keep the ends past the row's timestamp — a changelog
            # ±pair replicates identically, so the signed algebra holds
            # per (bucket start, window end) group
            ts_col, _step, size = self.stmt.cumulate
            w = F.window(F.col(ts_col), size)
            step_iv = F.expr(
                f"INTERVAL {self._cumulate_step_us} MICROSECOND"
            )
            out = (
                out.filter(F.col(ts_col).isNotNull())
                .withColumn(_W_START, w["start"])
                .select(
                    "*",
                    F.explode(
                        F.sequence(F.lit(1), F.lit(self._cumulate_n))
                    ).alias("__k"),
                )
                .withColumn(_W_END, F.col(_W_START) + step_iv * F.col("__k"))
                .filter(F.col(_W_END) > F.col(ts_col))
                .drop("__k")
            )
        return out

    def step(self, batches: dict) -> DataFrame:
        """Fold one microbatch. ``batches`` maps source table name →
        changelog DataFrame (full-retraction form: +I/-U/+U/-D, with the
        job's op/seq columns).  Returns the batch's signed output delta
        (sink-row membership changes) after folding it into the sink."""
        missing = [s for s in self.stmt.sources if s not in batches]
        if missing:
            raise ValueError(f"step() missing batch for table(s) {missing}")
        if self.stmt.shape == "join" and self.stmt.join_chain:
            first = self._prep(0, batches[self.stmt.sources[0]])
            if 0 in self._pres_sides:
                # presence for the FIRST side when a later right/full
                # stage pads the accumulated frame (r12) — rides the
                # chain as ordinary payload
                first = first.withColumn(self._pres_sides[0], F.lit(1))
            prepped = [first]
            acc_cols = set(prepped[0].columns) - {self.op_col, self.seq_col}
            for i, stage in enumerate(self.stmt.join_chain):
                b = self._prep(i + 1, batches[self.stmt.sources[i + 1]])
                if (i + 1) in self._pres_sides:
                    # presence marker for a padded stage side whose
                    # join column the SELECT projects (see __init__)
                    b = b.withColumn(self._pres_sides[i + 1], F.lit(1))
                for rc, target in self._chain_renames[i]:
                    if target in b.columns:
                        raise ValueError(
                            f"cannot align join column {rc!r} to "
                            f"{target!r}: side {self.stmt.sources[i + 1]!r} "
                            f"already has an unrelated column named "
                            f"{target!r} — rename one of them in the "
                            "source DDL"
                        )
                    b = b.withColumnRenamed(rc, target)
                shared = (
                    set(b.columns)
                    - {self.op_col, self.seq_col}
                    - set(self._chain_on[i])
                ) & acc_cols
                if shared:
                    raise ValueError(
                        f"join stage {i + 1} shares non-key column(s) "
                        f"{sorted(shared)} with the accumulated left side; "
                        "the maintained chain needs distinct non-key "
                        "column names across all sides — rename them in "
                        "the source DDLs"
                    )
                acc_cols |= set(b.columns) - {self.op_col, self.seq_col}
                prepped.append(b)
            self._state, delta = self.plan.step(self._state, *prepped)
        elif self.stmt.shape in ("join", "temporal", "lookup"):
            a = self._prep(0, batches[self.stmt.sources[0]])
            b = self._prep(1, batches[self.stmt.sources[1]])
            # constant presence marker on each padded side whose join
            # column the SELECT projects — pad rows null-extend it, so
            # _select_cols can emit SQL NULL for the padded key
            if 0 in self._pres_sides:
                a = a.withColumn(self._pres_sides[0], F.lit(1))
            if 1 in self._pres_sides:
                b = b.withColumn(self._pres_sides[1], F.lit(1))
            if self.stmt.shape == "join" and self.stmt.join_window:
                # window join: derive each side's tumbling bucket
                # row-locally (changelog ±pairs derive identically, so
                # the signed algebra holds per window cell); NULL event
                # times drop — the family's windowing rule
                (_qa, ts_a), (_qb, ts_b), dur = self.stmt.join_window

                def _win(df, ts_col):
                    w = F.window(F.col(ts_col), dur)
                    return (
                        df.filter(F.col(ts_col).isNotNull())
                        .withColumn(_W_START, w["start"])
                        .withColumn(_W_END, w["end"])
                    )

                a, b = _win(a, ts_a), _win(b, ts_b)
            # merge_join_state equi-joins on same-named columns: align
            # side b's join columns to side a's names — validating the
            # rename is unambiguous and the sides' non-key columns are
            # distinct HERE, where the SQL layer can give actionable
            # advice (merge_join_state's own error talks DataFrames)
            on_a = {ca for ca, _ in self.stmt.join_on}
            for ca, cb in self.stmt.join_on:
                if ca != cb:
                    if ca in b.columns:
                        raise ValueError(
                            f"cannot align join column {cb!r} to {ca!r}: "
                            f"side {self.stmt.sources[1]!r} already has an "
                            f"unrelated column named {ca!r} — rename one of "
                            "them in the source DDL"
                        )
                    b = b.withColumnRenamed(cb, ca)
            shared = (
                (set(a.columns) & set(b.columns))
                - on_a
                - {self.op_col, self.seq_col}
            )
            if shared:
                raise ValueError(
                    f"join sides share non-key column(s) {sorted(shared)}; "
                    "the maintained join needs distinct non-key column "
                    "names across sides — rename them in the source DDLs "
                    "(the SQL surface has no per-item output renaming of "
                    "state columns)"
                )
            self._state, delta = self.plan.step(self._state, a, b)
            if self._join_filter_sql is not None:
                # interval-join bounds etc.: row-local pair predicate on
                # the output delta — exact for the inner join (σ_p is
                # linear over signed multisets); the accumulated sink
                # then materializes σ_p(A ⋈ B)
                delta = delta.filter(F.expr(self._join_filter_sql))
        elif self.stmt.shape == "setop":
            # set operation: per-branch row-local projections (via
            # union_branches), then the count-state plan folds both
            a = self._prep(0, batches[self.stmt.sources[0]])
            b = self._prep(1, batches[self.stmt.sources[1]])
            self._state, delta = self.plan.step(self._state, a, b)
        elif self.stmt.union_branches:
            # UNION ALL: per-branch projected batches stack before the
            # aggregate plan — exact because the signed multiset of a
            # union is the sum of the branches' signed multisets
            combined = None
            for i, src in enumerate(self.stmt.sources):
                b = self._prep(i, batches[src])
                combined = (
                    b if combined is None else combined.unionByName(b)
                )
            self._state, delta = self.plan.step(
                self._state, self._agg_transforms(combined)
            )
        else:
            batch = self._prep(0, batches[self.stmt.sources[0]])
            self._state, delta = self.plan.step(self._state, batch)
        if self.stmt.having is not None:
            # HAVING is row-local on RESULT rows, so it filters the
            # signed delta stream directly: a group crossing the bound
            # keeps exactly the retraction (leaving) or the insert
            # (entering) side of its ±pair — state stays unfiltered
            # (the group keeps aggregating; only emission is gated),
            # which is Flink's semantics for HAVING over an aggregate
            delta = delta.filter(F.expr(self.stmt.having))
        self._state = pin(self._state, fanout=True)
        # the delta is computed ONCE: the fold below materializes the
        # lazy checkpoint and the caller's action reads it back instead
        # of re-running the delta's lineage
        delta = pin(delta)
        # the accumulator ALWAYS nets (even on the first batch): the
        # exchange-free calc plan (r13) may emit un-collapsed same-
        # batch ±pairs of identical projected images — the fold is
        # where multiset consumers net them
        payload = [c for c in delta.columns if c != MULT_COL]
        merged = (
            (delta if self._acc is None else self._acc.unionByName(delta))
            .groupBy(*payload)
            .agg(F.sum(MULT_COL).alias(MULT_COL))
        )
        self._acc = pin(merged.filter(F.col(MULT_COL) != 0), fanout=True)
        return delta

    def delta_changelog(self, delta: DataFrame, batch_id: int) -> DataFrame:
        """Render one ``step()`` delta as an upsert-changelog microbatch
        (the SELECT's output columns + op/seq) ready for the engine's
        exactly-once sinks (``SqlUpsertSink.merge_batch`` /
        ``UpsertParquetSink``) — the last leg of the reference's
        pipeline, where Flink's upsert sink consumes the aggregate's
        retraction stream (MySqlConnectorITCase's `'connector'='values',
        'sink-insert-only'='false'` sink).

        Keyed shapes only (agg / top-n: every live result row has
        multiplicity 1 by the plans' contracts): a −1 row renders as a
        ``-D`` tombstone at seq ``2*batch_id`` and a +1 row as ``+I`` at
        ``2*batch_id + 1``, so a key retracted and re-emitted in the
        same batch compacts to its new image."""
        if self.stmt.shape == "join":
            raise ValueError(
                "join output is a multiset (multiplicities can exceed 1); "
                "feed the join's signed deltas to a multiset consumer, "
                "not a keyed upsert sink"
            )
        if self.stmt.shape == "lookup":
            raise ValueError(
                "lookup-join output is a multiset (a dim key may match "
                "several dim rows); feed the signed deltas to a "
                "multiset consumer, or use an event-time temporal join "
                "(one version per probe) for a keyed changelog"
            )
        if self.stmt.shape in ("match", "match_nfa"):
            raise ValueError(
                "MATCH_RECOGNIZE output is a multiset (distinct "
                "matches can project identical measures); feed the "
                "signed deltas to a multiset consumer"
            )
        if self.stmt.shape == "calc":
            raise ValueError(
                "a row-local projection's output is a multiset "
                "(distinct source rows can project identical images); "
                "feed the signed deltas to a multiset consumer, or "
                "project the source's PRIMARY KEY and materialize "
                "downstream"
            )
        if self.stmt.shape == "setop" and self.stmt.setop["all"]:
            raise ValueError(
                "INTERSECT ALL / EXCEPT ALL output is a multiset "
                "(multiplicities exceed 1); use the DISTINCT form for "
                "a keyed changelog, or feed the signed deltas to a "
                "multiset consumer"
            )
        if self.stmt.shape == "over":
            # append-only enrichment (like temporal): renderable as a
            # keyed +I stream when the source's PRIMARY KEY is
            # projected (each arrival emits exactly once)
            pk, _ = self._preps[0]
            projected = {s for s, _ in self.stmt.select}
            missing = [k for k in pk if k not in projected]
            if not pk or missing:
                raise ValueError(
                    "rendering an OVER aggregation's delta as a "
                    "changelog needs the source table's PRIMARY KEY "
                    "projected "
                    f"(missing {missing if pk else 'a declared PRIMARY KEY'}) "
                    "— with it, the append-only enrichment is a keyed "
                    "insert stream"
                )
        if self.stmt.shape == "temporal":
            # append-only enrichment: renderable as a keyed +I stream
            # when the probe's PRIMARY KEY is projected (each probe row
            # enriches exactly once, so PK-keyed rows are unique)
            pk, _ = self._preps[0]
            a_al = self.stmt.join_aliases[0]
            projected = {s for s, _ in self.stmt.select}
            missing = [k for k in pk if f"{a_al}.{k}" not in projected]
            if not pk or missing:
                raise ValueError(
                    "rendering a temporal join's delta as a changelog "
                    "needs the probe table's PRIMARY KEY projected "
                    f"(missing {missing if pk else 'a declared PRIMARY KEY'}) "
                    "— with it, the append-only enrichment is a keyed "
                    "insert stream"
                )
        cols = self._select_cols()
        neg = delta.filter(F.col(MULT_COL) < 0).select(
            *cols,
            F.lit(OP_DELETE).alias(self.op_col),
            F.lit(2 * batch_id).cast("long").alias(self.seq_col),
        )
        pos = delta.filter(F.col(MULT_COL) > 0).select(
            *cols,
            F.lit(OP_INSERT).alias(self.op_col),
            F.lit(2 * batch_id + 1).cast("long").alias(self.seq_col),
        )
        return neg.unionByName(pos)

    def expire(self, watermark) -> None:
        """State TTL between steps (Flink's table.exec.state.ttl, via
        the underlying plan's ``expire``): evict plan state behind
        ``watermark``.  Requires ``ttl=`` at job construction — the
        event-time column (a per-side pair for the join shape); the
        already-folded sink is NOT retracted (matching Flink, where TTL
        forgets state, not emitted results)."""
        if self._state is None:
            return
        self._state = pin(
            self.plan.expire(self._state, watermark), fanout=True
        )

    def _select_cols(self) -> list:
        """The SELECT's output projection over the delta/result frame,
        resolving alias-qualified join items to the maintained frame's
        unqualified (join-key-aligned) column names."""
        cols = []
        if self.stmt.shape == "join" and self.stmt.join_chain:
            for src, out in self.stmt.select:
                q, c = src.split(".", 1)
                if (q, c) in self._pad_pres:
                    # padded stage side's join column: SQL NULL on pads
                    pres, phys = self._pad_pres[(q, c)]
                    cols.append(
                        F.when(F.col(pres).isNull(), F.lit(None))
                        .otherwise(F.col(phys))
                        .alias(out)
                    )
                    continue
                cols.append(
                    F.col(self._join_outname.get((q, c), c)).alias(out)
                )
        elif self.stmt.shape in ("join", "temporal", "lookup"):
            a, _b = self.stmt.join_aliases
            on_a = {ca for ca, _ in self.stmt.join_on}
            for src, out in self.stmt.select:
                q, c = src.split(".", 1)
                if (q, c) in self._pad_pres:
                    # padded side's join column: SQL NULL on pad rows
                    # (the physical coalesced key carries the matched
                    # side's value; the presence marker is NULL exactly
                    # on the pads)
                    pres, phys = self._pad_pres[(q, c)]
                    cols.append(
                        F.when(F.col(pres).isNull(), F.lit(None))
                        .otherwise(F.col(phys))
                        .alias(out)
                    )
                    continue
                # side b's join columns were renamed to side a's; the
                # delta frame carries unqualified names
                if q != a and c not in on_a:
                    for ca, cb in self.stmt.join_on:
                        if c == cb:
                            c = ca
                            break
                cols.append(F.col(c).alias(out))
        else:
            for src, out in self.stmt.select:
                cols.append(F.col(out if src is None else src).alias(out))
        return cols

    # -- results -----------------------------------------------------
    def result(self) -> DataFrame:
        """Current sink content: accumulated live rows, projected to the
        SELECT's output columns.  Join and temporal outputs keep
        multiset semantics (a live multiplicity m emits m rows, like
        ``delta_join_changelog``); agg/top-n live rows are keyed and
        carry multiplicity 1 by the plans' contracts."""
        if self._acc is None:
            raise ValueError("no batches stepped yet")
        live = self._acc.filter(F.col(MULT_COL) > 0)
        if self.stmt.shape in (
            "join", "temporal", "over", "lookup", "match", "match_nfa",
            "calc",
        ) or (
            self.stmt.shape == "setop" and self.stmt.setop["all"]
        ):
            # multiset semantics: two source rows agreeing on every
            # projected column (and frame aggregate) are two output rows
            live = live.withColumn(
                "__dup",
                F.explode(
                    F.sequence(F.lit(1).cast("long"), F.col(MULT_COL))
                ),
            ).drop("__dup")
        return live.select(*self._select_cols())


def plan_insert_maintained(
    sql: str, tables: dict, op_col: str = OP_COL, seq_col: str = SEQ_COL,
    ttl=None,
) -> SqlMaintenanceJob:
    """Compile an INSERT-SELECT over registered CDC tables into a
    :class:`SqlMaintenanceJob` — the Spark form of submitting the
    statement to Flink's streaming planner.  ``tables`` maps table name
    → :class:`~flink_cdc_2_3_0_src_spark.sources.sql_ddl.ResolvedTable`
    (from ``create_table_source``) or a plain primary-key column list.
    ``ttl`` enables ``job.expire(watermark)`` (Flink's
    table.exec.state.ttl): the event-time column the plan's state keeps
    — a group column for the aggregate shape, a ``(ts_a, ts_b)`` pair
    for the join shape, a table column for Top-N."""
    return SqlMaintenanceJob(parse_insert_select(sql), tables,
                             op_col=op_col, seq_col=seq_col, ttl=ttl)


def explain_insert_maintained(
    sql: str, tables: dict, op_col: str = OP_COL, seq_col: str = SEQ_COL,
    ttl=None,
) -> str:
    """Flink's ``EXPLAIN`` for the maintenance surface: compile the
    statement (same dispatch as :func:`plan_insert_maintained`) and
    describe the chosen incremental plan — shape, plan class, state
    layout, window form, filters — without running any data (an active
    SparkSession is still required: compilation builds the plan's
    Column expressions).  The Spark form of the optimized-plan section
    Flink prints for a streaming INSERT (StreamExecGroupAggregate /
    StreamingJoinOperator / RankOperator and their state specs)."""
    import importlib

    # the operators package re-exports the maintain FUNCTION, shadowing
    # the submodule attribute — resolve the module explicitly
    _m = importlib.import_module(
        "flink_cdc_2_3_0_src_spark.operators.maintain"
    )
    job = SqlMaintenanceJob(
        parse_insert_select(sql), tables,
        op_col=op_col, seq_col=seq_col, ttl=ttl,
    )
    stmt, plan = job.stmt, job.plan
    lines = [f"sink: {stmt.sink}", f"shape: {stmt.shape}"]
    state = {
        _m._AggDeltaPlan: (
            "StreamExecGroupAggregate (signed-delta): state = one row "
            "per group (signed sums + live-row count); per-batch work "
            "= batch + affected groups"
        ),
        _m._DistinctAggPlan: (
            "StreamExecGroupAggregate (distinct views): state = plain "
            "signed sums + one signed (group, value)->count multiset "
            "per DISTINCT aggregate; per-batch work = batch + affected "
            "groups' distinct-value cardinality"
        ),
        _m._AggRecomputePlan: (
            "StreamExecGroupAggregate (min/max recompute): state = "
            "PK-keyed materialized table + group aggregates; per-batch "
            "work = batch + affected groups' sizes"
        ),
        _m._GroupingSetsPlan: (
            "Expand + StreamExecGroupAggregate (grouping sets): one "
            "signed-delta plan per set, deltas NULL-filled to the full "
            "group list + GROUPING_ID bitmask"
        ),
        _m._SessionPlan: (
            "Session window aggregate (MergingWindowAssigner): state = "
            "PK-keyed materialized table + session result rows; "
            "affected groups re-sessionize (gaps-and-islands per group)"
        ),
        _m._JoinPlan: (
            "StreamingJoinOperator: state = one signed multiset per "
            "side; per-batch dJ = dA⋈B_old + A_old⋈dB + dA⋈dB"
        ),
        _m._JoinChainPlan: (
            "Stacked StreamingJoinOperators (left-deep cascade): one "
            "state pair per stage; each stage's output delta feeds the "
            "next, batch-driven end to end"
        ),
        _m._TemporalJoinPlan: (
            "TemporalRowTimeJoinOperator (FOR SYSTEM_TIME AS OF): "
            "state = the versioned side's version history (images + "
            "tombstones, keyed by its PRIMARY KEY); probe rows are "
            "append-only and enrich against the version valid at their "
            "event time; output is append-only"
        ),
        _m._TopNPlan: (
            "RankOperator (streaming Top-N): state = PK-keyed "
            "materialized table + per-group membership; affected "
            "groups re-rank"
        ),
        _m._OverPlan: (
            "StreamExecOverAggregate (OVER aggregation): append-only "
            "input, each arrival emitted once with its frame "
            "aggregate; state = frame-reachable rows per key (bounded "
            "frames) or one accumulator row per key (UNBOUNDED)"
        ),
        _m._LookupJoinPlan: (
            "StreamExecLookupJoin (processing-time lookup join): "
            "append-only probe enriched against the dim table's "
            "CURRENT snapshot per batch; NO operator state (the dim "
            "is re-consulted each batch); output append-only"
        ),
        _m._MatchPlan: (
            "StreamExecMatch (MATCH_RECOGNIZE, PATTERN (A B), SKIP TO "
            "NEXT ROW): state = each key's rows within WITHIN of its "
            "max event time; per batch one LEAD window over affected "
            "keys' pools, diffed exactly"
        ),
        _m._MatchNfaPlan: (
            "StreamExecMatch (MATCH_RECOGNIZE, general pattern — "
            "CepOperator NFA): state = each key's rows within WITHIN "
            "of its max event time; per batch one Arrow-batched "
            "grouped-pandas NFA scan over affected keys' pools "
            "(greedy quantifiers with backtracking, memoized), "
            "measures as FILTER-form SQL aggregates per match, "
            "diffed exactly"
        ),
        _m._SetOpPlan: (
            "Streaming set operation (count-state rewrite): state = "
            "one (cntA, cntB) live-multiplicity row per distinct "
            "payload image; output = signed diff of min / "
            "clamped-difference of the counts"
        ),
        _m._DedupRowPlan: (
            "StreamExecDeduplicate (rowtime deduplication): append-"
            "only input, state = ONE row per partition key; an "
            "out-of-order arrival beating the stored winner retracts "
            "the emitted row and inserts the new one"
        ),
        _m._CalcPlan: (
            "StreamExecCalc (row-local projection + filter): "
            "STATELESS — σ and projection are linear over signed "
            "multisets, so the delta is the mapped batch"
        ),
    }[type(plan)]
    lines.append(f"plan: {state}")
    if stmt.union_branches and stmt.shape != "setop":
        lines.append(
            f"input: UNION ALL of {len(stmt.union_branches)} branches "
            f"over {stmt.sources} (per-branch row-local projection, "
            "signed multisets add)"
        )
    if stmt.tumble:
        lines.append(
            f"window: TUMBLE({stmt.tumble[0]}, {stmt.tumble[1]}) — "
            "row-local bucket group"
        )
    if stmt.hop:
        lines.append(
            f"window: HOP({stmt.hop[0]}, slide {stmt.hop[1]}, size "
            f"{stmt.hop[2]}) — row replication per window"
        )
    if stmt.cumulate:
        lines.append(
            f"window: CUMULATE({stmt.cumulate[0]}, step "
            f"{stmt.cumulate[1]}, size {stmt.cumulate[2]}) — row "
            "replication into remaining bucket windows"
        )
    if stmt.session:
        lines.append(
            f"window: SESSION({stmt.session[0]}, gap {stmt.session[1]}) "
            "— merging windows (plan-side assignment)"
        )
    if stmt.over:
        if stmt.over["rows"] is not None:
            frame = f"ROWS {stmt.over['rows']} PRECEDING"
        elif stmt.over["range"] is not None:
            frame = f"RANGE {stmt.over['range']} PRECEDING"
        else:
            frame = "UNBOUNDED PRECEDING"
        lines.append(
            f"over window: PARTITION BY {stmt.over['partition']} ORDER "
            f"BY {stmt.over['order']} ASC, {frame} AND CURRENT ROW — "
            "append-only in, append-only out"
        )
    if stmt.where:
        mode = (
            "tombstone-rewrite on table state"
            if job._where_tombstones
            else "plain row pre-filter (commutes with signed algebra)"
        )
        lines.append(f"where: {stmt.where!r} — {mode}")
    if stmt.having:
        lines.append(
            f"having: {stmt.having!r} — delta-stream emission gate"
        )
    if stmt.shape == "topn" and isinstance(plan, _m._DedupRowPlan):
        lines.append(
            f"dedup: PARTITION BY {stmt.group_cols} keep-{plan.keep} "
            f"by {plan.order!r} (ties: arrival seq)"
        )
    if stmt.shape == "join" and stmt.join_window:
        (qa, ca), (qb, cb), dur = stmt.join_window
        lines.append(
            f"window join: TUMBLE({qa}.{ca}, {dur}) = "
            f"TUMBLE({qb}.{cb}, {dur}) — per-side row-local buckets as "
            "equi keys"
        )
    if stmt.shape == "match":
        lines.append(
            f"pattern: (A B) within {stmt.match['within']}, PARTITION "
            f"BY {stmt.match['partition']} ORDER BY "
            f"{stmt.match['order']}; defines A: {stmt.match['define_a']!r}"
            f", B: {stmt.match['define_b']!r}"
        )
    if stmt.shape == "match_nfa":
        mn = stmt.match_nfa
        # pattern is the ORIGINAL text (r13 — the plan re-parses the
        # full alternation/PERMUTE/exclusion grammar); tuple patterns
        # from the operator API render back to the quantifier syntax
        if isinstance(mn["pattern"], str):
            pat = re.sub(r"\s+", " ", mn["pattern"].strip())
        else:
            pat = " ".join(
                v
                + (
                    ""
                    if (lo, hi) == (1, 1)
                    else "+"
                    if (lo, hi) == (1, None)
                    else "*"
                    if (lo, hi) == (0, None)
                    else "?"
                    if (lo, hi) == (0, 1)
                    else f"{{{lo},{'' if hi is None else hi}}}"
                )
                + ("" if greedy else "?")
                for v, lo, hi, greedy in mn["pattern"]
            )
        lines.append(
            f"pattern: ({pat}) within {mn['within']}, skip "
            f"{mn['skip']}, "
            f"{mn.get('rows_per_match', 'one')} row(s) per match, "
            f"PARTITION BY {mn['partition']} ORDER BY "
            f"{mn['order']}; defines: {mn['defines']!r}"
        )
    if stmt.shape == "setop":
        lines.append(
            f"set op: {stmt.setop['op'].upper()}"
            f"{' ALL' if stmt.setop['all'] else ''} of {stmt.sources} "
            "— per-branch row-local projections, count-keyed state"
        )
    if stmt.shape == "lookup":
        lines.append(
            f"as of: PROCTIME() — {stmt.lookup} is consulted at its "
            f"current content per batch; {stmt.join_how.upper()} "
            "semantics on missing keys"
        )
    if stmt.shape == "temporal":
        pq, pc, b_al = stmt.temporal
        lines.append(
            f"as of: {pq}.{pc} (probe event time) vs "
            f"{job._btime!r} (version time of {b_al}); "
            f"{stmt.join_how.upper()} semantics on missing versions"
        )
    if stmt.shape == "join" and not stmt.join_chain and stmt.join_extra:
        lines.append(
            f"pair predicates: {stmt.join_extra} — filter on the "
            "output delta (inner join)"
        )
    for i, stage in enumerate(stmt.join_chain):
        extra = f", pair predicates {stage['extra']}" if stage["extra"] else ""
        lines.append(
            f"stage {i + 1}: {stage['how'].upper()} JOIN "
            f"{stmt.sources[i + 1]} AS {stage['alias']} ON "
            f"{stage['on']}{extra}"
        )
    if ttl is not None:
        lines.append(f"state ttl: expire(watermark) keyed on {ttl!r}")
    return "\n".join(lines)


class SqlStatementSet:
    """Flink's STATEMENT SET: several INSERT-SELECTs compiled together,
    where a later statement may read an EARLIER statement's sink — the
    multi-sink pipeline shape (Flink's `EXECUTE STATEMENT SET`, used by
    the reference's e2e SQL jobs to fan one CDC source into derived
    tables).

    Chaining is exact by construction: an upstream job's per-batch
    signed delta renders as an upsert changelog
    (:meth:`SqlMaintenanceJob.delta_changelog` — ``-D`` old result rows
    at seq 2b, ``+I`` new rows at 2b+1), which IS a valid
    full-retraction changelog of the upstream's maintained sink, so the
    downstream plan consumes it like any CDC table (a changed group
    arrives as retract-then-insert).  Join sinks are multisets and
    cannot feed a keyed downstream — ``delta_changelog`` refuses them.

    ``step(batches)`` takes one microbatch per EXTERNAL source table;
    sink-fed sources are produced internally, in statement order.
    ``results()`` maps each sink name to its current content."""

    def __init__(self, statements: Sequence[str], tables: dict,
                 op_col: str = OP_COL, seq_col: str = SEQ_COL) -> None:
        self.jobs: list[SqlMaintenanceJob] = []
        self._sink_keys: dict = {}
        self._batch_no = 0
        known = dict(tables)
        # collision tracking covers ALL sinks, including join-shaped
        # ones that never become readable tables — two statements
        # sharing a sink would silently shadow each other in results()
        all_sinks: set = set()
        for sql in statements:
            stmt = parse_insert_select(sql)
            if stmt.sink in known or stmt.sink in all_sinks:
                raise ValueError(
                    f"statement sink {stmt.sink!r} collides with a "
                    "registered table or an earlier statement's sink"
                )
            all_sinks.add(stmt.sink)
            job = SqlMaintenanceJob(stmt, known, op_col=op_col,
                                    seq_col=seq_col)
            self.jobs.append(job)
            # the sink becomes a readable keyed table for LATER
            # statements: agg sinks key by their projected group
            # columns, top-n sinks by the projected source PK
            if stmt.shape == "agg":
                keys = [
                    out for src, out in stmt.select
                    if src is not None
                ]
            elif stmt.shape == "topn" and getattr(
                job.plan, "kind", None
            ) == "dedup_row":
                # deduplication winners are keyed by the PARTITION BY
                # columns (one winner per key — the dispatch requires
                # them projected, window start/end counting as one)
                keys = [
                    out for src, out in stmt.select
                    if src in stmt.group_cols
                ]
            elif stmt.shape == "topn":
                pk, _ = job._preps[0]
                keys = [out for src, out in stmt.select if src in pk]
            elif stmt.shape == "temporal":
                # an append-only enrichment is a readable keyed table
                # when the probe's PRIMARY KEY is projected (the
                # delta_changelog contract); otherwise it stays a
                # terminal multiset sink
                pk, _ = job._preps[0]
                a_al = stmt.join_aliases[0]
                proj = {src: out for src, out in stmt.select}
                if pk and all(f"{a_al}.{k}" in proj for k in pk):
                    keys = [proj[f"{a_al}.{k}"] for k in pk]
                else:
                    keys = None
            elif stmt.shape == "over":
                # same contract as temporal: an append-only per-row
                # enrichment reads as a keyed table when the source's
                # PRIMARY KEY is projected
                pk, _ = job._preps[0]
                proj = {src: out for src, out in stmt.select}
                if pk and all(k in proj for k in pk):
                    keys = [proj[k] for k in pk]
                else:
                    keys = None
            else:  # join/lookup: multiset output, not a keyed table
                keys = None
            if keys is not None:
                known[stmt.sink] = keys
                self._sink_keys[stmt.sink] = keys
        self.external = sorted(
            {
                s
                for j in self.jobs
                for s in j.stmt.sources
                if s not in self._sink_keys
            }
        )

    def step(self, batches: dict) -> None:
        """Fold one microbatch through every statement in order.
        ``batches`` maps EXTERNAL source table → changelog DataFrame;
        sink-fed inputs are rendered from upstream deltas."""
        missing = [s for s in self.external if s not in batches]
        if missing:
            raise ValueError(f"step() missing batch for table(s) {missing}")
        produced = dict(batches)
        for job in self.jobs:
            delta = job.step({s: produced[s] for s in job.stmt.sources})
            if job.stmt.sink in self._sink_keys:
                produced[job.stmt.sink] = job.delta_changelog(
                    delta, self._batch_no
                )
        self._batch_no += 1

    def results(self) -> dict:
        return {j.stmt.sink: j.result() for j in self.jobs}


def replay_insert_maintained(
    sql: str,
    tables: dict,
    logs: dict,
    n_batches: int = 4,
    op_col: str = OP_COL,
    seq_col: str = SEQ_COL,
) -> DataFrame:
    """Replay full-retraction changelog(s) through a maintenance job in
    ``n_batches`` global-sequence-range batches and return the final
    sink content — which equals running the SELECT over the materialized
    table(s) directly, for ANY batch split (the telescoping invariant
    the maintenance family's tests pin).  Batching and per-step local
    checkpointing follow ``delta_join_changelog``."""
    if n_batches < 1:
        raise ValueError(f"n_batches must be >= 1, got {n_batches}")
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        seq_range_conditions,
    )

    job = plan_insert_maintained(sql, tables, op_col=op_col, seq_col=seq_col)
    names = job.stmt.sources
    # a lookup join's dim side is a SNAPSHOT, not a changelog — it has
    # no seq column and is handed to every step whole (the external
    # table's current content; vary it across steps by stepping
    # manually instead)
    static = {names[1]} if job.stmt.shape == "lookup" else set()
    if n_batches > 1:
        logs = {k: pin(v) for k, v in logs.items()}
    his = [
        logs[t].agg(F.max(seq_col)).collect()[0][0]
        for t in names
        if t not in static
    ]
    hi = max([h for h in his if h is not None], default=None)
    # hi=None (all-empty logs) yields one all-rows condition: a single
    # step over the empty frames still produces the output schema
    for cond in seq_range_conditions(hi, n_batches, seq_col):
        job.step(
            {
                t: (logs[t] if t in static else logs[t].filter(cond))
                for t in names
            }
        )
    return job.result()
