"""SparkSession factory tuned for the CDC engine.

Defaults are chosen for correctness parity with the DuckDB oracle
(UTC session time zone) and for scale (AQE on, skew-join on, partition
coalescing on). On a real cluster the same builder is used with a
cluster master; tests use local[N].
"""

from __future__ import annotations

import os
import re
import threading
from typing import Optional

from pyspark.logger import PySparkLogger
from pyspark.sql import SparkSession

# Tuned defaults. At 100 TB these are overridden per-job, but every value
# here is chosen to survive a scale-up: AQE handles skew + partition count
# at runtime, 128 MB target file split keeps scan partitions memory-safe.
_DEFAULT_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # prefer shuffled-hash over sort-merge when a side's per-partition
    # build fits memory: no sort phase, 2-3x faster on our join shapes;
    # SHJ spills since Spark 3.2 and AQE still falls back per-stage
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    # testdata events.parquet uses TIMESTAMP(NANOS) which the vectorized
    # reader rejects; read as long and convert explicitly (queries.ld)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
}


def get_spark(
    app_name: str = "flink-cdc-spark",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    merged = dict(_DEFAULT_CONF)
    if conf:
        merged.update(conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


class SqlParseError(ValueError):
    """Catalyst refused the SQL text: the user's statement or expression
    is at fault, not the JVM or its py4j transport."""


# PySpark logs a captured SQL error with its JVM stack trace when the
# exception is built (logger SQLQueryContextLogger); catalyst_parse
# reports a refused parse as SqlParseError instead, so the records of
# the thread that is parsing are dropped while it parses.
_PARSING = threading.local()


def _not_parsing(record) -> bool:
    return not getattr(_PARSING, "active", False)


def catalyst_parse(text: str, kind: str = "plan", spark=None):
    """Parse ``text`` with the session's own SQL parser, without
    resolving any name: ``kind="plan"`` returns the unresolved
    LogicalPlan, ``kind="expression"`` the unresolved Expression (both
    py4j handles).  The session is ``spark``, else the active one, else
    :func:`get_spark`'s.  A Catalyst ParseException becomes
    :class:`SqlParseError`, and PySpark's log record of it is dropped;
    a transport or JVM failure propagates as itself, so infrastructure
    errors never read as bad SQL."""
    spark = spark or SparkSession.getActiveSession() or get_spark()
    parser = spark._jsparkSession.sessionState().sqlParser()
    # created as a PySparkLogger: PySpark logs to it with extra keywords
    PySparkLogger.getLogger("SQLQueryContextLogger").addFilter(_not_parsing)
    _PARSING.active = True
    try:
        if kind == "plan":
            return parser.parsePlan(text)
        return parser.parseExpression(text)
    except Exception as exc:
        # PySpark's capture hook turns the JVM error into
        # pyspark.errors.ParseException; an uncaptured call path leaves
        # a raw Py4JJavaError that carries the Java exception instead
        from pyspark.errors import ParseException

        java_exc = getattr(exc, "java_exception", None)
        if not isinstance(exc, ParseException) and (
            java_exc is None
            or "ParseException" not in java_exc.getClass().getName()
        ):
            raise
        raise SqlParseError(str(exc)) from None
    finally:
        _PARSING.active = False


# frame bounds are shared Scala objects (see _Node.shared)
_FRAME_OBJECTS = (
    "UnspecifiedFrame", "CurrentRow", "UnboundedPreceding",
    "UnboundedFollowing",
)


def _seq(jseq) -> list:
    """A Scala Seq handle → a list of its element handles."""
    it, out = jseq.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def _close_paren(text: str, i: int) -> int:
    """Index of the ``)`` matching the ``(`` at ``text[i]`` (string
    literals skipped), or -1."""
    depth, in_str = 0, False
    for j in range(i, len(text)):
        ch = text[j]
        if in_str:
            in_str = ch != "'"
        elif ch == "'":
            in_str = True
        elif ch in "()":
            depth += 1 if ch == "(" else -1
            if depth == 0:
                return j
    return -1


class _Node:
    """One node of Catalyst's unresolved plan or expression, read over
    py4j on demand (every read is a JVM round trip, so reads are
    cached).  ``sql`` is the parsed text; spans index it, taken from the
    parser's origins."""

    __slots__ = ("j", "sql", "_name", "_kids", "_parts", "_span")
    _ORIGIN = re.compile(
        r"^Origin\((?:Some\(\d+\)|None),(?:Some\(\d+\)|None),"
        r"Some\((\d+)\),Some\((\d+)\)"
    )

    def __init__(self, j, sql: str) -> None:
        self.j, self.sql = j, sql
        self._name = self._kids = self._parts = self._span = None

    @property
    def name(self) -> str:
        """Class name: Project, Join, UnresolvedFunction, ..; ``Intersect
        All`` reads as Intersect, ``CurrentRow$`` as CurrentRow."""
        if self._name is None:
            self._name = self.j.nodeName().split(" ")[0].rstrip("$")
        return self._name

    def kids(self) -> list:
        if self._kids is None:
            self._kids = [_Node(c, self.sql) for c in _seq(self.j.children())]
        return self._kids

    def sub(self, field: str) -> "_Node":
        return _Node(getattr(self.j, field)(), self.sql)

    def opt(self, field: str) -> Optional["_Node"]:
        j = getattr(self.j, field)()
        return _Node(j.get(), self.sql) if j.isDefined() else None

    def subs(self, field: str) -> list:
        return [_Node(x, self.sql) for x in _seq(getattr(self.j, field)())]

    def parts(self) -> list:
        """nameParts of an attribute or function (``a.k`` → [a, k])."""
        if self._parts is None:
            self._parts = self.j.nameParts().mkString("\u0001").split("\u0001")
        return self._parts

    def fn(self) -> str:
        """Lower-case name of a function call, else ''."""
        if self.name != "UnresolvedFunction":
            return ""
        return ".".join(self.parts()).lower()

    def col(self) -> Optional[str]:
        """The name of a plain one-part column reference."""
        if self.name == "UnresolvedAttribute":
            p = self.parts()
            return p[0] if len(p) == 1 else None
        return None

    def qcol(self) -> Optional[tuple]:
        """(qualifier, column) of an ``<alias>.<col>`` reference."""
        if self.name == "UnresolvedAttribute":
            p = self.parts()
            return (p[0], p[1]) if len(p) == 2 else None
        return None

    def qref(self) -> Optional[tuple]:
        """(qualifier, the column as written after it) of a qualified
        reference: ``B.v`` → (B, v), ``B.s.f`` → (B, s.f)."""
        if self.name == "UnresolvedAttribute" and len(self.parts()) > 1:
            return self.parts()[0], self.text().partition(".")[2].strip()
        return None

    def uint(self) -> Optional[int]:
        """The value of an unsigned integer literal, else None."""
        t = self.text() if self.name == "Literal" else ""
        return int(t) if t.isdigit() else None

    def call(self, names) -> Optional[tuple]:
        """(lower-case name, argument nodes) of a call to one of
        ``names``, else None.  Spark's grammar reads ``FIRST(x)`` and
        ``LAST(x)`` as First/Last aggregates; they read as the calls
        they are written as."""
        n = self.kids()[0] if self.name == "AggregateExpression" else self
        if n.name in ("First", "Last") and n.name.lower() in names:
            return n.name.lower(), n.kids()
        return (n.fn(), n.kids()) if n.fn() in names else None

    def modified(self) -> bool:
        """Whether a call carries DISTINCT, FILTER or IGNORE NULLS."""
        n = self.kids()[0] if self.name == "AggregateExpression" else self
        if n.name in ("First", "Last"):
            return bool(n.j.ignoreNulls())
        return bool(n.j.isDistinct() or n.j.filter().isDefined())

    def shared(self) -> bool:
        """A Scala object the parser reuses — a frame bound, the TRUE
        and FALSE literals: its origin is wherever it was first built,
        so it has no span."""
        return self.name in _FRAME_OBJECTS or (
            self.name == "Literal"
            and self.j.sql().lower() in ("true", "false")
        )

    def span(self) -> tuple:
        """[start, stop] of the node's text.  A predicate's origin
        (BETWEEN, IN, LIKE, IS NULL) starts at its keyword, after its
        value operand, so the span also covers the first and last
        children's."""
        if self._span is None:
            m = None if self.shared() else self._ORIGIN.match(
                self.j.origin().toString()
            )
            ends = [(int(m.group(1)), int(m.group(2)))] if m else []
            kids = [k for k in self.kids() if not k.shared()]
            for k in {id(x): x for x in kids[:1] + kids[-1:]}.values():
                ends += [k.span()] if k.span() else []
            self._span = (
                (min(e[0] for e in ends), max(e[1] for e in ends))
                if ends else ()
            )
        return self._span

    def text(self) -> str:
        s = self.span()
        return self.sql[s[0] : s[1] + 1] if s else ""

    def wrapped(self) -> tuple:
        """The span grown over each pair of parentheses that encloses
        exactly this node: ``(v > 0)`` keeps the user's parentheses."""
        s, e = self.span()
        sql = self.sql
        while True:
            i, j = s - 1, e + 1
            while i >= 0 and sql[i].isspace():
                i -= 1
            while j < len(sql) and sql[j].isspace():
                j += 1
            if i < 0 or sql[i] != "(" or _close_paren(sql, i) != j:
                return s, e
            s, e = i, j

    def ptext(self) -> str:
        s, e = self.wrapped()
        return self.sql[s : e + 1]

    def item_text(self) -> str:
        """A select item as written: ``<expr> [AS <alias>]``."""
        if self.name == "UnresolvedAlias":
            return self.kids()[0].text()
        if self.name == "Alias":
            return self.sql[self.kids()[0].wrapped()[0] : self.span()[1] + 1]
        return self.ptext()

    def call_args(self) -> str:
        """The text between a call's parentheses: ``COUNT(DISTINCT v)``
        → ``DISTINCT v``."""
        t = self.text()
        i = t.find("(")
        j = _close_paren(t, i) if i >= 0 else -1
        return t[i + 1 : j].strip() if j > 0 else ""

    def operands(self, op: str, grouped: bool = False) -> list:
        """The operands of a chain of ``op`` nodes (And, Or), left to
        right.  A parenthesized chain is one operand (the user grouped
        it); ``grouped`` splits this node even when it is parenthesized."""
        if self.name == op and (grouped or self.wrapped() == self.span()):
            return [o for k in self.kids() for o in k.operands(op)]
        return [self]

    def splice(self, repl, outer: bool = False) -> str:
        """The node's text with the span of each node for which
        ``repl(node)`` returns a string replaced by that string (its
        subtree is not visited); ``outer`` keeps the parentheses that
        enclose the node.  A node without a span (the shared TRUE and
        FALSE literals) renders as its SQL."""
        if not self.span():
            return self.j.sql()
        edits = {}

        def visit(n):
            r = repl(n)
            if r is None:
                for k in n.kids():
                    visit(k)
            elif n.span():
                edits.setdefault(n.span(), r)

        visit(self)
        s, e = self.wrapped() if outer else self.span()
        out, pos = [], s
        # a CASE <x> WHEN .. repeats <x> under every WHEN: each span once
        for (a, b), r in sorted(edits.items()):
            if a >= pos:
                out += [self.sql[pos:a], r]
                pos = b + 1
        return "".join(out) + self.sql[pos : e + 1]

    def walk(self):
        """This node and its descendants, depth first."""
        yield self
        for k in self.kids():
            yield from k.walk()

    def has(self, pred) -> bool:
        return any(pred(n) for n in self.walk())
