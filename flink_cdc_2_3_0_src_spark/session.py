"""SparkSession factory tuned for the CDC engine.

Defaults are chosen for correctness parity with the DuckDB oracle
(UTC session time zone) and for scale (AQE on, skew-join on, partition
coalescing on). On a real cluster the same builder is used with a
cluster master; tests use local[N].
"""

from __future__ import annotations

import os
import threading

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
