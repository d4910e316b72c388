"""Table loading helpers shared by sources and the query catalog, and
the engine's one materialisation helper (:func:`pin`)."""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


_SHIPPED_APPS: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors regardless of how the
    session was launched (the harness may build its own SparkSession
    from any cwd, and pandas UDFs are pickled by reference to this
    module). Zips the package once per application and addPyFile()s it."""
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:
        return
    if app_id in _SHIPPED_APPS:
        return
    import tempfile
    import zipfile

    import flink_cdc_2_3_0_src_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"flink_cdc_2_3_0_src_spark-{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        "flink_cdc_2_3_0_src_spark",
                        os.path.relpath(full, pkg_dir),
                    )
                    zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # e.g. already added under another name
    _SHIPPED_APPS.add(app_id)


def ensure_session_confs(spark: SparkSession) -> None:
    """Make any session (including the driver's own, built without our
    get_spark defaults) able to run the query catalog: nanos-parquet
    readability, UTC timestamp semantics, and executor-side importability
    of this package."""
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass
    _ship_package(spark)


# Schema memo: every schema-less ``spark.read.parquet`` fires a one-task
# footer-inference job (~0.05s) and ~0.25s of driver-side resolution —
# per table, per query build.  The parquet schema for a given path is
# immutable under the same part-file-names-never-mutate assumption the
# split memo documents above (_SPLIT_MEMO); a rewritten table gets new
# file names but the DIRECTORY path is the memo key here, so an
# out-of-band rewrite that changes the schema needs refresh_schema_memo()
# — exactly Spark's own REFRESH TABLE discipline.  This caches METADATA
# only (never rows), so every query still computes from the parquet data.
_SCHEMA_MEMO: dict[str, T.StructType] = {}
_SCHEMA_MEMO_CAP = 256


def refresh_schema_memo() -> None:
    """Invalidate cached parquet schemas (see _SCHEMA_MEMO)."""
    _SCHEMA_MEMO.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing TIMESTAMP(NANOS) columns.

    Under ``spark.sql.legacy.parquet.nanosAsLong`` a nanos timestamp
    column surfaces as LongType; convert to a microsecond timestamp with
    the same truncation DuckDB applies when reading nanos parquet.
    """
    ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = _SCHEMA_MEMO.get(path)
    if schema is None:
        df = spark.read.parquet(path)
        if len(_SCHEMA_MEMO) >= _SCHEMA_MEMO_CAP:
            _SCHEMA_MEMO.clear()
        _SCHEMA_MEMO[path] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    for f_ in df.schema.fields:
        if f_.name == "ts" and isinstance(f_.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def spread_small_scan(
    df: DataFrame,
    key: str = None,
    expected_splits: int = None,
    min_bytes: int = 0,
) -> DataFrame:
    """Repartition to the session's default parallelism when the scan
    has fewer input splits than cores.

    Pre-shuffle stages (explode / higher-order-function projections)
    run with the SCAN's partitioning: a corpus that arrives in one or
    two splits (small files, coalesced scans) would execute its most
    expensive projection on a fraction of the cluster.  A
    well-partitioned 100 TB input is untouched — the repartition is
    taken only when the split estimate < parallelism, so production
    scans pay no extra shuffle.

    The split estimate is plan-time metadata only: an explicit
    ``expected_splits`` hint (from a source that already planned its
    chunks), else the leaf file count from the already-built FileIndex
    (``df.inputFiles()``).  Neither converts the plan to an RDD — the
    old ``df.rdd.getNumPartitions()`` probe forced scan-split
    enumeration through the whole query plan on the driver, a real cost
    once a table has millions of files.  A file-less plan (in-memory
    local relation) is left untouched: those are driver-built fixtures
    whose parallelize partitioning is already ``defaultParallelism``.

    ``min_bytes`` (r14): don't spread when the scan's TOTAL bytes are
    below this bound — a corpus smaller than one input split is cheaper
    to process in its own scan task than to repartition (the r13 bench
    measured the ann_topk spread as a wash at sf0.1: the added exchange
    roughly cancels the parallelism).  The under-split production case
    this function exists for — many GB in a handful of huge files —
    passes the bound and still spreads.  0 keeps the r13 behavior
    (callers whose per-row Python cost was A/B-measured to justify
    spreading tiny inputs, e.g. the fuzzy-dedup histogram pass).
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    total_bytes = None
    if expected_splits is None:
        try:
            files = df.inputFiles()
        except Exception:
            return df
        if not files:
            return df
        expected_splits = len(files)
        if expected_splits < par:
            # a file larger than maxPartitionBytes yields multiple
            # splits, so file count alone UNDERestimates — a 100 TB
            # table stored as a few huge files would eat a pointless
            # full-data shuffle here.  Only when the count is below
            # parallelism (≤ par-1 files), stat those files (bounded
            # driver cost) and count real splits.
            expected_splits, total_bytes = _estimate_splits(
                spark, files, expected_splits
            )
    if expected_splits >= par:
        return df
    if min_bytes and total_bytes is not None and total_bytes < min_bytes:
        return df
    return df.repartition(par, key) if key else df.repartition(par)


#: Spark's default ``spark.sql.files.maxPartitionBytes`` (128 MiB)
_DEFAULT_MAX_PARTITION_BYTES = 128 << 20
_BYTE_UNITS = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10,
               "m": 1 << 20, "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
               "t": 1 << 40, "tb": 1 << 40}


def max_partition_bytes(spark: SparkSession) -> int:
    """The session's ``spark.sql.files.maxPartitionBytes`` in bytes —
    the natural ``min_bytes`` bound for :func:`spread_small_scan` (one
    input split's worth of data).  A value this parser does not read
    falls back to Spark's 128 MiB default instead of raising at query
    build time."""
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    m = re.fullmatch(r"(\d+)\s*([a-zA-Z]*)", raw.strip())
    if m is None or m.group(2).lower() not in _BYTE_UNITS:
        return _DEFAULT_MAX_PARTITION_BYTES
    return int(m.group(1)) * _BYTE_UNITS[m.group(2).lower()]


# Memo for repeated query builds over the same table: the stat loop is
# bounded (≤ defaultParallelism files) but used to run per CALL; the
# same (path set, maxPartitionBytes) always yields the same estimate
# within a session because a parquet rewrite creates NEW part-file
# names (Spark/Hive writers never append to or rewrite an existing
# part file in place).  ASSUMPTION — immutable part files per name:
# an EXTERNAL writer that mutates a file without renaming it leaves a
# stale estimate here, exactly as it leaves Spark's own FileIndex
# metadata cache stale; the remedy is the same as Spark's
# `REFRESH TABLE` — call refresh_split_memo() after out-of-band
# writes.  Keying on mtime/length instead would re-run the stat loop
# every call, i.e. delete the memo.  Capped so a long session over
# many tables can't grow it unboundedly.
_SPLIT_MEMO: dict = {}
_SPLIT_MEMO_CAP = 256


def refresh_split_memo() -> None:
    """Invalidate cached split estimates (the analogue of Spark's
    ``REFRESH TABLE`` for this module's plan-time metadata).  Needed
    only after an external writer mutates part files IN PLACE under
    the same names — normal parquet rewrites create new file names and
    never hit stale entries."""
    _SPLIT_MEMO.clear()


def _estimate_splits(spark, files: list, fallback: int) -> tuple:
    """(sum(ceil(size / maxPartitionBytes)), sum(size)) over
    ≤ defaultParallelism files, via the JVM Hadoop FileSystem (works for
    any scheme the scan itself could read). Falls back to
    ``(file count, None)`` on any error.
    Memoized per (path set, maxPartitionBytes)."""
    try:
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        memo_key = (tuple(sorted(files)), raw)
        hit = _SPLIT_MEMO.get(memo_key)
        if hit is not None:
            return hit
        max_bytes = max_partition_bytes(spark)
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        total = 0
        total_bytes = 0
        for p in files:
            jpath = jvm.org.apache.hadoop.fs.Path(p)
            fs = jpath.getFileSystem(hconf)
            size = int(fs.getFileStatus(jpath).getLen())
            total += max(1, -(-size // max_bytes))
            total_bytes += size
        if len(_SPLIT_MEMO) >= _SPLIT_MEMO_CAP:
            _SPLIT_MEMO.clear()
        _SPLIT_MEMO[memo_key] = (total, total_bytes)
        return total, total_bytes
    except Exception:
        return fallback, None


def pin(x, fanout: bool = False):
    """Materialise ``x`` (a DataFrame, ``None`` or a tuple of them) once
    as a local checkpoint: the engine's one materialisation policy.

    A frame already pinned (a LogicalRDD over a checkpointed, locally
    checkpointed or persisted RDD) comes back unchanged with no job; a
    ``createDataFrame`` frame's RDD is none of these, so it is pinned.
    ``fanout=True`` materialises now, for a frame read by concurrent
    consumers (broadcast builds race on an unmaterialised RDD); else at
    the first action that reads it.  The result is a bare LogicalRDD
    over the checkpointed RDD: it keeps the checkpoint's size statistics
    (so it can still be broadcast) but not its source plan's
    constraints, which can break Spark's constraint rewrite in a later
    union (``NoSuchElementException: key not found``, Spark 4.1)."""
    if x is None:
        return None
    if isinstance(x, tuple):
        return tuple(pin(f, fanout) for f in x)
    plan = x._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        rdd = plan.rdd()
        level = rdd.getStorageLevel()
        if (
            rdd.isCheckpointed()
            or rdd.isLocallyCheckpointed()
            or level.useMemory()
            or level.useDisk()
        ):
            return x
    ck = x.localCheckpoint(eager=fanout)
    plan = ck._jdf.queryExecution().logical()
    jss = ck._jdf.sparkSession()
    jvm = ck.sparkSession._jvm
    bare = jvm.org.apache.spark.sql.execution.LogicalRDD(
        plan.output(),
        plan.rdd(),
        plan.outputPartitioning(),
        plan.outputOrdering(),
        plan.isStreaming(),
        plan.stream(),
        jss,
        jvm.scala.Some(plan.computeStats()),
        jvm.scala.Option.apply(None),
    )
    return DataFrame(
        jvm.org.apache.spark.sql.classic.Dataset.ofRows(jss, bare),
        ck.sparkSession,
    )
