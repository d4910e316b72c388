"""Changelog replay as a Structured Streaming file source.

Writes a changelog DataFrame into N sequence-ordered parquet files so
``readStream`` + ``maxFilesPerTrigger=1`` replays it as N microbatches —
the test stand-in for a Kafka/Debezium topic or binlog tailer. Batch
boundaries follow _seq order, preserving per-key event order (the same
guarantee a partitioned log gives per key).
"""

from __future__ import annotations

import os
from typing import Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_cdc_2_3_0_src_spark.io import pin
from flink_cdc_2_3_0_src_spark.model import SEQ_COL


def write_replay_files(log: DataFrame, out_dir: str, n_files: int = 5) -> T.StructType:
    """Split the log into n sequence-range files; returns the schema
    (readStream needs it declared — §1.3 'declared schema').

    Fully distributed: ``repartitionByRange`` on _seq assigns each row
    its sequence-range file (distributed sample-based range sort — no
    driver collect of the log, which the previous version did and which
    caps replay size at driver memory).  Batch dirs are written
    SEQUENTIALLY so their modification-time order matches seq order —
    the file-stream source replays oldest-first."""
    os.makedirs(out_dir, exist_ok=True)
    schema = log.schema
    tagged = pin(  # materialize the range assignment once
        log.repartitionByRange(n_files, F.col(SEQ_COL))
        .withColumn("_file", F.spark_partition_id()),
        fanout=True,
    )
    for i in range(n_files):
        part = (
            tagged.filter(F.col("_file") == i)
            .drop("_file")
            .sortWithinPartitions(SEQ_COL)
            .coalesce(1)
        )
        if not part.isEmpty():
            part.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch_{i:05d}")
            )
    return schema


def read_replay_stream(
    spark: SparkSession, out_dir: str, schema: T.StructType
) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(out_dir)
    )
