"""Hybrid snapshot → stream orchestration (the heart of the reference).

Reproduces the DBLog-style "Offset Signal Algorithm" the reference
implements (docs/content/connectors/mysql-cdc.md:540-552, SURVEY §3.1):

  per chunk:  [low watermark] → chunk SELECT → [high watermark]
              → backfill log events in (low, high] upsert-merged into
                the chunk image (A6/A7), skip when low == high (A8)
  stream:     single log reader from min(high watermark); a log event is
              emitted iff its table is in pure-log phase (pos ≥ table max
              HW) or its key falls in a finished chunk with pos > that
              chunk's HW (A10)

Spark mapping: the snapshot phase is one keyed pass, not one job per
chunk. A CASE expression built from the chunk ranges gives every log row
its chunk's high watermark, and materialize(log[seq <= chunk_hw(key)])
yields all chunk images from a single shuffle (a chunk scan at LW plus
its backfill in (LW, HW] is exactly the chunk's state at HW). The stream
phase is Structured Streaming (or an incremental batch) filtered by the
same chunk-HW expression, or by a broadcast join at many chunks. Chunk
progress is checkpointed in a JSON manifest (A18) so a restart resumes
mid-snapshot.

The test dialect drives this against the driver's parquet tables with
the scripted events log as the "binlog": the database state at offset T
is materialize(log[seq <= T]).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field
from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.model import (
    OP_COL,
    OP_INSERT,
    SEQ_COL,
    ChunkRange,
)
from flink_cdc_2_3_0_src_spark.operators.changelog import materialize


@dataclass
class ChunkState:
    """Manifest entry for one finished chunk (A18). Chunk bounds carry
    the split key's own type (int, string, ...)."""

    split_id: str
    start: Optional[object]
    end: Optional[object]
    low_watermark: int
    high_watermark: int


@dataclass
class SnapshotManifest:
    """Snapshot-phase checkpoint (reference PendingSplitsState shape)."""

    table: str
    key: str
    chunks: list[ChunkState] = field(default_factory=list)

    def save(self, path: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"table": self.table, "key": self.key,
                 "chunks": [asdict(c) for c in self.chunks]},
                f,
            )
        os.replace(tmp, path)  # atomic pointer swap

    @staticmethod
    def load(path: str) -> Optional["SnapshotManifest"]:
        if not os.path.exists(path):
            return None
        with open(path) as f:
            d = json.load(f)
        m = SnapshotManifest(d["table"], d["key"])
        m.chunks = [ChunkState(**c) for c in d["chunks"]]
        return m

    def min_high_watermark(self) -> int:
        """A17: stream split starts at min(HW) over finished chunks."""
        return min((c.high_watermark for c in self.chunks), default=0)

    def max_high_watermark(self) -> int:
        return max((c.high_watermark for c in self.chunks), default=0)


def chunk_hw(key: str, bracketed: Sequence[tuple[ChunkRange, int]]) -> Column:
    """High watermark of the chunk a row's ``key`` falls in, NULL when no
    chunk covers it (or the key is NULL). Chunks are disjoint, so the
    first matching CASE branch is the only one."""
    hw = None
    for rng, high in bracketed:
        cond, val = F.expr(rng.predicate_sql(key)), F.lit(high).cast("long")
        hw = F.when(cond, val) if hw is None else hw.when(cond, val)
    return F.lit(None).cast("long") if hw is None else hw


class HybridPipeline:
    """Snapshot + stream reconciliation over an upsert changelog.

    Parameters
    ----------
    log : full upsert changelog DataFrame (key..., payload..., _op, _seq)
    keys : primary-key columns
    manifest_path : JSON file the snapshot phase records chunk
        watermarks in and resumes from (A18); None keeps them in memory.
    """

    def __init__(
        self,
        spark: SparkSession,
        log: DataFrame,
        keys: Sequence[str],
        manifest_path: Optional[str] = None,
    ) -> None:
        self.spark = spark
        # not persisted: a run reads the log twice (one snapshot pass,
        # one stream pass), and filling a cache costs more than it saves
        self.log = log
        self.keys = list(keys)
        self.manifest_path = manifest_path

    # ---- test-dialect database primitives ----

    def db_state_at(self, offset, where=None) -> DataFrame:
        """Materialized table state at a log offset (what a chunk SELECT
        would see in a real database).

        ``offset`` may also be a Column that varies per row by key (NULL
        drops the row): that is how every chunk's image comes from one
        shuffle. ``where`` is an optional Column predicate over the KEY
        columns (a chunk range); materialize() groups by the full key, so
        it commutes with the group-by and is applied below the shuffle."""
        hw = F.lit(offset) if where is None else F.when(where, offset)
        return materialize(self.log.filter(F.col(SEQ_COL) <= hw), self.keys)

    def _images(
        self, key: str, bracketed: Sequence[tuple[ChunkRange, int]]
    ) -> DataFrame:
        """Every chunk's image at its own high watermark, op=+I and
        _seq=HW (snapshot rows are INSERTs whose ts is zeroed in the
        reference; the seq lets downstream merge order snapshot vs
        stream rows)."""
        hw = chunk_hw(key, bracketed)
        return self.db_state_at(hw).withColumn(
            OP_COL, F.lit(OP_INSERT)
        ).withColumn(SEQ_COL, hw)

    def snapshot_chunk(
        self,
        chunk: ChunkRange,
        key: str,
        low_watermark: int,
        high_watermark: int,
    ) -> DataFrame:
        """A6/A7/A8: chunk scan at ``low_watermark`` + backfill merge of
        log events in (low, high] — the chunk's image at ``high``.

        The scan holds each key's latest event at or before ``low``, and
        the upsert merge lets a later event in (low, high] replace it, so
        each key ends at its latest event at or before ``high``: exactly
        the state at ``high``, whatever ``low`` is (A8, low == high, too).
        """
        return self._images(key, [(chunk, high_watermark)])

    # ---- phases ----

    def run_snapshot_phase(
        self,
        chunks: Sequence[ChunkRange],
        key: str,
        watermarks: Optional[Callable[[int], tuple[int, int]]] = None,
        table: str = "t",
    ) -> tuple[DataFrame, SnapshotManifest]:
        """Bracket all chunks, recording (low, high) watermarks per chunk,
        and build their images in one keyed pass.

        ``watermarks(i) -> (low, high)`` lets tests advance the log
        between chunk scans (the real-world race the algorithm exists
        for). Default: both = current log tip, read only if a chunk
        needs it.
        """
        manifest = SnapshotManifest(table, key)
        if self.manifest_path:
            prior = SnapshotManifest.load(self.manifest_path)
            if prior is not None:
                manifest = prior  # resume (A18)
        done = {c.split_id: c.high_watermark for c in manifest.chunks}
        tip = None
        bracketed = []
        for i, chunk in enumerate(chunks):
            split_id = f"{table}:{i}"
            if split_id in done:
                hw = done[split_id]
            else:
                if watermarks is None and tip is None:
                    tip = self.log.agg(F.max(SEQ_COL)).collect()[0][0] or 0
                lw, hw = watermarks(i) if watermarks else (tip, tip)
                manifest.chunks.append(
                    ChunkState(split_id, chunk.start, chunk.end, lw, hw)
                )
                if self.manifest_path:
                    manifest.save(self.manifest_path)
            bracketed.append((chunk, hw))
        return self._images(key, bracketed), manifest

    def stream_filter(
        self, events: DataFrame, manifest: SnapshotManifest
    ) -> DataFrame:
        """A10: emit a log event iff it postdates its chunk's snapshot.

        The event's chunk HW comes from the snapshot pass's ``chunk_hw``
        expression; keys no chunk covers (and NULL keys) are held to the
        table max HW, past which every event is in pure-log phase.
        """
        hw = chunk_hw(
            manifest.key,
            [(ChunkRange(c.start, c.end), c.high_watermark) for c in manifest.chunks],
        )
        return events.filter(
            self._always_emit(events)
            | (F.col(SEQ_COL) > F.coalesce(hw, F.lit(manifest.max_high_watermark())))
        )

    @staticmethod
    def _always_emit(events: DataFrame):
        """Schema/signal records bypass the chunk-HW filter (reference
        BinlogSplitReader.shouldEmit:228-260 always passes non-data
        events)."""
        from flink_cdc_2_3_0_src_spark.model import OP_SCHEMA

        if OP_COL in events.columns:
            return F.col(OP_COL) == OP_SCHEMA
        return F.lit(False)

    def stream_filter_join(
        self, events: DataFrame, manifest: SnapshotManifest
    ) -> DataFrame:
        """A10 at scale: the per-chunk HW filter as a broadcast range
        join against the chunk-metadata table.

        ``stream_filter`` builds a literal CASE chain — fine for hundreds
        of chunks, pathological for 100k (expression tree size). Here
        the manifest becomes a tiny broadcast DataFrame and the filter
        is one join: an event passes if it is past the table max HW
        (pure-log fast path, cheap literal) or lands in a chunk whose HW
        it postdates. Results are identical to stream_filter.
        """
        from pyspark.sql import types as T

        spark = events.sparkSession
        max_hw = manifest.max_high_watermark()
        # chunk bounds take the SPLIT KEY's type from the event schema —
        # a hardcoded long here broke string-PK manifests while the rest
        # of the engine supported them
        key_type = events.schema[manifest.key].dataType
        meta_schema = T.StructType(
            [
                T.StructField("__start", key_type, True),
                T.StructField("__end", key_type, True),
                T.StructField("__hw", T.LongType(), False),
            ]
        )
        meta = spark.createDataFrame(
            [(c.start, c.end, c.high_watermark) for c in manifest.chunks],
            meta_schema,
        )
        key_col = F.col(manifest.key)
        cond = (
            ((F.col("__start").isNull()) | (key_col >= F.col("__start")))
            & ((F.col("__end").isNull()) | (key_col < F.col("__end")))
            & (F.col(SEQ_COL) > F.col("__hw"))
        )
        always = self._always_emit(events)
        pure_log = events.filter(always | (F.col(SEQ_COL) > F.lit(max_hw)))
        backlog = (
            events.filter(~always & (F.col(SEQ_COL) <= F.lit(max_hw)))
            .join(F.broadcast(meta), cond, "left_semi")
        )
        return pure_log.unionByName(backlog)

    def run(
        self,
        chunks: Sequence[ChunkRange],
        key: str,
        watermarks: Optional[Callable[[int], tuple[int, int]]] = None,
    ) -> DataFrame:
        """Full hybrid pipeline in batch form: snapshot images + filtered
        stream events, merged to the final materialized table."""
        snap, manifest = self.run_snapshot_phase(chunks, key, watermarks)
        start = manifest.min_high_watermark()
        stream_events = self.stream_filter(
            self.log.filter(F.col(SEQ_COL) > start), manifest
        )
        return materialize(snap.unionByName(stream_events), self.keys)

    def run_streaming(
        self,
        chunks: Sequence[ChunkRange],
        key: str,
        stream: DataFrame,
        sink,
        checkpoint_dir: str,
        watermarks: Optional[Callable[[int], tuple[int, int]]] = None,
        await_seconds: int = 120,
    ):
        """The production shape (A16 streaming form): snapshot phase as a
        batch job seeding the upsert sink, then the unbounded stream
        phase as a real Structured Streaming query with the A10 chunk-HW
        emission filter applied per microbatch via foreachBatch.

        ``stream`` is an unbounded changelog DataFrame (replay source,
        Kafka topic, ...). Returns (manifest, StreamingQuery).
        """
        snap, manifest = self.run_snapshot_phase(chunks, key, watermarks)
        sink.merge_batch(snap, -1)  # seed state with the snapshot image

        def process(batch_df: DataFrame, batch_id: int) -> None:
            start = manifest.min_high_watermark()
            filtered = self.stream_filter(
                batch_df.filter(F.col(SEQ_COL) > start), manifest
            )
            sink.merge_batch(filtered, batch_id)

        q = (
            stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(await_seconds)
        return manifest, q
