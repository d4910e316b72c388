"""The benchmark's workloads.

Each workload drives the engine only through its public functions and
is a closed loop with one client: the next op starts after the previous
op's output is materialized.  Sizes are fixed here; the seed only
changes the generated contents.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
import traceback
from typing import Optional
from urllib.parse import urlparse

import numpy as np
import pyarrow.parquet as pq

import gen
import oracles
from harness import Op, median, slope, tail


class Workload:
    name = ""
    warmup_ops = 0

    def __init__(self, bench) -> None:
        self.b = bench
        self.problem: Optional[str] = None

    @property
    def spark(self):
        return self.b.spark

    def path(self, name: str) -> str:
        return os.path.join(self.b.work, name)

    def span(self, name: str):
        return self.b.tracer.span(name)

    def generate(self, seed: int) -> None:
        """Write the workload's inputs (not timed as set-up)."""

    def setup(self) -> None:
        """The program's own set-up calls; run once per set-up round."""

    def prepare(self) -> None:
        """Untimed work before the measured loop (warm-up ops)."""

    def measure(self) -> list[Op]:
        raise NotImplementedError

    def check(self, ops: list[Op]) -> Optional[str]:
        """None when the outputs match the oracle, else what differs."""
        return self.problem

    def trace_layers(self, ops: list[Op]) -> None:
        """Workload-specific per-layer metrics of a traced run."""

    # ---- reporting ----

    def headline(self, e2e: dict, timed: list[Op]) -> dict:
        """The workload's end-to-end metrics under their own names."""
        return {}

    def summary(self, e2e: dict, timed: list[Op], error_rate: float) -> None:
        lines = [f"# workload {self.name}: {len(timed)} timed ops"]
        for k, (v, unit) in self.headline(e2e, timed).items():
            lines.append(f"# {k} = {v} {unit}")
        lines.append(f"# error_rate = {error_rate} ratio")
        lines.append(f"# setup_s = {e2e['setup_s']} s")
        lines.append(f"# peak_rss_mb = {e2e['peak_rss_mb']} MB")
        print("\n".join(lines))

    def step_layers(self, ops: list[Op], kinds: tuple[str, ...]) -> None:
        """Build/action time and exact job/task counts per maintained
        statement, medians over the traced batches."""
        layers = self.b.layers
        for kind in kinds:
            step = f"sql_maintain.step.{kind}"
            act = f"sql_maintain.delta_action.{kind}"
            layers[f"sql_maintain.step_build_ms.{kind}"] = self.b.span_ms(step)
            layers[f"sql_maintain.delta_action_ms.{kind}"] = self.b.span_ms(act)
            per_op: dict[int, list] = {}
            for s in self.b.tracer.spans:
                if s.name in (step, act):
                    per_op.setdefault(s.op_id, []).append(s.work)
            layers[f"maintain.jobs_per_batch.{kind}"] = median(
                sum(w.jobs for w in ws) for ws in per_op.values())
            layers[f"maintain.tasks_per_batch.{kind}"] = median(
                sum(w.tasks for w in ws) for ws in per_op.values())
        layers["maintain.delta_rows_per_batch"] = median(
            o.extra.get("delta_rows", 0) for o in ops)
        layers["maintain.latency_slope_ms_per_batch"] = 1e3 * slope(
            [o.seconds for o in ops if not o.traced])


def _wrap_method(cls, attr: str, span_name: str, bench) -> None:
    """Record a span around every call of ``cls.attr`` while the tracer
    is active; the engine's code itself is unchanged."""
    orig = getattr(cls, attr)

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        with bench.tracer.span(span_name):
            return orig(*args, **kwargs)

    setattr(cls, attr, traced)


class SnapshotCatchup(Workload):
    """One op is one ``HybridPipeline.run`` over a keyed full-retraction
    log, chunked by ``split_evenly_sized_chunks``, with staggered
    low/high watermarks so every chunk backfills; the op ends with the
    final table counted."""

    name = "snapshot_catchup"
    N_KEYS = 40_000
    N_CHANGES = 20_000
    N_CHUNKS = 8
    SKEW = 1.1
    warmup_ops = 2

    def generate(self, seed: int) -> None:
        self.log_path = self.path("keyed_log.parquet")
        self.shape = gen.keyed_log(
            seed, gen.KeyedLogSpec(self.N_KEYS, self.N_CHANGES, skew=self.SKEW),
            self.log_path)

    def setup(self) -> None:
        self.log = self.spark.read.parquet(self.log_path)

    def plan_chunks(self):
        from flink_cdc_2_3_0_src_spark.plans.chunking import split_evenly_sized_chunks

        n = self.N_KEYS
        return split_evenly_sized_chunks(0, n - 1, n, n // self.N_CHUNKS, 1.0)

    def watermarks(self, n_chunks: int):
        """Chunk i is scanned at low watermark ``base + i * step`` and
        closed at ``base + (i + 1) * step``: the log keeps moving while
        the snapshot runs, so every chunk has a backfill window."""
        base = self.shape["insert_seq_max"]
        step = (self.shape["seq_max"] - base) // (n_chunks + 1)
        return lambda i: (base + i * step, base + (i + 1) * step)

    def prepare(self) -> None:
        from flink_cdc_2_3_0_src_spark.streaming.hybrid import HybridPipeline

        _wrap_method(HybridPipeline, "run_snapshot_phase", "hybrid.snapshot_build", self.b)
        _wrap_method(HybridPipeline, "stream_filter", "hybrid.stream_filter_build", self.b)
        self.want = oracles.keyed_table(self.log_path)
        final, pipe = self.catch_up()
        got = [tuple(r) for r in final.select("id", "g", "v").collect()]
        pipe.log.unpersist()
        self.problem = oracles.diff(got, self.want)
        # the first ops still run faster each time (JIT); one more
        # untimed op keeps that trend out of the median
        for _ in range(self.warmup_ops - 1):
            warm = Op(-1)
            self.op(warm)
            if not warm.ok:
                self.problem = self.problem or (
                    f"warm-up op counted {warm.extra['rows_out']} rows, want {len(self.want)}")

    def catch_up(self):
        from flink_cdc_2_3_0_src_spark.streaming.hybrid import HybridPipeline

        with self.span("chunking.plan"):
            chunks = self.plan_chunks()
        pipe = HybridPipeline(self.spark, self.log, ["id"])
        final = pipe.run(chunks, "id", watermarks=self.watermarks(len(chunks)))
        return final, pipe

    def op(self, op: Op) -> None:
        op.start = time.perf_counter()
        final, pipe = self.catch_up()
        with self.span("changelog.materialize_action"):
            n = final.count()
        op.end = time.perf_counter()
        pipe.log.unpersist()
        op.rows = self.shape["rows"]
        op.extra["rows_out"] = n
        op.ok = n == len(self.want)

    def measure(self) -> list[Op]:
        return self.b.closed_loop(self.op)

    def trace_layers(self, ops: list[Op]) -> None:
        b = self.b
        chunks = self.plan_chunks()
        ids = pq.read_table(self.log_path, columns=["id"]).column("id").to_numpy()
        bounds = [c.end for c in chunks[:-1]]
        per_chunk = np.bincount(np.searchsorted(bounds, ids, side="right"),
                                minlength=len(chunks))
        traced = [o for o in ops if o.traced and o.span is not None]
        b.layers.update({
            "chunking.plan_ms": b.span_ms("chunking.plan"),
            "chunking.chunks": len(chunks),
            "chunking.rows_max_over_mean": per_chunk.max() / per_chunk.mean(),
            "hybrid.snapshot_build_s": b.span_ms("hybrid.snapshot_build") / 1e3,
            "hybrid.stream_filter_build_ms": b.span_ms("hybrid.stream_filter_build"),
            "hybrid.rows_read_per_row_out": median(
                (w.input_records + w.shuffle_read_records) / o.extra["rows_out"]
                for o, w in ((o, b.tracer.total_work(o.span)) for o in traced)),
            "changelog.materialize_action_s": b.span_ms("changelog.materialize_action") / 1e3,
            "changelog.rows_out": len(self.want),
        })
        # Single-core baseline: the same op at local[1] in the same JVM.
        nc = median(o.seconds for o in ops if not o.traced and o.ok)
        b.stop_session()
        b.start_session(1)
        self.setup()
        one = []
        for i in range(2):
            op = Op(i)
            b.run_op(op, self.op)
            one.append(op.seconds)
        print(f"# local[1] defaultParallelism = {b.spark.sparkContext.defaultParallelism}",
              file=sys.stderr)
        b.layers["scale.catchup_1c_over_nc"] = median(one) / nc

    def headline(self, e2e, timed):
        return {
            "catchup_s": (e2e["op_p50_ms"] / 1e3, "s"),
            "log_rows_per_s": (e2e["rows_per_s"], "rows/s"),
            "chunks": (self.N_CHUNKS, "count"),
            "log_rows": (self.shape["rows"], "rows"),
        }


# The funnel statement of the catalog's cdc_sql_match_recognize_nfa
# query: a view, one or more clicks, then a purchase within a day.
NFA_SQL = (
    "INSERT INTO sink SELECT user_id AS u, a_ts, n_clicks,"
    " max_click, c_ts FROM events_cdc"
    " MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts"
    " MEASURES FIRST(A.ts) AS a_ts, COUNT(B.*) AS n_clicks,"
    " MAX(B.value) AS max_click, LAST(C.ts) AS c_ts"
    " AFTER MATCH SKIP PAST LAST ROW"
    " PATTERN (A B+ C) WITHIN INTERVAL '1' DAY"
    " DEFINE A AS A.event_type = 'view',"
    " B AS B.event_type = 'click',"
    " C AS C.event_type = 'purchase')"
)

AGG_SQL = (
    "INSERT INTO agg_sink SELECT g, SUM(v) AS sv, COUNT(*) AS n,"
    " MIN(v) AS mn, MAX(v) AS mx FROM fact GROUP BY g"
)
JOIN_SQL = (
    "INSERT INTO join_sink SELECT f.id, f.g, f.v, d.attr"
    " FROM fact f JOIN dim d ON f.dk = d.dk"
)


class StreamMaintain(Workload):
    """One op is one microbatch of a ``read_replay_stream`` foreachBatch
    loop, folded through a GROUP BY aggregate with MIN/MAX and a
    two-changelog equi-join; both deltas are counted.  The replay starts
    with the tables' snapshot as one batch (untimed), so live state is
    much larger than any later batch."""

    name = "stream_maintain"
    N_FACT = 20_000
    N_DIM = 2_000
    BATCH_CHANGES = 500
    N_FILES = 8
    warmup_ops = 1

    def generate(self, seed: int) -> None:
        self.init_path = self.path("fact_dim_init.parquet")
        self.changes_path = self.path("fact_dim_changes.parquet")
        self.shape = gen.fact_dim_logs(
            seed,
            gen.FactDimSpec(self.N_FACT, self.N_DIM, self.BATCH_CHANGES * self.N_FILES),
            self.init_path, self.changes_path)
        self.rounds = 0
        self.compile_s = {"agg": [], "join": []}
        self.write_s = []

    def setup(self) -> None:
        from flink_cdc_2_3_0_src_spark.plans.sql_maintain import plan_insert_maintained
        from flink_cdc_2_3_0_src_spark.streaming.replay import write_replay_files

        t0 = time.perf_counter()
        self.agg = plan_insert_maintained(AGG_SQL, {"fact": ["id"]})
        t1 = time.perf_counter()
        self.join = plan_insert_maintained(JOIN_SQL, {"fact": ["id"], "dim": ["dk"]})
        t2 = time.perf_counter()
        # The snapshot goes in first, as its own batch, then the changes:
        # the stream's file source replays files oldest first.
        self.replay_dir = self.path(f"replay-{self.rounds}")
        read = self.spark.read.parquet
        write_replay_files(read(self.init_path), os.path.join(self.replay_dir, "0-snapshot"), 1)
        self.schema = write_replay_files(
            read(self.changes_path), os.path.join(self.replay_dir, "1-changes"), self.N_FILES)
        t3 = time.perf_counter()
        self.rounds += 1
        self.compile_s["agg"].append(t1 - t0)
        self.compile_s["join"].append(t2 - t1)
        self.write_s.append(t3 - t2)

    @staticmethod
    def split(df):
        from pyspark.sql import functions as F

        fact = df.filter(F.col("_tbl") == "f").select("id", "dk", "g", "v", "_op", "_seq")
        dim = df.filter(F.col("_tbl") == "d").select("dk", "attr", "_op", "_seq")
        return fact, dim

    def prepare(self) -> None:
        self.file_rows = {
            p: pq.ParquetFile(p).metadata.num_rows
            for p in glob.glob(os.path.join(self.replay_dir, "**", "*.parquet"), recursive=True)
        }

    def fold(self, op: Op, batch) -> None:
        fact, dim = self.split(batch)
        op.start = time.perf_counter()
        with self.span("sql_maintain.step.agg"):
            da = self.agg.step({"fact": fact})
        with self.span("sql_maintain.delta_action.agg"):
            na = da.count()
        with self.span("sql_maintain.step.join"):
            dj = self.join.step({"fact": fact, "dim": dim})
        with self.span("sql_maintain.delta_action.join"):
            nj = dj.count()
        op.end = time.perf_counter()
        op.extra["delta_rows"] = na + nj

    def batch_files(self, batch_id: int) -> list[str]:
        """The replay files the stream's file source assigned to
        ``batch_id``, from its source log in the checkpoint (the batch
        DataFrame itself no longer names its files)."""
        log_dir = os.path.join(self.path("stream-checkpoint"), "sources", "0")
        files = []
        for name in (str(batch_id), f"{batch_id}.compact"):
            p = os.path.join(log_dir, name)
            if not os.path.exists(p):
                continue
            with open(p) as f:
                for line in f.read().splitlines()[1:]:
                    entry = json.loads(line)
                    if entry["batchId"] == batch_id:
                        files.append(urlparse(entry["path"]).path)
        return files

    def measure(self) -> list[Op]:
        from flink_cdc_2_3_0_src_spark.streaming.replay import read_replay_stream

        b = self.b
        ops: list[Op] = []
        self.consumed: list[str] = []
        self.gaps: list[float] = []
        done = threading.Event()
        st = {"t0": None, "last_end": None}

        def on_batch(batch, batch_id):
            if done.is_set():
                return
            try:
                files = self.batch_files(batch_id)
                if not files:
                    raise RuntimeError(f"no source-log entry for batch {batch_id}")
                if st["t0"] is None:
                    # First microbatch: the snapshot that seeds both jobs'
                    # state, plus stream start-up.  Not timed.
                    if not all("0-snapshot" in f for f in files):
                        raise RuntimeError(f"first batch is not the snapshot: {files}")
                    seed = Op(-1)
                    self.fold(seed, batch)
                    b.layers["maintain.seed_s"] = seed.seconds
                    self.consumed += files
                    st["t0"] = st["last_end"] = time.perf_counter()
                    return
                if not b.keep_going(ops, st["t0"]):
                    done.set()
                    return
                op = Op(len(ops), traced=b.trace and len(ops) % 2 == 1)
                op.rows = sum(self.file_rows[f] for f in files)
                b.run_op(op, lambda o: self.fold(o, batch))
                self.gaps.append(op.start - st["last_end"])
                st["last_end"] = op.end
                ops.append(op)
                self.consumed += files
                if not op.ok or len(self.consumed) == len(self.file_rows):
                    done.set()
            except Exception:
                self.problem = traceback.format_exc()
                done.set()

        q = (
            read_replay_stream(self.spark, self.replay_dir, self.schema)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", self.path("stream-checkpoint"))
            .start()
        )
        deadline = time.perf_counter() + self.b.seconds + 90
        while not done.wait(0.2):
            if not q.isActive or time.perf_counter() > deadline:
                self.problem = self.problem or f"stream ended early: {q.exception()}"
                break
        q.stop()
        if self.problem:
            print(self.problem, file=sys.stderr)
        return ops

    def check(self, ops: list[Op]) -> Optional[str]:
        if self.problem:
            return self.problem
        want = oracles.fact_dim(self.consumed)
        self.live_rows = want["live_rows"]
        got_agg = [tuple(r) for r in self.agg.result().select("g", "sv", "n", "mn", "mx").collect()]
        got_join = [tuple(r) for r in self.join.result().select("id", "g", "v", "attr").collect()]
        return oracles.diff(got_agg, want["agg"]) or oracles.diff(got_join, want["join"])

    def trace_layers(self, ops: list[Op]) -> None:
        layers = self.b.layers
        self.step_layers(ops, ("agg", "join"))
        layers["sql_maintain.compile_ms.agg"] = 1e3 * median(self.compile_s["agg"])
        layers["sql_maintain.compile_ms.join"] = 1e3 * median(self.compile_s["join"])
        layers["replay.write_s"] = median(self.write_s)
        layers["replay.trigger_gap_ms"] = 1e3 * median(self.gaps)
        layers["maintain.state_rows_end"] = getattr(self, "live_rows", 0)

    def headline(self, e2e, timed):
        out = {
            "batch_p50_ms": (e2e["op_p50_ms"], "ms"),
            "changes_per_s": (e2e["rows_per_s"], "rows/s"),
        }
        t = tail([o.seconds for o in timed])
        out["batch_tail_ms"] = (
            (1e3 * t[0], f"ms (p{t[1]}, {len(timed)} samples)") if t
            else ("n/a", f"(needs 11 samples, have {len(timed)})"))
        return out


class MatchRecognize(Workload):
    """One op is one ``step()`` of the MATCH_RECOGNIZE funnel statement
    over the next arrival batch of an append-only click stream; the
    delta is counted."""

    name = "match_recognize"
    N_USERS = 3_000
    BATCH = 1_000
    N_BATCHES = 30
    warmup_ops = 1

    def generate(self, seed: int) -> None:
        self.events_path = self.path("clicks.parquet")
        gen.click_stream(seed, gen.ClickStreamSpec(self.N_USERS, self.BATCH * self.N_BATCHES),
                         self.events_path)
        self.compile_s = []

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from flink_cdc_2_3_0_src_spark.plans.sql_maintain import plan_insert_maintained

        t0 = time.perf_counter()
        self.job = plan_insert_maintained(
            NFA_SQL, {"events_cdc": {"primary_key": ["event_id"], "rowtime": "ts"}})
        self.compile_s.append(time.perf_counter() - t0)
        self.events = self.spark.read.parquet(self.events_path).select(
            "event_id", "user_id", "event_type", "value", "ts",
            F.lit("+I").alias("_op"), F.col("event_id").alias("_seq"))

    def batch(self, i: int):
        from pyspark.sql import functions as F

        lo = i * self.BATCH
        return self.events.filter((F.col("event_id") >= lo) & (F.col("event_id") < lo + self.BATCH))

    def prepare(self) -> None:
        for i in range(self.warmup_ops):
            self.fold(Op(-1), i)

    def fold(self, op: Op, i: int) -> None:
        batch = self.batch(i)
        op.start = time.perf_counter()
        with self.span("sql_maintain.step.nfa"):
            d = self.job.step({"events_cdc": batch})
        with self.span("sql_maintain.delta_action.nfa"):
            n = d.count()
        op.end = time.perf_counter()
        op.rows = self.BATCH
        op.extra["delta_rows"] = n

    def measure(self) -> list[Op]:
        ops = self.b.closed_loop(lambda op: self.fold(op, self.warmup_ops + op.index))
        self.n_batches = self.warmup_ops + len(ops)
        return ops

    def check(self, ops: list[Op]) -> Optional[str]:
        from flink_cdc_2_3_0_src_spark import queries

        want = oracles.match_recognize(
            self.events_path, self.n_batches * self.BATCH,
            queries.oracle_sql()["cdc_sql_match_recognize_nfa"])
        got = [
            (int(u), int(a), int(n), float(m), int(c))
            for u, a, n, m, c in self.job.result().selectExpr(
                "u", "unix_micros(a_ts)", "n_clicks", "max_click", "unix_micros(c_ts)"
            ).collect()
        ]
        return oracles.diff(got, want)

    def trace_layers(self, ops: list[Op]) -> None:
        self.step_layers(ops, ("nfa",))
        self.b.layers["sql_maintain.compile_ms.nfa"] = 1e3 * median(self.compile_s)

    def headline(self, e2e, timed):
        return {
            "batch_p50_ms": (e2e["op_p50_ms"], "ms"),
            "changes_per_s": (e2e["rows_per_s"], "rows/s"),
        }


WORKLOADS = {w.name: w for w in (SnapshotCatchup, StreamMaintain, MatchRecognize)}
NAMES = list(WORKLOADS)
