"""Seeded randomized equivalence tests: the distributed temporal-join /
span-dedup operators vs tiny brute-force Python oracles.  One Spark job
per dataset (not per example), adversarial shapes baked into the
generators: timestamp ties, bucket-boundary hits, negative bounds,
repeated tokens."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.operators.changelog import asof_join, interval_join
from flink_cdc_2_3_0_src_spark.operators.text import duplicated_spans


def test_interval_join_matches_brute_force(spark):
    rng = random.Random(42)
    span_cases = [(0, 100), (-50, 50), (1, 101), (-100, -1)]
    for lower, upper in span_cases:
        left = [
            (i, rng.randint(0, 3), rng.randint(-200, 200) * (upper - lower) // 7)
            for i in range(60)
        ]
        right = [
            (1000 + i, rng.randint(0, 3), rng.randint(-200, 200) * (upper - lower) // 7)
            for i in range(60)
        ]
        ldf = spark.createDataFrame(left, "id bigint, k bigint, t bigint")
        rdf = spark.createDataFrame(right, "id bigint, k bigint, t bigint")
        got = sorted(
            (r["l_id"], r["r_id"])
            for r in interval_join(
                ldf, rdf, "k", F.col("t"), F.col("t"), lower, upper
            ).collect()
        )
        exp = sorted(
            (li, ri)
            for li, lk, lt in left
            for ri, rk, rt in right
            if lk == rk and lt + lower <= rt <= lt + upper
        )
        assert got == exp, (lower, upper)


def test_asof_join_matches_brute_force(spark):
    rng = random.Random(7)
    # timestamps drawn from a SMALL range so ties (probe==build ts,
    # build==build ts) occur constantly
    build = [
        (rng.randint(0, 2), rng.randint(0, 30), i, float(i))
        for i in range(80)
    ]
    probe = [
        (rng.randint(0, 3), rng.randint(0, 30), 1000 + i) for i in range(80)
    ]
    bdf = spark.createDataFrame(build, "k bigint, t bigint, _seq bigint, value double")
    pdf = spark.createDataFrame(probe, "k bigint, t bigint, _seq bigint")

    for strict in (False, True):
        got = {
            r["_seq"]: (r["version_seq"], r["asof_value"])
            for r in asof_join(
                pdf, bdf, "k", "t", ["value"], strict=strict
            ).collect()
        }
        for pk, pt, pid in probe:
            cands = [
                (bt, bs, bv)
                for bk, bt, bs, bv in build
                if bk == pk and (bt < pt if strict else bt <= pt)
            ]
            if not cands:
                exp = (None, None)
            else:
                bt, bs, bv = max(cands, key=lambda c: (c[0], c[1]))
                exp = (bs, bv)
            assert got[pid] == exp, (pid, strict)


def test_duplicated_spans_matches_brute_force(spark):
    rng = random.Random(3)
    vocab = ["a", "b", "c", "d"]
    k = 4
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))))
        for i in range(30)
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in duplicated_spans(df, k=k).collect()
    )

    # brute force: window -> set of docs; dup windows; per-doc islands
    windows = {}
    per_doc = {}
    for did, text in docs:
        toks = text.split()
        for p in range(len(toks) - k + 1):
            span = " ".join(toks[p : p + k])
            windows.setdefault(span, set()).add(did)
            per_doc.setdefault(did, []).append((p, span))
    dup_spans = {s for s, ds in windows.items() if len(ds) >= 2}
    exp = []
    for did, plist in per_doc.items():
        hits = sorted(p for p, s in plist if s in dup_spans)
        run = []
        for p in hits:
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    exp.append((did, run[0], run[-1] + k, len(run)))
                run = [p]
        if run:
            exp.append((did, run[0], run[-1] + k, len(run)))
    assert got == sorted(exp)


def test_hybrid_pipeline_random_watermark_brackets(spark, tmp_path):
    """The DBLog reconciliation must produce the exact oracle state for
    ANY watermark bracketing — chunks snapshotting at wildly different
    moments, backfill-skip (lw == hw), brackets at the log tip, and
    narrow/wide backfill windows.  Seeded randomized sweep.

    Each trial also checks the snapshot images themselves, on every
    column, against a per-chunk reference: the chunk's rows of
    materialize(log[_seq <= hw]) tagged +I at hw.  Extra inputs: a run
    resumed from a manifest that a crashed run left after two chunks,
    and a string split key."""
    from collections import Counter

    from flink_cdc_2_3_0_src_spark.model import OP_COL, OP_INSERT, SEQ_COL, ChunkRange
    from flink_cdc_2_3_0_src_spark.operators.changelog import materialize
    from flink_cdc_2_3_0_src_spark.sources.scripted_log import scripted_changelog
    from flink_cdc_2_3_0_src_spark.streaming.hybrid import HybridPipeline
    from tests.conftest import SF_SMOKE

    int_log = scripted_changelog(spark, SF_SMOKE)
    tip = int_log.agg({"_seq": "max"}).collect()[0][0]
    str_log = int_log.withColumn(
        "user_key", F.concat(F.lit("u-"), F.lpad(F.col("user_id"), 6, "0"))
    )
    int_chunks = [ChunkRange(None, 8), ChunkRange(8, 16), ChunkRange(16, None)]
    str_chunks = [
        ChunkRange(None, "u-000005"),
        ChunkRange("u-000005", "u-000011"),
        ChunkRange("u-000011", None),
    ]
    rng = random.Random(0x5EED5)

    def random_brackets():
        brackets = []
        for _ in range(3):
            lw = rng.randrange(0, tip + 1)
            if rng.random() < 0.25:
                hw = lw  # backfill skip
            else:
                hw = rng.randrange(lw, tip + 1)
            brackets.append((lw, hw))
        return brackets

    def rows(df):
        return Counter(tuple(r) for r in df.collect())

    # (log, split key, chunks, brackets, brackets of a crashed first run)
    trials = [(int_log, "user_id", int_chunks, random_brackets(), None)
              for _ in range(4)]
    trials.append((int_log, "user_id", int_chunks, random_brackets(),
                   random_brackets()))
    trials.append((str_log, "user_key", str_chunks, random_brackets(), None))
    for trial, (log, key, chunks, fresh, crashed) in enumerate(trials):
        mpath, brackets = None, fresh
        if crashed is not None:
            mpath = str(tmp_path / f"manifest_{trial}.json")
            HybridPipeline(spark, log, [key], manifest_path=mpath).run_snapshot_phase(
                chunks[:2], key, watermarks=lambda i: crashed[i])
            brackets = crashed[:2] + fresh[2:]  # resumed chunks keep theirs
        p = HybridPipeline(spark, log, [key], manifest_path=mpath)
        wm = lambda i: fresh[i]  # noqa: E731
        snap, manifest = p.run_snapshot_phase(chunks, key, watermarks=wm)
        assert [(c.low_watermark, c.high_watermark) for c in manifest.chunks] == brackets
        want = Counter()
        for chunk, (_lw, hw) in zip(chunks, brackets):
            image = materialize(
                log.filter((F.col(SEQ_COL) <= hw) & F.expr(chunk.predicate_sql(key))),
                [key],
            ).withColumn(OP_COL, F.lit(OP_INSERT)).withColumn(
                SEQ_COL, F.lit(hw).cast("long"))
            assert image.columns == snap.columns
            want += rows(image)
        assert rows(snap) == want, (trial, brackets)
        final = p.run(chunks, key, watermarks=wm)
        assert rows(final) == rows(materialize(log, [key])), (trial, brackets)
