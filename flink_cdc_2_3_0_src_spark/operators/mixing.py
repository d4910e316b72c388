"""Data-mixture construction: deterministic per-source weighted
subsampling against a global token budget.

The last step of a pretraining data pipeline: given per-source mixture
weights and a total token budget, compute each source's allocation,
derive a per-source keep-rate, and select documents by CONTENT HASH (not
RNG) so the sample is reproducible run-to-run, machine-to-machine, and
insensitive to partitioning — the property a 100 TB pipeline needs to
resume / re-run without resampling the world.

Scale shape: one narrow per-source aggregate (map-side partial, ~n_sources
rows), a single-row global total, rates broadcast back into the document
scan, final rollup.  No wide shuffle ever carries document text; the
only per-document state is (source, n_tokens, hash).

Float discipline: weights and token counts are exact integers; the only
double arithmetic is the final alloc/keep-rate division, evaluated in
the same operand order on both engines (IEEE-deterministic), then
floored into integer parts-per-million.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.functions.hashing import (
    poly_hash,
    sql_poly_hash,
    sql_tokens,
    tokens,
)
from flink_cdc_2_3_0_src_spark.io import pin

# keep-rate resolution: parts-per-million of the content-hash space
_PPM = 1_000_000


def _source_weight(src):
    """Deterministic demo weight 1..4 derived from the source id (used
    when no explicit weights map is given; the derived form keeps the
    DuckDB oracle able to recompute it).  Sources not shaped like
    ``src<N>`` fall back to weight 1."""
    idx = F.substring(src, 4, 8).cast("int")
    return F.coalesce(F.lit(1) + F.pmod(idx, F.lit(4)), F.lit(1))


def _weight_expr(src, weights: dict | None):
    if weights is None:
        return _source_weight(src)
    w = F.lit(1)  # unlisted sources keep weight 1
    for name, val in weights.items():
        if not isinstance(val, int) or val < 0:
            raise ValueError(f"weight for {name!r} must be a non-negative int")
        w = F.when(src == name, F.lit(val)).otherwise(w)
    return w


def mix_weighted_sample(
    docs: DataFrame,
    budget_num: int = 1,
    budget_den: int = 2,
    weights: dict | None = None,
) -> DataFrame:
    """Per-source mixture report: docs/tokens available, weight,
    keep-rate (ppm), docs/tokens actually selected at that rate.

    budget = total_corpus_tokens * budget_num / budget_den; source s
    gets budget * w_s / sum(w), clamped at its own size.  ``weights``
    maps source name -> integer weight (weight 0 drops the source);
    unlisted sources default to 1.  Without a map, the deterministic
    demo weight keeps the operator oracle-comparable.
    """
    st = docs.select(
        "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("ntok"),
        poly_hash(F.col("text")).alias("h"),
    )
    per_src = st.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("tok_s"),
    )
    per_src = per_src.withColumn(
        "weight", _weight_expr(F.col("source"), weights).cast("bigint")
    )
    tot = per_src.agg(
        F.sum("tok_s").alias("_T"), F.sum("weight").alias("_W")
    )
    # rates: alloc = T * num * w / (den * W); keep = min(1, alloc/tok_s)
    rates = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tok_s",
        "weight",
        F.floor(
            F.least(
                F.lit(1.0),
                F.col("_T").cast("double")
                * F.lit(float(budget_num))
                * F.col("weight").cast("double")
                / (F.lit(float(budget_den)) * F.col("_W").cast("double"))
                / F.col("tok_s").cast("double"),
            )
            * F.lit(_PPM)
        )
        .cast("bigint")
        .alias("keep_ppm"),
    )
    sel = st.join(
        F.broadcast(rates.select("source", "keep_ppm")), "source"
    ).where(F.pmod(F.col("h"), F.lit(_PPM)) < F.col("keep_ppm"))
    kept = sel.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("ntok").alias("kept_tokens"),
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "tok_s",
            "weight",
            "keep_ppm",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("kept_tokens"), F.lit(0)).alias("kept_tokens"),
        )
    )


def mix_weighted_sample_sql(budget_num: int = 1, budget_den: int = 2) -> str:
    return f"""
    WITH st AS (
        SELECT source,
               CAST(len({sql_tokens('text')}) AS BIGINT) AS ntok,
               {sql_poly_hash('text')} AS h
        FROM documents
    ),
    s AS (
        SELECT source, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS tok_s
        FROM st GROUP BY source
    ),
    sw AS (
        SELECT *, CAST(1 + (CAST(substr(source, 4) AS INT) % 4) AS BIGINT)
                   AS weight
        FROM s
    ),
    t AS (SELECT CAST(SUM(tok_s) AS BIGINT) AS T, CAST(SUM(weight) AS BIGINT) AS W FROM sw),
    r AS (
        SELECT sw.source, sw.n_docs, sw.tok_s, sw.weight,
               CAST(floor(least(1.0,
                     CAST(t.T AS DOUBLE) * {float(budget_num)} * CAST(sw.weight AS DOUBLE)
                     / ({float(budget_den)} * CAST(t.W AS DOUBLE))
                     / CAST(sw.tok_s AS DOUBLE)) * {_PPM}) AS BIGINT) AS keep_ppm
        FROM sw, t
    ),
    k AS (
        SELECT st.source, COUNT(*) AS n_kept, CAST(SUM(st.ntok) AS BIGINT) AS kept_tokens
        FROM st JOIN r USING (source)
        WHERE st.h % {_PPM} < r.keep_ppm
        GROUP BY st.source
    )
    SELECT r.source, r.n_docs, r.tok_s, r.weight, r.keep_ppm,
           coalesce(k.n_kept, 0) AS n_kept,
           coalesce(k.kept_tokens, 0) AS kept_tokens
    FROM r LEFT JOIN k USING (source)
    """


def token_budget_select(
    docs: DataFrame,
    budget_num: int = 3,
    budget_den: int = 10,
) -> DataFrame:
    """Quality-ranked greedy corpus selection under a global token
    budget — "keep the best documents until the token budget is spent",
    the final selection step of a pretraining-data pipeline.

    Semantics (deterministic, engine-portable): rank docs by
    (quality DESC, doc_id ASC); keep every doc whose INCLUSIVE running
    token total is <= budget = floor(total_tokens * num / den).

    Scale shape: the naive form is one global-ORDER-BY window — a
    single-partition sort of the whole corpus, a scale-killer.  Here
    the running total is two-phase: (1) aggregate tokens per DISTINCT
    quality value (quality is rounded to 6dp, so this frame is bounded
    by the value domain — <= 1e6+1 rows — NOT the corpus) and prefix-
    sum that small frame; (2) buckets that fit entirely are kept with
    no per-doc window at all, and only the single BOUNDARY bucket gets
    a per-doc running sum — itself two-phase over order-aligned doc_id
    ranges (div 4096), so even a pathological corpus where most docs
    share one rounded quality value never sorts more than a range's
    worth of docs in one partition.
    """
    from pyspark.sql.window import Window

    from flink_cdc_2_3_0_src_spark.operators.text import quality_score, tokens

    base = docs.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("ntok"),
        quality_score(F.col("text")).alias("quality"),
    ).filter(F.col("ntok").isNotNull())  # null text: Spark's null join
    # key would silently drop it while a window cumsum would keep it —
    # pin the cross-engine behavior to "dropped" explicitly
    base = base.withColumn(
        "sbkt", F.floor(F.col("doc_id") / F.lit(4096)).cast("long")
    )
    # ONE corpus aggregation: per (quality, doc_id-range) totals.  The
    # per-quality totals and the budget scalar roll up from it, and the
    # boundary bucket's sub-range prefix reads it directly.
    per_s = base.groupBy("quality", "sbkt").agg(F.sum("ntok").alias("tok_sb"))
    # materialize the per-quality frame once: it is VALUE-DOMAIN bounded
    # (<= 1e6+1 rows at 6dp rounding, regardless of corpus size) and
    # referenced three times (budget scalar, broadcast metadata,
    # boundary-bucket pick) — without this, each reference re-runs the
    # scan+tokenize+aggregate subtree (double-typed group keys defeat
    # Spark's exchange reuse across the references)
    per_q = pin(
        per_s.groupBy("quality").agg(F.sum("tok_sb").alias("tok_q")),
        fanout=True,
    )
    tot = per_q.agg(
        F.floor(
            F.sum("tok_q") * F.lit(budget_num) / F.lit(budget_den)
        ).cast("bigint").alias("budget")
    )
    # prefix over the SMALL per-quality frame (bounded by the 6dp value
    # domain, not the corpus)
    wq = (
        Window.orderBy(F.col("quality").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_q = per_q.withColumn(
        "cum_before", F.coalesce(F.sum("tok_q").over(wq), F.lit(0))
    ).crossJoin(F.broadcast(tot))
    # the one BOUNDARY bucket (straddles the budget) gets a sub-range
    # prefix: s_before = tokens in the same quality's EARLIER doc_id
    # ranges, read straight off per_s — never a per-doc pass
    bq = per_q.filter(
        (F.col("cum_before") < F.col("budget"))
        & (F.col("cum_before") + F.col("tok_q") > F.col("budget"))
    )
    ws = (
        Window.partitionBy("quality")
        .orderBy("sbkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_sb = (
        per_s.join(F.broadcast(bq.select("quality")), "quality")
        .withColumn("s_before", F.coalesce(F.sum("tok_sb").over(ws), F.lit(0)))
    )
    # ONE pass over the docs: broadcast the per-quality metadata in,
    # left-join the boundary sub-range prefixes (same (quality, sbkt)
    # keys the window below shuffles on, so they share the exchange),
    # and compute the per-doc running sum for every row with a window
    # whose partitions are doc_id ranges — bounded at 4096 docs each,
    # never the corpus.  Keep = the bucket fits entirely, or the doc is
    # in the boundary bucket and its inclusive running total still fits.
    wb = (
        Window.partitionBy("quality", "sbkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    joined = (
        base.join(
            F.broadcast(per_q.select("quality", "tok_q", "cum_before", "budget")),
            "quality",
        )
        .join(
            per_sb.select("quality", "sbkt", "s_before"),
            ["quality", "sbkt"],
            "left",
        )
        .withColumn("cum_in", F.sum("ntok").over(wb))
    )
    keep = (F.col("cum_before") + F.col("tok_q") <= F.col("budget")) | (
        F.col("s_before").isNotNull()
        & (
            F.col("cum_before") + F.col("s_before") + F.col("cum_in")
            <= F.col("budget")
        )
    )
    return joined.filter(keep).select("doc_id", "source", "ntok", "quality")


def token_budget_select_sql(budget_num: int = 3, budget_den: int = 10) -> str:
    from flink_cdc_2_3_0_src_spark.operators.text import (
        _STOP_LIST_SQL,
        sql_tokens,
    )

    return f"""
    WITH tk AS (
        SELECT doc_id, source, {sql_tokens('text')} AS toks FROM documents
    ),
    scored AS (
        SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS ntok,
               round(0.5 * (CAST(len([t for t in toks if list_contains([{_STOP_LIST_SQL}], t)]) AS DOUBLE)
                            / CAST(greatest(len(toks), 1) AS DOUBLE))
                   + 0.5 * least(1.0, CAST(len(toks) AS DOUBLE) / 64.0), 6) AS quality
        FROM tk
    ),
    nn AS (SELECT * FROM scored WHERE ntok IS NOT NULL),
    t AS (SELECT CAST(floor(SUM(ntok) * {budget_num} / {budget_den}) AS BIGINT) AS budget FROM nn),
    c AS (
        SELECT nn.*, t.budget,
               SUM(ntok) OVER (ORDER BY quality DESC, doc_id) AS cum
        FROM nn, t
    )
    SELECT doc_id, source, ntok, quality FROM c WHERE cum <= budget
"""


def sequence_pack_spans(
    docs: DataFrame,
    capacity: int = 2048,
) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in doc_id
    order and chunk the token stream into fixed-``capacity`` training
    windows; per doc, report its global token offset and the window
    (bin) range it lands in — the example-construction step between a
    cleaned corpus and a training run.

    (doc_id, ntok, start, first_bin, last_bin): ``start`` = exclusive
    running token total before the doc; bins are ``start div capacity``
    through ``(start + ntok - 1) div capacity`` (a doc may straddle
    windows — exactly what concat-and-chunk packing does).  Zero-token
    docs are dropped (they occupy no window).

    Scale shape: the global running total is two-phase like
    ``token_budget_select`` — per-coarse-bucket (doc_id div 4096)
    partial sums prefixed over the 4096×-smaller aggregated frame, then
    a within-bucket window partitioned by bucket.  Integer arithmetic
    throughout (no float div), so offsets are exact at any corpus size.
    """
    from pyspark.sql.window import Window

    from flink_cdc_2_3_0_src_spark.operators.text import tokens

    base = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("ntok"),
    ).filter(F.col("ntok") > 0)
    b = base.withColumn("bkt", (F.col("doc_id") - F.pmod("doc_id", F.lit(4096))) / 4096)
    per_b = b.groupBy("bkt").agg(F.sum("ntok").alias("tok_b"))
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    per_b = per_b.withColumn(
        "bkt_before", F.coalesce(F.sum("tok_b").over(wb), F.lit(0))
    )
    wd = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = (
        b.join(per_b.select("bkt", "bkt_before"), "bkt")
        .withColumn(
            "start",
            F.col("bkt_before") + F.coalesce(F.sum("ntok").over(wd), F.lit(0)),
        )
    )
    cap = F.lit(capacity)
    fdiv = lambda c: ((c - F.pmod(c, cap)) / cap).cast("bigint")  # noqa: E731
    return placed.select(
        "doc_id",
        "ntok",
        "start",
        fdiv(F.col("start")).alias("first_bin"),
        fdiv(F.col("start") + F.col("ntok") - 1).alias("last_bin"),
    )


def sequence_pack_spans_sql(capacity: int = 2048) -> str:
    from flink_cdc_2_3_0_src_spark.operators.text import sql_tokens

    return f"""
    WITH tk AS (
        SELECT doc_id, CAST(len({sql_tokens('text')}) AS BIGINT) AS ntok
        FROM documents
    ),
    nz AS (SELECT * FROM tk WHERE ntok > 0),
    c AS (
        SELECT doc_id, ntok,
               CAST(COALESCE(SUM(ntok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS start
        FROM nz
    )
    SELECT doc_id, ntok, start,
           CAST(start // {capacity} AS BIGINT) AS first_bin,
           CAST((start + ntok - 1) // {capacity} AS BIGINT) AS last_bin
    FROM c
"""
