"""Priority sampling — weighted sampling WITHOUT replacement with an
unbiased subset-sum estimator (Duffield, Lund, Thorup, "Priority
sampling for estimation of arbitrary subset sums", JACM 54(6), 2007).

The pretraining-pipeline use: draw a k-document sample where long
documents are proportionally more likely (weight = token count), such
that any downstream per-subset token total (per source, per language,
per quality band) can be estimated unbiasedly from the sample alone via
the adjusted weights — the standard way to audit a 100 TB corpus from a
laptop-sized sample.

Scale shape: one narrow projection computes each doc's integer priority
key; selection is ``ORDER BY key LIMIT k+1``, which Spark executes as
TakeOrderedAndProject — a per-partition top-(k+1) heap followed by a
driver merge of k+1-row partials.  NO global sort, no full shuffle; the
only post-scan state is k+1 skinny rows.  The (k+1)-th priority is the
DLT threshold tau; every sampled doc reports ``adjusted_weight =
max(weight, tau)`` whose subset sums are the unbiased estimators.

Determinism (the oracle-parity contract): the uniform draw is a fixed
two-round affine mix of doc_id mod P = 2^31-1, mapped to u in [1, P];
the priority w/ (u/P) = w*P/u is kept as the exact integer
floor(w*P/u) — no float at any step, so DuckDB reproduces selection,
threshold, and estimators bit for bit.  Ties (equal keys) break by
doc_id on both engines.  The integer floor can only reorder two docs
whose true rational priorities differ by < 1; at P = 2^31-1 that is a
relative gap below ~1e-9 — and the tie-break keeps even that case
deterministic (tests cross-check the ordering against exact Fractions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.functions.hashing import sql_tokens, tokens
from flink_cdc_2_3_0_src_spark.io import pin

_P = 2_147_483_647  # 2^31 - 1
# two fixed affine rounds decorrelate sequential doc_ids; classic LCG
# multipliers, embedded as the same literals in the SQL twin
_A1, _B1 = 1_103_515_245, 12_345
_A2, _B2 = 69_069, 1_234_567


def _priority_cols():
    """(u, priority_key) exprs over columns doc_id, w — all int64:
    u in [1, P];  key = floor(w * P / u)  (w*P < 2^63 for w < 4.29e9,
    far above any real token count).  doc_id is reduced mod P BEFORE
    the first multiply: A1 * doc_id would wrap int64 past doc_id ~8e9
    (Spark wraps silently where DuckDB raises — a cross-engine split
    a 100 TB id space would actually hit)."""
    h1 = (F.lit(_A1) * (F.col("doc_id") % F.lit(_P)) + F.lit(_B1)) % F.lit(_P)
    u = ((F.lit(_A2) * h1 + F.lit(_B2)) % F.lit(_P)) + F.lit(1)
    return u.alias("u"), F.expr(f"(w * {_P}) div u").alias("priority_key")


def priority_sample(
    docs: DataFrame, k: int = 50, weight_col: str | None = None
) -> DataFrame:
    """k-doc weighted sample plus the DLT adjusted weights.  The weight
    is the token count by default; pass ``weight_col`` to sample by any
    non-negative integer column (bytes, chars, a quality-scaled size).

    Returns (doc_id, source, w, priority_key, adjusted_weight) ordered
    by rank; ``sum(adjusted_weight)`` estimates the corpus weight total,
    and any subset's adjusted sum estimates that subset's total.
    Corpora with <= k docs return every doc with adjusted_weight = w
    (tau = 0)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    w = (
        F.col(weight_col).cast("long")
        if weight_col
        else F.size(tokens(F.col("text"))).cast("long")
    )
    d = docs.select("doc_id", "source", w.alias("w"))
    keyed = d.select("doc_id", "source", "w", *_priority_cols())
    # top-(k+1): per-partition heaps + driver merge (TakeOrderedAndProject).
    # pin the k+1-row result so the tau branch below reuses it instead
    # of re-scanning the corpus (same pattern as the CMS vocabulary
    # pass) — exactly one FileScan in the final plan.
    top = pin(
        keyed.orderBy(F.col("priority_key").desc(), F.col("doc_id")).limit(k + 1),
        fanout=True,
    )
    # the frame below is <= k+1 rows: a single-partition window is bounded
    # by construction, not by data size
    from pyspark.sql.window import Window

    rn = F.row_number().over(
        Window.orderBy(F.col("priority_key").desc(), F.col("doc_id"))
    )
    ranked = top.select("*", rn.alias("rank"))
    tau = ranked.where(F.col("rank") == k + 1).select(
        F.col("priority_key").alias("tau")
    )
    return (
        ranked.where(F.col("rank") <= k)
        # left join on TRUE against the 0-or-1-row tau frame: keeps the
        # sample when tau is absent (corpus <= k docs) with tau -> 0
        .join(F.broadcast(tau), F.lit(True), "left")
        .select(
            "doc_id",
            "source",
            "w",
            "priority_key",
            "rank",
            F.greatest(F.col("w"), F.coalesce(F.col("tau"), F.lit(0))).alias(
                "adjusted_weight"
            ),
        )
        .orderBy("rank")
    )


def priority_sample_sql(k: int = 50) -> str:
    """DuckDB twin: identical mix, integer priorities, threshold, and
    adjusted weights."""
    return f"""
    WITH d AS (
        SELECT doc_id, source,
               CAST(len({sql_tokens('text')}) AS BIGINT) AS w
        FROM documents
    ),
    keyed AS (
        -- CAST keeps the mix in BIGINT even when doc_id is an INT32
        -- column (DuckDB would otherwise overflow the multiply instead
        -- of promoting)
        SELECT doc_id, source, w,
               (({_A2} * (({_A1} * (CAST(doc_id AS BIGINT) % {_P}) + {_B1})
                 % {_P}) + {_B2}) % {_P}) + 1 AS u
        FROM d
    ),
    pri AS (
        SELECT doc_id, source, w, (w * {_P}) // u AS priority_key
        FROM keyed
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY priority_key DESC, doc_id) AS rank
        FROM pri QUALIFY rank <= {k + 1}
    )
    SELECT doc_id, source, w, priority_key, rank,
           greatest(w, COALESCE(
               (SELECT priority_key FROM ranked WHERE rank = {k + 1}), 0))
               AS adjusted_weight
    FROM ranked WHERE rank <= {k}
    ORDER BY rank
    """


__all__ = ["priority_sample", "priority_sample_sql"]
