"""Count-Min sketch — sublinear frequency estimation for heavy-hitter
queries over streams/corpora too large for exact per-key counts.

The 100 TB shape: exact token counts need a corpus-wide shuffle keyed by
token (unbounded key cardinality); a CMS needs ONE aggregation into a
fixed d × w counter matrix (d hash rows, w buckets — kilobytes), which
partial-aggregates map-side and merges by cell addition (the sketch is
a commutative monoid, so executor-local sketches combine exactly).
Estimates only ever OVER-count (min over d rows bounds collisions).

Determinism: the hash family is the same fixed affine-mod-P family the
bloom filter uses, over the engine-portable polynomial string hash — so
the DuckDB oracle builds the identical matrix cell for cell, and the
estimate/overestimate columns match exactly.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.functions.hashing import (
    POLY_MOD,
    POLY_MULT,
    poly_hash_expr,
    sql_poly_hash,
    sql_tokens,
    tokens,
)

_P = 2_147_483_647
_ROWS = [(998_244_353, 12_289), (805_306_457, 37), (1_000_000_007, 65_537)]
CMS_WIDTH = 1_024


def _cms_bucket(hcol, a: int, b: int, width: int):
    x = (hcol % _P + _P) % _P
    return ((F.lit(a) * x + F.lit(b)) % _P) % width


def cms_cells(hashed, width: int = CMS_WIDTH, weight_col: str | None = None) -> DataFrame:
    """The d × w counter matrix as a (r, c, n) cell frame (≤ d·w rows —
    kilobytes, data-size independent).  One aggregation: explode each
    value into its d (row, bucket) cells, count per cell."""
    return hashed.select(
        *( [F.col(weight_col).alias("_w")] if weight_col else [] ),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ri).alias("r"),
                        _cms_bucket(F.col("h"), a, b, width).alias("c"),
                    )
                    for ri, (a, b) in enumerate(_ROWS)
                ]
            )
        ).alias("cell"),
    ).groupBy(F.col("cell.r").alias("r"), F.col("cell.c").alias("c")).agg(
        (F.sum("_w") if weight_col else F.count(F.lit(1))).alias("n")
    )


def cms_build(hashed, width: int = CMS_WIDTH, weight_col: str | None = None) -> dict:
    """Build the d × w counter matrix from a DataFrame with an ``h``
    hash column (see :func:`cms_cells`).  The matrix is a commutative
    monoid under cell-wise addition — sketches built on partitions of
    the data merge EXACTLY into the whole-data sketch (pinned by
    tests), which is why executor-local partial aggregation is lossless
    here.

    ``weight_col``: build from PRE-AGGREGATED (value, count) rows
    instead of one row per occurrence — cell n becomes SUM(weight),
    bit-identical to the occurrence-level build (cells are sums either
    way) while hashing each distinct value exactly once."""
    cells = cms_cells(hashed, width, weight_col)
    return {(int(r["r"]), int(r["c"])): int(r["n"]) for r in cells.collect()}


def cms_merge(a: dict, b: dict) -> dict:
    """Cell-wise sum — the sketch monoid's merge."""
    out = dict(a)
    for k, v in b.items():
        out[k] = out.get(k, 0) + v
    return out


def cms_heavy_hitters(docs: DataFrame, top_k: int = 20, width: int = CMS_WIDTH) -> DataFrame:
    """Estimate the corpus's top-k token frequencies through a Count-Min
    sketch and report estimate vs exact (the overestimate is the
    sketch's collision cost — never negative).  Rows come ordered by
    ``exact_n`` descending, then ``tok``.

    Build: one explode + ONE fixed-size aggregation (d*w cells max) —
    broadcast into the probe join (kilobytes, data-size independent,
    same boundedness as the old driver-collect + literal-array fold).
    Probe: the exact top-k tokens (computed here for the comparison; a
    production probe set is whatever keys you care about).

    Cost shape: tokens are counted FIRST (cheap codegen'd groupBy), so
    the per-character polynomial hash runs once per DISTINCT token
    (vocabulary-sized) instead of once per occurrence, and the matrix
    is built from (hash, count) weighted rows — bit-identical cells,
    ~corpus/vocabulary times less hash work.  One localCheckpoint keeps
    the vocabulary pass shared between the matrix build and the exact
    top-k (it would otherwise recompute).

    r14: the probe reads the cells through a BROADCAST join on (r, c)
    instead of a driver collect folded back as three 1024-element
    literal arrays — the collect was a separate sequential job per
    query run, and the literal arrays made the probe projection's
    generated code large enough to stall first-run compilation
    (guide §5 driver chain / §2.6).  min(coalesce(n, 0)) over the d
    joined cells ≡ least(element_at(...)) with absent cells read as 0 —
    bit-identical estimates."""
    from flink_cdc_2_3_0_src_spark.io import pin, spread_small_scan

    toks = spread_small_scan(docs.select("text")).select(
        F.explode(tokens(F.col("text"))).alias("tok")
    )
    vocab = pin(
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .select("tok", "exact_n", poly_hash_expr(F.col("tok")).alias("h"))
    )
    cells = cms_cells(vocab, width, weight_col="exact_n")
    exact = vocab.orderBy(F.col("exact_n").desc(), F.col("tok")).limit(top_k)
    probes = exact.select(
        "tok",
        "exact_n",
        F.posexplode(
            F.array(
                *[
                    _cms_bucket(F.col("h"), a, b, width)
                    for a, b in _ROWS
                ]
            )
        ).alias("r", "c"),
    )
    est = probes.join(F.broadcast(cells), ["r", "c"], "left").groupBy(
        "tok", "exact_n"
    ).agg(
        F.min(F.coalesce(F.col("n"), F.lit(0).cast("bigint"))).alias("cms_n")
    )
    # the probe's groupBy drops the top-k order: restore it (exact_n
    # desc, then tok) — a sort of top_k rows
    return est.select(
        "tok",
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).alias("overestimate"),
    ).orderBy(F.col("exact_n").desc(), F.col("tok"))


def cms_heavy_hitters_sql(top_k: int = 20, width: int = CMS_WIDTH) -> str:
    """DuckDB twin: identical hash family, matrix, min-over-rows probe."""
    buckets = [
        f"((({a} * ((h % {_P} + {_P}) % {_P}) + {b}) % {_P}) % {width})"
        for a, b in _ROWS
    ]
    cell_rows = " UNION ALL ".join(
        f"SELECT {ri} AS r, {buckets[ri]} AS c, h FROM th"
        for ri in range(len(_ROWS))
    )
    ests = [
        f"(SELECT n FROM cells WHERE r = {ri} AND c = {buckets[ri]})"
        for ri in range(len(_ROWS))
    ]
    est = f"least({', '.join(ests)})"
    return f"""
    WITH tk AS (
        SELECT unnest({sql_tokens('text')}) AS tok FROM documents
    ),
    th AS (SELECT tok, {sql_poly_hash('tok')} AS h FROM tk),
    cells AS (
        SELECT r, c, CAST(COUNT(*) AS BIGINT) AS n
        FROM ({cell_rows}) GROUP BY r, c
    ),
    exact AS (
        SELECT tok, h, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM th GROUP BY tok, h
        ORDER BY exact_n DESC, tok LIMIT {top_k}
    )
    SELECT tok, exact_n,
           CAST({est} AS BIGINT) AS cms_n,
           CAST({est} - exact_n AS BIGINT) AS overestimate
    FROM exact
    """


# --------------------------------------------------------------------------
# HyperLogLog — sublinear DISTINCT-count estimation (the cardinality
# complement of the Count-Min frequency sketch above).
#
# The 100 TB shape: exact per-source vocabulary size needs a corpus-wide
# shuffle keyed by (source, token) — unbounded key cardinality, the
# single most expensive pattern in a dedup/statistics pipeline.  An HLL
# needs ONE aggregation into m fixed registers per group: each doc is
# reduced executor-side (Arrow-batched UDF) to its 64-register partial,
# and registers merge by element-wise MIN/MAX — a commutative monoid, so
# Spark's map-side partial aggregation is lossless and the shuffle
# carries n_groups rows of 64 longs regardless of corpus size.
# (Flajolet et al., "HyperLogLog: the analysis of a near-optimal
# cardinality estimation algorithm", AofA 2007.)
#
# Exact cross-engine determinism: HLL is normally float-laden (2^-M
# sums, alpha correction, log corrections).  Here every step is exact
# integer arithmetic so the DuckDB oracle hash-matches bit for bit:
#   - register value stores the SCALED CONTRIBUTION 2^bitlen(w) =
#     2^(w_bits+1-rho) directly (min over items == max over rho), so
#     the indicator sum  S = sum_j 2^(w_bits+1-M_j)  is an integer SUM;
#   - alpha_m = 0.7213/(1 + 1.079/m) is the exact rational
#     7213*m / (10000*m + 10790), so the raw estimate
#     floor(alpha * m^2 / sum 2^-M_j) = NUM // (DEN * S) is one int div;
#   - the small-range linear-counting branch m*ln(m/V) has only m
#     possible inputs, precomputed once in Python and embedded as the
#     same literal lookup array in both engines.
# --------------------------------------------------------------------------

HLL_M = 64  # default registers (p = 6); std error ~1.04/sqrt(64) = 13%
# The poly hash is a 31-ary polynomial — highly structured, so register
# index/rank splits of an affine transform of it are NOT uniform (an
# early affine-mod-P mix showed 3-4 sigma estimate bias on structured
# vocabularies).  Murmur3's public fmix32 finalizer (Austin Appleby,
# public domain) gives full avalanche; its wrapping 32-bit multiplies
# are computed overflow-free in int64 by 16-bit-split multiplication,
# identically in numpy and DuckDB SQL.
_FMIX_C1 = 0x85EBCA6B
_FMIX_C2 = 0xC2B2AE35
_M32 = 0xFFFFFFFF


class _HLLParams:
    """All m-derived constants, computed once per precision.

    m is a power of two in [64, 256]: below 64 the paper pins bespoke
    alpha constants (the rational formula drifts); above 256 the scaled
    estimate numerator 7213 * 2^(2p+33) exceeds int64 on the 32-bit
    mixed-hash domain.  m = 256 gives a 6.5% standard error — precision
    beyond that belongs to an exact count, not a sketch."""

    def __init__(self, m: int):
        import math

        if m & (m - 1) or not (64 <= m <= 256):
            raise ValueError(
                f"HLL m must be a power of two in [64, 256], got {m}"
            )
        self.m = m
        self.p = m.bit_length() - 1
        self.w_bits = 32 - self.p  # rank bits of the 32-bit mixed hash
        self.empty = 1 << (self.w_bits + 1)  # empty register (rho = 0)
        # raw estimate = alpha_m * m^2 / sum(2^-M_j), sum scaled by
        # 2^(w_bits+1): NUM // (DEN * S) in exact int64
        self.num = 7213 * m**3 * self.empty
        self.den = 10000 * m + 10790
        self.small = 5 * m // 2  # linear-counting threshold 2.5m
        # linear counting m*ln(m/V) for V = 1..m, rounded half-up —
        # identical literals on both engines keep the branch float-free
        self.linear = [
            int(math.floor(m * math.log(m / v) + 0.5)) for v in range(1, m + 1)
        ]


_HLL_PARAMS_CACHE: dict = {}


def hll_params(m: int = HLL_M) -> _HLLParams:
    if m not in _HLL_PARAMS_CACHE:
        _HLL_PARAMS_CACHE[m] = _HLLParams(m)
    return _HLL_PARAMS_CACHE[m]


# default-precision aliases (tests and the streaming composition use
# these to re-derive estimates from raw register states)
_HLL_W_BITS = hll_params().w_bits
_HLL_EMPTY = hll_params().empty
_HLL_NUM = hll_params().num
_HLL_DEN = hll_params().den
_HLL_SMALL = hll_params().small
_HLL_LINEAR = hll_params().linear


def _np_mulmod32(h, c):
    """(h * c) mod 2^32 without int64 overflow: 16-bit-split multiply
    (lo*c <= 2^48, (hi*c & M32) << 16 <= 2^48)."""
    lo = h & 0xFFFF
    hi = h >> 16
    return ((lo * c) + (((hi * c) & _M32) << 16)) & _M32


def _np_fmix32(h):
    """Murmur3 fmix32 over an int64 array holding 32-bit values."""
    h = h & _M32
    h = h ^ (h >> 16)
    h = _np_mulmod32(h, _FMIX_C1)
    h = h ^ (h >> 13)
    h = _np_mulmod32(h, _FMIX_C2)
    return h ^ (h >> 16)


def _make_hll_doc_regs_udf(m: int):
    from flink_cdc_2_3_0_src_spark.functions.hashing import (
        _py_poly_hash_cached,
        _py_tokens,
    )

    pr = hll_params(m)

    @F.pandas_udf("array<long>")
    def _regs(s: pd.Series) -> pd.Series:
        def regs(text):
            if text is None:
                return None
            out = np.full(pr.m, pr.empty, dtype=np.int64)
            hs = {_py_poly_hash_cached(t) for t in _py_tokens(text)}
            if hs:
                h = np.fromiter(hs, dtype=np.int64, count=len(hs))
                h2 = _np_fmix32(h)
                idx = h2 & (pr.m - 1)
                w = h2 >> pr.p
                # contribution 2^bitlen(w): frexp's exponent IS bitlen for
                # integer w > 0 (and (0.0, 0) for w = 0 -> 2^0 = 1), exact
                # in double since w < 2^w_bits <= 2^26
                _, e = np.frexp(w.astype(np.float64))
                c = np.left_shift(np.int64(1), e.astype(np.int64))
                np.minimum.at(out, idx, c)
            return [int(x) for x in out]

        return s.map(regs)

    return _regs


def hll_doc_registers(text_col, m: int = HLL_M):
    """text → m-long array: this doc's HLL register partial (min scaled
    contribution per register; 2^(w_bits+1) where untouched)."""
    from flink_cdc_2_3_0_src_spark.functions.hashing import _cached

    return _cached(f"hll_regs{m}", lambda: _make_hll_doc_regs_udf(m))(text_col)


def hll_merge_registers(regs_col: str = "regs", m: int = HLL_M):
    """Element-wise MIN aggregate expressions across a group's register
    arrays — the sketch monoid's merge (min of scaled contributions ==
    max of ranks); null partials (null-text docs) are ignored by MIN."""
    pr = hll_params(m)
    return [
        F.coalesce(
            F.min(F.element_at(F.col(regs_col), j + 1)), F.lit(pr.empty)
        ).alias(f"_r{j}")
        for j in range(pr.m)
    ]


def _hll_estimate_cols(arr, m: int = HLL_M):
    """(zero_registers, sum_scaled) from a merged register array —
    all exact integer arithmetic, see module note."""
    pr = hll_params(m)
    sum_scaled = F.aggregate(
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x
    ).alias("sum_scaled")
    zeros = F.size(F.filter(arr, lambda x: x == F.lit(pr.empty))).cast(
        "long"
    ).alias("zero_registers")
    return zeros, sum_scaled


def hll_distinct(
    docs: DataFrame, group_col: str = "source", m: int = HLL_M
) -> DataFrame:
    """Per-group distinct-token cardinality via an m-register HyperLogLog
    (std error ~1.04/sqrt(m); m = 64 → 13%, m = 256 → 6.5% — the
    enforced range is [64, 256]: the all-integer estimate path scales
    the numerator by m^3 * 2^(w_bits+1), which must stay inside int64).
    Production use at corpus scale should prefer m = 256; the m = 64
    default keeps the fixture-scale oracle comparison cheap.

    Plan shape: one Arrow-batched projection (doc → register partial),
    one fixed-width groupBy (m MIN aggregates, map-side partial), then
    pure column math — no token-keyed shuffle at any width.  Columns are
    bit-identical to the DuckDB oracle (`hll_distinct_sql`)."""
    from flink_cdc_2_3_0_src_spark.io import spread_small_scan

    pr = hll_params(m)
    # drop null-text docs BEFORE grouping: MIN would ignore their null
    # partials anyway in mixed groups, but a group consisting ONLY of
    # null texts would otherwise surface on Spark (empty registers,
    # estimate 0) while the oracle's WHERE text IS NOT NULL drops it
    regs = spread_small_scan(
        docs.select(group_col, "text").filter(F.col("text").isNotNull())
    ).select(group_col, hll_doc_registers(F.col("text"), m).alias("regs"))
    merged = regs.groupBy(group_col).agg(*hll_merge_registers(m=m))
    return _finalize_hll(merged, group_col, m)


def _finalize_hll(merged: DataFrame, group_col: str, m: int) -> DataFrame:
    """Merged m-register frame (group + _r0.._r{m-1}) → the estimate
    frame (group, zero_registers, sum_scaled, est_distinct) — shared by
    the one-shot path and the incremental state path so both finalize
    bit-identically."""
    pr = hll_params(m)
    arr = F.array(*[F.col(f"_r{j}") for j in range(pr.m)])
    zeros, sum_scaled = _hll_estimate_cols(arr, m)
    # drop all-empty-register groups (zero_registers == m): a group
    # whose texts are non-null but token-less (empty/whitespace) never
    # touches a register, while the oracle's unnest emits no rows for
    # it and omits the group — keep both engines' group sets identical.
    # A group with >= 1 real token always has zero_registers < m, so
    # this post-agg filter on the m-wide merged frame is exact and free
    out = merged.select(group_col, zeros, sum_scaled).filter(
        F.col("zero_registers") < F.lit(pr.m)
    )
    raw = F.expr(f"{pr.num} div ({pr.den} * sum_scaled)")
    linear = F.element_at(
        F.lit(pr.linear).cast("array<bigint>"), F.col("zero_registers").cast("int")
    )
    est = F.when(
        (F.col("zero_registers") > 0) & (raw <= F.lit(pr.small)), linear
    ).otherwise(raw)
    return out.withColumn("est_distinct", est.cast("long")).orderBy(group_col)


def merge_hll_state(
    state: Optional[DataFrame],
    batch_docs: DataFrame,
    group_col: str = "source",
    m: int = HLL_M,
) -> DataFrame:
    """Incremental HLL register-state maintenance across ingest batches
    — the sketch member of the maintenance family (merge_agg_state's
    monoid sibling; registers merge by element-wise MIN, so batch
    partials fold into state EXACTLY, in any arrival order or split).

    ``state`` is ``None`` for the first batch, else the per-group
    m-register frame returned by the previous step.  Per batch: one
    Arrow projection over ONLY the batch's docs, one fixed-width
    min-merge of (state ∪ batch registers) — work is O(batch +
    |groups| * m), the corpus is never rescanned.  Finalize any state
    with :func:`hll_state_estimate`; the result is bit-identical to
    the one-shot :func:`hll_distinct` over the union of all batches
    (pinned by tests).

    This is the streaming-corpus-stats shape a 100 TB ingest pipeline
    runs: per-arrival-batch sketch update, constant-size state per
    group.  Reference-adjacent to the reference's per-split metrics
    accumulation (SourceReaderMetrics; the sketch replaces exact
    counters where distinct counts are wanted)."""
    pr = hll_params(m)
    regs = (
        batch_docs.select(group_col, "text")
        .filter(F.col("text").isNotNull())
        .select(group_col, hll_doc_registers(F.col("text"), m).alias("regs"))
    )
    merged_b = regs.groupBy(group_col).agg(*hll_merge_registers(m=m))
    if state is None:
        return merged_b
    return (
        state.unionByName(merged_b)
        .groupBy(group_col)
        .agg(*[F.min(f"_r{j}").alias(f"_r{j}") for j in range(pr.m)])
    )


def hll_state_estimate(
    state: DataFrame, group_col: str = "source", m: int = HLL_M
) -> DataFrame:
    """Finalize a ``merge_hll_state`` register frame into the same
    (group, zero_registers, sum_scaled, est_distinct) output
    :func:`hll_distinct` produces."""
    return _finalize_hll(state, group_col, m)


def _sql_hll_contrib(w: str, m: int = HLL_M) -> str:
    """2^bitlen(w) as an exact integer CASE chain (no float log)."""
    pr = hll_params(m)
    branches = " ".join(
        f"WHEN {w} >= {1 << k} THEN {1 << (k + 1)}"
        for k in range(pr.w_bits - 1, 0, -1)
    )
    return f"(CASE {branches} WHEN {w} >= 1 THEN 2 ELSE 1 END)"


def _sql_mulmod32(h: str, c: int) -> str:
    """(h * c) mod 2^32 via the same 16-bit-split multiply as numpy."""
    return (
        f"(((({h}) & 65535) * {c} + "
        f"((((({h}) >> 16) * {c}) & {_M32}) << 16)) & {_M32})"
    )


def hll_distinct_sql(group_col: str = "source", m: int = HLL_M) -> str:
    """DuckDB twin: identical fmix32, registers, integer estimate."""
    pr = hll_params(m)
    lin = ", ".join(str(x) for x in pr.linear)
    raw = f"({pr.num} // ({pr.den} * sum_scaled))"
    return f"""
    WITH tk AS (
        SELECT {group_col} AS g, unnest({sql_tokens('text')}) AS tok
        FROM documents WHERE text IS NOT NULL
    ),
    dt AS (SELECT DISTINCT g, tok FROM tk),
    f0 AS (SELECT g, {sql_poly_hash('tok')} AS h FROM dt),
    f1 AS (SELECT g, xor(h, h >> 16) AS h FROM f0),
    f2 AS (SELECT g, {_sql_mulmod32('h', _FMIX_C1)} AS h FROM f1),
    f3 AS (SELECT g, xor(h, h >> 13) AS h FROM f2),
    f4 AS (SELECT g, {_sql_mulmod32('h', _FMIX_C2)} AS h FROM f3),
    mixed AS (SELECT g, xor(h, h >> 16) AS h2 FROM f4),
    cells AS (
        SELECT g, h2 % {pr.m} AS idx,
               MIN({_sql_hll_contrib(f'(h2 // {pr.m})', m)}) AS c
        FROM mixed GROUP BY g, idx
    ),
    regs AS (
        SELECT g,
               CAST({pr.m} - COUNT(*) AS BIGINT) AS zero_registers,
               CAST(SUM(c) + ({pr.m} - COUNT(*)) * {pr.empty} AS BIGINT)
                   AS sum_scaled
        FROM cells GROUP BY g
    )
    SELECT g AS {group_col}, zero_registers, sum_scaled,
           CAST(CASE WHEN zero_registers > 0 AND {raw} <= {pr.small}
                THEN ([{lin}])[zero_registers]
                ELSE {raw} END AS BIGINT) AS est_distinct
    FROM regs ORDER BY {group_col}
    """


# --------------------------------------------------------------------------
# Equi-width histogram quantile sketch — rank/quantile estimation
# without sorting anything (the third sketch class: CMS = frequency,
# HLL = cardinality, this = distribution).
#
# The 100 TB shape: exact per-group percentiles need the group's values
# sorted (or an exact rank select) — a corpus-wide sort is the classic
# scale-killer, and even Spark's approx_percentile keeps a per-group
# GK buffer that is not oracle-reproducible.  An equi-width histogram
# needs TWO narrow passes: a 1-row global (min, max) aggregate, then
# one groupBy into at most B counter cells per group.  Cells merge by
# addition (commutative monoid → lossless map-side partials), and any
# quantile resolves to "the first bin whose cumulative count reaches
# the rank" with error bounded by one bin width: (max-min+1)/B.
#
# Everything is exact integer arithmetic — bin width by ceil-division,
# rank by ceil(q*n/100) = (q*n + 99) div 100, estimates as the bin's
# [lo, hi] bounds — so the DuckDB oracle matches bit for bit.
# --------------------------------------------------------------------------

QH_BINS = 256
QH_QUANTILES = (50, 90, 99)


def histogram_quantiles(
    docs: DataFrame,
    group_col: str = "source",
    quantiles: tuple = QH_QUANTILES,
    bins: int = QH_BINS,
) -> DataFrame:
    """Per-group token-count quantiles from a B-cell histogram sketch.

    Returns (group, q, n, rank_r, bin_idx, est_lo, est_hi) with
    est_lo <= exact-percentile <= est_hi and est_hi - est_lo < bin
    width.  One 1-row (min, max) collect (bounded, like the bloom/CMS
    literal folds) + one fixed-width groupBy; the per-group cumulative
    window runs over <= B rows per group, bounded by construction."""
    # null-text docs are dropped explicitly (inside docs_token_counts):
    # a NULL bin would otherwise sort FIRST in Spark's window and LAST
    # in DuckDB's — a silent cross-engine cum split
    vals = docs_token_counts(docs, group_col)
    lo_hi = vals.agg(F.min("v"), F.max("v")).collect()[0]
    if lo_hi[0] is None:
        # empty / all-null-text corpus: the DuckDB twin returns an
        # empty result set (no vals rows), so return the output schema
        # with zero rows instead of crashing on int(None)
        from pyspark.sql import types as T

        gtype = docs.schema[group_col].dataType
        schema = T.StructType(
            [T.StructField(group_col, gtype)]
            + [
                T.StructField(c, T.LongType())
                for c in ("q", "n", "rank_r", "bin_idx", "est_lo", "est_hi")
            ]
        )
        return docs.sparkSession.createDataFrame([], schema)
    vmin, vmax = int(lo_hi[0]), int(lo_hi[1])
    wdt = _hist_width(vmin, vmax, bins)
    cells = _hist_cells(vals, vmin, wdt, bins)
    return _hist_quantiles_from_cells(
        cells, group_col, quantiles, vmin, vmax, wdt
    )


def _hist_width(vmin: int, vmax: int, bins: int) -> int:
    return max(1, -((vmin - vmax - 1) // bins))  # ceil((max-min+1)/bins)


def _hist_cells(vals: DataFrame, vmin: int, wdt: int, bins: int) -> DataFrame:
    """(g, v) rows → (g, bin, c) counter cells with values clamped into
    the [0, bins-1] bin range (one-shot callers pass the true corpus
    min, so the lower clamp is a no-op there; the declared-domain
    incremental path may legitimately see out-of-range values)."""
    return (
        vals.withColumn(
            "bin",
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(bins - 1),
                    F.floor((F.col("v") - F.lit(vmin)) / F.lit(wdt)),
                ),
            ).cast("long"),
        )
        .groupBy("g", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _hist_quantiles_from_cells(
    cells: DataFrame,
    group_col: str,
    quantiles: tuple,
    vmin: int,
    vmax: int,
    wdt: int,
) -> DataFrame:
    """(g, bin, c) cells → the quantile frame — shared by the one-shot
    path and the incremental state path so both finalize
    bit-identically (the HLL `_finalize_hll` discipline)."""
    from pyspark.sql.window import Window

    wcum = (
        Window.partitionBy("g")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("g"))
    )
    qf = cum.sparkSession.createDataFrame(
        [(int(q),) for q in quantiles], "q long"
    )
    hit = (
        cum.crossJoin(F.broadcast(qf))
        .withColumn("rank_r", F.expr("(q * n + 99) div 100"))
        .filter(F.col("cum") >= F.col("rank_r"))
        .groupBy(F.col("g").alias(group_col), "q", "n", "rank_r")
        .agg(F.min("bin").alias("bin_idx"))
    )
    est_lo = F.lit(vmin) + F.col("bin_idx") * F.lit(wdt)
    return hit.select(
        group_col,
        "q",
        "n",
        "rank_r",
        "bin_idx",
        est_lo.alias("est_lo"),
        F.least(est_lo + F.lit(wdt - 1), F.lit(vmax)).alias("est_hi"),
    ).orderBy(group_col, "q")


def merge_hist_state(
    state: Optional[DataFrame],
    batch_docs: DataFrame,
    vmin: int,
    vmax: int,
    group_col: str = "source",
    bins: int = QH_BINS,
) -> DataFrame:
    """Incremental equi-width histogram cell maintenance across ingest
    batches — the distribution member of the maintenance family's
    sketch trio (HLL = cardinality via register-MIN, CMS = frequency
    via counter addition, this = distribution via CELL-COUNT ADDITION:
    counts over disjoint batches add, so batch partials fold into state
    EXACTLY, in any arrival order or split).

    Bin edges must be FIXED up front for the monoid to hold — a moving
    (min, max) would re-bin history — so the domain ``[vmin, vmax]`` is
    declared at plan time (production histogram sketches declare their
    range the same way; values outside the domain clamp into the edge
    bins).  ``state`` is ``None`` for the first batch, else the
    (group, bin, c) cell frame from the previous step.  Per batch: one
    narrow projection over ONLY the batch's docs + one fixed-width
    (≤ bins cells per group) count merge — work is O(batch +
    |groups| × bins), the corpus is never rescanned.  Finalize with
    :func:`hist_state_quantiles`; with ``(vmin, vmax)`` set to the
    corpus (min, max), the result is bit-identical to the one-shot
    :func:`histogram_quantiles` for any split (pinned by tests).

    Reference-adjacent to per-split metrics accumulation
    (SourceReaderMetrics), replacing exact percentile state where a
    bounded sketch suffices — the per-batch corpus-stats shape a
    100 TB ingest runs continuously."""
    vals = docs_token_counts(batch_docs, group_col)
    wdt = _hist_width(int(vmin), int(vmax), bins)
    cells_b = _hist_cells(vals, int(vmin), wdt, bins)
    if state is None:
        return cells_b
    return (
        state.unionByName(cells_b)
        .groupBy("g", "bin")
        .agg(F.sum("c").alias("c"))
    )


def docs_token_counts(docs: DataFrame, group_col: str = "source") -> DataFrame:
    """(g, v) token-count rows — the shared input projection of the
    one-shot and incremental histogram paths."""
    return docs.select(
        F.col(group_col).alias("g"),
        F.size(tokens(F.col("text"))).cast("long").alias("v"),
    ).filter(F.col("v").isNotNull())


def hist_state_quantiles(
    state: DataFrame,
    vmin: int,
    vmax: int,
    group_col: str = "source",
    quantiles: tuple = QH_QUANTILES,
    bins: int = QH_BINS,
) -> DataFrame:
    """Finalize a ``merge_hist_state`` cell frame into the same
    (group, q, n, rank_r, bin_idx, est_lo, est_hi) output
    :func:`histogram_quantiles` produces."""
    wdt = _hist_width(int(vmin), int(vmax), bins)
    return _hist_quantiles_from_cells(
        state, group_col, quantiles, int(vmin), int(vmax), wdt
    )


def histogram_quantiles_sql(
    group_col: str = "source",
    quantiles: tuple = QH_QUANTILES,
    bins: int = QH_BINS,
) -> str:
    """DuckDB twin: identical bins, ranks, and bound arithmetic."""
    qs = ", ".join(f"({int(q)})" for q in quantiles)
    return f"""
    WITH vals AS (
        SELECT {group_col} AS g,
               CAST(len({sql_tokens('text')}) AS BIGINT) AS v
        FROM documents WHERE text IS NOT NULL
    ),
    mm AS (
        SELECT MIN(v) AS vmin, MAX(v) AS vmax,
               GREATEST(1, -((MIN(v) - MAX(v) - 1) // {bins})) AS wdt
        FROM vals
    ),
    cells AS (
        SELECT g, LEAST({bins - 1}, (v - vmin) // wdt) AS bin,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM vals, mm GROUP BY g, bin
    ),
    cum AS (
        SELECT g, bin, c,
               SUM(c) OVER (PARTITION BY g ORDER BY bin) AS cum,
               SUM(c) OVER (PARTITION BY g) AS n
        FROM cells
    ),
    hit AS (
        SELECT g, q, n, (q * n + 99) // 100 AS rank_r, MIN(bin) AS bin_idx
        FROM cum, (VALUES {qs}) quants(q)
        WHERE cum >= (q * n + 99) // 100
        GROUP BY g, q, n
    )
    SELECT g AS {group_col}, CAST(q AS BIGINT) AS q, CAST(n AS BIGINT) AS n,
           CAST(rank_r AS BIGINT) AS rank_r, CAST(bin_idx AS BIGINT) AS bin_idx,
           CAST(vmin + bin_idx * wdt AS BIGINT) AS est_lo,
           CAST(LEAST(vmin + bin_idx * wdt + wdt - 1, vmax) AS BIGINT) AS est_hi
    FROM hit, mm
    ORDER BY {group_col}, q
    """


__all__ = [
    "cms_heavy_hitters",
    "cms_heavy_hitters_sql",
    "CMS_WIDTH",
    "HLL_M",
    "hll_distinct",
    "hll_distinct_sql",
    "hll_doc_registers",
    "QH_BINS",
    "histogram_quantiles",
    "histogram_quantiles_sql",
    "merge_hist_state",
    "hist_state_quantiles",
    "docs_token_counts",
]
_ = (POLY_MOD, POLY_MULT)  # re-exported hash constants used by tests
