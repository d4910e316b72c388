"""Similarity search over embedding columns (array<float>).

  ann_topk       — brute-force cosine top-k: broadcast the (small) query
                   set against the corpus; dot products via zip_with +
                   aggregate, all JVM-side. At 100 TB this is the exact
                   baseline — one broadcast, no shuffle, scan-bound.
  ann_lsh        — random-hyperplane (SimHash-for-vectors) bucketed
                   variant: 8 fixed hyperplanes → 256 buckets; candidate
                   search restricted to the query's bucket. The bucket
                   join replaces the full cross product — the scale path
                   (equi-join on bucket id, ~1/256 of the work).
  neardup_cosine — blocked near-duplicate pairs (same label) above a
                   cosine threshold.

Cosine values are rounded to 6dp *before* ranking/thresholding in both
engines so sub-ulp summation differences can never flip a comparison.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.io import pin

N_HYPERPLANES = 8
COSINE_NEARDUP_THRESHOLD = 0.4
_HP_SCALE = 1000

_UDF_CACHE: dict[str, object] = {}


def _cos6_udf():
    """round(cosine(a, b), 6) — Arrow-batched, numpy-vectorized.

    Rounding to 6dp absorbs sub-ulp summation-order differences between
    numpy, Spark and DuckDB."""
    if "cos6" not in _UDF_CACHE:

        @F.pandas_udf("double")
        def _c(a: pd.Series, b: pd.Series) -> pd.Series:
            am = np.stack(a.to_numpy())
            bm = np.stack(b.to_numpy())
            dots = (am * bm).sum(axis=1)
            nrm = np.sqrt((am * am).sum(axis=1)) * np.sqrt((bm * bm).sum(axis=1))
            return pd.Series(np.round(dots / nrm, 6))

        _UDF_CACHE["cos6"] = _c
    return _UDF_CACHE["cos6"]


def _bucket_udf(dim: int):
    """Random-hyperplane LSH bucket id — one matmul per Arrow batch."""
    key = f"bucket{dim}"
    if key not in _UDF_CACHE:
        planes = np.array(hyperplanes(dim)).T  # dim x n_planes
        bit_vals = np.array([1 << j for j in range(planes.shape[1])], dtype=np.int64)

        @F.pandas_udf("long")
        def _b(v: pd.Series) -> pd.Series:
            m = np.stack(v.to_numpy())
            dots = np.round(m @ planes, 6)
            return pd.Series(((dots >= 0) * bit_vals).sum(axis=1).astype(np.int64))

        _UDF_CACHE[key] = _b
    return _UDF_CACHE[key]


def hyperplanes(dim: int, n: int = N_HYPERPLANES) -> list[list[float]]:
    """Fixed pseudo-random hyperplanes with exactly-representable
    rational components (k/1000), identical literals in both engines."""
    state = 1234567891011
    planes = []
    for _ in range(n):
        comps = []
        for _ in range(dim):
            state = (6364136223846793005 * state + 1442695040888963407) % (2**64)
            comps.append(((state >> 20) % (2 * _HP_SCALE + 1) - _HP_SCALE) / _HP_SCALE)
        planes.append(comps)
    return planes


def _vec(col: str = "embedding") -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))




def ann_topk(emb: DataFrame, n_queries: int = 10, k: int = 5) -> DataFrame:
    """Brute-force cosine top-k for vec_id < n_queries.

    Queries are broadcast; cosine is one numpy matmul-shaped pandas UDF
    per Arrow batch. At cluster scale this is scan-bound with no shuffle
    until the final (tiny) top-k window."""
    from flink_cdc_2_3_0_src_spark.io import (
        max_partition_bytes,
        spread_small_scan,
    )

    base = emb.select("vec_id", _vec().alias("v"))
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # the cosine UDF runs in the corpus SCAN stage: spread an
    # under-partitioned corpus so every Python worker participates
    # (no-op on well-split 100 TB inputs); the broadcast query side
    # stays on the unspread scan — its build is one cheap pass.
    # min_bytes (r14): a corpus under one split's worth of data keeps
    # the exchange-free single-scan plan — the r13 bench measured the
    # unconditional spread as a wash at sf0.1 (the repartition costs
    # what the parallelism buys); only the genuinely under-split case
    # (≥ 1 split of bytes in < cores splits) pays the shuffle.
    corpus = spread_small_scan(
        base, "vec_id", min_bytes=max_partition_bytes(emb.sparkSession)
    )
    pairs = corpus.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos6").desc(), F.col("neighbor_id"))
    return (
        pairs.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos6_udf()(F.col("v"), F.col("qv")).alias("cos6"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def bucket_expr(v: Column, dim: int) -> Column:
    """Random-hyperplane LSH bucket id (sign-bit concatenation)."""
    from flink_cdc_2_3_0_src_spark.functions.exprs import lit_array

    planes = hyperplanes(dim)
    bucket = None
    for j, plane in enumerate(planes):
        # one parsed literal per plane instead of `dim` py4j F.lit calls
        arr = lit_array([float(c) for c in plane], "double")
        bit = F.when(F.round(_dot(v, arr), 6) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket


def ann_lsh(emb: DataFrame, dim: int, n_queries: int = 10, k: int = 3) -> DataFrame:
    """Bucketed ANN: candidates share the query's hyperplane bucket —
    an equi-join on bucket id instead of a cross product (scale path)."""
    base = emb.select("vec_id", _vec().alias("v")).withColumn(
        "bucket", _bucket_udf(dim)(F.col("v"))
    )
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    cand = base.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos6").desc(), F.col("neighbor_id"))
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos6_udf()(F.col("v"), F.col("qv")).alias("cos6"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def ann_topk_matrix(emb: DataFrame, n_queries: int = 10, k: int = 5) -> DataFrame:
    """Brute-force ANN as one matmul per Arrow batch (mapInPandas).

    The 100 TB physical strategy for large query sets: the query matrix
    is closed over (broadcast once per worker), each corpus batch does a
    single numpy (batch × dim) @ (dim × q) product, and only per-batch
    top-k survives to the final global top-k window — candidate rows
    shrink from |corpus|×|queries| to ~batches×queries×k before any
    shuffle. Same results as ann_topk (cosines rounded to 6dp).
    """
    import pandas as pd

    q_rows = (
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in q_rows])
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))

    out_schema = "query_id long, neighbor_id long, cos6 double"

    def run(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            nrm = np.sqrt((m * m).sum(axis=1))
            cos = np.round((m @ q_mat.T) / (nrm[:, None] * q_norm[None, :]), 6)
            frames = []
            for j in range(len(q_ids)):
                col = cos[:, j]
                mask = ids != q_ids[j]
                cand_ids, cand_cos = ids[mask], col[mask]
                if len(cand_ids) == 0:
                    continue
                # per-batch top-k prune (order by cos desc, id asc)
                order = np.lexsort((cand_ids, -cand_cos))[:k]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": q_ids[j],
                            "neighbor_id": cand_ids[order],
                            "cos6": cand_cos[order],
                        }
                    )
                )
            yield pd.concat(frames) if frames else pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cos6": []}
            )

    partial = emb.select("vec_id", "embedding").mapInPandas(run, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos6").desc(), F.col("neighbor_id")
    )
    return partial.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def _blocked_topk_candidates(
    a_emb: DataFrame, b_emb: DataFrame, k: int, block_size: int
) -> DataFrame:
    """For every A-row, its top-k cosine candidates among the B rows
    (self id excluded) — the blocked matmul core shared by the one-shot
    k-NN graph (A = B = corpus) and the incremental graph maintenance
    step (A = old corpus, B = batch / A = batch, B = seen corpus).

    Each side is hashed into ceil(n / block_size) blocks; every
    (A-block, B-block) pair is one cogrouped-applyInPandas task doing a
    dense (block × dim) @ (dim × block) matmul and emitting only its
    A-rows' local top-k — the final frame carries ~|A|·nb_b·k candidate
    edges and per-task memory is bounded by block_size regardless of
    corpus size.  Returns (vec_id, neighbor_id, cos6) WITHOUT the final
    global re-rank (callers window it, possibly after merging with
    other candidate sets)."""
    import pandas as pd

    spark = a_emb.sparkSession
    nb_a = max(1, -(-a_emb.count() // block_size))
    nb_b = max(1, -(-b_emb.count() // block_size))
    a_base = a_emb.select("vec_id", "embedding").withColumn(
        "blk", (F.col("vec_id") % nb_a).cast("int")
    )
    # A side replicated across target blocks: key (blk, obk) = (ablk, bblk)
    a_rep = a_base.crossJoin(
        spark.range(nb_b).select(F.col("id").cast("int").alias("obk"))
    )
    # B side replicated across source blocks: key (obk_b, b_blk) = (ablk,
    # bblk); columns renamed so self-join lineage is unambiguous
    b_base = b_emb.select(
        F.col("vec_id").alias("b_vec_id"),
        F.col("embedding").alias("b_embedding"),
    ).withColumn("b_blk", (F.col("b_vec_id") % nb_b).cast("int"))
    b_rep = b_base.crossJoin(
        spark.range(nb_a).select(F.col("id").cast("int").alias("obk_b"))
    )

    cand_schema = "vec_id long, neighbor_id long, cos6 double"

    def pair(key, a_pdf: pd.DataFrame, b_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return pd.DataFrame({"vec_id": [], "neighbor_id": [], "cos6": []})
        a_ids = a_pdf["vec_id"].to_numpy(dtype=np.int64)
        b_ids = b_pdf["b_vec_id"].to_numpy(dtype=np.int64)
        am = np.stack([np.asarray(v, dtype=np.float64) for v in a_pdf["embedding"]])
        bm = np.stack([np.asarray(v, dtype=np.float64) for v in b_pdf["b_embedding"]])
        an = np.sqrt((am * am).sum(axis=1))
        bn = np.sqrt((bm * bm).sum(axis=1))
        cos = np.round((am @ bm.T) / (an[:, None] * bn[None, :]), 6)
        out = {"vec_id": [], "neighbor_id": [], "cos6": []}
        for i in range(len(a_ids)):
            row = cos[i]
            mask = b_ids != a_ids[i]
            cand_ids, cand_cos = b_ids[mask], row[mask]
            if len(cand_ids) == 0:
                continue
            order = np.lexsort((cand_ids, -cand_cos))[:k]
            out["vec_id"].extend([a_ids[i]] * len(order))
            out["neighbor_id"].extend(cand_ids[order])
            out["cos6"].extend(cand_cos[order])
        return pd.DataFrame(out)

    return (
        a_rep.groupby("blk", "obk")
        .cogroup(b_rep.groupby("obk_b", "b_blk"))
        .applyInPandas(pair, cand_schema)
    )


def _rerank_knn(cands: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos6").desc(), F.col("neighbor_id")
    )
    # no dedup needed: each (a, b) pair lives in exactly one block task,
    # and the maintenance union joins candidate sets over DISJOINT
    # neighbor populations (old graph → old ids, batch candidates →
    # batch ids), so (vec_id, neighbor_id) is unique by construction
    return (
        cands.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
    )


def knn_graph(emb: DataFrame, k: int = 3, block_size: int = 4096) -> DataFrame:
    """Full k-NN graph: every vector's top-k cosine neighbors.

    Blocked exact all-pairs with NO driver collect (see
    _blocked_topk_candidates; the previous implementation collect()ed
    the whole corpus to the driver, which cannot work at 100 TB).
    Exact-KNN compute is inherently n²; the blocking distributes it
    with bounded memory — for sub-quadratic work use ann_lsh.
    """
    base = emb.select("vec_id", "embedding")
    return _rerank_knn(_blocked_topk_candidates(base, base, k, block_size), k)


def merge_knn_state(
    state: Optional[tuple],
    batch_emb: DataFrame,
    k: int = 3,
    block_size: int = 4096,
) -> tuple:
    """Incremental exact k-NN graph maintenance — the similarity member
    of the maintenance family (agg r4; join/top-n/dedup r8; sketch and
    this r9).  ``state`` is ``None`` or ``(vectors_state, graph_state)``
    from the previous step; returns the updated pair.

    CONTRACT: each batch's ``vec_id``s must be NEW — disjoint from every
    id already folded into ``state`` (stream arrival of fresh vectors,
    the same ascending-id discipline ``merge_neardup_state`` requires).
    The exactness argument below and ``_rerank_knn``'s no-dedup-needed
    invariant both lean on it: a re-delivered vec_id would duplicate the
    vector in carried state, yield duplicate (vec_id, neighbor_id)
    candidate edges, and corrupt the top-k. Dedup replays upstream
    (e.g. ``dropDuplicates(["vec_id"])`` per batch) before calling this.

    Per batch, TWO blocked matmuls, both batch-driven:

    * new rows' neighbors: batch × (seen ∪ batch) candidates;
    * existing rows' updates: old-corpus × batch candidates — each old
      node's current top-k rows (exact among everything seen before)
      are unioned with its top-k among the BATCH and re-ranked, which
      is exact because bounded top-k is a monoid: top_k(S ∪ B) =
      top_k(top_k(S) ∪ top_k(B)).

    Per-batch compute is O(|batch| × |seen|) — the honest cost of an
    exact incremental graph (every old node may genuinely gain a closer
    neighbor) vs the one-shot O(|seen|²) rescan; the re-rank window
    carries ≤ 2k rows per node.  For sub-quadratic ingest use the LSH
    bucket state (dedup.merge_neardup_state's machinery) as a candidate
    filter instead.  Replaying any split equals ``knn_graph`` over the
    union (pinned by tests).  The k-NN graph feeds SemDeDup-style
    semantic dedup, so this is the graph-upkeep shape a continuously
    ingesting training-data pipeline runs."""
    batch = batch_emb.select("vec_id", "embedding")
    if state is None:
        return (batch, knn_graph(batch, k, block_size))
    vecs_old, graph_old = state
    all_vecs = vecs_old.unionByName(batch)
    cand_new = _blocked_topk_candidates(batch, all_vecs, k, block_size)
    cand_old = _blocked_topk_candidates(vecs_old, batch, k, block_size)
    graph_upd = _rerank_knn(
        graph_old.select("vec_id", "neighbor_id", "cos6").unionByName(cand_old),
        k,
    )
    graph_new = graph_upd.unionByName(_rerank_knn(cand_new, k))
    return (all_vecs, graph_new)


def neardup_cosine_lsh(
    emb: DataFrame,
    dim: int,
    threshold: float = COSINE_NEARDUP_THRESHOLD,
) -> DataFrame:
    """Near-duplicate pairs via hyperplane-LSH bucketing — the SCALE path
    for embedding near-dup: candidates must share the random-hyperplane
    bucket (equi-join on bucket id, ~1/2^planes of the cross product)
    instead of an all-pairs join within label blocks whose size grows
    with the corpus. High-cosine pairs land in the same bucket with
    probability (1 - theta/pi)^planes — the standard SimHash recall
    trade; exact cosine verifies every candidate.
    """
    # materialize before the self-join: both join sides otherwise
    # re-run the bucket UDF over the whole corpus
    base = pin(
        emb.select("vec_id", _vec().alias("v"))
        .withColumn("bucket", _bucket_udf(dim)(F.col("v"))),
        fanout=True,
    )
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            _cos6_udf()(F.col("a.v"), F.col("b.v")).alias("cos6"),
        )
        .filter(F.col("cos6") >= threshold)
    )


IVF_CELLS = 8
IVF_NPROBE = 2


def ann_topk_ivf(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF (inverted-file) ANN: the coarse-quantizer scale path.

    - Centroids: the first ``n_cells`` vectors by id (deterministic — a
      trained quantizer plugs in the same way; only the centroid table
      changes).
    - Assignment: every vector goes to its max-cosine centroid (one
      equi-joinable ``cell`` column, computed in one vectorized UDF).
    - Probe: each query searches only its ``nprobe`` nearest cells —
      candidates shrink to ~nprobe/n_cells of the corpus, and the join
      is an equi-join on cell id (no cross product).

    Same output contract as ann_topk (query_id, neighbor_id, cos6, rnk),
    but results are IVF-approximate by design; the DuckDB oracle runs the
    identical procedure so parity is exact.
    """
    import pandas as pd

    base = emb.select("vec_id", _vec().alias("v"))
    cent_rows = (
        base.filter(F.col("vec_id") < n_cells).select("vec_id", "v").collect()
    )
    cent_ids = np.array([r["vec_id"] for r in cent_rows], dtype=np.int64)
    cent = np.stack([np.asarray(r["v"], dtype=np.float64) for r in cent_rows])
    cent_n = np.sqrt((cent * cent).sum(axis=1))
    order = np.argsort(cent_ids)
    cent_ids, cent, cent_n = cent_ids[order], cent[order], cent_n[order]

    @F.pandas_udf("long")
    def cell_of(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy())
        nrm = np.sqrt((m * m).sum(axis=1))
        cos = np.round((m @ cent.T) / (nrm[:, None] * cent_n[None, :]), 6)
        # max cosine, ties -> smallest centroid id (argmax takes first)
        return pd.Series(cent_ids[np.argmax(cos, axis=1)])

    @F.pandas_udf("array<long>")
    def probe_cells(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy())
        nrm = np.sqrt((m * m).sum(axis=1))
        cos = np.round((m @ cent.T) / (nrm[:, None] * cent_n[None, :]), 6)
        # nprobe best cells: cos desc, centroid id asc on ties
        out = []
        for row in cos:
            idx = np.lexsort((cent_ids, -row))[:nprobe]
            out.append(cent_ids[idx].tolist())
        return pd.Series(out)

    assigned = base.withColumn("cell", cell_of(F.col("v")))
    q = (
        assigned.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.explode(probe_cells(F.col("v"))).alias("cell"),
        )
    )
    cand = assigned.join(F.broadcast(q), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos6").desc(), F.col("neighbor_id"))
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos6_udf()(F.col("v"), F.col("qv")).alias("cos6"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def neardup_cosine(
    emb: DataFrame,
    threshold: float = COSINE_NEARDUP_THRESHOLD,
    verification: bool = False,
) -> DataFrame:
    """Same-label blocked near-dup pairs above a cosine threshold.

    VERIFICATION-ONLY: all-pairs within label blocks whose size grows
    with the corpus — the ground-truth twin for testing
    ``neardup_cosine_lsh`` on bounded fixtures, never a production
    path; requires explicit ``verification=True`` (r5 VERDICT item 6)."""
    if not verification:
        raise ValueError(
            "neardup_cosine is an all-pairs-per-block verification "
            "shape: pass verification=True on a bounded fixture, or use "
            "neardup_cosine_lsh as the scale path"
        )
    base = emb.select("vec_id", "label", _vec().alias("v"))
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            _cos6_udf()(F.col("a.v"), F.col("b.v")).alias("cos6"),
        )
        .filter(F.col("cos6") >= threshold)
    )


# --------------------------------------------------------------------------
# DuckDB oracle twins
# --------------------------------------------------------------------------

_VEC_CTE = """
    e AS (
        SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS v
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, v,
               sqrt(list_sum([x * x for x in v])) AS nrm
        FROM e
    )
"""

_DOT_AB = "list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))])"
_DOT_NQ = "list_sum([n.v[i] * q.qv[i] for i in generate_series(1, len(n.v))])"

ANN_TOPK_SQL = f"""
    WITH {_VEC_CTE},
    q AS (
        SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10
    ),
    p AS (
        SELECT q.query_id, n.vec_id AS neighbor_id,
               round({_DOT_NQ} / (n.nrm * q.qn), 6) AS cos6
        FROM n, q WHERE n.vec_id != q.query_id
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id) AS rnk
        FROM p
    )
    SELECT query_id, neighbor_id, cos6, rnk FROM r WHERE rnk <= 5
"""


def _sql_bucket(vec: str, dim: int) -> str:
    planes = hyperplanes(dim)
    terms = []
    for j, plane in enumerate(planes):
        lits = ", ".join(repr(c) for c in plane)
        terms.append(
            f"CASE WHEN round(list_sum([{vec}[i] * ([{lits}])[i] "
            f"for i in generate_series(1, {dim})]), 6) >= 0 THEN {1 << j} ELSE 0 END"
        )
    return " + ".join(terms)


def ann_lsh_sql(dim: int) -> str:
    return f"""
    WITH {_VEC_CTE},
    bk AS (
        SELECT vec_id, label, v, nrm, {_sql_bucket('v', dim)} AS bucket FROM n
    ),
    q AS (
        SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket AS qbucket
        FROM bk WHERE vec_id < 10
    ),
    p AS (
        SELECT q.query_id, n.vec_id AS neighbor_id,
               round({_DOT_NQ.replace('n.', 'n.')} / (n.nrm * q.qn), 6) AS cos6
        FROM bk n, q WHERE n.bucket = q.qbucket AND n.vec_id != q.query_id
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id) AS rnk
        FROM p
    )
    SELECT query_id, neighbor_id, cos6, rnk FROM r WHERE rnk <= 3
"""


KNN_GRAPH_SQL = f"""
    WITH {_VEC_CTE},
    p AS (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
               round({_DOT_AB} / (a.nrm * b.nrm), 6) AS cos6
        FROM n a, n b WHERE a.vec_id != b.vec_id
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, neighbor_id) AS rnk
        FROM p
    )
    SELECT vec_id, neighbor_id, cos6, CAST(rnk AS INTEGER) AS rnk
    FROM r WHERE rnk <= 3
"""

NEARDUP_COSINE_SQL = f"""
    WITH {_VEC_CTE}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_DOT_AB} / (a.nrm * b.nrm), 6) AS cos6
    FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round({_DOT_AB} / (a.nrm * b.nrm), 6) >= {COSINE_NEARDUP_THRESHOLD}
"""


def neardup_cosine_lsh_sql(dim: int, threshold: float = COSINE_NEARDUP_THRESHOLD) -> str:
    return f"""
    WITH {_VEC_CTE},
    bk AS (
        SELECT vec_id, v, nrm, {_sql_bucket('v', dim)} AS bucket FROM n
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_DOT_AB} / (a.nrm * b.nrm), 6) AS cos6
    FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round({_DOT_AB} / (a.nrm * b.nrm), 6) >= {threshold}
"""


_DOT_CCENT = "list_sum([n.v[i] * cent.cv[i] for i in generate_series(1, len(n.v))])"
_DOT_CQ = "list_sum([c.v[i] * probes.qv[i] for i in generate_series(1, len(c.v))])"


def ann_topk_ivf_sql(
    n_queries: int = 10,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
) -> str:
    """DuckDB twin of the IVF procedure: identical centroid choice,
    assignment tie-break (cos desc, centroid id asc), probe set, and
    final ranking — parity is exact even though IVF itself is
    approximate."""
    return f"""
    WITH {_VEC_CTE},
    cent AS (
        SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < {n_cells}
    ),
    asn AS (
        SELECT n.vec_id, n.v, n.nrm, cent.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY n.vec_id
                   ORDER BY round({_DOT_CCENT} / (n.nrm * cent.cn), 6) DESC, cent.cid
               ) AS rk
        FROM n, cent
    ),
    cells AS (SELECT vec_id, v, nrm, cid AS cell FROM asn WHERE rk = 1),
    probes AS (
        SELECT vec_id AS query_id, v AS qv, nrm AS qn, cid AS cell
        FROM asn WHERE vec_id < {n_queries} AND rk <= {nprobe}
    ),
    p AS (
        SELECT DISTINCT probes.query_id, c.vec_id AS neighbor_id,
               round({_DOT_CQ} / (c.nrm * probes.qn), 6) AS cos6
        FROM cells c
        JOIN probes ON c.cell = probes.cell AND c.vec_id != probes.query_id
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id
        ) AS rnk
        FROM p
    )
    SELECT query_id, neighbor_id, cos6, CAST(rnk AS INTEGER) AS rnk
    FROM r WHERE rnk <= {k}
"""
