"""Distributed k-means clustering over the embedding column — the
semantic-clustering / semantic-dedup primitive of a training-data
pipeline (cluster-then-keep-representatives, topic bucketing, IVF
coarse quantizer training).

Lloyd's algorithm in the shape MLlib uses it at scale: per-iteration,
the ONLY driver-side state is the k x dim centroid table (k rows —
independent of data size); assignment is a pure broadcast-literal
column expression over the vectors, and the centroid update is one
partial-aggregated groupBy(cluster, dim) shuffle that carries exactly
k * dim * n_partitions rows off each stage.

Everything is EXACT INTEGER arithmetic: vectors are quantized to
micro-units (floor(x * 1e6) as int64) once, distances are int64
squared-L2, the centroid update is an exact floored integer division,
and ties break to the lowest cluster id.  Identical results on any
partitioning, any engine — the DuckDB oracle unrolls the same
iterations in SQL and matches hash-exactly, which is how an iterative
algorithm earns a strict correctness row instead of a rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.io import pin

# quantization scale: micro-units keep |q| < ~2^23 for unit-ish
# embeddings, so a 64-dim squared distance stays far inside int64
_SCALE = 1_000_000


def quantize_vec(col):
    """array<float> -> array<bigint> micro-unit quantization (exact:
    float->double widening is lossless, floor is deterministic)."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * _SCALE).cast("long")
    )


def _centroid_literals(centroids: list[list[int]]):
    """k x dim centroid table as ONE parsed literal expression —
    per-element F.lit marshalling costs ~1ms of py4j driver time each
    (k*dim = 512 calls per build here); see functions/exprs.py."""
    from flink_cdc_2_3_0_src_spark.functions.exprs import lit_array

    return F.array(*[lit_array([int(x) for x in c], "bigint") for c in centroids])


def _assign_expr(vec_col, centroids: list[list[int]]):
    """cluster id = argmin_j ||v - c_j||^2, ties to the lowest j.
    Centroids enter the plan as literals (broadcast by construction)."""
    carr = _centroid_literals(centroids)
    dists = F.transform(
        carr,
        lambda c: F.aggregate(
            F.zip_with(vec_col, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    # array_position: 1-based FIRST occurrence -> lowest-j tie-break
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _floor_div(s, n):
    """Exact floor(s / n) for int64 s, positive n: subtract the
    mathematical remainder first, so the (IEEE double) division has an
    integral, exactly-representable result.  Envelope: |s| < 2^53 —
    with micro-unit components that is ~10^9 vectors per cluster; shard
    the update by a vector-id salt before exceeding it."""
    rem = ((s % n) + n) % n
    return ((s - rem) / n).cast("long")


def _update(assigned: DataFrame) -> DataFrame:
    """(cluster, dim) -> floored per-dim centroid component."""
    ex = assigned.select(
        F.col("cl"), F.posexplode(F.col("v")).alias("d", "val")
    )
    return ex.groupBy("cl", "d").agg(
        _floor_div(F.sum("val"), F.count(F.lit(1))).alias("cd")
    )


def kmeans_assign(emb: DataFrame, k: int = 8, iters: int = 2) -> DataFrame:
    """The Lloyd's loop's final assignment ``(vec_id, v, cl)`` —
    shared by ``kmeans_clusters`` (stats) and ``semantic_dedup``
    (SemDeDup); callers needing the trained centroid table too use
    ``kmeans_fit`` directly."""
    assigned, _ = kmeans_fit(emb, k, iters)
    return assigned


def kmeans_fit(
    emb: DataFrame, k: int = 8, iters: int = 2
) -> tuple[DataFrame, list[list[int]]]:
    """Lloyd's loop: ``iters`` rounds of assign + centroid update,
    returning BOTH the final assignment DataFrame ``(vec_id, v, cl)``
    and the centroid table it was assigned against (the trained coarse
    quantizer ``ann_topk_ivf_trained`` probes).  Init: the quantized
    vectors of vec_id 0..k-1 (deterministic)."""
    q = emb.select("vec_id", quantize_vec(F.col("embedding")).alias("v"))
    init = (
        q.filter(F.col("vec_id") < k)
        .orderBy("vec_id")
        .select("vec_id", "v")
        .collect()
    )
    if len(init) < k:
        raise ValueError(
            f"kmeans init needs vec_id 0..{k - 1} present; found {len(init)}"
        )
    centroids = [list(r["v"]) for r in init]
    assigned = None
    for it in range(iters):
        assigned = q.select(
            "vec_id", "v", _assign_expr(F.col("v"), centroids).alias("cl")
        )
        if it == iters - 1:
            # the post-final-assignment centroid update is never used by
            # any caller (kmeans_clusters recomputes _update for its
            # fingerprint) — skip the wasted full-corpus aggregation
            break
        upd = {
            r["cl"]: r
            for r in _update(assigned)
            .groupBy("cl")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("d"), F.col("cd")))
                ).alias("pairs")
            )
            .collect()
        }
        centroids = [
            [p["cd"] for p in upd[j]["pairs"]] if j in upd else centroids[j]
            for j in range(k)
        ]
    return assigned, centroids


def kmeans_clusters(
    emb: DataFrame, k: int = 8, iters: int = 2
) -> DataFrame:
    """k-means over ``embeddings(vec_id, embedding)``; returns one row
    per non-empty cluster: size, vec_id aggregates, and the NEXT
    centroid fingerprint (sum of floored components — proves the whole
    iteration chain, not just the final assignment).
    """
    assigned = kmeans_assign(emb, k, iters)
    # final pass: stats of the last assignment + next-centroid fingerprint
    fp = _update(assigned).groupBy("cl").agg(
        F.sum("cd").alias("centroid_fp")
    )
    stats = assigned.groupBy("cl").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("vec_id").alias("sum_vec_id"),
        F.min("vec_id").alias("min_vec_id"),
    )
    return (
        stats.join(fp, "cl")
        .select(
            F.col("cl").alias("cluster"),
            "n_vecs",
            "sum_vec_id",
            "min_vec_id",
            "centroid_fp",
        )
    )


def _sql_dist(v: str, c: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({v}, {c}),"
        f" p -> CAST(p[1] - p[2] AS BIGINT) * (p[1] - p[2])))"
    )


def _sql_assign(q: str, cs: str, out: str) -> str:
    """One assignment round: q(vec_id, v) x cs(j, c) -> out(vec_id, v, cl)."""
    return f"""
    {out} AS (
        SELECT vec_id, v, j AS cl FROM (
            SELECT {q}.vec_id, {q}.v, {cs}.j,
                   ROW_NUMBER() OVER (
                       PARTITION BY {q}.vec_id
                       ORDER BY {_sql_dist(f'{q}.v', f'{cs}.c')}, {cs}.j
                   ) AS rn
            FROM {q} CROSS JOIN {cs}
        ) WHERE rn = 1
    )"""


def _sql_update(a: str, prev_cs: str, u: str, cs: str, k: int) -> str:
    """Centroid update round: a(vec_id, v, cl) -> cs(j, c); empty
    clusters inherit their previous centroid."""
    return f"""
    {u} AS (
        SELECT cl, d, CAST((s - ((s % n) + n) % n) / n AS BIGINT) AS cd
        FROM (
            SELECT cl, gs AS d, CAST(SUM(val) AS BIGINT) AS s, COUNT(*) AS n
            FROM (
                SELECT cl, unnest(v) AS val, generate_subscripts(v, 1) AS gs
                FROM {a}
            ) GROUP BY cl, gs
        )
    ),
    {cs} AS (
        SELECT p.j, coalesce(nc.c, p.c) AS c
        FROM {prev_cs} p LEFT JOIN (
            SELECT cl AS j, list(cd ORDER BY d) AS c FROM {u} GROUP BY cl
        ) nc ON p.j = nc.j
    )"""


def kmeans_clusters_sql(k: int = 8, iters: int = 2) -> str:
    parts = [
        f"""q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {_SCALE}) AS BIGINT)) AS v
        FROM embeddings
    ),
    c0 AS (SELECT vec_id AS j, v AS c FROM q WHERE vec_id < {k})"""
    ]
    cs = "c0"
    for i in range(1, iters + 1):
        parts.append(_sql_assign("q", cs, f"a{i}"))
        parts.append(_sql_update(f"a{i}", cs, f"u{i}", f"c{i}", k))
        cs = f"c{i}"
    last_a, last_u = f"a{iters}", f"u{iters}"
    body = ",".join(parts)
    return f"""
    WITH {body}
    SELECT s.cl AS cluster, s.n_vecs, s.sum_vec_id, s.min_vec_id, f.centroid_fp
    FROM (
        SELECT cl, COUNT(*) AS n_vecs, CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id,
               MIN(vec_id) AS min_vec_id
        FROM {last_a} GROUP BY cl
    ) s JOIN (
        SELECT cl, CAST(SUM(cd) AS BIGINT) AS centroid_fp FROM {last_u} GROUP BY cl
    ) f ON s.cl = f.cl
    """


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): cluster, then prune near-identical pairs
# WITHIN clusters only
# ---------------------------------------------------------------------------
# The published recipe (Abbas et al. 2023, "SemDeDup"): k-means the
# embedding space, then compare pairs only inside each cluster and drop
# all but one member of every near-duplicate group.  Clustering turns
# the corpus-wide O(n^2) pair problem into k independent O((n/k)^2)
# problems — and at 100 TB, k grows with the corpus so per-cluster work
# stays bounded; the pair join co-partitions by cluster id, no
# cross-cluster data motion.
#
# Exactness: cosine-threshold testing needs no sqrt — with quantized
# int64 vectors, ``cos(a,b) >= tau`` (dot > 0) is equivalent to
# ``dot^2 * 1e6 >= tau_e3^2 * |a|^2 * |b|^2``, evaluated in
# decimal(38,0) (Spark) / HUGEINT (DuckDB): every comparison is exact
# integer arithmetic, so both engines agree bit-for-bit.

def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def semantic_dedup(
    emb: DataFrame, k: int = 8, iters: int = 2, tau_e3: int = 400
) -> DataFrame:
    """SemDeDup prune list: one row per pruned vector —
    ``(cluster, pruned_vec_id, kept_by)`` where ``kept_by`` is the
    lowest-id cluster member within ``tau`` cosine of it.  Keep rule =
    "survives iff no lower-id near-duplicate in its cluster".

    Verify stage: one ``applyInPandas`` per cluster running an EXACT
    int64 matmul (quantized components stay < 2^23, so a 64-dim dot is
    < 2^53 — exact in int64), then the sqrt-free threshold
    ``dot^2 * 1e6 >= tau_e3^2 * |a|^2 * |b|^2``.  dot^2 would overflow
    int64, so the comparison runs as a float64 SCREEN with a relative
    safety band and an arbitrary-precision Python-int check ONLY for
    pairs inside the band — bit-identical to the all-decimal form the
    DuckDB oracle computes, at matmul speed instead of one interpreted
    zip_with/aggregate per pair.  Per-task memory is one cluster's
    (n/k)^2 dot matrix — the SemDeDup contract (k grows with the
    corpus) already bounds n/k."""
    import numpy as np
    import pandas as pd

    # no checkpoint: the Lloyd's loop is driver-iterated, so the FINAL
    # assignment's lineage is just scan -> quantize -> literal-centroid
    # argmin (the per-iteration update collects already happened on the
    # driver and are not in this plan).  `base` is consumed exactly once
    # by the prune groupBy below — a localCheckpoint here would BE one
    # extra full materialization pass, not save one (r13: job removed,
    # same rows shuffled either way).
    base = kmeans_assign(emb, k, iters)
    tau2 = int(tau_e3) ** 2

    out_schema = "cluster int, pruned_vec_id long, kept_by long"

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"cluster": [], "pruned_vec_id": [], "kept_by": []})
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        M = np.stack(
            [np.asarray(v, dtype=np.int64) for v in pdf["v"].to_numpy()[order]]
        )
        dots = M @ M.T
        n2 = np.diag(dots).astype(np.float64)
        fd = dots.astype(np.float64)
        lhs = fd * fd * 1e6
        rhs = float(tau2) * n2[:, None] * n2[None, :]
        pos = dots > 0
        BAND = 1e-9
        sure = pos & (lhs >= rhs * (1 + BAND))
        maybe = pos & ~sure & (lhs >= rhs * (1 - BAND))
        near = sure
        for i, j in zip(*np.nonzero(maybe)):
            d_ = int(dots[i, j])
            near[i, j] = d_ * d_ * 1_000_000 >= tau2 * int(dots[i, i]) * int(
                dots[j, j]
            )
        cl = int(pdf["cl"].iloc[0])
        rows = {"cluster": [], "pruned_vec_id": [], "kept_by": []}
        n = len(ids)
        for j in range(1, n):
            hits = np.nonzero(near[:j, j])[0]
            if len(hits):
                rows["cluster"].append(cl)
                rows["pruned_vec_id"].append(int(ids[j]))
                rows["kept_by"].append(int(ids[hits[0]]))  # ids sorted -> min
        return pd.DataFrame(rows)

    # pin the prune to k partitions: the stage has at most k groups, and
    # AQE's size-based coalescing would otherwise fold a small shuffle
    # into ONE task, serializing the per-cluster matmuls (an explicit
    # repartition count is exempt from coalescing).  k partitions is
    # right at every scale — partitions beyond k would be empty, and a
    # single giant cluster is one task either way (a pandas group can't
    # split).
    return base.repartition(k, "cl").groupBy("cl").applyInPandas(
        prune, out_schema
    )


def semantic_dedup_sql(k: int = 8, iters: int = 2, tau_e3: int = 400) -> str:
    """DuckDB twin: unrolls the same Lloyd's iterations (shared CTE
    builder), then the same exact-integer within-cluster pair prune."""
    parts = [
        f"""q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {_SCALE}) AS BIGINT)) AS v
        FROM embeddings
    ),
    c0 AS (SELECT vec_id AS j, v AS c FROM q WHERE vec_id < {k})"""
    ]
    cs = "c0"
    for i in range(1, iters + 1):
        parts.append(_sql_assign("q", cs, f"a{i}"))
        parts.append(_sql_update(f"a{i}", cs, f"u{i}", f"c{i}", k))
        cs = f"c{i}"
    body = ",".join(parts)
    dot = (
        "list_sum(list_transform(list_zip(a.v, b.v),"
        " p -> CAST(p[1] AS BIGINT) * p[2]))"
    )
    n2 = lambda t: (  # noqa: E731
        f"list_sum(list_transform({t}.v, x -> x * x))"
    )
    return f"""
    WITH {body},
    pr AS (
        SELECT b.cl AS cluster, b.vec_id AS pruned_vec_id,
               a.vec_id AS a_id
        FROM a{iters} a JOIN a{iters} b
          ON a.cl = b.cl AND a.vec_id < b.vec_id
        WHERE {dot} > 0
          AND CAST({dot} AS HUGEINT) * CAST({dot} AS HUGEINT) * 1000000
              >= {int(tau_e3) ** 2}::HUGEINT * CAST({n2('a')} AS HUGEINT)
                 * CAST({n2('b')} AS HUGEINT)
    )
    SELECT cluster, pruned_vec_id, MIN(a_id) AS kept_by
    FROM pr GROUP BY cluster, pruned_vec_id
    """


# ---------------------------------------------------------------------------
# IVF with a TRAINED coarse quantizer (r5) — kmeans centroids instead of
# ann_topk_ivf's first-k-vectors placeholder.  The composition the module
# docstring promises ("IVF coarse quantizer training"), made real:
# train -> assign every vector to its cell -> probe each query's nprobe
# nearest cells -> rank candidates.  EVERYTHING is exact int64 squared-L2
# in the micro-unit quantized space — no floats anywhere, so the DuckDB
# oracle (the same unrolled Lloyd's CTEs + probe) matches hash-exactly.
#
# 100 TB shape: centroids are a k x dim literal (broadcast by
# construction), assignment and probe are pure column expressions, and
# the candidate join is an equi-join on cell id carrying ~nprobe/k of
# the corpus — the inverted-file contract.


def ann_topk_ivf_trained(
    emb: DataFrame,
    n_queries: int = 10,
    top_k: int = 5,
    k: int = 8,
    iters: int = 2,
    nprobe: int = 2,
) -> DataFrame:
    assigned, centroids = kmeans_fit(emb, k, iters)
    base = pin(assigned, fanout=True)  # Lloyd's is driver-iterated; don't replay per join side

    carr = _centroid_literals(centroids)
    dist_to = lambda c, v: F.aggregate(  # noqa: E731
        F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # nprobe nearest cells: struct sort orders by (dist, j) — ties to
    # the lowest centroid id, the kmeans tie-break
    probe_cells = F.slice(
        F.array_sort(
            F.transform(
                carr,
                lambda c, i: F.struct(
                    dist_to(c, F.col("v")).alias("dist"), i.alias("j")
                ),
            )
        ),
        1,
        nprobe,
    )
    q = (
        base.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.explode(F.transform(probe_cells, lambda s: s["j"])).alias("cl"),
        )
    )
    cand = base.join(F.broadcast(q), "cl").filter(
        F.col("vec_id") != F.col("query_id")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("dist2"), F.col("neighbor_id"))
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dist_to(F.col("qv"), F.col("v")).alias("dist2"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= top_k)
    )


def ann_topk_ivf_trained_sql(
    n_queries: int = 10,
    top_k: int = 5,
    k: int = 8,
    iters: int = 2,
    nprobe: int = 2,
) -> str:
    """DuckDB twin: the same unrolled Lloyd's CTEs, probe and integer
    ranking."""
    parts = [
        f"""q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {_SCALE}) AS BIGINT)) AS v
        FROM embeddings
    ),
    c0 AS (SELECT vec_id AS j, v AS c FROM q WHERE vec_id < {k})"""
    ]
    cs = "c0"
    for i in range(1, iters + 1):
        parts.append(_sql_assign("q", cs, f"a{i}"))
        parts.append(_sql_update(f"a{i}", cs, f"u{i}", f"c{i}", k))
        cs = f"c{i}"
    body = ",".join(parts)
    last_a = f"a{iters}"
    # probe against the centroid table the FINAL assignment used
    # (c{iters-1}) — kmeans_fit skips the post-final update, so c{iters}
    # exists only in SQL and is never the trained quantizer
    probe_cs = f"c{iters - 1}" if iters >= 1 else "c0"
    return f"""
    WITH {body},
    probes AS (
        SELECT query_id, qv, j AS cl FROM (
            SELECT q0.vec_id AS query_id, q0.v AS qv, {probe_cs}.j,
                   ROW_NUMBER() OVER (
                       PARTITION BY q0.vec_id
                       ORDER BY {_sql_dist('q0.v', f'{probe_cs}.c')}, {probe_cs}.j
                   ) AS rn
            FROM (SELECT * FROM q WHERE vec_id < {n_queries}) q0
            CROSS JOIN {probe_cs}
        ) WHERE rn <= {nprobe}
    ),
    cand AS (
        SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id,
               {_sql_dist('p.qv', 'c.v')} AS dist2
        FROM {last_a} c JOIN probes p ON c.cl = p.cl
        WHERE c.vec_id != p.query_id
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY dist2, neighbor_id
        ) AS rnk FROM cand
    )
    SELECT query_id, neighbor_id, CAST(dist2 AS BIGINT) AS dist2,
           CAST(rnk AS INTEGER) AS rnk
    FROM r WHERE rnk <= {top_k}
    """
