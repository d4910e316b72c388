"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is pure Spark column expressions (codegen'd, no
Python UDFs): language-ID (stopword-marker heuristic), quality scoring,
token counting, document fingerprinting (polynomial rolling hash).

Each operator has a DuckDB-oracle twin built from the same constants
(functions/hashing.py) so the driver's correctness gate can verify it.

Scale: every operator is a narrow projection over ``documents`` —
embarrassingly parallel, no shuffle, pushdown-friendly (only ``doc_id``
and ``text`` are read).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from flink_cdc_2_3_0_src_spark.functions.hashing import (
    POLY_MOD,
    POLY_MULT,
    poly_hash,
    sql_poly_hash,
    sql_tokens,
    tokens,
)
from flink_cdc_2_3_0_src_spark.io import pin

# language marker words: tiny deterministic n-gram-free LID heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "a"],
    "de": ["der", "die", "und", "das"],
    "fr": ["le", "la", "et", "les"],
    "es": ["el", "los", "y", "una"],
}
STOPWORDS = sorted(set(w for ws in LANG_MARKERS.values() for w in ws))


def token_count(text_col: Column) -> Column:
    return F.size(tokens(text_col))


def normalized_text(text_col: Column) -> Column:
    """lowercase + whitespace-collapsed canonical form."""
    return F.concat_ws(" ", tokens(text_col))


def fingerprint(text_col: Column) -> Column:
    """Rolling-hash fingerprint of the normalized text."""
    return poly_hash(normalized_text(text_col))


def marker_count(toks: Column, markers: list[str]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_scores(toks: Column) -> dict[str, Column]:
    return {lang: marker_count(toks, ms) for lang, ms in LANG_MARKERS.items()}


def predict_lang(scores: dict[str, Column]) -> Column:
    """argmax with deterministic tie-break in en > de > fr > es order."""
    c = scores
    return (
        F.when(
            (c["en"] >= c["de"]) & (c["en"] >= c["fr"]) & (c["en"] >= c["es"]), "en"
        )
        .when((c["de"] >= c["fr"]) & (c["de"] >= c["es"]), "de")
        .when(c["fr"] >= c["es"], "fr")
        .otherwise("es")
    )


def quality_score(text_col: Column) -> Column:
    """Deterministic doc-quality heuristic in [0,1]:
    0.5 * stopword_ratio + 0.5 * min(1, n_tokens/64), rounded to 6dp.
    Same double arithmetic as the SQL twin."""
    toks = tokens(text_col)
    n = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    ratio = n_stop.cast("double") / F.greatest(n, F.lit(1)).cast("double")
    lenf = F.least(F.lit(1.0), n.cast("double") / F.lit(64.0))
    return F.round(F.lit(0.5) * ratio + F.lit(0.5) * lenf, 6)


# --------------------------------------------------------------------------
# query builders + oracle SQL
# --------------------------------------------------------------------------


def text_stats(docs: DataFrame) -> DataFrame:
    t = F.col("text")
    return docs.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        F.length(t).alias("len_chars"),
        fingerprint(t).alias("fp"),
    )


TEXT_STATS_SQL = f"""
    WITH tk AS (
        SELECT doc_id, text, {sql_tokens('text')} AS toks FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           length(text) AS len_chars,
           {sql_poly_hash("array_to_string(toks, ' ')")} AS fp
    FROM tk
"""


def text_lang_id(docs: DataFrame) -> DataFrame:
    toks = tokens(F.col("text"))
    scores = lang_scores(toks)
    return docs.select(
        "doc_id",
        "lang",
        predict_lang(scores).alias("pred_lang"),
        *[scores[k].alias(f"score_{k}") for k in LANG_MARKERS],
    )


def _sql_marker_count(markers: list[str]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"len([t for t in toks if list_contains([{lst}], t)])"


TEXT_LANG_ID_SQL = f"""
    WITH tk AS (
        SELECT doc_id, lang, {sql_tokens('text')} AS toks FROM documents
    ),
    sc AS (
        SELECT doc_id, lang,
               {_sql_marker_count(LANG_MARKERS['en'])} AS score_en,
               {_sql_marker_count(LANG_MARKERS['de'])} AS score_de,
               {_sql_marker_count(LANG_MARKERS['fr'])} AS score_fr,
               {_sql_marker_count(LANG_MARKERS['es'])} AS score_es
        FROM tk
    )
    SELECT doc_id, lang,
           CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
                WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
                WHEN score_fr >= score_es THEN 'fr'
                ELSE 'es' END AS pred_lang,
           score_en, score_de, score_fr, score_es
    FROM sc
"""


def text_quality(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        quality_score(F.col("text")).alias("quality"),
    )


_STOP_LIST_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)
TEXT_QUALITY_SQL = f"""
    WITH tk AS (
        SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
    )
    SELECT doc_id,
           round(0.5 * (CAST(len([t for t in toks if list_contains([{_STOP_LIST_SQL}], t)]) AS DOUBLE)
                        / CAST(greatest(len(toks), 1) AS DOUBLE))
               + 0.5 * least(1.0, CAST(len(toks) AS DOUBLE) / 64.0), 6) AS quality
    FROM tk
"""


def dedup_exact_stats(docs: DataFrame) -> DataFrame:
    """Exact-dup statistics per source: hash-groupBy dedup (the exact
    dedup primitive at scale — one shuffle on the fingerprint)."""
    with_fp = docs.select("source", fingerprint(F.col("text")).alias("fp"), "text")
    return with_fp.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_distinct_texts"),
        F.countDistinct("fp").alias("n_distinct_fps"),
    )


DEDUP_EXACT_STATS_SQL = f"""
    WITH tk AS (
        SELECT source, text, {sql_tokens('text')} AS toks FROM documents
    ),
    fp AS (
        SELECT source, text, {sql_poly_hash("array_to_string(toks, ' ')")} AS fp FROM tk
    )
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT text) AS n_distinct_texts,
           COUNT(DISTINCT fp) AS n_distinct_fps
    FROM fp GROUP BY source
"""


def text_repetition(docs: DataFrame) -> DataFrame:
    """Within-document repetition ratio (1 - distinct/total tokens) —
    the Gopher-style repetitiveness quality signal for pretraining
    corpora.  Pure column expressions: narrow projection, no shuffle."""
    toks = tokens(F.col("text"))
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        nd.alias("n_distinct"),
        F.round(
            F.lit(1.0) - nd.cast("double") / F.greatest(n, F.lit(1)).cast("double"),
            6,
        ).alias("repetition"),
    )


TEXT_REPETITION_SQL = f"""
    WITH tk AS (
        SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct,
           round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                       / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS repetition
    FROM tk
"""


def chunk_windows(
    docs: DataFrame, window: int = 32, stride: int = 24
) -> DataFrame:
    """RAG-style document chunking: overlapping token windows of
    ``window`` tokens every ``stride`` (the split-for-embedding step of
    a retrieval pipeline). Chunks shorter than a full window appear only
    as the final chunk of a doc. Pure JVM array ops (sequence + slice +
    explode), no UDF; embarrassingly parallel, 1→N explode like frame
    sampling.

    Output: (doc_id, chunk_idx, n_tokens, chunk_text).
    """
    toks = tokens(F.col("text"))
    # explicit floor on BOTH engines: DuckDB CAST(double AS INTEGER)
    # rounds while Spark's int cast truncates — floor is the one
    # formulation they agree on (incl. negative values for short docs)
    n_chunks = F.greatest(
        F.lit(1),
        F.floor(
            (F.size(toks) - F.lit(window) + F.lit(stride) - F.lit(1))
            / F.lit(stride)
        ).cast("int")
        + F.lit(1),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.slice(toks, i * stride + 1, window).alias("w"),
        ),
    )
    return docs.select(
        "doc_id", F.explode(chunks).alias("c")
    ).select(
        "doc_id",
        F.col("c.chunk_idx").cast("long").alias("chunk_idx"),
        F.size("c.w").cast("long").alias("n_tokens"),
        F.concat_ws(" ", "c.w").alias("chunk_text"),
    )


def sql_chunk_windows(window: int = 32, stride: int = 24) -> str:
    return f"""
    WITH tk AS (
        SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
    ),
    n AS (
        SELECT doc_id, toks,
               greatest(1, CAST(floor((len(toks) - {window} + {stride} - 1)
                                      / {stride}.0) AS INTEGER) + 1) AS n_chunks
        FROM tk
    ),
    c AS (
        SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_idx FROM n
    )
    SELECT doc_id, chunk_idx,
           CAST(len(toks[chunk_idx * {stride} + 1 : chunk_idx * {stride} + {window}])
                AS BIGINT) AS n_tokens,
           array_to_string(
               toks[chunk_idx * {stride} + 1 : chunk_idx * {stride} + {window}], ' '
           ) AS chunk_text
    FROM c
    """


def pack_sequences(docs: DataFrame, seq_len: int = 256) -> DataFrame:
    """Deterministic sequence packing: assign docs (in doc_id order per
    source) to fixed-token-budget training sequences by running-cumsum
    bucketing — the batch-prep step that concatenates short documents
    into ~seq_len-token training rows.

    Greedy first-fit packing is order-dependent and unstable under
    repartitioning; the cumsum rule (bucket = floor((cumsum - n) /
    seq_len), i.e. the bucket where the doc STARTS) is deterministic,
    reproducible across cluster layouts, and one window + one groupBy.

    Output per (source, seq_id): docs packed, total tokens.
    """
    from pyspark.sql import Window

    toks = docs.select(
        "source", "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    bucketed = toks.withColumn(
        "seq_id",
        ((F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(seq_len))
        .cast("long"),
    )
    return bucketed.groupBy("source", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def sql_pack_sequences(seq_len: int = 256) -> str:
    return f"""
    WITH tk AS (
        SELECT source, doc_id, len({sql_tokens('text')}) AS n_tokens
        FROM documents
    ),
    b AS (
        SELECT source, doc_id, n_tokens,
               CAST(floor((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tokens)
                          / {seq_len}.0) AS BIGINT) AS seq_id
        FROM tk
    )
    SELECT source, seq_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM b GROUP BY source, seq_id
    """


def source_drift(docs: DataFrame) -> DataFrame:
    """Corpus drift per source: total-variation distance between a
    source's token distribution and the rest of the corpus — the
    monitoring signal that flags a source whose content shifted before
    it poisons a training mix.

    Exact cross-multiplied integer arithmetic (no per-token division):
      TV_s = ( Σ_present |c_st·T_rest − (g_t − c_st)·T_s|
               + T_s·(T_total − G_s) ) / (2·T_s·T_rest)
    where G_s = Σ g_t over tokens PRESENT in s (the closed-form term
    covers every token the source lacks). Everything before the single
    final division is BIGINT-exact, so the DuckDB oracle bit-matches.

    Scale: token counts are vocabulary-sized per source — the joins are
    on (tok) against a broadcastable global table; no all-pairs work.
    """
    toks = docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    per_src = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    glob = per_src.groupBy("tok").agg(F.sum("c").alias("g"))
    totals = per_src.groupBy("source").agg(F.sum("c").alias("t_s"))
    grand = totals.agg(F.sum("t_s").alias("t_total"))
    j = (
        per_src.join(F.broadcast(glob), "tok")
        .join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(grand))
    )
    term = F.abs(
        F.col("c") * (F.col("t_total") - F.col("t_s"))
        - (F.col("g") - F.col("c")) * F.col("t_s")
    )
    agg = j.groupBy("source").agg(
        F.first("t_s").alias("t_s"),
        F.first("t_total").alias("t_total"),
        F.sum(term).alias("present_sum"),
        F.sum("g").alias("g_present"),
    )
    num = F.col("present_sum") + F.col("t_s") * (
        F.col("t_total") - F.col("g_present")
    )
    den = F.lit(2) * F.col("t_s") * (F.col("t_total") - F.col("t_s"))
    return agg.select(
        "source",
        F.col("t_s").alias("n_tokens"),
        (num.cast("double") / den.cast("double")).alias("tv_distance"),
    )


SOURCE_DRIFT_SQL = f"""
    WITH tk AS (
        SELECT source, unnest({sql_tokens('text')}) AS tok FROM documents
    ),
    per_src AS (
        SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY source, tok
    ),
    gl AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS g FROM per_src GROUP BY tok),
    totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t_s FROM per_src GROUP BY source),
    grand AS (SELECT CAST(SUM(t_s) AS BIGINT) AS t_total FROM totals),
    agg AS (
        SELECT p.source, any_value(t.t_s) AS t_s, any_value(grand.t_total) AS t_total,
               CAST(SUM(abs(p.c * (grand.t_total - t.t_s)
                            - (gl.g - p.c) * t.t_s)) AS BIGINT) AS present_sum,
               CAST(SUM(gl.g) AS BIGINT) AS g_present
        FROM per_src p
        JOIN gl USING (tok) JOIN totals t USING (source), grand
        GROUP BY p.source
    )
    SELECT source, t_s AS n_tokens,
           CAST(present_sum + t_s * (t_total - g_present) AS DOUBLE)
               / CAST(2 * t_s * (t_total - t_s) AS DOUBLE) AS tv_distance
    FROM agg
"""


def unigram_likelihood(docs: DataFrame) -> DataFrame:
    """Unigram-LM likelihood proxy per document: the average corpus
    frequency of the doc's tokens — the cheap first-pass fluency /
    outlier score (low = rare-token gibberish) a pretraining pipeline
    runs before an actual LM perplexity pass.

    Cross-engine parity holds because everything until the final
    division is exact BIGINT (corpus counts and their per-doc sums);
    the one double division is IEEE-identical in both engines — no
    rounding step needed.

    Scale: corpus term frequencies are a vocabulary-sized table —
    broadcast into the token join (no shuffle of the corpus side);
    per-doc sum is one hash aggregation.
    """
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    total = freq.agg(F.sum("freq").alias("total"))
    scored = (
        toks.join(F.broadcast(freq), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("freq").alias("sum_freq"),
        )
    )
    return scored.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        "sum_freq",
        (
            F.col("sum_freq").cast("double")
            / (F.col("n_tokens") * F.col("total")).cast("double")
        ).alias("avg_lik"),
    )


UNIGRAM_LIKELIHOOD_SQL = f"""
    WITH tk AS (
        SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM documents
    ),
    freq AS (SELECT tok, COUNT(*) AS freq FROM tk GROUP BY tok),
    total AS (SELECT SUM(freq) AS total FROM freq),
    scored AS (
        SELECT tk.doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(freq) AS BIGINT) AS sum_freq
        FROM tk JOIN freq USING (tok) GROUP BY tk.doc_id
    )
    SELECT doc_id, n_tokens, sum_freq,
           CAST(sum_freq AS DOUBLE) / CAST(n_tokens * total AS DOUBLE) AS avg_lik
    FROM scored, total
"""


# Benchmark-decontamination screen: flag training docs whose word
# n-gram shingles overlap a held-out benchmark set. Standard hygiene
# pass before pretraining (the "13-gram overlap" check, here n=5 to fit
# the short synthetic docs).
DECONTAM_N = 5
DECONTAM_BENCH_SOURCE = "src0"


def shingles(text_col: Column, n: int = DECONTAM_N) -> Column:
    """Word n-gram shingle array (JVM-side: sequence + slice, no UDF)."""
    toks = tokens(text_col)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def decontam_overlap(
    docs: DataFrame,
    bench_source: str = DECONTAM_BENCH_SOURCE,
    n: int = DECONTAM_N,
) -> DataFrame:
    """Per-doc contamination: fraction of the doc's distinct shingles
    that appear anywhere in the benchmark corpus.

    Scale shape: the benchmark's distinct-shingle set is the small side
    (benchmarks are ~1e5 docs vs a 100 TB corpus) — broadcast it into a
    left join against the exploded corpus shingles; one hash-groupBy per
    doc after.  No all-pairs work anywhere."""
    sh = docs.select(
        "doc_id", "source", F.explode(shingles(F.col("text"), n)).alias("shingle")
    ).distinct()
    bench = F.broadcast(
        sh.filter(F.col("source") == bench_source).select("shingle").distinct()
    )
    hit = bench.withColumn("_hit", F.lit(1))
    scored = (
        sh.filter(F.col("source") != bench_source)
        .join(hit, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),
        )
    )
    return scored.filter(F.col("n_contaminated") > 0).select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        F.round(
            F.col("n_contaminated").cast("double") / F.col("n_shingles"), 6
        ).alias("contamination"),
    )


DECONTAM_OVERLAP_SQL = f"""
    WITH tk AS (
        SELECT doc_id, source, {sql_tokens('text')} AS toks FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, source,
               unnest([array_to_string(toks[i:i+{DECONTAM_N - 1}], ' ')
                       for i in range(1, greatest(len(toks)-{DECONTAM_N - 2}, 1))]) AS shingle
        FROM tk
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE source = '{DECONTAM_BENCH_SOURCE}'),
    scored AS (
        SELECT s.doc_id,
               COUNT(*) AS n_shingles,
               COUNT(*) FILTER (WHERE b.shingle IS NOT NULL) AS n_contaminated
        FROM sh s LEFT JOIN bench b USING (shingle)
        WHERE s.source <> '{DECONTAM_BENCH_SOURCE}'
        GROUP BY s.doc_id
    )
    SELECT doc_id, n_shingles, n_contaminated,
           round(CAST(n_contaminated AS DOUBLE) / n_shingles, 6) AS contamination
    FROM scored WHERE n_contaminated > 0
"""


# ---------------------------------------------------------------------------
# PII detection / redaction.
#
# The standard pre-training scrub pass: detect and mask email addresses,
# phone numbers, and IP addresses before anything else sees the text.
# Detection and redaction are single-pass JVM regexp expressions
# (regexp_count / regexp_replace — codegen'd, no Python, no shuffle until
# the final per-source rollup), so the operator scans 100 TB exactly as
# fast as the engine can read it.  The patterns are deliberately written
# in the common Java-regex/RE2 subset so the DuckDB oracle runs the SAME
# patterns (no lookaround, no backreferences).

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# redaction order is load-bearing only in that emails go first (an email
# can contain digit runs; a bare IP/phone can never contain '@')
PII_CLASSES: list[tuple[str, str, str]] = [
    ("email", PII_EMAIL_RE, "<EMAIL>"),
    ("phone", PII_PHONE_RE, "<PHONE>"),
    ("ip", PII_IP_RE, "<IP>"),
]

# small prime: keeps the redaction-fingerprint SUM well inside int64
# while still collapsing only on genuinely different redacted texts
_REDACT_FP_MOD = 1_000_003


def pii_redact(text_col: Column) -> Column:
    """Text with every detected PII span masked by its class tag."""
    out = text_col
    for _, pat, repl in PII_CLASSES:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source PII exposure report: match counts per class, how many
    documents carry any PII at all, and a fingerprint-sum of the
    REDACTED texts (proves byte-identical redaction output without
    shipping the texts).  One narrow shuffle on ``source``."""
    t = F.col(text_col)
    counts = {
        name: F.regexp_count(t, F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in PII_CLASSES
    }
    per_doc = docs.select(
        "source",
        *counts.values(),
        (poly_hash(pii_redact(t)) % _REDACT_FP_MOD).alias("rfp"),
    )
    any_pii = sum(F.col(f"n_{n}") for n, _, _ in PII_CLASSES) > 0
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(f"n_{n}").alias(f"n_{n}s") for n, _, _ in PII_CLASSES],
        F.count(F.when(any_pii, F.lit(1))).alias("n_docs_with_pii"),
        F.sum("rfp").alias("redact_fp_sum"),
    )


def _pii_sql(text_expr: str) -> tuple[str, str]:
    """(count selects, redacted expr) for the DuckDB oracle."""
    counts = ",\n               ".join(
        f"len(regexp_extract_all({text_expr}, '{pat}')) AS n_{name}"
        for name, pat, _ in PII_CLASSES
    )
    red = text_expr
    for _, pat, repl in PII_CLASSES:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return counts, red


def pii_stats_sql(aug_text_expr: str = "text") -> str:
    counts, red = _pii_sql("t")
    return f"""
    WITH aug AS (
        SELECT source, {aug_text_expr} AS t FROM documents
    ),
    per AS (
        SELECT source,
               {counts},
               {sql_poly_hash('red')} % {_REDACT_FP_MOD} AS rfp
        FROM (SELECT source, t, {red} AS red FROM aug)
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_email) AS BIGINT) AS n_emails,
           CAST(SUM(n_phone) AS BIGINT) AS n_phones,
           CAST(SUM(n_ip) AS BIGINT) AS n_ips,
           COUNT(CASE WHEN n_email + n_phone + n_ip > 0 THEN 1 END)
               AS n_docs_with_pii,
           CAST(SUM(rfp) AS BIGINT) AS redact_fp_sum
    FROM per GROUP BY source
    """


# ---------------------------------------------------------------------------
# Gopher/C4-style rule-based quality filtering.
#
# The composed rule set a pretraining corpus actually gates on (Rae et
# al. 2021 "Scaling Language Models" §A1.1, C4's heuristics) restated
# for this corpus: document length bounds, mean-word-length band,
# repetition ceiling, stopword presence, max-word-length cap.  Every
# rule is integer arithmetic over one tokens() pass — comparisons are
# cross-multiplied so no float ever decides a boundary case.  Narrow
# projection + one rollup shuffle: the 100 TB shape.

GOPHER_MIN_TOKENS = 5
GOPHER_MAX_TOKENS = 5000
GOPHER_MEAN_WL_MIN = 2  # mean word length lower bound (chars/token)
GOPHER_MEAN_WL_MAX = 12
GOPHER_MAX_REP_X10 = 6  # repetition ratio ceiling: (n-nd)/n <= 0.6
GOPHER_MAX_WORD_LEN = 30
GOPHER_MIN_STOPWORDS = 1


def gopher_flags(text_col: Column) -> dict[str, Column]:
    toks = tokens(text_col)
    n = F.size(toks)
    lens = F.transform(toks, lambda t: F.length(t))
    sum_len = F.aggregate(lens, F.lit(0), lambda a, b: a + b)
    nd = F.size(F.array_distinct(toks))
    return {
        "f_ntok": (n >= GOPHER_MIN_TOKENS) & (n <= GOPHER_MAX_TOKENS),
        # 2 <= sum_len/n <= 12, cross-multiplied (exact)
        "f_meanwl": (sum_len >= GOPHER_MEAN_WL_MIN * n)
        & (sum_len <= GOPHER_MEAN_WL_MAX * n),
        # (n - nd)/n <= 0.6  ->  10*(n - nd) <= 6*n
        "f_rep": 10 * (n - nd) <= GOPHER_MAX_REP_X10 * n,
        "f_stop": marker_count(toks, STOPWORDS) >= GOPHER_MIN_STOPWORDS,
        "f_maxwl": F.coalesce(
            F.array_max(lens) <= GOPHER_MAX_WORD_LEN, F.lit(True)
        ),
    }


def gopher_quality_filter(docs: DataFrame) -> DataFrame:
    """Per-source retention report for the Gopher rule set: documents
    passing ALL rules, per-rule failure counts, exact retention rate."""
    flags = gopher_flags(F.col("text"))
    per_doc = docs.select(
        "source", *[c.alias(k) for k, c in flags.items()]
    )
    all_pass = None
    for k in flags:
        all_pass = F.col(k) if all_pass is None else (all_pass & F.col(k))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(all_pass, F.lit(1))).alias("n_pass"),
        *[
            F.count(F.when(~F.col(k), F.lit(1))).alias(f"n_fail_{k[2:]}")
            for k in flags
        ],
        F.round(
            F.count(F.when(all_pass, F.lit(1))).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("retention"),
    )


GOPHER_FILTER_SQL = f"""
    WITH tk AS (
        SELECT source, {sql_tokens('text')} AS toks FROM documents
    ),
    fl AS (
        SELECT source,
               len(toks) AS n,
               coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS sum_len,
               len(list_distinct(toks)) AS nd,
               len([t for t in toks if list_contains([{_STOP_LIST_SQL}], t)])
                   AS n_stop,
               coalesce(list_max(list_transform(toks, t -> length(t))), 0)
                   AS max_wl
        FROM tk
    ),
    f2 AS (
        SELECT source,
               (n >= {GOPHER_MIN_TOKENS} AND n <= {GOPHER_MAX_TOKENS}) AS f_ntok,
               (sum_len >= {GOPHER_MEAN_WL_MIN} * n
                AND sum_len <= {GOPHER_MEAN_WL_MAX} * n) AS f_meanwl,
               (10 * (n - nd) <= {GOPHER_MAX_REP_X10} * n) AS f_rep,
               (n_stop >= {GOPHER_MIN_STOPWORDS}) AS f_stop,
               (max_wl <= {GOPHER_MAX_WORD_LEN}) AS f_maxwl
        FROM fl
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(CASE WHEN f_ntok AND f_meanwl AND f_rep AND f_stop AND f_maxwl
                      THEN 1 END) AS n_pass,
           COUNT(CASE WHEN NOT f_ntok THEN 1 END) AS n_fail_ntok,
           COUNT(CASE WHEN NOT f_meanwl THEN 1 END) AS n_fail_meanwl,
           COUNT(CASE WHEN NOT f_rep THEN 1 END) AS n_fail_rep,
           COUNT(CASE WHEN NOT f_stop THEN 1 END) AS n_fail_stop,
           COUNT(CASE WHEN NOT f_maxwl THEN 1 END) AS n_fail_maxwl,
           round(CAST(COUNT(CASE WHEN f_ntok AND f_meanwl AND f_rep AND f_stop
                                      AND f_maxwl THEN 1 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS retention
    FROM f2 GROUP BY source
    """


# ---------------------------------------------------------------------------
# Cross-source similarity via KMV (k-minimum-values) sketch algebra.
#
# One k-sized bottom-k sketch of the distinct 3-gram shingle hashes per
# source answers every pairwise "how much do these corpora overlap?"
# question: Jaccard(a, b) is estimated by |S_a ∩ S_b ∩ U_k| / k where
# U_k is the k smallest of the union — the classical KMV estimator
# (Bar-Yossef et al., and the sketch behind every engine's
# theta-sketch set algebra).  The sketch is DETERMINISTIC (k smallest
# hashes, no RNG), so unlike HLL-based estimators it earns a strict
# oracle row.
#
# Scale shape: the per-source state is k values no matter how many
# documents the source has; the only data-sized stage is the distinct
# over (source, shingle-hash), which partial-aggregates map-side.  The
# source×source comparison joins k-sized arrays — n_sources² tiny rows.

KMV_K = 64


def source_kmv_similarity(docs: DataFrame, k: int = KMV_K) -> DataFrame:
    from pyspark.sql.window import Window

    from flink_cdc_2_3_0_src_spark.functions.hashing import shingle_profile

    prof = docs.select("source", shingle_profile(F.col("text")).alias("p"))
    h = prof.select(
        "source", F.explode(F.col("p")["hashes"]).alias("h")
    ).distinct()
    w = Window.partitionBy("source").orderBy("h")
    sk = h.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    sketches = sk.groupBy("source").agg(
        F.array_sort(F.collect_list("h")).alias("sk")
    )
    a, b = sketches.alias("a"), sketches.alias("b")
    union_k = F.slice(
        F.array_sort(F.array_union(F.col("a.sk"), F.col("b.sk"))), 1, k
    )
    common = F.size(
        F.array_intersect(
            F.array_intersect(F.col("a.sk"), F.col("b.sk")), union_k
        )
    )
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        common.cast("int").alias("n_common"),
    )
    return pairs.select(
        "source_a",
        "source_b",
        "n_common",
        (F.col("n_common").cast("double") / F.lit(float(k))).alias(
            "est_jaccard"
        ),
    )


def source_kmv_similarity_sql(k: int = KMV_K) -> str:
    from flink_cdc_2_3_0_src_spark.functions.hashing import (
        sql_shingle_hashes,
        sql_token_hashes,
    )

    return f"""
    WITH tk AS (
        SELECT source, {sql_tokens('text')} AS toks FROM documents
    ),
    th AS (
        SELECT source, {sql_token_hashes('toks')} AS th FROM tk
    ),
    hs AS (
        SELECT source, {sql_shingle_hashes('th')} AS hashes FROM th
    ),
    h AS (SELECT DISTINCT source, unnest(hashes) AS h FROM hs),
    r AS (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM h
    ),
    s AS (
        SELECT source, list(h ORDER BY h) AS sk
        FROM r WHERE rn <= {k} GROUP BY source
    ),
    p AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(len(list_intersect(
                   list_intersect(a.sk, b.sk),
                   list_sort(list_distinct(a.sk || b.sk))[1:{k}]
               )) AS INTEGER) AS n_common
        FROM s a JOIN s b ON a.source < b.source
    )
    SELECT source_a, source_b, n_common,
           CAST(n_common AS DOUBLE) / {float(k)} AS est_jaccard
    FROM p
    """


# ---------------------------------------------------------------------------
# Exact duplicated-span detection (substring-level dedup)
# ---------------------------------------------------------------------------
# Document-level dedup (exact / MinHash) misses boilerplate: spans that
# repeat across otherwise-distinct documents (headers, licenses, templated
# paragraphs).  The standard fix is exact substring dedup over the
# concatenated corpus (suffix-array style); the distributed re-expression
# is rolling token windows: every k-token window of every doc, a corpus-
# wide window-frequency aggregation, then per-doc merging of adjacent
# duplicated windows into maximal spans (an islands-and-gaps window
# function — consecutive positions share `pos - row_number()`).
#
# Scale shape: the only corpus-wide shuffle is the groupBy on the window
# key.  With `hashed=True` the key is xxhash64(span) — an 8-byte shuffle
# key instead of a ~50-byte string — and the join back to positions is a
# slim (doc_id, pos, key) exchange; per-doc island merging partitions by
# doc_id.  No all-pairs work anywhere; survives 1000 executors.
SPAN_K = 8


def duplicated_span_hits(
    docs: DataFrame,
    k: int = SPAN_K,
    min_docs: int = 2,
    hashed: bool = False,
) -> DataFrame:
    """Hit stage of ``duplicated_spans``: (doc_id, pos) for every
    k-token window appearing in >= ``min_docs`` distinct documents.
    Exposed separately so the scale guard (tests/test_scale_guard.py)
    can pin that hit volume tracks planted-duplicate density — not the
    square of the corpus size."""
    from flink_cdc_2_3_0_src_spark.io import spread_small_scan

    # the window expansion (tokenize + slice + array_to_string per
    # window) runs in the SCAN stage — spread an under-partitioned
    # corpus first so it parallelizes (no-op on well-split inputs)
    win = spread_small_scan(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        F.posexplode(shingles(F.col("text"), k)).alias("pos", "span"),
    )
    key = F.xxhash64("span").alias("key") if hashed else F.col("span").alias("key")
    # `win` feeds both the frequency aggregate and the join-back —
    # materialize it ONCE: the expansion is an interpreted HOF chain
    # (tokenize + slice + array_to_string per window), measured at ~45%
    # of the operator's cost per scan at sf0.1, while the checkpointed
    # (doc_id, pos, key) projection is a few MB per 100k docs.  (The
    # opposite trade — recompute — was originally shipped here on the
    # assumption the explode was codegen-cheap; profiling falsified it.)
    pos = F.col("pos").cast("bigint").alias("pos")
    win = pin(win.select("doc_id", pos, key), fanout=True)
    dup = (
        win.groupBy("key")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("key")
    )
    return win.join(dup, "key").select("doc_id", "pos")


def duplicated_spans(
    docs: DataFrame,
    k: int = SPAN_K,
    min_docs: int = 2,
    hashed: bool = False,
) -> DataFrame:
    """Maximal duplicated token spans: (doc_id, span_start, span_end,
    n_windows) for every run of k-token windows that appear in at least
    ``min_docs`` distinct documents.  Token indices are 0-based,
    ``span_end`` exclusive."""
    from pyspark.sql import Window

    hit = duplicated_span_hits(docs, k=k, min_docs=min_docs, hashed=hashed)
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = hit.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("grp")
    )


DUPLICATED_SPANS_SQL = f"""
    WITH tk AS (
        SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
    ),
    win AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
               array_to_string(toks[i:i+{SPAN_K - 1}], ' ') AS span
        FROM tk, UNNEST(range(1, greatest(len(toks) - {SPAN_K - 2}, 1))) AS t(i)
    ),
    dup AS (
        SELECT span FROM win GROUP BY span
        HAVING count(DISTINCT doc_id) >= 2
    ),
    hit AS (SELECT w.doc_id, w.pos FROM win w JOIN dup USING (span)),
    isl AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM hit
    )
    SELECT doc_id, MIN(pos) AS span_start,
           MAX(pos) + {SPAN_K} AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, grp
"""


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (integer-exact)
# ---------------------------------------------------------------------------
TFIDF_TOP_K = 3


def tfidf_top_terms(docs: DataFrame, top_k: int = TFIDF_TOP_K) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf.

    Scoring is INTEGER-exact so any engine ranks identically: idf is the
    milli-unit rational ``N * 1000 // df`` (floor), score = tf * idf_milli;
    ties break lexicographically.  (The log in textbook idf only dampens
    the ordering; the rational form preserves the df-ranking exactly and
    stays engine-portable — no float log in the comparison path.)

    Scale shape: one explode + (doc, term) count, a vocab-sized df
    aggregate joined back ON THE TERM KEY (hash join on the shuffled
    vocab — broadcastable when the vocab fits), and a per-doc top-k
    window.  No driver-side state."""
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(
        F.count_distinct("doc_id").alias("n_docs")
    )
    scored = (
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            (F.col("tf") * F.floor(F.col("n_docs") * 1000 / F.col("df")).cast("bigint"))
            .alias("score_milli"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_milli").desc(), F.col("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("doc_id", "rank", "tok", "tf", "df", "score_milli")
    )


TFIDF_TOP_TERMS_SQL = f"""
    WITH tk AS (
        SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tk GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.tok, tf.tf, df.df,
               tf.tf * CAST(floor(n.n_docs * 1000 / df.df) AS BIGINT) AS score_milli
        FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, CAST(rank AS INTEGER) AS rank, tok, tf, df, score_milli
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score_milli DESC, tok
        ) AS rank
        FROM scored
    ) WHERE rank <= {TFIDF_TOP_K}
"""


# ---------------------------------------------------------------------------
# Classifier-based filtering (hashed-feature linear inference)
# ---------------------------------------------------------------------------
# The fasttext-style quality/domain classifier is a standard pipeline
# gate (e.g. pretraining-data "educational value" filters).  Inference
# is a hashed bag-of-words linear model: bucket = H(token) mod D,
# score_c = sum of W[c][bucket] — which Spark executes as a pure
# codegen'd expression over the token array with the weight matrix as
# literal arrays (broadcast by construction, zero Python, zero shuffle
# until the report aggregation).  The weights here are a deterministic
# fixture standing in for a trained model; swapping in real weights
# changes only the literals.
CLASSIFY_DIM = 64
CLASSIFY_CLASSES = ("web", "code", "academic")


def _fixture_weight(c: int, j: int) -> int:
    return ((j + 1) * (2 * c + 3) * 2_654_435_761 % 1_999) - 999


def classify_scores(text_col: Column, bucket_hash: str = "poly") -> dict[str, Column]:
    """Per-class integer scores for one document.

    ``bucket_hash="poly"`` uses the engine-portable polynomial hash (the
    oracle-parity path; a per-character fold).  ``"xxhash"`` is the
    production hot path: one JVM xxhash64 call per token — same plan
    shape, not DuckDB-reproducible (the trained-weights analogue of the
    minhash poly/xxhash twin pair)."""
    from flink_cdc_2_3_0_src_spark.functions.hashing import poly_hash_expr, tokens

    if bucket_hash == "xxhash":
        buckets = F.transform(
            tokens(text_col),
            lambda t: ((F.xxhash64(t) % CLASSIFY_DIM) + CLASSIFY_DIM) % CLASSIFY_DIM,
        )
    else:
        buckets = F.transform(
            tokens(text_col), lambda t: poly_hash_expr(t) % CLASSIFY_DIM
        )
    def _score(w):
        return F.aggregate(
            buckets,
            F.lit(0).cast("long"),
            lambda acc, b: acc + F.element_at(w, b.cast("int") + 1),
        )

    out = {}
    for ci, cname in enumerate(CLASSIFY_CLASSES):
        w = F.array(
            *[F.lit(_fixture_weight(ci, j)).cast("long") for j in range(CLASSIFY_DIM)]
        )
        out[cname] = _score(w)
    return out


def classify_documents(docs: DataFrame) -> DataFrame:
    """Per-source predicted-class distribution (argmax, ties to the
    earlier class) — the gate report a classifier-filter stage emits."""
    s = classify_scores(F.col("text"))
    sc = docs.select(
        "doc_id",
        "source",
        *[c.alias(f"s_{n}") for n, c in s.items()],
    )
    pred = (
        F.when(
            (F.col("s_web") >= F.col("s_code"))
            & (F.col("s_web") >= F.col("s_academic")),
            F.lit("web"),
        )
        .when(F.col("s_code") >= F.col("s_academic"), F.lit("code"))
        .otherwise(F.lit("academic"))
    )
    return (
        sc.withColumn("pred", pred)
        .groupBy("source", "pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("s_web")).alias("sum_s_web"),
            F.sum(F.col("s_code")).alias("sum_s_code"),
            F.sum(F.col("s_academic")).alias("sum_s_academic"),
        )
    )


def _classify_sql_scores() -> list[str]:
    exprs = []
    for ci in range(len(CLASSIFY_CLASSES)):
        ws = ", ".join(str(_fixture_weight(ci, j)) for j in range(CLASSIFY_DIM))
        exprs.append(
            f"list_sum([ [{ws}][({sql_poly_hash('t')} % {CLASSIFY_DIM}) + 1] "
            f"for t in toks ])"
        )
    return exprs


CLASSIFY_DOCUMENTS_SQL = None  # assembled below (needs the score exprs)


def _build_classify_sql() -> str:
    s_web, s_code, s_acad = _classify_sql_scores()
    return f"""
    WITH tk AS (
        SELECT doc_id, source, {sql_tokens('text')} AS toks FROM documents
    ),
    sc AS (
        SELECT doc_id, source,
               CAST(coalesce({s_web}, 0) AS BIGINT) AS s_web,
               CAST(coalesce({s_code}, 0) AS BIGINT) AS s_code,
               CAST(coalesce({s_acad}, 0) AS BIGINT) AS s_academic
        FROM tk
    ),
    p AS (
        SELECT *, CASE
            WHEN s_web >= s_code AND s_web >= s_academic THEN 'web'
            WHEN s_code >= s_academic THEN 'code'
            ELSE 'academic' END AS pred
        FROM sc
    )
    SELECT source, pred, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(s_web) AS BIGINT) AS sum_s_web,
           CAST(SUM(s_code) AS BIGINT) AS sum_s_code,
           CAST(SUM(s_academic) AS BIGINT) AS sum_s_academic
    FROM p GROUP BY source, pred
    """


CLASSIFY_DOCUMENTS_SQL = _build_classify_sql()


# ---------------------------------------------------------------------------
# BPE vocabulary induction (tokenizer training)
# ---------------------------------------------------------------------------
# The classic byte-pair-encoding trainer: aggregate the corpus to a
# word-frequency dictionary (the ONLY corpus-sized pass — one groupBy),
# split words into symbols, then iteratively merge the
# highest-total-count adjacent symbol pair.  Distribution shape per
# round: explode adjacent pairs weighted by word count -> partial-agg
# groupBy(pair) -> a ONE-ROW argmax collect (like the kmeans centroid
# collect), then a pure fold projection applies the merge.  The merge
# application is a left-to-right non-overlapping fold (a merged symbol
# cannot immediately re-merge in the same round) — expressed with
# F.aggregate here and list_reduce in the oracle, so both engines
# produce identical vocabularies, tie-broken by (count desc, pair asc).
BPE_ROUNDS = 4


def _bpe_apply(syms, a: str, b: str):
    """Fold one merge over a symbol array, left-to-right non-overlap."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, cur: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (cur == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(a + b)),
            ),
        ).otherwise(F.concat(acc, F.array(cur))),
    )


def bpe_train(docs: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """Learn ``rounds`` BPE merges from the corpus; returns one row per
    merge: (merge_rank, sym_a, sym_b, pair_count)."""
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    syms = F.array_remove(F.split(F.col("w"), ""), "")
    # ONE corpus-sized checkpoint (truncates the corpus groupBy); each
    # round then COMPOSES its fold expression over this base instead of
    # checkpointing per round — round r re-applies r-1 folds to the
    # (vocabulary-bounded) word table, which is far cheaper than one
    # materialization job per round (r13: 2 jobs/round -> 1).
    base = pin(words.select("w", "cnt", syms.alias("syms")))
    cur_syms = F.col("syms")
    out = []
    for rank in range(1, rounds + 1):
        pairs = base.select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice(cur_syms, 1, F.size(cur_syms) - 1),
                    F.slice(cur_syms, 2, F.size(cur_syms) - 1),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, n = best[0]["a"], best[0]["b"], int(best[0]["n"])
        out.append((rank, a, b, n))
        cur_syms = _bpe_apply(cur_syms, a, b)
    spark = docs.sparkSession
    # one partition: the result is `rounds` driver-local rows — the
    # default createDataFrame slicing would spawn defaultParallelism
    # Python-worker tasks to serve 4 rows
    return spark.createDataFrame(
        spark.sparkContext.parallelize(out or [], 1),
        "merge_rank int, sym_a string, sym_b string, pair_count bigint",
    )


def bpe_train_sql(rounds: int = BPE_ROUNDS) -> str:
    """DuckDB twin: unrolls the same rounds; each round's argmax is a
    scalar-subquery struct and the merge application is the identical
    left-to-right list_reduce fold."""
    parts = [f"""w0 AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt,
               [c for c in string_split(w, '') if c <> ''] AS syms
        FROM (SELECT unnest({sql_tokens('text')}) AS w FROM documents)
        GROUP BY w
    )"""]
    sel = []
    for r in range(1, rounds + 1):
        prev = f"w{r - 1}"
        parts.append(f"""p{r} AS (
        SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(cnt) AS BIGINT) AS n
        FROM {prev}, UNNEST(range(1, len(syms))) AS t(i)
        GROUP BY a, b
        ORDER BY n DESC, a, b LIMIT 1
    )""")
        # the one-row argmax joins in as plain columns (DuckDB forbids
        # subqueries inside lambdas)
        parts.append(f"""w{r} AS (
        SELECT w, cnt,
               list_reduce(
                   list_prepend(CAST([] AS VARCHAR[]), list_transform(syms, s -> [s])),
                   (acc, cur) -> CASE
                       WHEN len(acc) > 0
                            AND acc[-1] = m.a
                            AND cur[1] = m.b
                       THEN acc[1:len(acc)-1] || [m.a || m.b]
                       ELSE acc || cur END
               ) AS syms
        FROM {prev} CROSS JOIN p{r} m
    )""")
        sel.append(
            f"SELECT {r} AS merge_rank, a AS sym_a, b AS sym_b, n AS pair_count FROM p{r}"
        )
    return "WITH " + ",".join(parts) + " " + " UNION ALL ".join(sel)


# ---------------------------------------------------------------------------
# Unicode text normalization (r5) — the first transform of every real
# training-data pipeline: NFC composition (é as one codepoint, not
# e + U+0301), control-character strip, whitespace collapse, trim.
# Skipping it splits otherwise-identical documents across dedup,
# fingerprinting and tokenization (the byte sequences differ while the
# rendered text doesn't).
#
# Cross-engine contract, applied IN THIS ORDER on both engines:
#   1. NFC normalize            (Python unicodedata / DuckDB nfc_normalize)
#   2. strip control chars      [\x00-\x08\x0B-\x1F\x7F]  (keeps \t \n)
#   3. collapse [ \t\n]+ -> ' ' (explicit class: RE2's \s is ASCII-only
#                                while Python's is Unicode-wide — an
#                                engine-portable regex never uses \s here)
#   4. trim ASCII spaces
# Python is the only NFC implementation available to Spark, so this is
# one Arrow-batched pandas UDF; everything downstream stays JVM-side.

_CTRL_RE = r"[\x00-\x08\x0B-\x1F\x7F]"
_WS_RE = r"[ \t\n]+"


def normalize_text(text_col: Column) -> Column:
    """NFC + control-strip + whitespace-collapse + trim (see contract
    above).  One vectorized pandas UDF."""

    @pandas_udf("string")
    def _norm(s):
        import re
        import unicodedata

        ctrl = re.compile(_CTRL_RE)
        ws = re.compile(_WS_RE)

        def one(v):
            if v is None:
                return None
            v = unicodedata.normalize("NFC", v)
            v = ctrl.sub("", v)
            v = ws.sub(" ", v)
            return v.strip(" ")

        return s.map(one)

    return _norm(text_col)


def normalize_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc normalized text + before/after char counts (the audit
    view: how much the cleaner actually changed)."""
    norm = normalize_text(F.col(text_col))
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(F.col(text_col)).alias("n_chars_raw"),
        F.length(norm).alias("n_chars_norm"),
    )


def normalize_stats_sql(dirty_expr: str = "text") -> str:
    """DuckDB twin: nfc_normalize + the identical explicit-class regex
    chain (same operation ORDER — NFC, strip, collapse, trim)."""
    norm = (
        "trim(regexp_replace(regexp_replace(nfc_normalize({e}), "
        "'[\\x00-\\x08\\x0B-\\x1F\\x7F]', '', 'g'), '[ \\t\\n]+', ' ', 'g'), ' ')"
    ).format(e=dirty_expr)
    return f"""
    SELECT doc_id,
           {norm} AS norm_text,
           CAST(length({dirty_expr}) AS INTEGER) AS n_chars_raw,
           CAST(length({norm}) AS INTEGER) AS n_chars_norm
    FROM documents
    """
