"""Training-data pipeline query catalog: dedup families, text analysis,
similarity search, multimodal plumbing, JSON extraction.

Oracle strategy: every deterministic operator gets DuckDB SQL computing the
*same algorithm* (same md5-based hashes, same decimal accumulation), so the
driver's value-hash comparison is exact. The long oracles are generated
programmatically right next to the Spark builder they mirror.
"""

from __future__ import annotations

import atexit as _atexit
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from meerschaum_spark import cache_log
from meerschaum_spark.catalog import floordiv_sql, parallelize, query
from meerschaum_spark.functions import dedup as D
from meerschaum_spark.functions import multimodal as M
from meerschaum_spark.functions import similarity as S
from meerschaum_spark.functions import text as T
from meerschaum_spark.sources import load_table
from meerschaum_spark.functions.persist import pin as _pin

# SQL fragments mirroring functions/text.py + catalog.hash60
_TOKS = r"string_split_regex(trim(lower(text)), '\s+')"
_H60 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


# ===========================================================================
# Text analysis
# ===========================================================================

@query(
    "doc_token_stats",
    f"""
    WITH t AS (SELECT doc_id, text, length(text) AS n_chars, {_TOKS} AS toks
               FROM documents)
    SELECT doc_id, n_chars,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
               AS n_bpe_tokens,
           CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
               / len(toks) AS avg_token_len
    FROM t ORDER BY doc_id
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return T.token_stats(docs).orderBy("doc_id")


_SW = ", ".join(f"'{w}'" for w in T.QUALITY_STOPWORDS)


@query(
    "doc_quality_score",
    f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    r AS (
      SELECT doc_id, len(toks) AS n_tokens,
             CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                  AS DOUBLE) / length(text) AS punct_ratio,
             CAST(len(list_filter(toks, x -> x IN ({_SW}))) AS DOUBLE)
                 / len(toks) AS stopword_ratio
      FROM t)
    SELECT doc_id, n_tokens, punct_ratio, stopword_ratio,
           (n_tokens >= 10 AND n_tokens <= 10000 AND stopword_ratio >= 0.01)
               AS quality_pass
    FROM r ORDER BY doc_id
    """,
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return T.quality_score(docs).orderBy("doc_id")


def _hits_sql(words: list[str]) -> str:
    in_list = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(toks, x -> x IN ({in_list})))"


@query(
    "doc_lang_id",
    f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    r AS (
      SELECT doc_id,
             {_hits_sql(T.STOPWORDS['en'])} AS hits_en,
             {_hits_sql(T.STOPWORDS['de'])} AS hits_de,
             {_hits_sql(T.STOPWORDS['es'])} AS hits_es,
             {_hits_sql(T.STOPWORDS['fr'])} AS hits_fr,
             CAST(length(text) - length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g'))
                  AS DOUBLE) / length(text) AS non_ascii_ratio
      FROM t)
    SELECT doc_id, hits_en, hits_de, hits_es, hits_fr, non_ascii_ratio,
           CASE WHEN non_ascii_ratio > 0.3 THEN 'zh'
                WHEN hits_en >= hits_de AND hits_en >= hits_es
                     AND hits_en >= hits_fr THEN 'en'
                WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
                WHEN hits_es >= hits_fr THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM r ORDER BY doc_id
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return T.lang_id(docs).orderBy("doc_id")


_NORM_SQL = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"
_FP_SQL = _H60.format(x=_NORM_SQL)


@query(
    "doc_fingerprint",
    f"""
    SELECT doc_id, {_FP_SQL} AS fingerprint
    FROM documents ORDER BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return T.fingerprint(docs).orderBy("doc_id")


# ===========================================================================
# Dedup family
# ===========================================================================

@query(
    "doc_exact_dedup",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
           count(*) AS n_dups
    FROM documents GROUP BY md5(text) ORDER BY text_hash
    """,
)
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return D.exact_duplicates(docs).orderBy("text_hash")


_SHINGLES_SQL = (
    "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform("
    "generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')))"
    " ELSE [] END"
)


#: shingle document-frequency cap for the Jaccard catalog query: a shingle
#: appearing in more than this many docs (per source) is treated as a stop
#: shingle and excluded from the Jaccard sets on BOTH engines.
JACCARD_MAX_SHINGLE_DF = 20


@query(
    "doc_ngram_jaccard_topk",
    f"""
    WITH base AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, source, {_SHINGLES_SQL} AS shingles FROM base),
    ex0 AS (SELECT doc_id, source,
                   {_H60.format(x='unnest(shingles)')} AS s FROM sh),
    dfreq AS (SELECT source, s, count(*) AS sdf FROM ex0 GROUP BY 1, 2),
    ex AS (SELECT ex0.doc_id, ex0.source, ex0.s
           FROM ex0 JOIN dfreq ON ex0.source = dfreq.source AND ex0.s = dfreq.s
           WHERE dfreq.sdf <= {JACCARD_MAX_SHINGLE_DF}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM ex a JOIN ex b
        ON a.s = b.s AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_shared,
           CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) AS jaccard
    FROM shared
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def doc_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deliberately NOT the _docs checkpoint: jaccard_pairs scans the
    # source several times (df-cap probe, sizes, both join sides) and a
    # checkpoint is an optimizer barrier — it blocks column pruning into
    # the parquet scan, which measured 2× slower than re-reading
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    pairs = D.jaccard_pairs(docs, scope_col="source", n=3,
                            max_shingle_df=JACCARD_MAX_SHINGLE_DF)
    return pairs.orderBy(F.col("jaccard").desc(), "doc_a", "doc_b").limit(20)


def _prefix_sets(spark: SparkSession, sf_dir: str):
    """Session-cached rare-first ordered shingle-set table shared by the
    prefix-filter family (Jaccard + containment joins) — the persisted
    signatures-table economics, via the same cache as the minhash and
    simhash signatures."""
    return _cached_sigs(
        "prefix_sets3", spark, sf_dir,
        lambda: D.ordered_shingle_sets(_docs(spark, sf_dir), n=3))


@query(
    "doc_jaccard_prefix_join",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM base),
    ex0 AS (SELECT doc_id, {_H60.format(x='unnest(shingles)')} AS s FROM sh),
    sets AS (SELECT doc_id, list_distinct(list(s)) AS hs
             FROM ex0 GROUP BY doc_id),
    sz AS (SELECT doc_id, hs, len(hs) AS n FROM sets),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.hs, b.hs)) AS n_shared,
             a.n AS na, b.n AS nb
      FROM sz a JOIN sz b ON a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, n_shared,
           CAST(n_shared AS DOUBLE) / (na + nb - n_shared) AS jaccard
    FROM pairs WHERE 3 * n_shared >= (na + nb)
    ORDER BY doc_a, doc_b
    """,
)
def doc_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT threshold set-similarity self-join (J ≥ 1/2 over 3-gram
    shingle sets) via prefix filtering — the lossless complement to the
    MinHash/LSH family: every qualifying pair is returned, with no
    probability of a miss, yet no all-pairs stage runs (see
    ``dedup.prefix_filter_join``). Runs through the r10 SELF-ROUTING
    ``dedup.jaccard_join`` — the Σ pdf² candidate-volume preflight
    picks the lossless prefix plan on real-text-shaped corpora (this
    data → exact oracle match) and the LSH-prescreen + exact re-check
    on dense shapes. The oracle is the literal quadratic definition —
    exactly the plan shape the prefix filter avoids — and the
    threshold predicate (3·|a∩b| ≥ nₐ+n_b ⟺ J ≥ 1/2) is pure
    integer arithmetic on both engines, so the match is exact, not
    approximate."""
    docs = _docs(spark, sf_dir)
    return (D.jaccard_join(docs, sim_num=1, sim_den=2, n=3,
                           sets=_prefix_sets(spark, sf_dir), auto=True)
            .orderBy("doc_a", "doc_b"))


#: session-scoped signature cache: the minhash and simhash signature
#: tables are each consumed by several catalog queries; computing them
#: once per (session, sf_dir) and localCheckpointing amortizes the
#: expensive per-token hashing — the same economics as a persisted
#: signatures table beside a 100 TB corpus.
_SIG_CACHE: dict = {}


def _cached_sigs(kind: str, spark: SparkSession, sf_dir: str, builder):
    # applicationId is unique per SparkContext: id(spark) could alias a
    # recreated session at the same address and serve dead checkpoints
    app_id = spark.sparkContext.applicationId
    # evict entries from stopped SparkContexts: their checkpointed
    # DataFrames would otherwise stay referenced for the process lifetime
    for stale in [k for k in _SIG_CACHE if k[1] != app_id]:
        del _SIG_CACHE[stale]
    key = (kind, app_id, sf_dir)
    df = _SIG_CACHE.get(key)
    if df is None:
        t0 = time.perf_counter()
        df = builder().transform(_pin)
        cache_log.record(f"sig:{kind}", time.perf_counter() - t0)
        cache_log.register_evictor(
            f"sig:{kind}",
            lambda k=key: _SIG_CACHE.pop(k, None) and None)
        _SIG_CACHE[key] = df
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached materialization of the spread documents table.

    The test corpus arrives as ONE small parquet file — a single input
    split — so every query must repartition before CPU-heavy per-row
    work. That repartition is a shuffle, and ~20 catalog queries each
    paid it per action (measured: the shuffle costs ~5× the work it
    unlocks at sf0.1). Materializing the spread table once per session
    amortizes it to a single shuffle. At production scale the table
    arrives pre-split across thousands of files and `parallelize` is
    moot — this cache is the local-mode analogue of a warmed scan."""
    return _cached_sigs(
        "docs", spark, sf_dir,
        lambda: parallelize(load_table(spark, sf_dir, "documents")))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached materialization of the spread embeddings table
    (same rationale as ``_docs``)."""
    return _cached_sigs(
        "emb", spark, sf_dir,
        lambda: parallelize(load_table(spark, sf_dir, "embeddings")))


def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached_sigs(
        "minhash", spark, sf_dir,
        lambda: D.minhash_signatures(
            _docs(spark, sf_dir),
            keep_cols=["source"]))


def _simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached_sigs(
        "simhash", spark, sf_dir,
        lambda: D.simhash(_docs(spark, sf_dir)))


def _near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached fused near-dup pass (the single most expensive
    derived table in the catalog): `doc_near_dup_clusters` labels it,
    `doc_dedup_survivors` anti-joins against it — without the cache the
    whole MinHash→LSH→Jaccard→components pipeline ran twice per session
    (~9 s each at sf0.1)."""
    return _cached_sigs(
        "near_dup_clusters", spark, sf_dir,
        lambda: D.near_dup_clusters(
            _docs(spark, sf_dir),
            scope_col="source", threshold=NEAR_DUP_JACCARD,
            sigs=_minhash_sigs(spark, sf_dir)))


_K = D.DEFAULT_MINHASH_K
_BANDS = D.DEFAULT_BANDS
_SIG_EXPRS = ",\n           ".join(
    f"list_min(list_transform(hs, h -> "
    f"({D.MINHASH_MIX[i][0]} * (h % {D.MINHASH_DOMAIN}) "
    f"+ {D.MINHASH_MIX[i][1]}) % {D.MINHASH_PRIME})) AS sig_{i}"
    for i in range(_K)
)
_MINHASH_CTE = f"""
    WITH t AS (SELECT doc_id, source,
                      list_transform(list_distinct({_TOKS}),
                                     t -> {_H60.format(x='t')}) AS hs
               FROM documents),
    sig AS (
      SELECT doc_id, source,
           {_SIG_EXPRS}
      FROM t)
"""


@query(
    "doc_minhash_signatures",
    _MINHASH_CTE + f"""
    SELECT doc_id, {', '.join(f'sig_{i}' for i in range(_K))}
    FROM sig ORDER BY doc_id
    """,
)
def doc_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_sigs(spark, sf_dir).drop("source").orderBy("doc_id")


def _bands_cte_capped() -> str:
    """``bands0`` (raw band rows) → bucket-size filter → ``bands``,
    mirroring ``D.cap_band_buckets``'s ``LSH_MAX_BUCKET`` cap so the
    oracle and the engine drop the same mega-buckets (a no-op on the
    driver testdata, where every bucket is far below the cap)."""
    return (f"bands0 AS ({_band_rows_sql()}),\n"
            f"    bands AS (\n"
            f"      SELECT b.* FROM bands0 b\n"
            f"      JOIN (SELECT band, bh, source FROM bands0\n"
            f"            GROUP BY band, bh, source\n"
            f"            HAVING count(*) <= {D.LSH_MAX_BUCKET}) z\n"
            f"        ON b.band = z.band AND b.bh = z.bh\n"
            f"       AND b.source = z.source)")


def _band_rows_sql() -> str:
    rows_per_band = _K // _BANDS
    selects = []
    for b in range(_BANDS):
        members = " || ',' || ".join(
            f"CAST(sig_{b * rows_per_band + j} AS VARCHAR)"
            for j in range(rows_per_band))
        selects.append(
            f"SELECT doc_id, source, {b} AS band, md5({members}) AS bh FROM sig")
    return " UNION ALL ".join(selects)


@query(
    "doc_lsh_candidates",
    _MINHASH_CTE + f""",
    {_bands_cte_capped()}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bh = b.bh AND a.source = b.source
         AND a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b LIMIT 100
    """,
)
def doc_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = D.lsh_candidate_pairs(docs, scope_col="source",
                                  sigs=_minhash_sigs(spark, sf_dir))
    return pairs.orderBy("doc_a", "doc_b").limit(100)


def _token_sets_src(spark: SparkSession, sf_dir: str):
    """Session-cached source-scoped TOKEN-set table (n=1, rare-first
    within source) — the lossless-truth substrate for the LSH quality
    report; same persisted-signatures economics as `_prefix_sets`."""
    return _cached_sigs(
        "token_sets_src", spark, sf_dir,
        lambda: D.ordered_shingle_sets(_docs(spark, sf_dir), n=1,
                                       scope_col="source"))


def _jaccard_truth_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached lossless within-source Jaccard ≥ 1/2 truth pair
    set (scope-extended prefix filter, (doc_a, doc_b) only). Both LSH
    quality instruments (``doc_lsh_quality``, ``doc_lsh_band_tuning``)
    join the IDENTICAL truth against their candidate sets; the prefix
    join behind it costs ~2.4 s at sf0.1, so it gets the
    ``_cached_sigs`` economics — one materialization per session,
    every invocation still computes it fresh from the parquet inputs
    (r13 optimization; supersedes band_tuning's per-query pin)."""
    return _cached_sigs(
        "jaccard_truth_src", spark, sf_dir,
        lambda: D.prefix_filter_join(_docs(spark, sf_dir), 1, 2, n=1,
                                     sets=_token_sets_src(spark, sf_dir),
                                     scope_col="source")
        .select("doc_a", "doc_b"))


_LSHQ_TOKSET = f"list_distinct(list_transform(list_distinct({_TOKS}), " \
               f"t -> {_H60.format(x='t')}))"


@query(
    "doc_lsh_quality",
    _MINHASH_CTE + f""",
    {_bands_cte_capped()},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, 1 AS _c
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.source = b.source
           AND a.doc_id < b.doc_id),
    sz AS (SELECT doc_id, source, {_LSHQ_TOKSET} AS hs,
                  len({_LSHQ_TOKSET}) AS n
           FROM documents),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 1 AS _t
      FROM sz a JOIN sz b
        ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE 3 * len(list_intersect(a.hs, b.hs)) >= a.n + b.n),
    j AS (SELECT _t, _c FROM truth FULL JOIN cand USING (doc_a, doc_b))
    SELECT count(_t) AS n_truth_pairs,
           count(_c) AS n_candidate_pairs,
           count(CASE WHEN _t IS NOT NULL AND _c IS NOT NULL THEN 1 END)
             AS n_true_positives,
           count(CASE WHEN _t IS NULL THEN 1 END) AS n_false_positives,
           count(CASE WHEN _c IS NULL THEN 1 END) AS n_false_negatives,
           CASE WHEN count(_c) > 0 THEN
             CAST(count(CASE WHEN _t IS NOT NULL AND _c IS NOT NULL
                        THEN 1 END) AS DOUBLE) / count(_c) END
             AS precision,
           CASE WHEN count(_t) > 0 THEN
             CAST(count(CASE WHEN _t IS NOT NULL AND _c IS NOT NULL
                        THEN 1 END) AS DOUBLE) / count(_t) END
             AS recall
    FROM j
    """,
)
def doc_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED banded-LSH candidate quality at the matched threshold:
    precision/recall of the (K=8, b=4) capped LSH candidate pairs
    against the LOSSLESS truth — exact token-set Jaccard ≥ 1/2 within
    source via the scope-extended prefix filter (``prefix_filter_join
    (n=1, scope_col)``, candidates bounded by within-source prefix
    postings, never all-pairs). This is the report that justifies an
    LSH band configuration before a 100 TB dedup run: the theoretical
    S-curve (1−(1−s^2)^4 ≈ 0.68 at s=0.5) is a model; this measures it
    on the corpus, including the bucket-cap loss. Both sides reuse
    session-cached tables (minhash sigs; the token-set table); the
    comparison is one full-outer join of two narrow pair sets."""
    cand = (D.lsh_candidate_pairs(_docs(spark, sf_dir), scope_col="source",
                                  sigs=_minhash_sigs(spark, sf_dir))
            .select("doc_a", "doc_b")
            .withColumn("_c", F.lit(1)))
    truth = (_jaccard_truth_src(spark, sf_dir)
             .withColumn("_t", F.lit(1)))
    j = truth.join(cand, on=["doc_a", "doc_b"], how="full")
    tp = F.count(F.when(F.col("_t").isNotNull()
                        & F.col("_c").isNotNull(), 1))
    return j.agg(
        F.count("_t").alias("n_truth_pairs"),
        F.count("_c").alias("n_candidate_pairs"),
        tp.alias("n_true_positives"),
        F.count(F.when(F.col("_t").isNull(), 1)).alias("n_false_positives"),
        F.count(F.when(F.col("_c").isNull(), 1)).alias("n_false_negatives"),
        F.when(F.count("_c") > 0,
               tp.cast("double") / F.count("_c")).alias("precision"),
        F.when(F.count("_t") > 0,
               tp.cast("double") / F.count("_t")).alias("recall"))


@query(
    "doc_simhash",
    f"""
    WITH t AS (SELECT doc_id,
                      list_transform(list_distinct({_TOKS}),
                                     t -> {_H60.format(x='t')}) AS hs
               FROM documents)
    SELECT doc_id,
           CAST(list_sum(list_transform(generate_series(0, 59), b ->
             CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) & 1 = 1)) > len(hs)
                  THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
    FROM t ORDER BY doc_id
    """,
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_sigs(spark, sf_dir).orderBy("doc_id")


@query(
    "doc_simhash_near_pairs",
    f"""
    WITH t AS (SELECT doc_id,
                      list_transform(list_distinct({_TOKS}),
                                     t -> {_H60.format(x='t')}) AS hs
               FROM documents),
    s AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(generate_series(0, 59), b ->
               CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) & 1 = 1)) > len(hs)
                    THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
      FROM t)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
    ORDER BY doc_a, doc_b LIMIT 100
    """,
)
def doc_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle is brute-force O(n²); the Spark side joins on pigeonhole
    blocks (distance ≤ 8 ⇒ one of 9 disjoint 6-bit blocks matches
    exactly), which has 100% recall — so both must agree exactly."""
    pairs = D.hamming_near_pairs(_simhash_sigs(spark, sf_dir),
                                 max_distance=8, checkpoint=False)
    return pairs.orderBy("doc_a", "doc_b").limit(100)


# ===========================================================================
# Similarity search
# ===========================================================================

_VDEC = S.VDEC.upper()
_ACC = S.ACC.upper()
# cast float → DOUBLE first: DuckDB's float→decimal cast rounds from the
# shortest decimal repr, but its double→decimal (like Spark's) rounds from
# the exact binary expansion — only the latter matches across engines
_EL = f"CAST(CAST({{v}}[i] AS DOUBLE) AS {_VDEC})"
_DOT = ("list_sum(list_transform(generate_series(1, len({a})), i -> "
        + _EL.replace("{v}", "{a}") + " * " + _EL.replace("{v}", "{b}") + "))")


def _cosine_sql(k: int, query_filter: str) -> str:
    # decimal→double via VARCHAR: DuckDB's direct decimal→double divides
    # scaled ints (two roundings); the string path is correctly rounded,
    # matching Spark's BigDecimal.doubleValue
    dot_qc = "CAST(CAST(" + _DOT.format(a="qv", b="cv") + " AS VARCHAR) AS DOUBLE)"
    dot_qq = "CAST(CAST(" + _DOT.format(a="qv", b="qv") + " AS VARCHAR) AS DOUBLE)"
    dot_cc = "CAST(CAST(" + _DOT.format(a="cv", b="cv") + " AS VARCHAR) AS DOUBLE)"
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE {query_filter}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    pairs AS (
      SELECT query_id, neighbor_id,
             {dot_qc}
               / (sqrt({dot_qq}) * sqrt({dot_cc}))
               AS cosine
      FROM q, c WHERE neighbor_id != query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM pairs)
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked
    WHERE rnk <= {k} ORDER BY query_id, rnk
    """


@query("emb_cosine_topk", _cosine_sql(10, "vec_id % 100 = 0"))
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return S.cosine_topk(emb, queries, k=10)


def _ann_sql(k: int, query_filter: str, n_planes: int = S.N_PLANES) -> str:
    comp = (f"CASE WHEN ({_H60.format(x=chr(39) + 'plane{p}_' + chr(39) + ' || CAST(i - 1 AS VARCHAR)')} & 1) = 1 "
            f"THEN {_EL} ELSE -{_EL} END")
    bucket_terms = " + ".join(
        "CASE WHEN list_sum(list_transform(generate_series(1, len({v})), i -> "
        + comp.replace("{p}", str(p))
        + f")) > 0 THEN {1 << p}::BIGINT ELSE 0::BIGINT END"
        for p in range(n_planes)
    )
    dot_qc = "CAST(CAST(" + _DOT.format(a="qv", b="cv") + " AS VARCHAR) AS DOUBLE)"
    dot_qq = "CAST(CAST(" + _DOT.format(a="qv", b="qv") + " AS VARCHAR) AS DOUBLE)"
    dot_cc = "CAST(CAST(" + _DOT.format(a="cv", b="cv") + " AS VARCHAR) AS DOUBLE)"
    qb = bucket_terms.replace("{v}", "embedding")
    return f"""
    WITH b AS (SELECT vec_id, embedding, ({qb}) AS bucket FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qv, bucket
          FROM b WHERE {query_filter}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM b),
    pairs AS (
      SELECT query_id, neighbor_id,
             {dot_qc}
               / (sqrt({dot_qq}) * sqrt({dot_cc}))
               AS cosine
      FROM q JOIN c USING (bucket) WHERE neighbor_id != query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM pairs)
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked
    WHERE rnk <= {k} ORDER BY query_id, rnk
    """


@query("emb_ann_lsh_topk", _ann_sql(5, "vec_id % 100 = 0"))
def emb_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return S.ann_lsh_topk(emb, queries, k=5)


@query(
    "emb_ann_recall",
    f"""
    WITH ann AS (
      SELECT query_id, neighbor_id FROM ({_ann_sql(5, "vec_id % 100 = 0", n_planes=4)}) a),
    exact AS (
      SELECT query_id, neighbor_id
      FROM ({_cosine_sql(5, "vec_id % 100 = 0")}) e)
    SELECT count(DISTINCT exact.query_id) AS n_queries,
           count(*) AS n_exact_pairs,
           count(ann.neighbor_id) AS n_hits,
           CAST(count(ann.neighbor_id) AS DOUBLE) / count(*) AS recall_at_5
    FROM exact LEFT JOIN ann USING (query_id, neighbor_id)
    """,
)
def emb_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH ANN path against exact brute force — ANN is a
    recall/cost tradeoff, so the engine measures it instead of asserting
    it ("measure, don't guess"). Integer hit counts; the only float op is
    the final IEEE division, so the number is bit-stable across engines.
    At 100 TB this runs on a query SAMPLE — the corpus-side cost is the
    same two passes the ANN and exact operators already define."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = S.cosine_topk(emb, queries, k=5) \
        .select("query_id", "neighbor_id")
    ann = (S.ann_lsh_topk(emb, queries, k=5, n_planes=4)
           .select("query_id", "neighbor_id")
           .withColumn("_hit", F.lit(1)))
    return (
        exact.join(ann, on=["query_id", "neighbor_id"], how="left")
        .agg(F.countDistinct("query_id").alias("n_queries"),
             F.count(F.lit(1)).alias("n_exact_pairs"),
             F.count("_hit").alias("n_hits"),
             (F.count("_hit").cast("double")
              / F.count(F.lit(1))).alias("recall_at_5"))
    )


def _ivf_sql(k: int, n_centroids: int, query_filter: str) -> str:
    diff = ("(" + _EL.replace("{v}", "e.embedding") + " - "
            + _EL.replace("{v}", "c._cv") + ")")
    sqdist = (f"list_sum(list_transform(generate_series(1, len(e.embedding)), "
              f"i -> {diff} * {diff}))")
    dot_qc = "CAST(CAST(" + _DOT.format(a="qv", b="cv") + " AS VARCHAR) AS DOUBLE)"
    dot_qq = "CAST(CAST(" + _DOT.format(a="qv", b="qv") + " AS VARCHAR) AS DOUBLE)"
    dot_cc = "CAST(CAST(" + _DOT.format(a="cv", b="cv") + " AS VARCHAR) AS DOUBLE)"
    return f"""
    WITH cent AS (SELECT vec_id AS _cid, embedding AS _cv
                  FROM embeddings WHERE vec_id < {n_centroids}),
    assigned AS (
      SELECT vec_id, embedding, _cid AS cell FROM (
        SELECT e.vec_id, e.embedding, c._cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {sqdist} ASC, c._cid ASC) AS rn
        FROM embeddings e, cent c
      ) WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qv, cell
          FROM assigned WHERE {query_filter}),
    cc AS (SELECT vec_id AS neighbor_id, embedding AS cv, cell FROM assigned),
    pairs AS (
      SELECT query_id, neighbor_id,
             {dot_qc} / (sqrt({dot_qq}) * sqrt({dot_cc})) AS cosine
      FROM q JOIN cc USING (cell) WHERE neighbor_id != query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM pairs)
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked
    WHERE rnk <= {k} ORDER BY query_id, rnk
    """


@query("emb_ivf_topk", _ivf_sql(5, 8, "vec_id % 100 = 0"))
def emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with seeded coarse centroids (vec_id < 8), nprobe=1."""
    emb = _emb(spark, sf_dir)
    centroids = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 8)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return S.ivf_topk(emb, queries, centroids, k=5)


# ===========================================================================
# Multimodal plumbing + JSON
# ===========================================================================

@query(
    "doc_binary_features",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS checksum,
           CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS head_byte
    FROM documents ORDER BY doc_id
    """,
)
def doc_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level metadata over opaque binary payloads, computed with
    JVM built-ins (octet_length/md5/first-byte — no Python boundary),
    oracle-checked against DuckDB's byte functions."""
    docs = _docs(spark, sf_dir)
    payload = M.with_binary_payload(docs)
    return M.extract_binary_features(payload).orderBy("doc_id")


def _png_mod_sum(m: str) -> str:
    """Closed-form Σ_{k<m} (k % 256) for nonnegative integer m: full
    cycles contribute 32640 each, the partial cycle a triangular tail —
    the generator's pixel byte at linear index i is (seed + i) % 256."""
    return (f"((({m}) // 256) * 32640"
            f" + (({m}) % 256) * ((({m}) % 256) - 1) // 2)")


_TILE_A = "(seed + (y0 + yy - 1) * 3 * w + b1)"
_TILE_B = "(seed + (y0 + yy - 1) * 3 * w + b0)"

@query(
    "multimodal_image_tiles",
    f"""
    WITH g AS (
        SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h,
               doc_id % 256 AS seed
        FROM documents),
    t AS (
        SELECT g.*, tr.tile_row, tc.tile_col
        FROM g, (VALUES (0), (1)) tr(tile_row),
                (VALUES (0), (1)) tc(tile_col)),
    b AS (
        SELECT doc_id, w, h, seed, tile_row, tile_col,
               (h * tile_row) // 2 AS y0,
               (h * (tile_row + 1)) // 2 AS y1,
               3 * ((w * tile_col) // 2) AS b0,
               3 * ((w * (tile_col + 1)) // 2) AS b1
        FROM t)
    SELECT doc_id,
           CAST(tile_row AS BIGINT) AS tile_row,
           CAST(tile_col AS BIGINT) AS tile_col,
           CAST(b1 // 3 - b0 // 3 AS BIGINT) AS tile_w,
           CAST(y1 - y0 AS BIGINT) AS tile_h,
           CAST(list_sum(list_transform(generate_series(1, y1 - y0),
                yy -> {_png_mod_sum(_TILE_A)} - {_png_mod_sum(_TILE_B)}))
                AS BIGINT) AS tile_pixel_sum
    FROM b ORDER BY doc_id, tile_row, tile_col
    """,
)
def multimodal_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode + spatial TILING — the crop/tile preprocessing stage
    of a vision-training pipeline: every synthetic PNG is chunk-parsed,
    CRC-verified, inflated, unfiltered (the same stdlib codec as
    multimodal_png_decode), then split on a 2×2 integer-boundary grid
    with per-tile pixel-byte sums accumulated one scanline at a time
    (memory-light: g² running sums, never a materialized pixel matrix).
    The oracle reproduces every tile sum in CLOSED FORM from the
    generator's (seed + i) % 256 pixel layout — any unfiltering,
    boundary, or fan-out mistake breaks a tile hash. One input row fans
    out to 4 tile rows through ONE Arrow-batched mapInPandas node."""
    docs = _docs(spark, sf_dir)
    pngs = M.with_png_payload(docs)
    return (M.decode_png_tiles(pngs, grid=2)
            .orderBy("doc_id", "tile_row", "tile_col"))



@query(
    "multimodal_png_decode",
    """
    WITH g AS (
        SELECT doc_id,
               4 + doc_id % 13 AS width,
               4 + doc_id % 11 AS height,
               doc_id % 256 AS seed
        FROM documents),
    s AS (
        SELECT doc_id, width, height, seed,
               3 * width * height AS n_pixel_bytes,
               seed + 3 * width * height AS m_hi
        FROM g)
    SELECT doc_id,
           CAST(width AS BIGINT) AS width,
           CAST(height AS BIGINT) AS height,
           CAST(8 AS BIGINT) AS bit_depth,
           CAST(2 AS BIGINT) AS color_type,
           CAST(n_pixel_bytes AS BIGINT) AS n_pixel_bytes,
           CAST(((m_hi // 256) * 32640
                 + (m_hi % 256) * ((m_hi % 256) - 1) // 2)
                - ((seed // 256) * 32640
                   + (seed % 256) * ((seed % 256) - 1) // 2)
                AS BIGINT) AS pixel_sum
    FROM s ORDER BY doc_id
    """,
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode under the correctness gate, pure stdlib: every
    row gets a deterministic 8-bit RGB PNG (dims/seed derived from
    doc_id, scanlines cycling through all five PNG filter types), and an
    Arrow-batched decoder parses chunks, verifies CRCs, inflates IDAT,
    and undoes the filtering. The oracle reproduces the decoded
    dimensions and raw pixel-byte sum in closed form — any unfiltering
    or inflate mistake breaks pixel_sum. Replaces the rows-only
    ``multimodal_fake_decode``: the plumbing proof is now also a value
    proof (reference parity: the reference treats attachments as opaque
    bytes; this is the 100 TB decode-stage shape with stdlib standing in
    for PIL/opencv, absent in this container)."""
    docs = _docs(spark, sf_dir)
    pngs = M.with_png_payload(docs)
    return M.decode_pngs(pngs).orderBy("doc_id")


@query(
    "multimodal_video_frame_sample",
    f"""
    WITH g AS (
        SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h,
               2 + doc_id % 5 AS n
        FROM documents),
    fr AS (
        SELECT g.*, fi.f
        FROM g, generate_series(0, 5) fi(f)
        WHERE fi.f < g.n AND fi.f % 2 = 0),
    s AS (
        SELECT doc_id, f, n, w, h,
               (doc_id + 17 * f) % 256 AS seed,
               (doc_id + 17 * f) % 256 + 3 * w * h AS m_hi
        FROM fr)
    SELECT doc_id,
           CAST(f AS BIGINT) AS frame_idx,
           CAST(n AS BIGINT) AS n_frames,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST({_png_mod_sum('m_hi')} - {_png_mod_sum('seed')}
                AS BIGINT) AS pixel_sum
    FROM s ORDER BY doc_id, frame_idx
    """,
)
def multimodal_video_frame_sample(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """VIDEO frame sampling with REAL decode (r13 — the stride-decode
    stage of a video-training pipeline, upgrading the checksum-based
    ``fake_sample_frames`` plumbing proof to a value proof): every row
    gets a deterministic multi-frame MPNG container (2-6 real PNG
    frames, frame f seeded (doc_id + 17f) % 256), and
    ``multimodal.sample_video_frames`` parses the container with
    bounds-checked offsets, decodes every SECOND frame through the
    full stdlib PNG path (chunks, CRC, inflate, unfilter), and emits
    per-frame pixel sums — one row in, ceil(n/2) rows out, streamed
    through one Arrow-batched mapInPandas node. The oracle reproduces
    every sampled frame's pixel sum in closed form from the
    (seed + i) % 256 layout, so any container-offset, stride, or
    decode mistake flips the hash. The container stands in for
    mp4/mkv (no ffmpeg in this environment; documented constraint).
    ``parallelize`` spreads the id-only input across cores BEFORE the
    python stages — without it the whole docs table arrives as one
    input split and every decode runs single-threaded (the r13 soak
    measured 16× at 10× docs; parallelized it reads near-linear).
    Reference analogue: none (attachments are opaque bytes there)."""
    docs = parallelize(_docs(spark, sf_dir))
    vids = M.with_video_payload(docs)
    return (M.sample_video_frames(vids, stride=2)
            .orderBy("doc_id", "frame_idx"))


def _png_tile_ctes(grid: int = 4) -> str:
    """Shared tile-geometry CTE body for the grid-tiled PNG oracles
    (resize thumb + aHash — the same factoring the ANN oracles use):
    per-(doc, tile) closed-form byte sums ``ts`` and byte areas ``tb``
    from the generator's (seed + i) % 256 layout, reusing the SAME
    ``_TILE_A``/``_TILE_B`` scanline-offset fragments as the 2×2 tile
    query so a fix to the offset arithmetic lands everywhere. Ends at
    ``s``."""
    return f"""g AS (
        SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h,
               doc_id % 256 AS seed
        FROM documents),
    t AS (
        SELECT g.*, tr.r, tc.c
        FROM g, generate_series(0, {grid - 1}) tr(r),
             generate_series(0, {grid - 1}) tc(c)),
    b AS (
        SELECT doc_id, w, h, seed, r, c,
               (h * r) // {grid} AS y0,
               (h * (r + 1)) // {grid} AS y1,
               3 * ((w * c) // {grid}) AS b0,
               3 * ((w * (c + 1)) // {grid}) AS b1
        FROM t),
    s AS (
        SELECT doc_id, r, c,
               list_sum(list_transform(generate_series(1, y1 - y0),
                    yy -> {_png_mod_sum(_TILE_A)}
                          - {_png_mod_sum(_TILE_B)})) AS ts,
               (y1 - y0) * (b1 - b0) AS tb
        FROM b)"""


@query(
    "multimodal_image_resize_thumb",
    f"""
    WITH {_png_tile_ctes(4)}
    SELECT doc_id,
           CAST(r AS BIGINT) AS tile_row,
           CAST(c AS BIGINT) AS tile_col,
           CAST(CAST(ts AS BIGINT) // tb AS BIGINT) AS mean_byte
    FROM s ORDER BY doc_id, tile_row, tile_col
    """,
)
def multimodal_image_resize_thumb(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Image RESIZE as an exact box filter (r13 — the thumbnail /
    downscale stage of a vision pipeline, made explicit: tiling gave
    the crop stage, this emits the 4×4 downscaled image itself): every
    PNG runs the real decode + 4×4 tiling and each output pixel is the
    integer mean byte of its source block (floor division — all
    quantities nonnegative, so Spark ``div`` ≡ DuckDB ``//``). The
    oracle reproduces each block mean in closed form from the
    (seed + i) % 256 layout. One mapInPandas decode node; the
    mean projection is pure codegen."""
    docs = parallelize(_docs(spark, sf_dir))
    tiles = M.decode_png_tiles(M.with_png_payload(docs), grid=4)
    return (tiles.select(
        "doc_id",
        F.col("tile_row"), F.col("tile_col"),
        F.expr("tile_pixel_sum div (3 * tile_w * tile_h)")
        .alias("mean_byte"))
        .orderBy("doc_id", "tile_row", "tile_col"))

@query(
    "multimodal_image_ahash_neardup",
    f"""
    WITH {_png_tile_ctes(4)},
    tot AS (SELECT doc_id, sum(ts) AS tots, sum(tb) AS totb
            FROM s GROUP BY doc_id),
    bits AS (
        SELECT s.doc_id, r, c,
               CASE WHEN ts * totb > tots * tb THEN 1 ELSE 0 END AS bit
        FROM s JOIN tot USING (doc_id)),
    hs AS MATERIALIZED (
        SELECT doc_id,
               CAST(sum(bit * (1::BIGINT << (r * 4 + c))) AS BIGINT)
                   AS ahash
        FROM bits GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db,
               bit_count(xor(a.ahash, b.ahash)) AS hd
        FROM hs a JOIN hs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.ahash, b.ahash)) <= 3),
    dir2 AS (
        SELECT da AS doc_id, db AS partner, hd FROM pairs
        UNION ALL SELECT db, da, hd FROM pairs),
    best AS (
        SELECT doc_id, partner, hd FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY hd, partner) AS rn
            FROM dir2) WHERE rn = 1),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near_dups
            FROM dir2 GROUP BY doc_id)
    SELECT doc_id, n_near_dups,
           CAST(best.hd AS BIGINT) AS nearest_hd,
           best.partner AS nearest_partner
    FROM agg JOIN best USING (doc_id)
    ORDER BY doc_id
    """,
)
def multimodal_image_ahash_neardup(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate detection by perceptual average-hash (r13
    — the vision-side analogue of doc_simhash_near_pairs, a real
    training-data-curation stage): every synthetic PNG runs the REAL
    stdlib decode + 4×4 tiling, ``multimodal.image_ahash`` turns the
    tile means into a 16-bit aHash in exact BIGINT cross-multiplied
    arithmetic, and near-dup pairs (Hamming ≤ 3) come from the
    LOSSLESS pigeonhole block join (``dedup.hamming_near_pairs`` with
    ``nbits=16`` — 4 disjoint 4-bit blocks, distance ≤ 3 ⇒ one block
    matches exactly). The oracle is the brute-force O(n²) join over
    closed-form hashes from the (seed + i) % 256 pixel layout, so the
    banding must be exactly lossless to hash-match. Output contracts
    to per-image stats (neighbor count + nearest partner) to keep the
    gate compact; production grid=8 gives the standard 64-bit aHash.
    Reference analogue: none (attachments are opaque bytes there)."""
    docs = parallelize(_docs(spark, sf_dir))
    pngs = M.with_png_payload(docs)
    tiles = M.decode_png_tiles(pngs, grid=4)
    hashes = (M.image_ahash(tiles, grid=4)
              .withColumnRenamed("ahash", "simhash"))
    pairs = D.hamming_near_pairs(hashes, max_distance=3, nbits=16)
    both = (pairs.select(F.col("doc_a").alias("doc_id"),
                         F.col("doc_b").alias("partner"), "hamming")
            .unionByName(pairs.select(
                F.col("doc_b").alias("doc_id"),
                F.col("doc_a").alias("partner"), "hamming")))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("hamming").asc(), F.col("partner").asc())
    best = (both.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("doc_id",
                    F.col("hamming").cast("long").alias("nearest_hd"),
                    F.col("partner").alias("nearest_partner")))
    agg = both.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_near_dups"))
    return (agg.join(best, "doc_id")
            .select("doc_id", "n_near_dups", "nearest_hd",
                    "nearest_partner")
            .orderBy("doc_id"))


@query(
    "events_json_extract",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS VARCHAR) AS DOUBLE)
               / count(*) AS avg_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
    GROUP BY event_type ORDER BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.withColumn("k", k).filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             (F.sum("k").cast("double") / F.count(F.lit(1))).alias("avg_k"))
        .orderBy("event_type")
    )


# ===========================================================================
# Geometry (F8): WKT -> EWKB -> decode, all Arrow-batched
# ===========================================================================

@query(
    "geo_wkb_roundtrip",
    """
    SELECT event_id,
           'Point' AS geom_type,
           4326 AS srid,
           CAST(event_id % 360 - 180 AS DOUBLE) AS geo_x,
           CAST(event_id % 180 - 90 AS DOUBLE) AS geo_y,
           1 AS geo_n_points
    FROM events
    WHERE event_id <= 2000
    ORDER BY event_id
    """,
)
def geo_wkb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry dtype end-to-end on the engine side: build WKT from integer
    coordinates (identical text cross-engine), encode to EWKB with the
    pure-Python codec in a pandas UDF, decode back, and emit the recovered
    metadata. The oracle computes the expected coordinates directly — an
    exact value match proves the WKB round-trip is lossless."""
    from meerschaum_spark.functions import geo as G
    ev = parallelize(
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") <= 2000)
        .select("event_id"))
    wkt = F.concat(
        F.lit("SRID=4326;POINT ("),
        (F.col("event_id") % 360 - 180).cast("long").cast("string"),
        F.lit(" "),
        (F.col("event_id") % 180 - 90).cast("long").cast("string"),
        F.lit(")"),
    )
    with_wkb = ev.withColumn("wkb", G.wkt_to_wkb(wkt))
    info = G.geom_info(F.col("wkb"))
    return (
        with_wkb.select(
            "event_id",
            info["geom_type"].alias("geom_type"),
            info["srid"].alias("srid"),
            info["x"].alias("geo_x"),
            info["y"].alias("geo_y"),
            info["n_points"].alias("geo_n_points"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Spatial operators (r7): ST-style predicates/aggregates over WKB columns.
# Points derive from integer formulas (x = event_id % 97, y = event_id % 89)
# so every oracle is closed-form and exact; polygon/radius literals sit on
# half-integers so no grid point ever lands on a boundary.
# ---------------------------------------------------------------------------

def _geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → (event_id, event_type, x, y) integer grid points."""
    ev = parallelize(load_table(spark, sf_dir, "events")
                     .select("event_id", "event_type"))
    return ev.withColumn("x", (F.col("event_id") % 97).cast("double")) \
             .withColumn("y", (F.col("event_id") % 89).cast("double"))


@query(
    "geo_bbox_agg",
    """
    WITH p AS (
      SELECT event_type,
             event_id % 97 AS x, event_id % 89 AS y,
             event_id % 7 AS dx, event_id % 5 AS dy
      FROM events)
    SELECT event_type,
           CAST(min(least(x, x + dx, x - 3)) AS DOUBLE) AS xmin,
           CAST(min(least(y, y + dy, y + 2)) AS DOUBLE) AS ymin,
           CAST(max(greatest(x, x + dx, x - 3)) AS DOUBLE) AS xmax,
           CAST(max(greatest(y, y + dy, y + 2)) AS DOUBLE) AS ymax,
           count(*) AS n_geoms
    FROM p GROUP BY event_type ORDER BY event_type
    """,
)
def geo_bbox_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Extent analogue: per group, the envelope of 3-vertex LINESTRING
    geometries — WKT build → EWKB encode → ``geom_bbox`` decode (the only
    Python step, one Arrow batch per task) → plain JVM min/max
    aggregation. The oracle recomputes each vertex in closed form, so the
    whole encode/decode/bbox path must be lossless to hash-match."""
    from meerschaum_spark.functions import geo as G
    ev = _geo_points(spark, sf_dir)
    num = lambda c: c.cast("long").cast("string")  # noqa: E731
    x, y = F.col("x"), F.col("y")
    dx, dy = F.col("event_id") % 7, F.col("event_id") % 5
    wkt = F.concat(
        F.lit("LINESTRING ("),
        num(x), F.lit(" "), num(y), F.lit(", "),
        num(x + dx), F.lit(" "), num(y + dy), F.lit(", "),
        num(x - 3), F.lit(" "), num(y + 2), F.lit(")"))
    bbox = G.geom_bbox(G.wkt_to_wkb(wkt))
    return (
        ev.select("event_type", bbox.alias("b"))
        .groupBy("event_type")
        .agg(F.min("b.xmin").alias("xmin"), F.min("b.ymin").alias("ymin"),
             F.max("b.xmax").alias("xmax"), F.max("b.ymax").alias("ymax"),
             F.count(F.lit(1)).alias("n_geoms"))
        .orderBy("event_type")
    )


#: concave test region: diamond of Manhattan radius 20.5 around (48, 44)
#: with a diamond hole of radius 5.5 — half-integer vertices mean an
#: integer grid point is NEVER on the boundary, so even-odd ray casting
#: and the closed-form |dx|+|dy| test agree exactly
_POLY_WKT = ("POLYGON ((27.5 44, 48 23.5, 68.5 44, 48 64.5, 27.5 44), "
             "(42.5 44, 48 38.5, 53.5 44, 48 49.5, 42.5 44))")


@query(
    "geo_point_in_polygon",
    """
    WITH p AS (SELECT event_type, event_id % 97 AS x, event_id % 89 AS y
               FROM events)
    SELECT event_type, count(*) AS n_points,
           CAST(sum(CASE WHEN abs(x - 48) + abs(y - 44) <= 20
                          AND NOT abs(x - 48) + abs(y - 44) <= 5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_inside
    FROM p GROUP BY event_type ORDER BY event_type
    """,
)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Contains(polygon, point) at scale: a broadcast WKB polygon
    literal (with a hole) tested against every point by even-odd ray
    casting inside one Arrow-batched pass — the parsed ring set is cached
    per batch, aggregation is JVM-side. The oracle states containment in
    closed form (Manhattan diamond minus hole), so the ray caster's
    geometry must be exactly right, holes included."""
    from meerschaum_spark import geometry as geocodec
    from meerschaum_spark.functions import geo as G
    poly_wkb = geocodec.to_wkb(geocodec.from_wkt(_POLY_WKT))
    pts = _geo_points(spark, sf_dir)
    inside = G.st_contains_point(F.lit(poly_wkb), F.col("x"), F.col("y"))
    return (
        pts.select("event_type", inside.alias("inside"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_points"),
             F.sum(F.when(F.col("inside"), 1).otherwise(0)).cast("long")
             .alias("n_inside"))
        .orderBy("event_type")
    )


@query(
    "geo_radius_join",
    """
    WITH a AS (SELECT event_id AS a_id,
                      event_id % 97 AS x1, event_id % 89 AS y1
               FROM events WHERE event_id % 101 = 0),
    b AS (SELECT event_id AS b_id,
                 event_id % 97 AS x2, event_id % 89 AS y2
          FROM events)
    SELECT a_id, count(*) AS n_neighbors,
           CAST(min((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2))
                AS BIGINT) AS closest_sq
    FROM a JOIN b
      ON a_id <> b_id
     AND (x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2) <= 30.25
    GROUP BY a_id ORDER BY a_id
    """,
)
def geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_DWithin as a distributed join: both point sets arrive as WKB
    geometry columns (codec round-trip included), coordinates are decoded
    once, and ``radius_candidate_join`` buckets them on a radius-wide
    grid — candidates come from a hash equi-join on the 3×3 cell
    neighborhood, never |a|×|b| pairs (the oracle is the naive quadratic
    join, which is exactly what this shape avoids at scale)."""
    from meerschaum_spark.functions import geo as G

    def as_points(df: DataFrame, idc: str, xc: str, yc: str) -> DataFrame:
        wkt = F.concat(F.lit("POINT ("),
                       F.col("x").cast("long").cast("string"), F.lit(" "),
                       F.col("y").cast("long").cast("string"), F.lit(")"))
        # expression-form decode, EXACTLY-ONCE (point_xy_once): the
        # non-deterministic marking stops CollapseProject from
        # re-inlining the codec chain into every downstream reference
        # and stops projection pushdown from duplicating the eval below
        # the parallelize exchange (both measured — see point_xy /
        # point_xy_once docstrings); alias-then-extract is the required
        # shape. One python layer, one eval per row, no extra shuffle.
        s = G.point_xy_once(G.wkt_to_wkb(wkt))
        return (df.select(F.col("event_id").alias(idc), s.alias("_pt"))
                .select(idc, F.col("_pt.x").alias(xc),
                        F.col("_pt.y").alias(yc)))

    pts = _geo_points(spark, sf_dir)
    a = as_points(pts.filter(F.col("event_id") % 101 == 0), "a_id", "x1", "y1")
    b = as_points(pts, "b_id", "x2", "y2")
    joined = G.radius_candidate_join(a, b, radius=5.5,
                                     ax="x1", ay="y1", bx="x2", by="y2")
    dist_sq = ((F.col("x1") - F.col("x2")) * (F.col("x1") - F.col("x2"))
               + (F.col("y1") - F.col("y2")) * (F.col("y1") - F.col("y2")))
    return (
        joined.filter(F.col("a_id") != F.col("b_id"))
        .groupBy("a_id")
        .agg(F.count(F.lit(1)).alias("n_neighbors"),
             F.min(dist_sq).cast("long").alias("closest_sq"))
        .orderBy("a_id")
    )


@query(
    "geo_polygon_area",
    """
    WITH p AS (SELECT event_type,
                      event_id % 97 AS x, event_id % 89 AS y,
                      event_id % 7 + 1 AS a, event_id % 5 + 1 AS b,
                      event_id % 11 + 1 AS e
               FROM events),
    s AS (SELECT event_type,
                 abs( (x * y - (x + a) * y)
                    + ((x + a) * (y + b) - (x + e) * y)
                    + ((x + e) * (y + b) - x * (y + b))
                    + (x * y - x * (y + b)) ) AS area2
          FROM p)
    SELECT event_type, count(*) AS n_polys,
           CAST(sum(area2) AS BIGINT) AS sum_area2
    FROM s GROUP BY event_type ORDER BY event_type
    """,
)
def geo_polygon_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Area over per-row polygon geometries: each event becomes a
    simple quadrilateral with integer vertices ((x,y) → (x+a,y) →
    (x+e,y+b) → (x,y+b)), encoded to WKB and measured by the shoelace
    UDF in one Arrow pass; the per-group sum aggregates JVM-side. The
    DOUBLED area is an exact integer, and the oracle evaluates the same
    four shoelace cross-terms in closed form — the ring decode, vertex
    order, and hole-free shoelace must all be exactly right to
    hash-match."""
    from meerschaum_spark.functions import geo as G
    ev = _geo_points(spark, sf_dir)
    num = lambda c: c.cast("long").cast("string")  # noqa: E731
    x, y = F.col("x"), F.col("y")
    a = F.col("event_id") % 7 + 1
    b = F.col("event_id") % 5 + 1
    e = F.col("event_id") % 11 + 1
    wkt = F.concat(
        F.lit("POLYGON (("),
        num(x), F.lit(" "), num(y), F.lit(", "),
        num(x + a), F.lit(" "), num(y), F.lit(", "),
        num(x + e), F.lit(" "), num(y + b), F.lit(", "),
        num(x), F.lit(" "), num(y + b), F.lit(", "),
        num(x), F.lit(" "), num(y), F.lit("))"))
    return (ev.select("event_type",
                      G.st_area2(G.wkt_to_wkb(wkt)).alias("area2"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_polys"),
                 F.sum("area2").cast("long").alias("sum_area2"))
            .orderBy("event_type"))


@query(
    "geo_path_length",
    """
    WITH r AS (
      SELECT user_id, event_id % 97 AS x, event_id % 89 AS y,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    s AS (
      SELECT user_id, x, y,
             lag(x) OVER w AS px, lag(y) OVER w AS py
      FROM r WHERE rn <= 40
      WINDOW w AS (PARTITION BY user_id ORDER BY rn))
    SELECT user_id, count(*) AS n_points,
           CAST(sum(CASE WHEN px IS NULL THEN 0
                         ELSE (x - px) * (x - px) + (y - py) * (y - py)
                    END) AS BIGINT) AS len_sq_sum
    FROM s GROUP BY user_id ORDER BY user_id
    """,
)
def geo_path_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory assembly + ST_Length-style measurement: each user's
    first 40 events (by ts) become one LINESTRING — built with JVM
    collect_list/array_sort/slice, encoded to WKB, measured by
    ``st_path_stats`` in one Arrow batch. Squared segment lengths keep
    the sum an exact integer cross-engine. One shuffle (the groupBy);
    the per-user path cap bounds both the WKT size and the state."""
    from meerschaum_spark.functions import geo as G
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts",
                                                    "event_id")
    pt = F.struct(
        F.col("ts"), F.col("event_id"),
        (F.col("event_id") % 97).cast("long").alias("x"),
        (F.col("event_id") % 89).cast("long").alias("y"))
    arr = F.slice(F.array_sort(F.collect_list(pt)), 1, 40)
    paths = (ev.groupBy("user_id").agg(arr.alias("arr"))
             .select("user_id",
                     G.wkt_to_wkb(F.concat(
                         F.lit("LINESTRING ("),
                         F.array_join(F.transform(
                             F.col("arr"),
                             lambda p: F.concat(p["x"].cast("string"),
                                                F.lit(" "),
                                                p["y"].cast("string"))),
                             ", "),
                         F.lit(")"))).alias("wkb")))
    stats = G.st_path_stats(F.col("wkb"))
    return (paths.select("user_id", stats.alias("s"))
            .select("user_id",
                    F.col("s.n_points").cast("long").alias("n_points"),
                    F.col("s.len_sq_sum").alias("len_sq_sum"))
            .orderBy("user_id"))


@query(
    "geo_transform_mercator",
    """
    WITH p AS (
      SELECT event_id,
             (event_id % 360) - 179.5 AS lon,
             (event_id % 170) - 84.5 AS lat
      FROM events WHERE event_id % 101 = 0)
    SELECT event_id,
           6378137.0 * radians(lon) AS mx,
           6378137.0 * ln(tan(pi() / 4 + radians(lat) / 2)) AS my,
           round(degrees((6378137.0 * radians(lon)) / 6378137.0), 6)
             AS lon_rt,
           round(degrees(2.0 * atan(exp(
               (6378137.0 * ln(tan(pi() / 4 + radians(lat) / 2)))
               / 6378137.0)) - pi() / 2), 6) AS lat_rt
    FROM p ORDER BY event_id
    """,
)
def geo_transform_mercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Transform over the WKB dtype: half-integer lon/lat grid points
    (never at a pole or the antimeridian) are encoded as SRID=4326
    EWKB, reprojected to EPSG:3857 by the closed-form spherical
    mercator, then reprojected BACK — the query returns the forward
    meters and the round-tripped degrees (rounded to 1e-6, which the
    ~1e-9 round-trip error collapses to the exact half-integers).

    The oracle spells the same CANONICAL operation order
    (``R * radians(lon)``, ``R * ln(tan(pi/4 + radians(lat)/2))``), so
    the forward floats must match bit-for-bit: multiplication and
    addition are correctly rounded everywhere, and tan/ln/atan/exp
    resolve to one libm on a single host. SRID travels in the EWKB
    header both ways (reference carries SRID through serialization,
    utils/dtypes/__init__.py:800-882)."""
    from meerschaum_spark.functions import geo as G
    ev = parallelize(load_table(spark, sf_dir, "events")
                     .select("event_id"))
    pts = (ev.filter(F.col("event_id") % 101 == 0)
           .withColumn("lon", (F.col("event_id") % 360).cast("double")
                       - 179.5)
           .withColumn("lat", (F.col("event_id") % 170).cast("double")
                       - 84.5))
    wkt = F.concat(F.lit("SRID=4326;POINT ("),
                   F.col("lon").cast("string"), F.lit(" "),
                   F.col("lat").cast("string"), F.lit(")"))
    # everything stays in ONE ArrowEvalPython layer: the UDF chains below
    # are expressions, and each extracted field re-evaluates its chain
    # over the ~1%-sample rows — microseconds of codec work, versus the
    # ~1 s/stage a mapInPandas decode layer costs (with_point_coords'
    # docstring has the two-regime rule; r8 measured this query 3.5x
    # faster in the expression form)
    fwd_w = G.st_transform_mercator(G.wkt_to_wkb(wkt), F.lit("fwd"))
    m = G.point_xy(fwd_w)
    rt = G.point_xy(G.st_transform_mercator(fwd_w, F.lit("inv")))
    return (pts.select(
        "event_id", m["x"].alias("mx"), m["y"].alias("my"),
        F.round(rt["x"], 6).alias("lon_rt"),
        F.round(rt["y"], 6).alias("lat_rt"))
        .orderBy("event_id"))


@query(
    "geo_segment_intersect_join",
    """
    WITH a AS (
      SELECT event_id AS a_id,
             event_id % 97 AS x1, event_id % 89 AS y1,
             event_id % 97 + (event_id % 7 - 3) AS x2,
             event_id % 89 + (event_id % 5 - 2) AS y2
      FROM events WHERE event_id % 101 = 0),
    b AS (
      SELECT event_id AS b_id,
             event_id % 97 AS x3, event_id % 89 AS y3,
             event_id % 97 + (event_id % 5 - 2) AS x4,
             event_id % 89 + (event_id % 3 - 1) AS y4
      FROM events),
    d AS (
      SELECT a_id, b_id, x1, y1, x2, y2, x3, y3, x4, y4,
             (x4 - x3) * (y1 - y3) - (y4 - y3) * (x1 - x3) AS d1,
             (x4 - x3) * (y2 - y3) - (y4 - y3) * (x2 - x3) AS d2,
             (x2 - x1) * (y3 - y1) - (y2 - y1) * (x3 - x1) AS d3,
             (x2 - x1) * (y4 - y1) - (y2 - y1) * (x4 - x1) AS d4
      FROM a JOIN b ON a_id <> b_id)
    SELECT a_id, count(*) AS n_hits, CAST(sum(b_id) AS BIGINT) AS sum_b
    FROM d
    WHERE (((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
           AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0)))
       OR (d1 = 0 AND x1 BETWEEN least(x3, x4) AND greatest(x3, x4)
                  AND y1 BETWEEN least(y3, y4) AND greatest(y3, y4))
       OR (d2 = 0 AND x2 BETWEEN least(x3, x4) AND greatest(x3, x4)
                  AND y2 BETWEEN least(y3, y4) AND greatest(y3, y4))
       OR (d3 = 0 AND x3 BETWEEN least(x1, x2) AND greatest(x1, x2)
                  AND y3 BETWEEN least(y1, y2) AND greatest(y1, y2))
       OR (d4 = 0 AND x4 BETWEEN least(x1, x2) AND greatest(x1, x2)
                  AND y4 BETWEEN least(y1, y2) AND greatest(y1, y2))
    GROUP BY a_id ORDER BY a_id
    """,
)
def geo_segment_intersect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry×geometry ST_Intersects as a distributed pair join: both
    sides are short LINESTRING WKBs (codec round-trip included), decoded
    into endpoint columns (``segment_xy`` + a materializing shuffle
    barrier); candidate pairs come from the same grid-bucket shape as
    the radius join (cell width 6 ≥ the two sides' maximum per-axis
    reach of 5, so every intersecting pair shares a 3×3 neighborhood —
    never |a|×|b|, and the cell is sized to the segment reach so local
    density, not the grid, bounds candidate volume); the
    exact SEGMENTS-INTERSECT predicate (orientation cross-products,
    touching + collinear overlap included) then runs entirely JVM-side
    in int64 (``segments_intersect_cols``) inside whole-stage codegen.
    The oracle is the naive quadratic join with the identical
    closed-form predicate — exactly the plan this shape avoids."""
    from meerschaum_spark.functions import geo as G
    ev = parallelize(load_table(spark, sf_dir, "events")
                     .select("event_id"))
    num = lambda c: c.cast("long").cast("string")  # noqa: E731

    def segs(df: DataFrame, idc: str, dxm: int, dxo: int, dym: int,
             dyo: int, prefix: str) -> DataFrame:
        eid = F.col("event_id")
        x, y = eid % 97, eid % 89
        x2, y2 = x + (eid % dxm - dxo), y + (eid % dym - dyo)
        wkt = F.concat(F.lit("LINESTRING ("),
                       num(x), F.lit(" "), num(y), F.lit(", "),
                       num(x2), F.lit(" "), num(y2), F.lit(")"))
        # expression-form decode, EXACTLY-ONCE (segment_xy_once,
        # alias-then-extract — see point_xy_once's usage contract): the
        # CLRS predicate references every endpoint ~6 times, and without
        # the non-deterministic marking each reference re-ran the codec
        # chain (and projection pushdown duplicated a full-corpus eval
        # below the parallelize exchange — both measured in r8)
        s = G.segment_xy_once(G.wkt_to_wkb(wkt))
        return (df.select(eid.alias(idc), s.alias("_seg"))
                .select(idc, *[F.col(f"_seg.{c}").alias(f"{prefix}{c}")
                               for c in ("x1", "y1", "x2", "y2")]))

    a = segs(ev.filter(F.col("event_id") % 101 == 0), "a_id",
             7, 3, 5, 2, "a")
    b = segs(ev, "b_id", 5, 2, 3, 1, "b")
    cell = 6
    offsets = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
        "_odx int, _ody int")
    a_rep = (a.crossJoin(F.broadcast(offsets))
             .withColumn("_cx", F.floor(F.col("ax1") / cell) + F.col("_odx"))
             .withColumn("_cy", F.floor(F.col("ay1") / cell) + F.col("_ody"))
             .drop("_odx", "_ody"))
    b_cell = (b.withColumn("_cx", F.floor(F.col("bx1") / cell))
              .withColumn("_cy", F.floor(F.col("by1") / cell)))
    hit = G.segments_intersect_cols(
        F.col("ax1"), F.col("ay1"), F.col("ax2"), F.col("ay2"),
        F.col("bx1"), F.col("by1"), F.col("bx2"), F.col("by2"))
    return (a_rep.join(b_cell, on=["_cx", "_cy"], how="inner")
            .filter(F.col("a_id") != F.col("b_id"))
            .filter(hit)
            .groupBy("a_id")
            .agg(F.count(F.lit(1)).alias("n_hits"),
                 F.sum("b_id").cast("long").alias("sum_b"))
            .orderBy("a_id"))


def _bucket_sql(seed: str, n_planes: int, vec: str = "embedding") -> str:
    comp_t = (f"CASE WHEN ({_H60.format(x=chr(39) + seed + 'plane{p}_' + chr(39) + ' || CAST(i - 1 AS VARCHAR)')} & 1) = 1 "
              f"THEN {_EL} ELSE -{_EL} END")
    terms = " + ".join(
        "CASE WHEN list_sum(list_transform(generate_series(1, len({v})), i -> "
        + comp_t.replace("{p}", str(p))
        + f")) > 0 THEN {1 << p}::BIGINT ELSE 0::BIGINT END"
        for p in range(n_planes)
    )
    return "(" + terms.replace("{v}", vec) + ")"


def _near_dup_sql(threshold: float, n_planes: int, n_tables: int,
                  continuation: str | None = None) -> str:
    """CTE chain LSH-candidates → exact cosine → thresholded ``pairs``;
    derived oracles (the cluster closure) pass a ``continuation`` that
    extends the WITH chain instead of string-patching the default final
    SELECT (the surgery anti-pattern r4's advice flagged)."""
    bucket_cols = ", ".join(
        f"{_bucket_sql(f'tbl{t}_', n_planes)} AS b{t}" for t in range(n_tables))
    any_tbl = " OR ".join(f"a.b{t} = b.b{t}" for t in range(n_tables))
    dot_ab = "CAST(CAST(" + _DOT.format(a="va", b="vb") + " AS VARCHAR) AS DOUBLE)"
    dot_aa = "CAST(CAST(" + _DOT.format(a="va", b="va") + " AS VARCHAR) AS DOUBLE)"
    dot_bb = "CAST(CAST(" + _DOT.format(a="vb", b="vb") + " AS VARCHAR) AS DOUBLE)"
    final = continuation or """
    SELECT vec_a, vec_b, cosine FROM pairs
    ORDER BY vec_a, vec_b
    """
    # WITH RECURSIVE is valid (and inert) without a recursive member, so
    # the closure continuation can add one
    return f"""
    WITH RECURSIVE b AS (
      SELECT vec_id, embedding, {bucket_cols} FROM embeddings),
    cand AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             a.embedding AS va, b.embedding AS vb
      FROM b a JOIN b b ON a.vec_id < b.vec_id AND ({any_tbl})),
    scored AS (
      SELECT vec_a, vec_b,
             {dot_ab} / (sqrt({dot_aa}) * sqrt({dot_bb})) AS cosine
      FROM cand),
    pairs AS (
      SELECT vec_a, vec_b, cosine FROM scored
      WHERE cosine >= {threshold})""" + final


def _emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached LSH near-dup pair table — consumed by both the
    pairs query and the cluster closure."""
    return _cached_sigs(
        "emb_ndpairs", spark, sf_dir,
        lambda: S.cosine_near_dup_pairs(_emb(spark, sf_dir), threshold=0.4,
                                        n_planes=8, n_tables=4))


@query("emb_near_dup_pairs", _near_dup_sql(0.4, 8, 4))
def emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-table LSH (OR across 4
    independent 8-plane tables) + exact threshold filter. The oracle
    mirrors the exact candidate semantics, so recall choices are part of
    the checked contract."""
    return _emb_near_dup_pairs(spark, sf_dir).orderBy("vec_a", "vec_b")


_EMB_CLUSTERS_SQL = _near_dup_sql(0.4, 8, 4, continuation=""",
    sym AS (SELECT vec_a AS u, vec_b AS v FROM pairs
            UNION ALL
            SELECT vec_b AS u, vec_a AS v FROM pairs),
    reach AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u)
    SELECT u AS vec_id,
           LEAST(u, MIN(v)) AS cluster_id,
           u = LEAST(u, MIN(v)) AS keep
    FROM reach GROUP BY u ORDER BY vec_id
    """)


@query("emb_near_dup_clusters", _EMB_CLUSTERS_SQL)
def emb_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding dedup closed to CLUSTERS: the LSH
    near-dup pair graph (session-cached, shared with the pairs query)
    collapses via connected components to (vec_id, cluster_id, keep),
    the smallest vec_id surviving per component — the embedding-space
    twin of doc_near_dup_clusters. Oracle: the identical pair semantics
    plus a recursive-CTE transitive closure standing in for the
    min-label loop."""
    pairs = _emb_near_dup_pairs(spark, sf_dir)
    comp = D.connected_components(pairs, src="vec_a", dst="vec_b")
    return (comp.select(
        F.col("node").alias("vec_id"),
        F.col("cluster_id"),
        (F.col("node") == F.col("cluster_id")).alias("keep"))
        .orderBy("vec_id"))


# ===========================================================================
# Composite corpus preparation (one-pass pipeline)
# ===========================================================================

#: shared CTE chain (scan → metrics → language/quality → exact-dedup
#: ranks) used by BOTH the corpus-prep oracle and the composed training
#: export — one named constant, no string surgery (r4 advice: the export
#: was previously derived by str.split on a literal line of this text)
_CORPUS_PREFIX = f"""
    WITH t AS (SELECT doc_id, source, text, {_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id, source,
             len(toks) AS n_tokens,
             CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                  AS DOUBLE) / length(text) AS punct_ratio,
             CAST(len(list_filter(toks, x -> x IN ({_SW}))) AS DOUBLE)
                 / len(toks) AS stopword_ratio,
             {_hits_sql(T.STOPWORDS['en'])} AS hits_en,
             {_hits_sql(T.STOPWORDS['de'])} AS hits_de,
             {_hits_sql(T.STOPWORDS['es'])} AS hits_es,
             {_hits_sql(T.STOPWORDS['fr'])} AS hits_fr,
             CAST(length(text) - length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g'))
                  AS DOUBLE) / length(text) AS non_ascii_ratio,
             md5(text) AS th,
             {_FP_SQL} AS fingerprint
      FROM t),
    lp AS (
      SELECT *,
             CASE WHEN non_ascii_ratio > 0.3 THEN 'zh'
                  WHEN hits_en >= hits_de AND hits_en >= hits_es
                       AND hits_en >= hits_fr THEN 'en'
                  WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
                  WHEN hits_es >= hits_fr THEN 'es'
                  ELSE 'fr' END AS pred_lang,
             (n_tokens >= 10 AND n_tokens <= 10000
              AND CAST(len(list_filter(toks, x -> x IN ({_SW}))) AS DOUBLE)
                  / len(toks) >= 0.01) AS quality_pass
      FROM t JOIN m USING (doc_id, source)),
    d AS (
      SELECT *,
             row_number() OVER (PARTITION BY th ORDER BY doc_id) AS rn,
             count(*) OVER (PARTITION BY th) AS n_copies
      FROM lp)"""

_CORPUS_SQL = _CORPUS_PREFIX + """
    SELECT doc_id, source, n_tokens, punct_ratio, stopword_ratio,
           pred_lang, fingerprint, n_copies
    FROM d WHERE rn = 1 AND quality_pass AND pred_lang IN ('en')
    ORDER BY doc_id
    """


@query("doc_corpus_prep", _CORPUS_SQL)
def doc_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-corpus pass: quality + language + exact
    dedup + fingerprint in one plan (one scan, one shuffle)."""
    from meerschaum_spark.functions.corpus import prepare_corpus
    docs = _docs(spark, sf_dir)
    return prepare_corpus(docs, keep_langs=("en",),
                          carry_cols=["source"]).orderBy("doc_id")


@query(
    "multimodal_frame_sample",
    """
    WITH t AS (
      SELECT doc_id, text,
             1 + (('0x' || substr(md5(text), 7, 2))::INT % 16) AS n_frames
      FROM documents),
    f AS (
      SELECT doc_id, text, n_frames,
             CAST((n_frames + 3) // 4 AS INT) AS stride
      FROM t)
    SELECT doc_id,
           unnest(generate_series(0, n_frames - 1, stride)) AS frame_idx,
           n_frames,
           md5(text || '#' ||
               CAST(unnest(generate_series(0, n_frames - 1, stride)) AS VARCHAR))
               AS frame_checksum
    FROM f
    ORDER BY doc_id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads: the row-multiplying
    mapInPandas shape, value-checked (frame count and per-frame checksum
    derive deterministically from the payload, so DuckDB reproduces them
    from the source text)."""
    docs = _docs(spark, sf_dir)
    payload = M.with_binary_payload(docs)
    return M.fake_sample_frames(payload).orderBy("doc_id", "frame_idx")


@query(
    "doc_token_budget",
    f"""
    WITH t AS (SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents)
    SELECT doc_id, n_tokens FROM t
    QUALIFY sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
            <= 20000
    ORDER BY doc_id
    """,
)
def doc_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget selection: the longest doc_id-ordered prefix whose
    cumulative token count fits 20k tokens. The oracle is the naive
    global running sum; the engine computes the same answer with the
    two-phase bucket design (no global single-task window)."""
    from meerschaum_spark.functions.corpus import select_token_budget
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("_t")) \
               .select("doc_id", F.size("_t").alias("n_tokens"))
    return select_token_budget(toks, 20_000).orderBy("doc_id")


# ===========================================================================
# Fused near-dup pipeline: LSH candidates -> Jaccard re-rank -> clusters
# ===========================================================================

#: edge threshold for the fused near-dup pass; 0.5 is the LSH default
#: geometry's own detection threshold ((1/bands)^(bands/k) = (1/4)^(1/2))
NEAR_DUP_JACCARD = 0.5

_CLUSTERS_SQL = _MINHASH_CTE.replace("WITH t AS", "WITH RECURSIVE t AS", 1) + f""",
    {_bands_cte_capped()},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.source = b.source
           AND a.doc_id < b.doc_id),
    toked AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM toked),
    sets AS (SELECT doc_id,
                    list_transform(shingles, s -> {_H60.format(x='s')}) AS sh
             FROM sh),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(sa.sh, sb.sh)) AS n_shared,
             len(sa.sh) AS na, len(sb.sh) AS nb
      FROM cand c
      JOIN sets sa ON c.doc_a = sa.doc_id
      JOIN sets sb ON c.doc_b = sb.doc_id),
    edges AS (
      SELECT doc_a, doc_b FROM scored
      WHERE na + nb - n_shared > 0
        AND CAST(n_shared AS DOUBLE) / (na + nb - n_shared)
            >= {NEAR_DUP_JACCARD}),
    sym AS (SELECT doc_a AS u, doc_b AS v FROM edges
            UNION ALL
            SELECT doc_b AS u, doc_a AS v FROM edges),
    reach AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u)
    SELECT u AS doc_id,
           LEAST(u, MIN(v)) AS cluster_id,
           u = LEAST(u, MIN(v)) AS keep
    FROM reach GROUP BY u ORDER BY doc_id
"""


#: the final SELECT of _CLUSTERS_SQL — derived oracles replace it with
#: their own continuation; assert the needle exists so a reformat of the
#: cluster SQL fails at import instead of producing a silently-unreplaced
#: oracle with the wrong shape
_CLUSTERS_FINAL_SELECT = """    SELECT u AS doc_id,
           LEAST(u, MIN(v)) AS cluster_id,
           u = LEAST(u, MIN(v)) AS keep
    FROM reach GROUP BY u ORDER BY doc_id
"""
assert _CLUSTERS_FINAL_SELECT in _CLUSTERS_SQL


@query("doc_near_dup_clusters", _CLUSTERS_SQL)
def doc_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical 100 TB dedup pass, fused end-to-end: MinHash
    signatures (session-cached) -> banded LSH candidate pairs -> exact
    n-gram Jaccard re-rank on candidates only -> threshold edges ->
    connected components via min-label propagation. The oracle replays
    the identical pipeline in SQL, with a recursive CTE (transitive
    closure) standing in for the label-propagation loop."""
    return _near_dup_clusters(spark, sf_dir).orderBy("doc_id")


@query(
    "doc_repetition_stats",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    cnt AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY 1, 2),
    tok_top AS (SELECT doc_id, max(c) AS top_tok_c,
                       CAST(sum(c) AS BIGINT) AS n_tokens,
                       count(*) AS n_distinct_tokens
                FROM cnt GROUP BY 1),
    bg AS (SELECT doc_id,
                  CASE WHEN len(toks) >= 2 THEN list_transform(
                    generate_series(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+1], ' '))
                  ELSE [] END AS bgs
           FROM t),
    bex AS (SELECT doc_id, unnest(bgs) AS b FROM bg),
    bcnt AS (SELECT doc_id, b, count(*) AS c FROM bex GROUP BY 1, 2),
    bg_top AS (SELECT doc_id, max(c) AS top_bg_c, sum(c) AS n_bigrams
               FROM bcnt GROUP BY 1)
    SELECT t.doc_id,
           tok_top.n_tokens,
           tok_top.n_distinct_tokens,
           1.0 - CAST(tok_top.n_distinct_tokens AS DOUBLE) / tok_top.n_tokens
               AS repeat_token_frac,
           CAST(tok_top.top_tok_c AS DOUBLE) / tok_top.n_tokens
               AS top_token_frac,
           CASE WHEN bg_top.n_bigrams IS NOT NULL
                THEN CAST(bg_top.top_bg_c AS DOUBLE) / bg_top.n_bigrams
                ELSE 0.0 END AS top_bigram_frac
    FROM t
    JOIN tok_top ON t.doc_id = tok_top.doc_id
    LEFT JOIN bg_top ON t.doc_id = bg_top.doc_id
    ORDER BY t.doc_id
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (repeat-token fraction,
    top token/bigram share) — the standard boilerplate/spam filters for
    training-corpus curation."""
    docs = _docs(spark, sf_dir)
    return T.repetition_stats(docs).orderBy("doc_id")


# ===========================================================================
# Corpus mixing / contamination / embedding hygiene
# ===========================================================================

#: per-source sampling rates (percent) — the corpus-mixing knob: at
#: 100 TB this is how web/books/code shares are rebalanced. Deterministic
#: hash sampling keeps the selection reproducible and join-free.
MIXTURE_RATES = {f"src{i}": (30 if i < 10 else 70) for i in range(20)}

_RATE_CASE = "CASE " + " ".join(
    f"WHEN source = '{s}' THEN {r}" for s, r in MIXTURE_RATES.items()
) + " ELSE 0 END"


@query(
    "doc_stratified_sample",
    f"""
    SELECT doc_id, source
    FROM documents
    WHERE {_H60.format(x="CAST(doc_id AS VARCHAR)")} % 100 < {_RATE_CASE}
    ORDER BY doc_id
    """,
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus mixing: each source
    keeps hash(doc_id) % 100 < rate — reproducible across runs and
    engines, no shuffle, no join; the rate map is a literal CASE that
    whole-stage codegen folds into the scan's filter."""
    from meerschaum_spark.catalog import hash60
    docs = load_table(spark, sf_dir, "documents")
    rate = F.lit(0)
    for s, r in MIXTURE_RATES.items():
        rate = F.when(F.col("source") == s, F.lit(r)).otherwise(rate)
    keep = (hash60(F.col("doc_id").cast("string")) % 100) < rate
    return docs.filter(keep).select("doc_id", "source").orderBy("doc_id")


#: weighted-sample size (A-ES) — small enough that sf0.01 still rejects
#: most documents, so the selection itself is exercised
WEIGHTED_SAMPLE_K = 200


@query(
    "doc_weighted_sample",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
             GREATEST(CAST(len({_TOKS}) AS DOUBLE), 1.0) AS w,
             CAST({_H60.format(x="CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)
                 / 1152921504606846976.0 AS u
      FROM documents),
    ranked AS (
      SELECT doc_id, source, n_tokens
      FROM t ORDER BY -ln(u) / w ASC, doc_id ASC
      LIMIT {WEIGHTED_SAMPLE_K})
    SELECT doc_id, source, n_tokens FROM ranked ORDER BY doc_id
    """,
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted k-sample of the corpus (Efraimidis–Spirakis A-ES,
    ``functions/corpus.weighted_sample``): rank ascending by
    ``-ln(u)/w`` with a deterministic md5-derived uniform ``u`` and
    ``w`` = token count, keep the top ``WEIGHTED_SAMPLE_K``. The
    selection is reproducible across engines — the oracle replays the
    identical hash arithmetic — and plans as TakeOrdered (per-partition
    k-heap, no corpus-wide sort), the right 100 TB shape for "draw a
    length-proportional sample for a token budget"."""
    from meerschaum_spark.functions.corpus import weighted_sample

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    toks = T.tokens(F.col("text"))
    base = docs.select(
        "doc_id", "source",
        F.size(toks).cast("long").alias("n_tokens"))
    picked = weighted_sample(base, F.col("n_tokens"), WEIGHTED_SAMPLE_K)
    return picked.select("doc_id", "source", "n_tokens").orderBy("doc_id")


#: minimum shared 5-gram shingles for a contamination flag
CONTAMINATION_MIN_SHARED = 3

_SHINGLES5_SQL = (
    "CASE WHEN len(toks) >= 5 THEN list_distinct(list_transform("
    "generate_series(1, len(toks) - 4), i -> array_to_string(toks[i:i+4], ' ')))"
    " ELSE [] END"
)


@query(
    "doc_contamination_check",
    f"""
    WITH base AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, source, {_SHINGLES5_SQL} AS shingles FROM base),
    ex AS (SELECT doc_id, source,
                  {_H60.format(x='unnest(shingles)')} AS s FROM sh),
    eval_sh AS (SELECT DISTINCT s FROM ex WHERE source = 'src0'),
    hits AS (
      SELECT t.doc_id, count(*) AS n_shared
      FROM ex t JOIN eval_sh e ON t.s = e.s
      WHERE t.source <> 'src0'
      GROUP BY t.doc_id)
    SELECT doc_id, n_shared FROM hits
    WHERE n_shared >= {CONTAMINATION_MIN_SHARED}
    ORDER BY n_shared DESC, doc_id
    """,
)
def doc_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: training docs sharing ≥ K distinct
    5-gram shingles with the eval set (here: source 'src0' stands in for
    the benchmark). The eval shingle set is benchmark-sized — broadcast
    — so the pass is ONE scan of the corpus with a broadcast hash join,
    the shape that survives 100 TB."""
    docs = _docs(spark, sf_dir)
    toked = docs.select("doc_id", "source",
                        T.tokens(F.col("text")).alias("_toks"))
    from meerschaum_spark.catalog import hash60
    ex = toked.select(
        "doc_id", "source",
        F.explode(D.shingles_of_tokens(F.col("_toks"), 5)).alias("_s"),
    ).select("doc_id", "source", hash60(F.col("_s")).alias("s"))
    eval_sh = (ex.filter(F.col("source") == "src0")
               .select("s").distinct())
    return (
        ex.filter(F.col("source") != "src0")
        .join(F.broadcast(eval_sh), on="s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= CONTAMINATION_MIN_SHARED)
        .orderBy(F.col("n_shared").desc(), "doc_id")
    )


@query(
    "emb_norm_stats",
    """
    WITH n AS (
      SELECT vec_id, label,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
      FROM embeddings)
    SELECT label,
           count(*) AS n_vecs,
           count(CASE WHEN norm > 1.0 THEN 1 END) AS n_above_unit,
           min(norm) AS min_norm,
           max(norm) AS max_norm
    FROM n GROUP BY label ORDER BY label
    """,
)
def emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene: per-label vector-norm stats. The per-row norm
    is a sequential fold over the array (deterministic double math);
    cross-row reducers are count/min/max only — order-insensitive, so no
    decimal accumulation is needed. One scan, one shuffle on label."""
    emb = _emb(spark, sf_dir)
    norm = F.sqrt(F.aggregate(
        "embedding", F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double")))
    n = emb.select("vec_id", "label", norm.alias("norm"))
    return (n.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.count(F.when(F.col("norm") > 1.0, 1))
                 .alias("n_above_unit"),
                 F.min("norm").alias("min_norm"),
                 F.max("norm").alias("max_norm"))
            .orderBy("label"))


@query(
    "doc_dedup_survivors",
    _CLUSTERS_SQL.replace(
        _CLUSTERS_FINAL_SELECT,
        """,
    clusters AS (
      SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
      FROM reach GROUP BY u)
    SELECT d.doc_id, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM clusters
                           WHERE doc_id <> cluster_id)
    ORDER BY d.doc_id
"""),
)
def doc_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized deduped corpus: every document except non-canonical
    near-dup cluster members (cluster survivors keep the smallest doc_id;
    singletons pass through untouched). This is the pass a training
    pipeline actually ships — clusters identify, THIS query removes. The
    removal is an anti-join against the (tiny) non-canonical id set."""
    docs = _docs(spark, sf_dir)
    clusters = _near_dup_clusters(spark, sf_dir)
    losers = clusters.filter(~F.col("keep")).select("doc_id")
    return (docs.join(F.broadcast(losers), on="doc_id", how="left_anti")
            .select("doc_id", "source").orderBy("doc_id"))


@query(
    "doc_token_rarity",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    ex AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM t),
    dfreq AS (SELECT tok, count(*) AS tok_df FROM ex GROUP BY tok),
    scored AS (
      SELECT ex.doc_id,
             count(*) AS n_distinct_tokens,
             CAST(sum(dfreq.tok_df) AS BIGINT) AS sum_df,
             min(dfreq.tok_df) AS min_df
      FROM ex JOIN dfreq ON ex.tok = dfreq.tok
      GROUP BY ex.doc_id)
    SELECT doc_id, n_distinct_tokens, sum_df, min_df,
           CAST(sum_df AS DOUBLE) / n_distinct_tokens AS avg_token_df
    FROM scored ORDER BY doc_id
    """,
)
def doc_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative rarity scoring (CCNet-style signal, integer-exact):
    each document's distinct tokens join the corpus document-frequency
    table; low avg/min DF marks rare-vocabulary documents (or noise),
    high marks boilerplate. Two shuffles (corpus DF build + per-doc
    aggregate); the DF table is vocabulary-sized and reusable."""
    docs = _docs(spark, sf_dir)
    ex = (docs.select("doc_id",
                      F.explode(F.array_distinct(T.tokens(F.col("text"))))
                      .alias("tok")))
    dfreq = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("tok_df"))
    return (
        ex.join(dfreq, on="tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_distinct_tokens"),
             F.sum("tok_df").alias("sum_df"),
             F.min("tok_df").alias("min_df"))
        .select("doc_id", "n_distinct_tokens", "sum_df", "min_df",
                (F.col("sum_df").cast("double")
                 / F.col("n_distinct_tokens")).alias("avg_token_df"))
        .orderBy("doc_id")
    )


# ===========================================================================
# Chunking / PII / sharding / vocabulary (r4)
# ===========================================================================

_CHUNK, _OVERLAP = 400, 80
_STRIDE = _CHUNK - _OVERLAP


@query(
    "doc_chunk_split",
    f"""
    WITH ex AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(length(text), 1),
                                    {_STRIDE})) AS chunk_start,
             text
      FROM documents)
    SELECT doc_id,
           CAST((chunk_start - 1) // {_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           substr(text, CAST(chunk_start AS INTEGER), {_CHUNK}) AS chunk_text,
           CAST(length(substr(text, CAST(chunk_start AS INTEGER), {_CHUNK}))
                AS BIGINT) AS n_chunk_chars
    FROM ex ORDER BY doc_id, chunk_idx
    """,
)
def doc_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: fixed 400-char chunks with 80-char
    overlap, one output row per chunk. Row-multiplying but shuffle-free
    (sequence + posexplode + substr, all codegen)."""
    docs = _docs(spark, sf_dir)
    out = T.chunk_documents(docs, chunk_chars=_CHUNK, overlap=_OVERLAP)
    return (out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        "chunk_text",
        F.col("n_chunk_chars").cast("long").alias("n_chunk_chars"))
        .orderBy("doc_id", "chunk_idx"))


def _pii_oracle() -> str:
    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in T.PII_PATTERNS)
    scrubbed = "text"
    for _, pat, repl in T.PII_PATTERNS:
        scrubbed = f"regexp_replace({scrubbed}, '{pat}', '{repl}', 'g')"
    return f"""
    SELECT doc_id,
           {counts},
           {_H60.format(x=scrubbed)} AS scrubbed_fingerprint
    FROM documents ORDER BY doc_id
    """


@query("doc_pii_scrub", _pii_oracle())
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (email / IPv4 / phone): per-pattern
    match counts plus the fingerprint of the redacted text — the
    compliance pass a corpus pipeline runs before anything ships. All
    RE2-safe regexes, evaluated identically by the oracle."""
    docs = _docs(spark, sf_dir)
    out = T.pii_scrub(docs)
    counts = [F.col(f"n_{name}").cast("long").alias(f"n_{name}")
              for name, _, _ in T.PII_PATTERNS]
    return out.select("doc_id", *counts, "scrubbed_fingerprint") \
              .orderBy("doc_id")


@query(
    "doc_shard_assign",
    f"""
    WITH s AS (
      SELECT doc_id, length(text) AS n_chars,
             {_H60.format(x="CAST(doc_id AS VARCHAR)")} % 16 AS shard
      FROM documents)
    SELECT shard, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
    FROM s GROUP BY shard ORDER BY shard
    """,
)
def doc_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-shard assignment for training output (16
    shards) with per-shard balance stats — the verification query for a
    sharded corpus write. One narrow projection + one small aggregate."""
    from meerschaum_spark.functions.corpus import shard_assign
    docs = _docs(spark, sf_dir)
    return (shard_assign(docs, n_shards=16)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.length("text")).alias("sum_chars"),
                 F.min("doc_id").alias("min_doc_id"),
                 F.max("doc_id").alias("max_doc_id"))
            .orderBy("shard"))


@query(
    "doc_vocab_topk",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS tok FROM t)
    SELECT tok, count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS doc_freq
    FROM ex GROUP BY tok
    ORDER BY n_occurrences DESC, tok LIMIT 50
    """,
)
def doc_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head (top 50 tokens by occurrence, with
    document frequency) — the Zipf probe for corpus QA. Explode + one
    hash aggregation with map-side combine + tiny top-k."""
    docs = _docs(spark, sf_dir)
    return T.vocab_topk(docs, k=50)


@query(
    "doc_sentence_dedup",
    f"""
    WITH s AS (
      SELECT doc_id,
             list_distinct(list_filter(
               list_transform(string_split_regex(trim(text), '\\.\\s+'),
                              x -> trim(x)),
               x -> length(x) >= 20)) AS sents
      FROM documents),
    ex AS (SELECT doc_id, {_H60.format(x='unnest(sents)')} AS sh FROM s),
    dfreq AS (SELECT sh, count(DISTINCT doc_id) AS docs FROM ex GROUP BY sh),
    agg AS (
      SELECT ex.doc_id,
             count(*) AS n_sentences,
             count(*) FILTER (WHERE dfreq.docs >= 2) AS n_shared_sentences
      FROM ex JOIN dfreq ON ex.sh = dfreq.sh
      GROUP BY ex.doc_id)
    SELECT doc_id, n_sentences, n_shared_sentences,
           CAST(n_shared_sentences AS DOUBLE) / n_sentences AS shared_frac
    FROM agg ORDER BY doc_id
    """,
)
def doc_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup profile: per document, the fraction of its
    distinct sentences (≥20 chars) that appear verbatim in at least one
    OTHER document — the boilerplate signal document-level dedup misses.
    Two hash aggregations, no window, no pairs."""
    docs = _docs(spark, sf_dir)
    return D.sentence_dedup_stats(docs).orderBy("doc_id")


@query(
    "doc_sequence_pack",
    f"""
    WITH t AS (SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents),
    c AS (SELECT doc_id, n_tokens,
                 CAST(sum(n_tokens) OVER (ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM t)
    SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id
    FROM c ORDER BY doc_id
    """,
)
def doc_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: contiguous docs fill 2048-token
    bins via the distributed prefix sum (bucketed two-phase running sum
    — no global single-task window; the oracle IS the naive global
    window, proving the distributed form computes the same numbers)."""
    from meerschaum_spark.functions.corpus import sequence_pack
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.size(T.tokens(F.col("text")))
                       .alias("n_tokens"))
    return (sequence_pack(toks, capacity=2048)
            .select("doc_id",
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    "pack_id")
            .orderBy("doc_id"))


#: end-to-end export: the shared corpus-prep CTE chain, then near-dup
#: removal → budget → shard. The fused MinHash→LSH→Jaccard→components
#: pass rides in as a self-contained scoped subquery (its WITH RECURSIVE
#: and CTE names shadow the outer chain's inside the parentheses), so the
#: composed statement needs no renaming surgery.
_EXPORT_SQL = _CORPUS_PREFIX + f""",
    nd_losers AS (
      SELECT doc_id FROM (
        {_CLUSTERS_SQL}
      ) nd WHERE doc_id <> cluster_id),
    kept AS (
      SELECT doc_id, n_tokens FROM d
      WHERE rn = 1 AND quality_pass AND pred_lang IN ('en')
        AND doc_id NOT IN (SELECT doc_id FROM nd_losers)),
    bud AS (
      SELECT doc_id, n_tokens FROM kept
      QUALIFY CAST(sum(n_tokens) OVER (ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
              <= 15000),
    sh AS (
      SELECT doc_id, n_tokens,
             {_H60.format(x="CAST(doc_id AS VARCHAR)")} % 8 AS shard
      FROM bud)
    SELECT shard, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           min(doc_id) AS min_doc_id
    FROM sh GROUP BY shard ORDER BY shard
    """


@query("doc_training_export", _EXPORT_SQL)
def doc_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data export, composed from the engine's
    own operators: one-pass corpus prep (quality + language + exact
    dedup) → fuzzy near-dup removal (the fused MinHash→LSH→Jaccard→
    connected-components pass; non-canonical cluster members drop) →
    token-budget prefix selection (distributed, no global window) →
    deterministic hash-shard assignment → per-shard manifest. The oracle
    replays the entire composed pipeline in SQL — the strongest single
    statement that a user's full curation flow, not just its pieces,
    matches across engines."""
    from meerschaum_spark.functions.corpus import (
        prepare_corpus, select_token_budget, shard_assign,
    )
    docs = _docs(spark, sf_dir)
    prepped = prepare_corpus(docs, carry_cols=["source"]) \
        .select("doc_id", "n_tokens")
    losers = (_near_dup_clusters(spark, sf_dir)
              .filter(~F.col("keep")).select("doc_id"))
    deduped = prepped.join(F.broadcast(losers), on="doc_id",
                           how="left_anti")
    budgeted = select_token_budget(deduped, 15_000)
    return (shard_assign(budgeted, n_shards=8)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("sum_tokens"),
                 F.min("doc_id").alias("min_doc_id"))
            .orderBy("shard"))


@query(
    "emb_centroid_stats",
    """
    WITH ex AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             unnest(embedding) AS x
      FROM embeddings),
    sums AS (
      SELECT label, pos,
             CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(12,9)))
                  AS DECIMAL(22,9)) AS s
      FROM ex GROUP BY 1, 2),
    sv AS (SELECT label, list(s ORDER BY pos) AS svec FROM sums GROUP BY label),
    svn AS (
      SELECT label, svec,
             sqrt(list_reduce(list_transform(generate_series(1, len(svec)),
                  i -> CAST(CAST(svec[i] AS VARCHAR) AS DOUBLE)
                       * CAST(CAST(svec[i] AS VARCHAR) AS DOUBLE)),
                  (a, b) -> a + b)) AS ns
      FROM sv),
    scored AS (
      SELECT e.label,
             list_reduce(list_transform(generate_series(1, len(e.embedding)),
                 i -> CAST(e.embedding[i] AS DOUBLE)
                      * CAST(CAST(s.svec[i] AS VARCHAR) AS DOUBLE)),
                 (a, b) -> a + b)
             / NULLIF(sqrt(list_reduce(
                   list_transform(generate_series(1, len(e.embedding)),
                       i -> CAST(e.embedding[i] AS DOUBLE)
                            * CAST(e.embedding[i] AS DOUBLE)),
                   (a, b) -> a + b)) * s.ns, 0) AS cos
      FROM embeddings e JOIN svn s USING (label))
    SELECT label, count(*) AS n_vecs,
           CAST(CAST(sum(CAST(cos AS DECIMAL(18,12))) AS VARCHAR) AS DOUBLE)
               / count(*) AS avg_cos,
           min(cos) AS min_cos
    FROM scored GROUP BY label ORDER BY label
    """,
)
def emb_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding hygiene: average/minimum cosine of each
    vector to its label centroid (represented scale-free by the exact
    decimal per-dimension SUM vector — cross-engine decimal division
    never happens). Flags mislabeled or noisy classes before training."""
    emb = _emb(spark, sf_dir)
    return S.label_centroid_stats(emb)


@query(
    "doc_tfidf_topk",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM ex GROUP BY 1, 2),
    dfq AS (SELECT tok, count(*) AS token_df FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, dfq.token_df,
             (CAST(tf.tf AS DOUBLE)
              * CAST((SELECT count(*) FROM documents) AS DOUBLE))
             / CAST(dfq.token_df AS DOUBLE) AS score
      FROM tf JOIN dfq ON tf.tok = dfq.tok),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, tok) AS rnk
      FROM scored)
    SELECT doc_id, tok, tf, token_df, score, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY doc_id, rnk
    """,
)
def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by the log-free TF-IDF
    variant score = tf × N / df — pure IEEE double over exact integer
    inputs, so both engines compute bit-identical scores (libm ``ln``
    would not be). Keyword extraction / doc summarization primitive."""
    docs = _docs(spark, sf_dir)
    n_docs = docs.count()
    return (T.tfidf_topk(docs, n_docs=n_docs, k=5)
            .select("doc_id", "tok",
                    F.col("tf").cast("long").alias("tf"),
                    F.col("token_df").cast("long").alias("token_df"),
                    "score", "rnk")
            .orderBy("doc_id", "rnk"))


@query(
    "doc_split_assign",
    f"""
    SELECT doc_id, source,
           CASE WHEN {_H60.format(x="CAST(doc_id AS VARCHAR)")} % 100 < 96
                THEN 'train'
                WHEN {_H60.format(x="CAST(doc_id AS VARCHAR)")} % 100 < 98
                THEN 'val'
                ELSE 'test' END AS split
    FROM documents ORDER BY doc_id
    """,
)
def doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 96/2/2 train/val/test assignment from a content-free
    id hash: reproducible across engines, runs, and cluster sizes; a
    narrow projection with no shuffle or RNG state."""
    docs = load_table(spark, sf_dir, "documents")
    return (T.split_assign(docs)
            .select("doc_id", "source", "split").orderBy("doc_id"))


#: window length (tokens) for exact-substring overlap; DF cap drops
#: boilerplate windows shared by more docs than this
SUBSTR_WINDOW = 16
SUBSTR_MAX_DF = 50


def _substr_whs_expr(toks):
    """Rolling 16-token window hashes (shared by the standalone substring
    operator and the cascade report — ONE definition, no drift).
    ``toks`` must be a projected column (lambda-CSE gotcha)."""
    from meerschaum_spark.catalog import hash60
    return F.when(
        F.size(toks) >= SUBSTR_WINDOW,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(SUBSTR_WINDOW - 1)),
            lambda i: hash60(F.array_join(
                F.slice(toks, i, SUBSTR_WINDOW), " ")))),
    ).otherwise(F.array().cast("array<long>"))


def _substr_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached exploded (doc_id, wh) window table — the substring
    operator and the cascade report both consume it; first caller pays
    the rolling-hash explode once per session."""
    def build():
        docs = _docs(spark, sf_dir)
        return (docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
                .select("doc_id", _substr_whs_expr(F.col("toks"))
                        .alias("whs"))
                .select("doc_id", F.explode("whs").alias("wh")))
    return _cached_sigs("substr_windows", spark, sf_dir, build)


@query(
    "doc_substring_dup_pairs",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    w AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= {SUBSTR_WINDOW}
                  THEN list_distinct(list_transform(
                    generate_series(1, len(toks) - {SUBSTR_WINDOW - 1}),
                    i -> {_H60.format(x=f"array_to_string(toks[i:i+{SUBSTR_WINDOW - 1}], ' ')")}))
                  ELSE [] END AS whs
      FROM t),
    ex AS (SELECT doc_id, unnest(whs) AS wh FROM w),
    dfreq AS MATERIALIZED (SELECT wh, count(*) AS wdf FROM ex GROUP BY wh),
    keepw AS (SELECT ex.doc_id, ex.wh FROM ex
              JOIN dfreq ON ex.wh = dfreq.wh
              WHERE dfreq.wdf BETWEEN 2 AND {SUBSTR_MAX_DF}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS n_shared_windows
      FROM keepw a JOIN keepw b
        ON a.wh = b.wh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_shared_windows
    FROM pairs
    ORDER BY n_shared_windows DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def doc_substring_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact long-substring overlap (the training-data dedup signal
    MinHash misses: verbatim 16-token runs inside otherwise-different
    documents). Rolling window hashes → DF-capped equi-join (windows in
    2..50 docs; singleton windows can't pair, hotter ones are
    boilerplate) → shared-window counts. The join carries (doc_id, hash)
    only, and the DF cap bounds every bucket — the same quadratic guard
    as the shingle-join cap."""
    # session-cached materialized window table (ONE rolling-hash explode
    # per session): it feeds the doc-frequency agg, the semi-join probe,
    # BOTH sides of the pair self-join, and the cascade report — left
    # lazy it re-ran per consumer (measured 4-5 s per eval at sf0.1)
    ex = _substr_windows(spark, sf_dir)
    dfreq = (ex.groupBy("wh").agg(F.count(F.lit(1)).alias("wdf"))
             .filter(F.col("wdf").between(2, SUBSTR_MAX_DF)))
    keepw = ex.join(dfreq.select("wh"), on="wh", how="left_semi")
    a, b = keepw.alias("a"), keepw.alias("b")
    pairs = (
        a.join(b, (F.col("a.wh") == F.col("b.wh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )
    return pairs.orderBy(F.col("n_shared_windows").desc(),
                         "doc_a", "doc_b").limit(20)


@query(
    "doc_adaptive_quality",
    f"""
    WITH t AS (SELECT doc_id, len({_TOKS}) AS n_tokens,
                      CAST(length(text) - length(regexp_replace(text,
                           '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text)
                          AS punct_ratio
               FROM documents),
    th AS (SELECT quantile_cont(n_tokens, 0.05) AS tok_lo,
                  quantile_cont(n_tokens, 0.95) AS tok_hi,
                  quantile_cont(punct_ratio, 0.95) AS punct_hi
           FROM t)
    SELECT doc_id, n_tokens, punct_ratio,
           (n_tokens >= tok_lo AND n_tokens <= tok_hi
            AND punct_ratio <= punct_hi) AS keep_adaptive
    FROM t, th ORDER BY doc_id
    """,
)
def doc_adaptive_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quality gating: thresholds come from the corpus's OWN
    distribution (token-count p5/p95, punctuation p95) instead of fixed
    constants — the filter that survives a domain shift. One tiny
    percentile aggregate broadcast back over the scan; exact
    interpolated percentiles match quantile_cont bit-for-bit."""
    docs = _docs(spark, sf_dir)
    t = docs.select(
        "doc_id",
        F.size(T.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        (F.length(F.col("text"))
         - F.length(F.regexp_replace(F.col("text"), r"[.,!?;:]", "")))
        .cast("double").__div__(F.length(F.col("text")))
        .alias("punct_ratio"))
    th = t.agg(F.expr("percentile(n_tokens, 0.05)").alias("tok_lo"),
               F.expr("percentile(n_tokens, 0.95)").alias("tok_hi"),
               F.expr("percentile(punct_ratio, 0.95)").alias("punct_hi"))
    keep = ((F.col("n_tokens") >= F.col("tok_lo"))
            & (F.col("n_tokens") <= F.col("tok_hi"))
            & (F.col("punct_ratio") <= F.col("punct_hi")))
    return (t.crossJoin(F.broadcast(th))
            .select("doc_id", "n_tokens", "punct_ratio",
                    keep.alias("keep_adaptive"))
            .orderBy("doc_id"))


@query(
    "pipe_ingest_dedup_minhash",
    _MINHASH_CTE + f""",
    bands AS ({_band_rows_sql()}),
    half AS (SELECT floor(quantile_cont(doc_id, 0.5)) AS h FROM documents),
    coll AS (
      SELECT b2.doc_id, count(DISTINCT b2.band) AS nb
      FROM bands b2, bands b1, half
      WHERE b2.doc_id > half.h AND b1.doc_id <= half.h
        AND b1.band = b2.band AND b1.bh = b2.bh
      GROUP BY b2.doc_id),
    dropped AS (SELECT doc_id FROM coll WHERE nb >= 2)
    SELECT d.doc_id, d.source FROM documents d, half
    WHERE d.doc_id <= half.h
       OR d.doc_id NOT IN (SELECT doc_id FROM dropped)
    ORDER BY d.doc_id
    """,
)
def pipe_ingest_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FUZZY ingest guard under the correctness gate: sync the first
    half of the corpus, then the second — a second-half document is
    dropped iff any of its LSH band hashes matches the stored half's
    in at least TWO of the four bands (min_bands=2 — one collision of
    four 4-row bands is a coarse 'maybe'; two is the AND-amplified
    signal). The oracle replays the identical MinHash banding and
    the EXISTS-collision decision, so the guard's geometry (K, bands,
    band hashing) is pinned cross-engine — not just its plumbing."""
    import shutil
    import tempfile

    from meerschaum_spark.pipe import Pipe

    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").persist()
    instance = tempfile.mkdtemp(prefix="mrsm_q_ingmh_")
    try:
        pipe = Pipe(
            "catalog", "ingmh", instance=instance, spark=spark,
            columns={"datetime": "doc_id", "id": "doc_id"},
            parameters={"dedup": {"method": "minhash", "column": "text",
                                  "min_bands": 2},
                        "precision": {"unit": "second"}},
            dtypes={"doc_id": "int64"})
        half = int(docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0])
        pipe.sync(docs.filter(F.col("doc_id") <= F.lit(half)))
        pipe.sync(docs.filter(F.col("doc_id") > F.lit(half)))
        stored = pipe.get_data(select_columns=["doc_id", "source"],
                               order=None)
        rows = stored.collect()
        return (spark.createDataFrame(rows, stored.schema)
                .orderBy("doc_id"))
    finally:
        docs.unpersist()
        shutil.rmtree(instance, ignore_errors=True)


# ===========================================================================
# Clustering + semantic dedup + data mixing (r5 continuation)
# ===========================================================================

_KM_K = 8
_KM_DIST0 = """list_reduce(list_transform(generate_series(1, len(e.embedding)),
        i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
           * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))),
        (a, b) -> a + b)"""
_KM_DIST1 = """list_reduce(list_transform(generate_series(1, len(e.embedding)),
        i -> (CAST(e.embedding[i] AS DOUBLE) - m.mv[i])
           * (CAST(e.embedding[i] AS DOUBLE) - m.mv[i])),
        (a, b) -> a + b)"""
_KM_XX = _DOT.format(a="embedding", b="embedding")

_KMEANS_SQL = f"""
    WITH cent0 AS (SELECT vec_id AS cid, embedding AS cv
                   FROM embeddings WHERE vec_id < {_KM_K}),
    a1 AS (
      SELECT vec_id, embedding, cid AS cell FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_KM_DIST0} ASC, c.cid ASC) AS rn
        FROM embeddings e, cent0 c) WHERE rn = 1),
    ex1 AS (SELECT cell, generate_subscripts(embedding, 1) AS pos,
                   unnest(embedding) AS x
            FROM a1),
    sums1 AS (
      SELECT cell, pos,
             CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(12,9)))
                  AS DECIMAL(22,9)) AS s,
             count(*) AS nn
      FROM ex1 GROUP BY 1, 2),
    m1 AS (SELECT cell,
                  list(CAST(CAST(s AS VARCHAR) AS DOUBLE) / nn
                       ORDER BY pos) AS mv
           FROM sums1 GROUP BY cell),
    a2 AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, m.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_KM_DIST1} ASC, m.cell ASC) AS rn
        FROM embeddings e, m1 m) WHERE rn = 1),
    stats0 AS (
      SELECT cell, count(*) AS n_vecs, sum({_KM_XX}) AS sumxx
      FROM a2 GROUP BY cell),
    ex2 AS (SELECT cell, generate_subscripts(embedding, 1) AS pos,
                   unnest(embedding) AS x
            FROM a2),
    sums2 AS (
      SELECT cell, pos,
             CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(12,9)))
                  AS DECIMAL(22,9)) AS s
      FROM ex2 GROUP BY 1, 2),
    sv2 AS (SELECT cell, list(s ORDER BY pos) AS svec FROM sums2 GROUP BY cell),
    ssq2 AS (
      SELECT cell,
             list_reduce(list_transform(generate_series(1, len(svec)),
                 i -> CAST(CAST(svec[i] AS VARCHAR) AS DOUBLE)
                      * CAST(CAST(svec[i] AS VARCHAR) AS DOUBLE)),
                 (a, b) -> a + b) AS ssq
      FROM sv2)
    SELECT cell, n_vecs,
           CAST(CAST(sumxx AS VARCHAR) AS DOUBLE) - ssq / n_vecs AS wcss,
           (CAST(CAST(sumxx AS VARCHAR) AS DOUBLE) - ssq / n_vecs) / n_vecs
               AS avg_sqdist
    FROM stats0 JOIN ssq2 USING (cell) ORDER BY cell
    """


@query("emb_kmeans", _KMEANS_SQL)
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (2 iterations, seeded from the 8
    smallest vec_ids) with per-cluster size and within-cluster sum of
    squares — the corpus-clustering primitive under SemDeDup / IVF
    index builds / topic bucketing. Per round: one shuffle-free
    literal-centroid assignment + one explode/agg; the oracle replays
    both unrolled iterations in SQL."""
    return S.kmeans_stats(_emb(spark, sf_dir), k=_KM_K, iters=2)


_SEMDEDUP_K = 32
_SEMDEDUP_TAU = 0.9
_SD_DIFF = ("(" + _EL.replace("{v}", "e.embedding") + " - "
            + _EL.replace("{v}", "c._cv") + ")")
_SD_SQDIST = (f"list_sum(list_transform(generate_series(1, len(e.embedding)), "
              f"i -> {_SD_DIFF} * {_SD_DIFF}))")
_SD_DOT_AB = "CAST(CAST(" + _DOT.format(a="a.embedding", b="b.embedding") + " AS VARCHAR) AS DOUBLE)"
_SD_DOT_AA = "CAST(CAST(" + _DOT.format(a="a.embedding", b="a.embedding") + " AS VARCHAR) AS DOUBLE)"
_SD_DOT_BB = "CAST(CAST(" + _DOT.format(a="b.embedding", b="b.embedding") + " AS VARCHAR) AS DOUBLE)"

_SEMDEDUP_SQL = f"""
    WITH cent AS (SELECT vec_id AS _cid, embedding AS _cv
                  FROM embeddings WHERE vec_id < {_SEMDEDUP_K}),
    assigned AS (
      SELECT vec_id, embedding, _cid AS cell FROM (
        SELECT e.vec_id, e.embedding, c._cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_SD_SQDIST} ASC, c._cid ASC) AS rn
        FROM embeddings e, cent c
      ) WHERE rn = 1),
    dom AS (
      SELECT b.vec_id AS dominated
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {_SD_DOT_AB} / (sqrt({_SD_DOT_AA}) * sqrt({_SD_DOT_BB}))
            >= {_SEMDEDUP_TAU}
      GROUP BY 1)
    SELECT e.vec_id, e.cell, (d.dominated IS NULL) AS kept
    FROM assigned e LEFT JOIN dom d ON e.vec_id = d.dominated
    ORDER BY e.vec_id
    """


@query("emb_semantic_dedup", _SEMDEDUP_SQL)
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: coarse-cluster the embeddings
    (32 seeded centroids), drop any vector with a same-cell cosine
    near-duplicate of smaller id. The cells bound the pairwise pass —
    k scales with N so per-cell occupancy (and the quadratic) stays
    constant at 100 TB."""
    emb = _emb(spark, sf_dir)
    centroids = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _SEMDEDUP_K)
    return S.semantic_dedup(emb, centroids, threshold=_SEMDEDUP_TAU)


@query(
    "doc_domain_mix",
    f"""
    WITH t AS (SELECT source, len({_TOKS}) AS nt FROM documents),
    s AS (SELECT source, count(*) AS n_docs,
                 CAST(sum(nt) AS BIGINT) AS n_tokens
          FROM t GROUP BY 1),
    tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot_tokens,
                   count(*) AS n_sources
            FROM s)
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / tot_tokens AS token_share,
           (1.0 / n_sources) / (CAST(n_tokens AS DOUBLE) / tot_tokens)
               AS mix_weight,
           least((1.0 / n_sources)
                 / (CAST(n_tokens AS DOUBLE) / tot_tokens), 4.0) AS epochs,
           CAST(n_tokens AS DOUBLE)
             * least((1.0 / n_sources)
                     / (CAST(n_tokens AS DOUBLE) / tot_tokens), 4.0)
               AS effective_tokens
    FROM s, tot ORDER BY source
    """,
)
def doc_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reweighting: per-source token shares and the
    up/down-sampling weight that moves the corpus toward a uniform
    domain mixture, with repetition capped at 4 epochs (the standard
    dont-repeat-data guard). One scan + one tiny agg + a broadcast
    cross-join of the single-row total; every ratio is IEEE double
    from exact integer counts, so cross-engine hashes match."""
    docs = _docs(spark, sf_dir)
    per_source = (docs.select("source", F.size(T.tokens(F.col("text")))
                              .alias("nt"))
                  .groupBy("source")
                  .agg(F.count(F.lit(1)).alias("n_docs"),
                       F.sum("nt").alias("n_tokens")))
    total = per_source.agg(
        F.sum("n_tokens").cast("double").alias("tot_tokens"),
        F.count(F.lit(1)).alias("n_sources"))
    share = F.col("n_tokens").cast("double") / F.col("tot_tokens")
    weight = (F.lit(1.0) / F.col("n_sources")) / share
    epochs = F.least(weight, F.lit(4.0))
    return (per_source.crossJoin(F.broadcast(total))
            .select("source", "n_docs", "n_tokens",
                    share.alias("token_share"),
                    weight.alias("mix_weight"),
                    epochs.alias("epochs"),
                    (F.col("n_tokens").cast("double") * epochs)
                    .alias("effective_tokens"))
            .orderBy("source"))


@query(
    "doc_temperature_mix",
    f"""
    WITH t AS (SELECT source, len({_TOKS}) AS nt FROM documents),
    s AS (SELECT source, count(*) AS n_docs,
                 CAST(sum(nt) AS BIGINT) AS n_tokens
          FROM t GROUP BY 1),
    tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot FROM s),
    b AS (SELECT source, n_docs, n_tokens,
                 CAST(n_tokens AS DOUBLE) / tot AS p, tot
          FROM s, tot),
    a AS (
      SELECT CAST(1.0 AS DOUBLE) AS alpha, source, n_docs, n_tokens, p, tot,
             CAST(floor(p * 1000000000000.0 + 0.5) AS BIGINT) AS s_fx
      FROM b
      UNION ALL
      SELECT CAST(0.5 AS DOUBLE), source, n_docs, n_tokens, p, tot,
             CAST(floor(sqrt(p) * 1000000000000.0 + 0.5) AS BIGINT)
      FROM b
      UNION ALL
      SELECT CAST(0.25 AS DOUBLE), source, n_docs, n_tokens, p, tot,
             CAST(floor(sqrt(sqrt(p)) * 1000000000000.0 + 0.5) AS BIGINT)
      FROM b),
    st AS (SELECT alpha, CAST(sum(s_fx) AS BIGINT) AS s_tot
           FROM a GROUP BY 1)
    SELECT a.alpha, a.source, a.n_docs, a.n_tokens,
           a.p AS token_share,
           CAST(a.s_fx AS DOUBLE) / CAST(st.s_tot AS DOUBLE)
               AS samp_weight,
           a.tot * (CAST(a.s_fx AS DOUBLE) / CAST(st.s_tot AS DOUBLE))
               AS effective_tokens
    FROM a JOIN st USING (alpha) ORDER BY a.alpha, a.source
    """,
)
def doc_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing (the multilingual-LM sampling
    trick — mBERT/XLM-R/PaLM: sample domain i ∝ p_i^α, α < 1 flattens
    the mixture toward uniform without the hard uniform target of
    ``doc_domain_mix``): per-source sampling weights and effective
    token budgets at α ∈ {{1.0, 0.5, 0.25}}. α is restricted to
    sqrt-compositions because IEEE sqrt is exactly rounded on both
    engines (the Kaplan-Meier/audio-RMS precedent) while libm ``pow``
    is not cross-engine trustworthy (the Benford log10 lesson); the
    weight normalization quantizes p^α to 1e-12 fixed-point BIGINT
    first so the per-α total is an EXACT integer sum — a raw double
    sum would be addend-order-sensitive across engines. One corpus
    scan, one tiny per-source agg, three literal-α arms unioned, the
    per-α totals broadcast back."""
    docs = _docs(spark, sf_dir)
    per = (docs.select("source", F.size(T.tokens(F.col("text")))
                       .alias("nt"))
           .groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("nt").alias("n_tokens")))
    tot = per.agg(F.sum("n_tokens").cast("double").alias("tot"))
    base = (per.crossJoin(F.broadcast(tot))
            .select("source", "n_docs", "n_tokens", "tot",
                    (F.col("n_tokens").cast("double") / F.col("tot"))
                    .alias("p")))
    arms = []
    for alpha, s in ((1.0, F.col("p")),
                     (0.5, F.sqrt(F.col("p"))),
                     (0.25, F.sqrt(F.sqrt(F.col("p"))))):
        arms.append(base.select(
            F.lit(alpha).alias("alpha"), "source", "n_docs",
            "n_tokens", "p", "tot",
            F.floor(s * F.lit(1e12) + F.lit(0.5)).cast("long")
            .alias("s_fx")))
    u = arms[0].unionByName(arms[1]).unionByName(arms[2])
    s_tot = u.groupBy("alpha").agg(F.sum("s_fx").alias("s_tot"))
    w = F.col("s_fx").cast("double") / F.col("s_tot").cast("double")
    return (u.join(F.broadcast(s_tot), on="alpha")
            .select("alpha", "source", "n_docs", "n_tokens",
                    F.col("p").alias("token_share"),
                    w.alias("samp_weight"),
                    (F.col("tot") * w).alias("effective_tokens"))
            .orderBy("alpha", "source"))


# ===========================================================================
# Gopher quality rules, BM25 retrieval, int8 quantization (r5 continuation)
# ===========================================================================

_GOPHER_SW = ", ".join(f"'{w}'" for w in T.GOPHER_REQUIRED_STOPWORDS)

@query(
    "doc_gopher_quality",
    f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
               / len(toks) AS mean_word_len,
             CAST((len(string_split_regex(text, '#')) - 1)
                  + (len(string_split_regex(text, '\\.\\.\\.')) - 1) AS DOUBLE)
               / len(toks) AS symbol_ratio,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                  AS DOUBLE) / len(toks) AS alpha_frac,
             len(list_filter([{_GOPHER_SW}],
                             w -> list_contains(toks, w))) AS stopword_hits
      FROM t)
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
           stopword_hits,
           (n_words >= {T.GOPHER_MIN_WORDS} AND n_words <= {T.GOPHER_MAX_WORDS}
            AND mean_word_len >= {T.GOPHER_MIN_MEAN_LEN!r}
            AND mean_word_len <= {T.GOPHER_MAX_MEAN_LEN!r}
            AND symbol_ratio <= {T.GOPHER_MAX_SYMBOL_RATIO!r}
            AND alpha_frac >= {T.GOPHER_MIN_ALPHA_FRAC!r}
            AND stopword_hits >= {T.GOPHER_MIN_STOPWORD_HITS}) AS gopher_pass
    FROM m ORDER BY doc_id
    """,
)
def doc_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality filter (Rae et al. 2021 App. A): word-count /
    mean-word-length bounds, symbol ratio, alpha fraction, required
    stopwords — one shuffle-free codegen projection over the corpus."""
    docs = _docs(spark, sf_dir)
    return T.gopher_quality(docs).orderBy("doc_id")


_BM25_TERMS = ["spark", "join", "window"]


def _bm25_sql(terms: list[str], k: int) -> str:
    k1, b = T.BM25_K1, T.BM25_B
    tf_defs = ",\n             ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms))
    df_defs = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms)))
    contribs = []
    for i in range(len(terms)):
        tf = f"CAST(tf_{i} AS DOUBLE)"
        dfq = f"CAST(df_{i} AS DOUBLE)"
        idf = (f"((CAST(n_docs AS DOUBLE) - {dfq} + CAST(0.5 AS DOUBLE))"
               f" / ({dfq} + CAST(0.5 AS DOUBLE)))")
        denom = (f"({tf} + CAST({k1!r} AS DOUBLE) * (CAST({1.0 - b!r} AS DOUBLE)"
                 f" + CAST({b!r} AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))")
        contribs.append(f"{idf} * ({tf} * CAST({k1 + 1.0!r} AS DOUBLE)) / {denom}")
    score = "CAST(0.0 AS DOUBLE) + " + " + ".join(contribs)
    tf_out = ", ".join(f"tf_{i} AS tf_{t}" for i, t in enumerate(terms))
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    base AS (
      SELECT doc_id, len(toks) AS dl,
             {tf_defs}
      FROM t),
    stats AS (
      SELECT count(*) AS n_docs, sum(dl) AS sum_dl, {df_defs} FROM base),
    j AS (
      SELECT base.*, stats.*,
             CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
      FROM base, stats),
    scored AS (
      SELECT doc_id, dl, {tf_out}, {score} AS score FROM j),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM scored WHERE score > 0)
    SELECT doc_id, dl, {', '.join('tf_' + t for t in terms)}, score, rnk
    FROM ranked WHERE rnk <= {k} ORDER BY rnk
    """


@query("doc_bm25_topk", _bm25_sql(_BM25_TERMS, 10))
def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (log-free idf variant, see functions/text.py
    bm25_topk): corpus stats reduce to ONE single-row broadcast
    aggregate; scoring is a narrow projection; top-k is distributed
    TakeOrderedAndProject — no posting-list shuffle anywhere."""
    docs = _docs(spark, sf_dir)
    return T.bm25_topk(docs, _BM25_TERMS, k=10)


def _int8_sql() -> str:
    el = "CAST(v[i] AS DOUBLE)"
    q_el = (f"CASE WHEN max_abs = CAST(0.0 AS DOUBLE) THEN 0 "
            f"ELSE CAST(floor({el} / scale + CAST(0.5 AS DOUBLE)) AS BIGINT) END")
    err_el = f"({el} - CAST(({q_el}) AS DOUBLE) * scale)"
    # residuals quantize to 1e-9 ints; the squared sum is exact BIGINT
    # arithmetic (order-free, engine-free) — see int8_quantize_stats
    eq_el = (f"CAST(floor(({err_el}) * CAST(1000000000.0 AS DOUBLE)"
             f" + CAST(0.5 AS DOUBLE)) AS BIGINT)")
    sq_dec = (f"list_sum(list_transform(generate_series(1, len(v)), i -> "
              f"({eq_el}) * ({eq_el})))")
    max_err = (f"list_max(list_transform(generate_series(1, len(v)), i -> "
               f"abs({err_el})))")
    n_clip = (f"len(list_filter(generate_series(1, len(v)), i -> "
              f"({q_el}) > 127 OR ({q_el}) < -127))")
    return f"""
    WITH t AS (SELECT vec_id, embedding AS v FROM embeddings),
    m AS (SELECT vec_id, v,
                 CAST(list_max(list_transform(v, x -> abs(x))) AS DOUBLE)
                   AS max_abs
          FROM t),
    s AS (SELECT vec_id, v, max_abs,
                 max_abs / CAST(127.0 AS DOUBLE) AS scale
          FROM m)
    SELECT vec_id, scale,
           CAST({sq_dec} AS DOUBLE) / CAST(1e18 AS DOUBLE) AS sq_err,
           {max_err} AS max_abs_err,
           {n_clip} AS n_clipped
    FROM s ORDER BY vec_id
    """


@query("emb_int8_quantize", _int8_sql())
def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization + reconstruction error
    (see functions/similarity.py int8_quantize_stats): shuffle-free
    narrow projection, decimal-accumulated squared error."""
    emb = _emb(spark, sf_dir)
    return S.int8_quantize_stats(emb).orderBy("vec_id")


def _pca_sql(dim: int = 64) -> str:
    es, its = S.PCA_ELEM_SCALE, S.PCA_ITER_SCALE
    vi = (f"list_transform(embedding, x -> "
          f"CAST(floor(CAST(x AS DOUBLE) * CAST({es!r} AS DOUBLE)"
          f" + CAST(0.5 AS DOUBLE)) AS BIGINT))")
    return f"""
    WITH base AS (SELECT {vi} AS vi FROM embeddings),
    r1 AS (SELECT vi, CAST(list_sum(vi) AS BIGINT) AS t1 FROM base),
    w1 AS (
      SELECT j - 1 AS dim, CAST(sum(t1 * vi[j]) AS BIGINT) AS w1
      FROM r1, (SELECT unnest(range(1, {dim + 1})) AS j)
      GROUP BY j),
    mx AS (SELECT max(abs(w1)) AS max_abs FROM w1),
    w1s AS (
      SELECT dim,
             CAST(floor((CAST(w1 AS DOUBLE) * CAST({its!r} AS DOUBLE))
                        / CAST(max_abs AS DOUBLE)) AS BIGINT) AS w1_scaled
      FROM w1, mx),
    w1arr AS (SELECT list(w1_scaled ORDER BY dim) AS wa FROM w1s),
    r2 AS (
      SELECT vi,
             CAST(list_sum(list_transform(range(1, {dim + 1}),
                                          k -> vi[k] * wa[k])) AS BIGINT) AS t2
      FROM base, w1arr),
    w2 AS (
      SELECT j - 1 AS dim, CAST(sum(t2 * vi[j]) AS BIGINT) AS w2
      FROM r2, (SELECT unnest(range(1, {dim + 1})) AS j)
      GROUP BY j)
    SELECT w2.dim, w1s.w1_scaled, w2.w2
    FROM w2 JOIN w1s ON w2.dim = w1s.dim
    ORDER BY w2.dim
    """


@query("emb_pca_power_direction", _pca_sql())
def emb_pca_power_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding matrix by two
    power-iteration rounds (see functions/similarity.py
    pca_power_direction): two matvec passes, never a gram matrix; only
    the d-vector crosses the driver between rounds; all sums are exact
    scaled-int64 so the oracle (which unrolls both rounds in SQL)
    hash-matches."""
    emb = _emb(spark, sf_dir)
    return S.pca_power_direction(emb)


# ===========================================================================
# DSIR-style importance weighting (data selection for language models)
# ===========================================================================

#: hashed-feature space size for DSIR (Xie et al. 2023 use 10k buckets;
#: 1024 keeps the weight table broadcast-trivial at any corpus size)
DSIR_BUCKETS = 1024
DSIR_TARGET_SOURCES = ("src0", "src1")
#: fixed-point quantum for log-ratio weights: sums become EXACT integers
DSIR_FP = 10_000


@query(
    "doc_dsir_weights",
    f"""
    WITH t AS (SELECT doc_id, source, unnest({_TOKS}) AS tok
               FROM documents),
    tb AS (SELECT doc_id, source,
                  ({_H60.format(x="tok")} % {DSIR_BUCKETS}) AS b
           FROM t),
    nr AS (SELECT count(*) AS n_raw FROM tb),
    nt AS (SELECT count(*) AS n_tgt FROM tb
           WHERE source IN {DSIR_TARGET_SOURCES!r}),
    raw AS (SELECT b, count(*) AS cr FROM tb GROUP BY b),
    tgt AS (SELECT b, count(*) AS ct FROM tb
            WHERE source IN {DSIR_TARGET_SOURCES!r} GROUP BY b),
    w AS (
      SELECT raw.b,
             CAST(floor(ln(
                 CAST((COALESCE(tgt.ct, 0) + 1)
                      * (nr.n_raw + {DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((raw.cr + 1)
                        * (nt.n_tgt + {DSIR_BUCKETS}) AS DOUBLE))
                 * {DSIR_FP}.0 + 0.5) AS BIGINT) AS w_int
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b, nr, nt),
    ds AS (
      SELECT tb.doc_id, count(*) AS n_tokens,
             CAST(sum(w.w_int) AS BIGINT) AS s
      FROM tb JOIN w ON tb.b = w.b GROUP BY 1),
    scored AS (
      SELECT doc_id, n_tokens,
             CAST(s AS DOUBLE) / CAST(n_tokens AS DOUBLE) / {DSIR_FP}.0
                 AS dsir_score
      FROM ds),
    th AS (SELECT quantile_cont(dsir_score, 0.75) AS q75 FROM scored)
    SELECT doc_id, n_tokens, dsir_score,
           dsir_score >= th.q75 AS selected
    FROM scored, th ORDER BY doc_id
    """,
)
def doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): rank raw documents by how much more
    likely their hashed unigram features are under a TARGET distribution
    (here sources src0/src1 stand in for the high-quality target corpus)
    than under the raw corpus, then flag the top quartile for selection.

    Determinism engineering: the Laplace-smoothed probability ratio is a
    ratio of EXACT integers (both engines divide the same two doubles),
    its log quantizes to 1e-4 fixed point, and per-doc scores sum those
    integer weights — order-insensitive, so the shuffle layout can never
    change a score. The ln() itself is the one residual cross-engine
    trust point: JVM Math.log and DuckDB's libm log measured
    bit-identical here, and the 1e-4 quantum leaves ~12 orders of
    magnitude between a 1-ulp log discrepancy and the nearest rounding
    boundary, so a weight flip needs BOTH a libm divergence and a
    boundary-adjacent value (~1e-12 per weight). The length-normalized score divides two exact values
    in IEEE double. At 100 TB the 1024-row weight table broadcasts and
    the per-doc pass is one explode + one hash-agg — no shuffle carries
    more than (doc_id, bucket) pairs."""
    docs = _docs(spark, sf_dir)
    from meerschaum_spark.catalog import hash60
    tb = (docs.select("doc_id", "source",
                      T.tokens(F.col("text")).alias("toks"))
          .select("doc_id", "source", F.explode("toks").alias("tok"))
          .select("doc_id", "source",
                  (hash60(F.col("tok")) % DSIR_BUCKETS).alias("b")))
    # one materialization: the bucket table feeds four aggregates below
    tb = tb.transform(_pin)
    is_tgt = F.col("source").isin(*DSIR_TARGET_SOURCES)
    totals = tb.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.when(is_tgt, 1).otherwise(0)).alias("n_tgt"))
    counts = tb.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(is_tgt, 1).otherwise(0)).alias("ct"))
    ratio = (((F.col("ct") + 1) * (F.col("n_raw") + DSIR_BUCKETS))
             .cast("double")
             / ((F.col("cr") + 1) * (F.col("n_tgt") + DSIR_BUCKETS))
             .cast("double"))
    w = (counts.crossJoin(F.broadcast(totals))
         .select("b", F.floor(F.log(ratio) * F.lit(float(DSIR_FP))
                              + F.lit(0.5)).cast("long").alias("w_int")))
    ds = (tb.join(F.broadcast(w), on="b")
          .groupBy("doc_id")
          .agg(F.count(F.lit(1)).alias("n_tokens"),
               F.sum("w_int").alias("s")))
    scored = ds.select(
        "doc_id", "n_tokens",
        (F.col("s").cast("double") / F.col("n_tokens").cast("double")
         / F.lit(float(DSIR_FP))).alias("dsir_score"))
    th = scored.agg(F.expr("percentile(dsir_score, 0.75)").alias("q75"))
    return (scored.crossJoin(F.broadcast(th))
            .select("doc_id", "n_tokens", "dsir_score",
                    (F.col("dsir_score") >= F.col("q75")).alias("selected"))
            .orderBy("doc_id"))


# ===========================================================================
# Count-min sketch heavy hitters
# ===========================================================================

CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_TOPK = 20


@query(
    "doc_cms_heavy_hitters",
    f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS tok FROM documents),
    exact AS (
      SELECT tok, count(*) AS n_exact FROM tok GROUP BY tok
      ORDER BY n_exact DESC, tok LIMIT {CMS_TOPK}),
    th AS (SELECT tok, md5(tok) AS h FROM tok),
    cms AS (
      SELECT i, (('0x' || substr(h, 1 + 7 * i, 7))::BIGINT % {CMS_WIDTH})
                 AS b, count(*) AS c
      FROM th, generate_series(0, {CMS_DEPTH - 1}) AS g(i)
      GROUP BY 1, 2),
    probes AS (
      SELECT e.tok, e.n_exact, g.i,
             (('0x' || substr(md5(e.tok), 1 + 7 * g.i, 7))::BIGINT
              % {CMS_WIDTH}) AS b
      FROM exact e, generate_series(0, {CMS_DEPTH - 1}) AS g(i))
    SELECT p.tok, p.n_exact,
           CAST(min(cms.c) AS BIGINT) AS n_cms,
           CAST(min(cms.c) - p.n_exact AS BIGINT) AS overcount
    FROM probes p JOIN cms ON p.i = cms.i AND p.b = cms.b
    GROUP BY p.tok, p.n_exact
    ORDER BY p.n_exact DESC, p.tok
    """,
)
def doc_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch checked COUNTER FOR COUNTER against the exact
    heavy hitters: a 4x1024 integer sketch (independent rows via salted
    hash60), point-estimate = min over rows, overcount surfaced next to
    the exact count. Pure integer arithmetic end to end — nothing can
    drift between engines. The scale story is the sketch's: counters
    fold map-side into at most depth x width cells per partition, the
    shuffle carries 4096 rows regardless of corpus size, and sketches
    from different shards/days merge by cell-wise addition (the same
    layout this query builds)."""
    docs = _docs(spark, sf_dir)
    from meerschaum_spark.catalog import hash60
    tok = (docs.select(T.tokens(F.col("text")).alias("toks"))
           .select(F.explode("toks").alias("tok")))
    tok = tok.transform(_pin)
    exact = (tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n_exact"))
             .orderBy(F.col("n_exact").desc(), "tok").limit(CMS_TOPK))
    rows = F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("i")
    # ONE md5 per token; the 4 "independent" row hashes are disjoint
    # 7-hex-digit substrings of it (28 bits each) — 4x less hashing on
    # the hot path, same cross-engine determinism contract
    def _cms_bucket():
        return (F.conv(F.substring(F.col("h"), F.col("i") * 7 + 1, 7),
                       16, 10).cast("long") % CMS_WIDTH)
    cms = (tok.select(F.md5("tok").alias("h"), rows)
           .select("i", _cms_bucket().alias("b"))
           .groupBy("i", "b").agg(F.count(F.lit(1)).alias("c")))
    probes = (exact.select("tok", "n_exact", F.md5("tok").alias("h"), rows)
              .select("tok", "n_exact", "i", _cms_bucket().alias("b")))
    return (
        probes.join(F.broadcast(cms), on=["i", "b"])
        .groupBy("tok", "n_exact")
        .agg(F.min("c").alias("n_cms"))
        .select("tok", "n_exact", "n_cms",
                (F.col("n_cms") - F.col("n_exact")).alias("overcount"))
        .orderBy(F.col("n_exact").desc(), "tok")
    )


# ===========================================================================
# Bloom-filter contamination pre-screen
# ===========================================================================

BLOOM_BITS = 32768  # m = 2^15
BLOOM_K = 4


@query(
    "doc_bloom_prescreen",
    f"""
    WITH base AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, source, {_SHINGLES5_SQL} AS shingles FROM base),
    ex AS (SELECT doc_id, source,
                  {_H60.format(x='unnest(shingles)')} AS s FROM sh),
    eval_sh AS (SELECT DISTINCT s FROM ex WHERE source = 'src0'),
    bits AS (
      SELECT DISTINCT ((s >> (15 * g.i)) % {BLOOM_BITS}) AS p
      FROM eval_sh, generate_series(0, {BLOOM_K - 1}) AS g(i)),
    probe AS (SELECT doc_id, s FROM ex WHERE source <> 'src0'),
    bloom AS (
      SELECT p2.doc_id, p2.s
      FROM (SELECT probe.doc_id, probe.s, count(*) AS nbits
            FROM probe, generate_series(0, {BLOOM_K - 1}) AS g(i)
            JOIN bits
              ON ((probe.s >> (15 * g.i)) % {BLOOM_BITS}) = bits.p
            GROUP BY 1, 2) p2
      WHERE p2.nbits = {BLOOM_K}),
    agg AS (
      SELECT p.doc_id,
             count(*) AS n_shingles,
             count(b.s) AS n_bloom_hits,
             count(e.s) AS n_exact_hits
      FROM probe p
      LEFT JOIN bloom b ON p.doc_id = b.doc_id AND p.s = b.s
      LEFT JOIN eval_sh e ON p.s = e.s
      GROUP BY 1)
    SELECT doc_id, n_shingles, n_bloom_hits, n_exact_hits,
           CAST(n_bloom_hits - n_exact_hits AS BIGINT) AS n_false_pos
    FROM agg ORDER BY doc_id
    """,
)
def doc_bloom_prescreen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-screen for benchmark contamination, checked BIT
    FOR BIT: the eval set's shingle hashes set k=4 positions each in a
    2^15-bit filter (positions are disjoint 15-bit slices of the shared
    60-bit md5 hash — no extra hashing), and every training shingle
    counts as a bloom hit iff all 4 of its positions are set. Exact hits
    surface beside the bloom hits, so the false-positive overhead of the
    screen is itself an output under the gate. The 100 TB story: the
    filter is CONSTANT-SIZE (2^15 candidate positions) no matter how
    large the eval corpus grows, so the pre-screen broadcast never hits
    a size wall — only bloom-positive docs proceed to the exact
    (broadcast-set) verification join that doc_contamination_check
    runs."""
    docs = _docs(spark, sf_dir)
    from meerschaum_spark.catalog import hash60
    toked = docs.select("doc_id", "source",
                        T.tokens(F.col("text")).alias("_toks"))
    ex = toked.select(
        "doc_id", "source",
        F.explode(D.shingles_of_tokens(F.col("_toks"), 5)).alias("_s"),
    ).select("doc_id", "source", hash60(F.col("_s")).alias("s"))
    ex = ex.transform(_pin)
    positions = F.array(*[
        (F.shiftright(F.col("s"), 15 * i) % BLOOM_BITS)
        for i in range(BLOOM_K)])
    eval_sh = (ex.filter(F.col("source") == "src0").select("s").distinct())
    bits = (eval_sh.select(F.explode(positions).alias("p")).distinct())
    probe = ex.filter(F.col("source") != "src0").select("doc_id", "s")
    bloom = (probe
             .select("doc_id", "s", F.explode(positions).alias("p"))
             .join(F.broadcast(bits), on="p", how="left_semi")
             .groupBy("doc_id", "s")
             .agg(F.count(F.lit(1)).alias("nbits"))
             .filter(F.col("nbits") == BLOOM_K)
             .select(F.col("doc_id").alias("b_doc"),
                     F.col("s").alias("bs")))
    exact = eval_sh.select(F.col("s").alias("es"))
    return (
        probe
        .join(bloom, (F.col("doc_id") == F.col("b_doc"))
              & (F.col("s") == F.col("bs")), "left")
        .join(F.broadcast(exact), F.col("s") == F.col("es"), "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"),
             F.count("bs").alias("n_bloom_hits"),
             F.count("es").alias("n_exact_hits"))
        .select("doc_id", "n_shingles", "n_bloom_hits", "n_exact_hits",
                (F.col("n_bloom_hits") - F.col("n_exact_hits"))
                .alias("n_false_pos"))
        .orderBy("doc_id")
    )


# ===========================================================================
# MinHash estimator validation (sketch geometry under the gate)
# ===========================================================================

MINHASH_EST_MIN_BANDS = 2
MINHASH_EST_TOPK = 200
MINHASH_EST_CAND_CAP = 500


@query(
    "doc_minhash_jaccard_est",
    _MINHASH_CTE + f""",
    {_bands_cte_capped()},
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(DISTINCT a.band) AS n_bands
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.source = b.source
           AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(DISTINCT a.band) >= {MINHASH_EST_MIN_BANDS}
      ORDER BY n_bands DESC, doc_a, doc_b LIMIT {MINHASH_EST_CAND_CAP}),
    est AS (
      SELECT c.doc_a, c.doc_b, c.n_bands,
             ({' + '.join(f'CASE WHEN sa.sig_{i} = sb.sig_{i} '
                          'THEN 1 ELSE 0 END' for i in range(_K))})
                 / {_K}.0 AS minhash_est
      FROM cand c
      JOIN sig sa ON c.doc_a = sa.doc_id
      JOIN sig sb ON c.doc_b = sb.doc_id),
    ex AS (
      SELECT e.doc_a, e.doc_b, e.n_bands, e.minhash_est,
             CAST(len(list_intersect(ta.hs, tb.hs)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(ta.hs, tb.hs))) AS DOUBLE)
                 AS exact_jaccard
      FROM est e JOIN t ta ON e.doc_a = ta.doc_id
                 JOIN t tb ON e.doc_b = tb.doc_id)
    SELECT doc_a, doc_b, n_bands, exact_jaccard, minhash_est,
           abs(minhash_est - exact_jaccard) AS abs_err
    FROM ex ORDER BY exact_jaccard DESC, doc_a, doc_b
    LIMIT {MINHASH_EST_TOPK}
    """,
)
def doc_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash sketch's ESTIMATE checked against the exact statistic
    it approximates: for every LSH candidate pair colliding in >= 2 of
    the 4 bands, the component-agreement estimate (matching sig rows /
    K) sits beside the exact distinct-token Jaccard and the absolute
    error — the measured-recall discipline of emb_ann_recall applied to
    the text-dedup sketch. Candidates come from the banded equi-join
    (never all pairs); the exact re-rank joins hashed token SETS only
    for candidate docs. Both the estimate (integer matches / 16.0) and
    the exact ratio (two exact integer counts divided once in double)
    are bit-deterministic."""
    sigs_src = _minhash_sigs(spark, sf_dir)
    sigs = sigs_src.drop("source")
    bands = D.cap_band_buckets(
        D.band_hash_rows(sigs_src, "doc_id", _K, _BANDS,
                         keep_cols=["source"]),
        ["source", "band", "bh"])
    # pin the pair join's parallelism (the lsh_candidate_pairs lesson:
    # the bucket table is byte-tiny, the pair expansion is not — AQE
    # coalesced this join onto ONE task, measured 2.3 s); both aliases
    # reuse the single exchange
    bands = bands.repartition(
        spark.sparkContext.defaultParallelism, "source", "band", "bh")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.source") == F.col("b.source"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.countDistinct(F.col("a.band")).alias("n_bands"))
        .filter(F.col("n_bands") >= MINHASH_EST_MIN_BANDS)
        # explicit candidate cap, strongest-collision-first: the exact
        # re-rank below must stay candidate-proportional at any scale
        .orderBy(F.col("n_bands").desc(), "doc_a", "doc_b")
        .limit(MINHASH_EST_CAND_CAP)
    )
    matches = sum(
        F.when(F.col(f"sa.sig_{i}") == F.col(f"sb.sig_{i}"), 1).otherwise(0)
        for i in range(_K))
    est = (cand
           .join(sigs.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
           .join(sigs.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
           .select("doc_a", "doc_b", "n_bands",
                   (matches / F.lit(float(_K))).alias("minhash_est")))
    from meerschaum_spark.catalog import hash60
    docs = _docs(spark, sf_dir)
    hs = docs.select(
        "doc_id",
        F.transform(F.array_distinct(T.tokens(F.col("text"))),
                    lambda t: hash60(t)).alias("hs"))
    jac = (F.size(F.array_intersect(F.col("ta.hs"), F.col("tb.hs")))
           .cast("double")
           / F.size(F.array_union(F.col("ta.hs"), F.col("tb.hs")))
           .cast("double"))
    return (est
            .join(hs.alias("ta"), F.col("doc_a") == F.col("ta.doc_id"))
            .join(hs.alias("tb"), F.col("doc_b") == F.col("tb.doc_id"))
            .select("doc_a", "doc_b", "n_bands",
                    jac.alias("exact_jaccard"), "minhash_est",
                    F.abs(F.col("minhash_est") - jac).alias("abs_err"))
            .orderBy(F.col("exact_jaccard").desc(), "doc_a", "doc_b")
            .limit(MINHASH_EST_TOPK))


@query(
    "emb_ivf_recall",
    f"""
    WITH ivf AS (
      SELECT query_id, neighbor_id
      FROM ({_ivf_sql(5, 8, "vec_id % 100 = 0")}) a),
    exact AS (
      SELECT query_id, neighbor_id
      FROM ({_cosine_sql(5, "vec_id % 100 = 0")}) e)
    SELECT count(DISTINCT exact.query_id) AS n_queries,
           count(*) AS n_exact_pairs,
           count(ivf.neighbor_id) AS n_hits,
           CAST(count(ivf.neighbor_id) AS DOUBLE) / count(*) AS recall_at_5
    FROM exact LEFT JOIN ivf USING (query_id, neighbor_id)
    """,
)
def emb_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF (nprobe=1) path against exact brute force —
    the companion measurement to emb_ann_recall, so BOTH approximate
    index layouts carry a gated accuracy number, not a claim. Integer
    hit counts; the single float op is the final division."""
    emb = _emb(spark, sf_dir)
    centroids = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 8)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = S.cosine_topk(emb, queries, k=5) \
        .select("query_id", "neighbor_id")
    ivf = (S.ivf_topk(emb, queries, centroids, k=5)
           .select("query_id", "neighbor_id")
           .withColumn("_hit", F.lit(1)))
    return (
        exact.join(ivf, on=["query_id", "neighbor_id"], how="left")
        .agg(F.countDistinct("query_id").alias("n_queries"),
             F.count(F.lit(1)).alias("n_exact_pairs"),
             F.count("_hit").alias("n_hits"),
             (F.count("_hit").cast("double")
              / F.count(F.lit(1))).alias("recall_at_5"))
    )


# ===========================================================================
# Bigram language-model scoring (CCNet-style perplexity-proxy filter)
# ===========================================================================

LM_FP = 10_000


#: the Laplace-smoothed self-trained bigram LM's per-doc score frame,
#: shared (verbatim) by doc_bigram_lm_score and doc_quality_bucket_mix
_BIGRAM_SCORED_SQL = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    v AS (SELECT count(DISTINCT tok) AS vsize
          FROM (SELECT unnest(toks) AS tok FROM t)),
    bg AS (
      SELECT doc_id,
             {_H60.format(x="pair")} AS bgh,
             {_H60.format(x="w1")} AS w1h
      FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                      i -> toks[i] || ' ' || toks[i + 1])) AS pair,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                      i -> toks[i])) AS w1
        FROM t WHERE len(toks) >= 2)),
    c2 AS (SELECT bgh, w1h, count(*) AS n2 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1h, count(*) AS n1 FROM bg GROUP BY 1),
    w AS (
      SELECT c2.bgh, c2.w1h,
             CAST(floor(ln(CAST(c2.n2 + 1 AS DOUBLE)
                           / CAST(c1.n1 + v.vsize AS DOUBLE))
                        * {LM_FP}.0 + 0.5) AS BIGINT) AS w_int
      FROM c2 JOIN c1 ON c2.w1h = c1.w1h, v),
    ds AS (
      SELECT bg.doc_id, count(*) AS n_bigrams,
             CAST(sum(w.w_int) AS BIGINT) AS s
      FROM bg JOIN w ON bg.bgh = w.bgh AND bg.w1h = w.w1h
      GROUP BY 1),
    scored AS MATERIALIZED (
      SELECT doc_id, n_bigrams,
             -(CAST(s AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) / {LM_FP}.0
                 AS neg_avg_logp
      FROM ds)"""


@query(
    "doc_bigram_lm_score",
    f"""{_BIGRAM_SCORED_SQL},
    th AS (SELECT quantile_cont(neg_avg_logp, 0.9) AS q90 FROM scored)
    SELECT doc_id, n_bigrams, neg_avg_logp,
           neg_avg_logp >= th.q90 AS flagged_noisy
    FROM scored, th ORDER BY doc_id
    """,
)
def doc_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality scoring without the external
    LM: a Laplace-smoothed bigram model TRAINED ON THE CORPUS ITSELF
    scores every document's average negative log-probability, and the
    noisiest decile is flagged — the perplexity-bucketing filter of the
    CCNet pipeline with the model's counts fully inside the engine.
    Same determinism contract (and the same residual ln() trust point,
    see doc_dsir_weights) as the DSIR operator: exact-integer ratios
    divided once in double, log-weights quantized to 1e-4 fixed point,
    per-doc scores summing exact integers.
    Scale shape (r7 rework): the raw exploded bigram stream is hash-
    aggregated to per-(doc, bigram) counts BEFORE the lambda-CSE
    checkpoint barrier, so the materialized frame shrinks by the
    within-doc repeat factor and — the bigger win — its size no longer
    tracks raw token volume. Corpus bigram counts roll up from the
    doc-level table (map-side combinable), context counts roll up from
    the bigram counts (c1 = Σ c2 over w1h — no second full-data pass),
    and the weight join-back multiplies by the per-doc count. Hashes are
    60-bit longs on the wire, never strings."""
    scored = _lm_scored(spark, sf_dir)
    th = scored.agg(F.expr("percentile(neg_avg_logp, 0.9)").alias("q90"))
    return (scored.crossJoin(F.broadcast(th))
            .select("doc_id", "n_bigrams", "neg_avg_logp",
                    (F.col("neg_avg_logp") >= F.col("q90"))
                    .alias("flagged_noisy"))
            .orderBy("doc_id"))


def _lm_scored_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bigram-LM per-doc score frame (doc_id, n_bigrams,
    neg_avg_logp) — the exact expression chain the r7 LM query has
    always computed, factored out so the quality-bucket mixture shares
    it via the session cache."""
    docs = _docs(spark, sf_dir)
    from meerschaum_spark.catalog import hash60
    toked = docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    vsize = (toked.select(F.explode("toks").alias("tok"))
             .agg(F.countDistinct("tok").alias("vsize")))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat_ws(" ", F.element_at("toks", i),
                              F.element_at("toks", i + 1)))
    firsts = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.element_at("toks", i))
    bgd = (toked.filter(F.size("toks") >= 2)
           .select("doc_id", F.explode(F.arrays_zip(
               pairs.alias("pair"), firsts.alias("w1"))).alias("z"))
           .select("doc_id", hash60(F.col("z.pair")).alias("bgh"),
                   hash60(F.col("z.w1")).alias("w1h"))
           .groupBy("doc_id", "bgh", "w1h")
           .agg(F.count(F.lit(1)).alias("n"))
           .transform(_pin))
    c2 = bgd.groupBy("bgh", "w1h").agg(F.sum("n").alias("n2"))
    c1 = c2.groupBy("w1h").agg(F.sum("n2").alias("n1"))
    w = (c2.join(c1.withColumnRenamed("w1h", "_c1w"),
                 F.col("w1h") == F.col("_c1w"))
         .crossJoin(F.broadcast(vsize))
         .select("bgh", "w1h",
                 F.floor(F.log((F.col("n2") + 1).cast("double")
                               / (F.col("n1") + F.col("vsize"))
                               .cast("double"))
                         * F.lit(float(LM_FP)) + F.lit(0.5))
                 .cast("long").alias("w_int")))
    ds = (bgd.join(w, on=["bgh", "w1h"])
          .groupBy("doc_id")
          .agg(F.sum("n").cast("long").alias("n_bigrams"),
               F.sum(F.col("w_int") * F.col("n")).alias("s")))
    return ds.select(
        "doc_id", "n_bigrams",
        (-(F.col("s").cast("double") / F.col("n_bigrams").cast("double"))
         / F.lit(float(LM_FP))).alias("neg_avg_logp"))


def _lm_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached bigram-LM score frame (the `_cached_sigs`
    mechanism — one corpus pass shared by the LM score query and the
    quality-bucket mixture)."""
    return _cached_sigs("lm_scored", spark, sf_dir,
                        lambda: _lm_scored_build(spark, sf_dir))


_QB_WEIGHTS_X10 = [16, 13, 10, 7, 4]  # bucket 0 (best) ... 4 (worst)

_QB_CASE = ("CASE bucket WHEN 0 THEN 16 WHEN 1 THEN 13 WHEN 2 THEN 10 "
            "WHEN 3 THEN 7 ELSE 4 END")


@query(
    "doc_quality_bucket_mix",
    f"""{_BIGRAM_SCORED_SQL},
    qs AS (SELECT quantile_cont(neg_avg_logp, 0.2) AS q20,
                  quantile_cont(neg_avg_logp, 0.4) AS q40,
                  quantile_cont(neg_avg_logp, 0.6) AS q60,
                  quantile_cont(neg_avg_logp, 0.8) AS q80 FROM scored),
    b AS (
      SELECT doc_id, n_bigrams + 1 AS n_tokens,
             (CASE WHEN neg_avg_logp >= qs.q20 THEN 1 ELSE 0 END
            + CASE WHEN neg_avg_logp >= qs.q40 THEN 1 ELSE 0 END
            + CASE WHEN neg_avg_logp >= qs.q60 THEN 1 ELSE 0 END
            + CASE WHEN neg_avg_logp >= qs.q80 THEN 1 ELSE 0 END) AS bucket
      FROM scored, qs),
    agg AS (
      SELECT bucket, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM b GROUP BY bucket),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM agg)
    SELECT bucket,
           CAST({_QB_CASE} AS BIGINT) AS weight_x10,
           n_docs, n_tokens,
           CAST(n_tokens * ({_QB_CASE}) AS BIGINT) AS effective_tokens_x10,
           CAST(n_tokens AS DOUBLE) / CAST(tot.tot_tokens AS DOUBLE)
             AS token_share
    FROM agg, tot ORDER BY bucket
    """,
)
def doc_quality_bucket_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-bucketed data mixing (the DCLM/quality-curriculum
    operator): documents split into LM-score quintiles (bucket 0 = most
    fluent), each bucket weighted by a fixed oversampling factor
    (x1.6 best ... x0.4 worst, exact x10 integers), emitting the
    per-bucket document/token counts, effective post-mix tokens, and
    token share — the report that decides how much of each quality tier
    a training run actually consumes.

    Plan shape: the LM score frame is the session-cached corpus pass
    shared with doc_bigram_lm_score; the quintile thresholds are ONE
    single-row percentile aggregate broadcast back; bucketing is a
    narrow projection and the mixture is a 5-group hash agg. Outputs
    are exact integers except the one token_share division."""
    scored = _lm_scored(spark, sf_dir)
    qs = scored.agg(*[
        F.expr(f"percentile(neg_avg_logp, {p})").alias(f"q{int(p*100)}")
        for p in (0.2, 0.4, 0.6, 0.8)])
    bucket = sum(
        (F.col("neg_avg_logp") >= F.col(f"q{q}")).cast("int")
        for q in (20, 40, 60, 80))
    b = (scored.crossJoin(F.broadcast(qs))
         .select((F.col("n_bigrams") + 1).alias("n_tokens"),
                 bucket.alias("bucket")))
    agg = (b.groupBy("bucket")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("n_tokens")))
    tot = agg.agg(F.sum("n_tokens").cast("long").alias("tot_tokens"))
    weight = (F.when(F.col("bucket") == 0, 16)
              .when(F.col("bucket") == 1, 13)
              .when(F.col("bucket") == 2, 10)
              .when(F.col("bucket") == 3, 7)
              .otherwise(4)).cast("long")
    return (agg.crossJoin(F.broadcast(tot))
            .select("bucket",
                    weight.alias("weight_x10"),
                    "n_docs", "n_tokens",
                    (F.col("n_tokens") * weight).cast("long")
                    .alias("effective_tokens_x10"),
                    (F.col("n_tokens").cast("double")
                     / F.col("tot_tokens").cast("double"))
                    .alias("token_share"))
            .orderBy("bucket"))


# ===========================================================================
# Product quantization (FAISS-style PQ codes + reconstruction error)
# ===========================================================================

PQ_SUBSPACES = 2
PQ_CODEBOOK = 16
PQ_SUBDIM = 32  # 64-dim embeddings / 2 subspaces

_PQ_SUBDIST = """list_reduce(list_transform(generate_series(1, {d}), i ->
        (CAST(e.embedding[{off} + i] AS DOUBLE)
           - CAST(c.embedding[{off} + i] AS DOUBLE))
      * (CAST(e.embedding[{off} + i] AS DOUBLE)
           - CAST(c.embedding[{off} + i] AS DOUBLE))),
      (a, b) -> a + b)"""


def _pq_assign_sql(m: int) -> str:
    dist = _PQ_SUBDIST.format(d=PQ_SUBDIM, off=m * PQ_SUBDIM)
    return f"""
      SELECT vec_id, cid AS code{m}, dist AS err{m} FROM (
        SELECT e.vec_id, c.vec_id AS cid, {dist} AS dist,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dist} ASC, c.vec_id ASC) AS rn
        FROM embeddings e,
             (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id < {PQ_CODEBOOK}) c
      ) WHERE rn = 1"""


@query(
    "emb_pq_codes",
    f"""
    WITH a0 AS ({_pq_assign_sql(0)}),
    a1 AS ({_pq_assign_sql(1)})
    SELECT a0.vec_id, a0.code0, a1.code1,
           a0.err0 + a1.err1 AS recon_err
    FROM a0 JOIN a1 ON a0.vec_id = a1.vec_id
    ORDER BY a0.vec_id
    """,
)
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (the FAISS IVFPQ compression layer): the
    64-dim embedding splits into 2 subspaces of 32 dims, each encoded
    as its nearest of 16 seeded codebook entries (vec_id < 16 halves —
    the same seeded-centroid convention as emb_ivf_topk/emb_kmeans),
    with the summed squared reconstruction error beside the codes —
    8 bits replace 256 float bytes, accuracy measured not claimed.

    Scale shape: the codebook collects to the driver (2x16x32 floats)
    and assignment is a SHUFFLE-FREE literal-array projection per row —
    the r4 IVF pattern; nothing joins, nothing re-distributes. Distance
    folds are sequential per element (F.aggregate == list_reduce), ties
    break on the lower code deterministically in both engines."""
    emb = _emb(spark, sf_dir)
    cents = (load_table(spark, sf_dir, "embeddings")
             .filter(F.col("vec_id") < PQ_CODEBOOK)
             .orderBy("vec_id").collect())
    out_cols = [F.col("vec_id")]
    errs = []
    for m in range(PQ_SUBSPACES):
        half = F.slice(F.col("embedding"), m * PQ_SUBDIM + 1, PQ_SUBDIM)
        dists = F.array(*[
            F.aggregate(
                F.zip_with(
                    half,
                    F.array(*[F.lit(float(v))
                              for v in r.embedding[m * PQ_SUBDIM:
                                                   (m + 1) * PQ_SUBDIM]]),
                    lambda a, b: (a.cast("double") - b)
                    * (a.cast("double") - b)),
                F.lit(0.0), lambda acc, x: acc + x)
            for r in cents])
        best = F.array_min(dists)
        # array_position returns the FIRST bit-equal match (1-based) —
        # the same smallest-code tie-break as the oracle's row_number
        code = (F.array_position(dists, best) - 1).cast("long")
        out_cols.append(code.alias(f"code{m}"))
        errs.append(best)
    out_cols.append((errs[0] + errs[1]).alias("recon_err"))
    return emb.select(*out_cols).orderBy("vec_id")


@query(
    "doc_lang_id_accuracy",
    f"""
    WITH t AS (SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents),
    r AS (
      SELECT doc_id, lang,
             {_hits_sql(T.STOPWORDS['en'])} AS hits_en,
             {_hits_sql(T.STOPWORDS['de'])} AS hits_de,
             {_hits_sql(T.STOPWORDS['es'])} AS hits_es,
             {_hits_sql(T.STOPWORDS['fr'])} AS hits_fr,
             CAST(length(text) - length(regexp_replace(text,
                  '[^\\x00-\\x7F]', '', 'g')) AS DOUBLE) / length(text)
                 AS non_ascii_ratio
      FROM t),
    pred AS (
      SELECT doc_id, lang,
             CASE WHEN non_ascii_ratio > 0.3 THEN 'zh'
                  WHEN hits_en >= hits_de AND hits_en >= hits_es
                       AND hits_en >= hits_fr THEN 'en'
                  WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
                  WHEN hits_es >= hits_fr THEN 'es'
                  ELSE 'fr' END AS pred_lang
      FROM r)
    SELECT lang, pred_lang, count(*) AS n,
           CAST(sum(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct
    FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def doc_lang_id_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The language-ID heuristic graded against the corpus's OWN labels:
    the full confusion matrix (true lang x predicted lang with counts),
    the same measure-don't-guess discipline as emb_ann_recall /
    doc_minhash_jaccard_est applied to the text classifier. One scan,
    one small shuffle on the (lang, pred) pair."""
    docs = _docs(spark, sf_dir)
    pred = T.lang_id(docs).select("doc_id", "pred_lang")
    return (
        docs.select("doc_id", "lang").join(pred, on="doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.when(F.col("lang") == F.col("pred_lang"), 1)
                   .otherwise(0)).alias("n_correct"))
        .orderBy("lang", "pred_lang")
    )


# ===========================================================================
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS core)
# ===========================================================================

WINNOW_K = 5    # k-gram length (tokens)
WINNOW_W = 8    # winnowing window (guarantees matches >= w+k-1 tokens)
WINNOW_MAX_DF = 50
WINNOW_TOPK = 20

_WIN_GRAMS = (
    f"CASE WHEN len(toks) >= {WINNOW_K} THEN list_transform("
    f"generate_series(1, len(toks) - {WINNOW_K - 1}), "
    f"i -> {{h}}) ELSE [] END"
).format(h=_H60.format(x=f"array_to_string(toks[i:i+{WINNOW_K - 1}], ' ')"))


def _winnow_grams_expr(toks):
    """5-token k-gram hash array (shared winnowing geometry)."""
    from meerschaum_spark.catalog import hash60
    return F.when(
        F.size(toks) >= WINNOW_K,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(WINNOW_K - 1)),
            lambda i: hash60(F.array_join(
                F.slice(toks, i, WINNOW_K), " "))),
    ).otherwise(F.array().cast("array<long>"))


def _winnow_fps_expr(hs):
    """Window-minimum selection over a gram-hash array column."""
    return F.when(
        F.size(hs) >= WINNOW_W,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.size(hs) - F.lit(WINNOW_W - 1)),
            lambda i: F.array_min(F.slice(hs, i, WINNOW_W)))),
    ).otherwise(F.array_distinct(hs))


def _winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached exploded (doc_id, f) winnowing fingerprints —
    shared by the pairs operator and the cascade report. The inner gram
    table checkpoints first (the stacked-transform CollapseProject trap:
    collapsed into one plan, the gram transform re-evaluates inside the
    winnow transform's element loop — measured 50x slower)."""
    def build():
        docs = _docs(spark, sf_dir)
        g = (docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
             .select("doc_id", _winnow_grams_expr(F.col("toks"))
                     .alias("hs"))).transform(_pin)
        return (g.select("doc_id", _winnow_fps_expr(F.col("hs"))
                         .alias("fps"))
                .select("doc_id", F.explode("fps").alias("f")))
    return _cached_sigs("winnow_fps", spark, sf_dir, build)


@query(
    "doc_winnowing_pairs",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, {_WIN_GRAMS} AS hs FROM t),
    fp AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= {WINNOW_W}
                  THEN list_distinct(list_transform(
                    generate_series(1, len(hs) - {WINNOW_W - 1}),
                    i -> list_min(hs[i:i+{WINNOW_W - 1}])))
                  ELSE list_distinct(hs) END AS fps
      FROM g),
    ex AS (SELECT doc_id, unnest(fps) AS f FROM fp),
    dfreq AS (SELECT f, count(*) AS fdf FROM ex GROUP BY f),
    keepf AS (SELECT ex.doc_id, ex.f FROM ex
              JOIN dfreq ON ex.f = dfreq.f
              WHERE dfreq.fdf BETWEEN 2 AND {WINNOW_MAX_DF}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS n_shared_fps
      FROM keepf a JOIN keepf b
        ON a.f = b.f AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_shared_fps
    FROM pairs ORDER BY n_shared_fps DESC, doc_a, doc_b
    LIMIT {WINNOW_TOPK}
    """,
)
def doc_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS plagiarism-detection core): hash every 5-token
    k-gram, then keep only each 8-window's MINIMUM hash. The selection
    guarantees any verbatim run of >= w+k-1 (=12) tokens shares a
    fingerprint, at ~2/(w+1) the density of the full k-gram set — the
    principled sparsification that doc_substring_dup_pairs' dense
    window table doesn't have, so at corpus scale the fingerprint
    explode carries ~22% of the rows for the same detection floor.
    Fingerprints then pair exactly like the substring operator:
    DF-capped equi-join, never all-pairs. The window minimum is an
    integer min over md5-derived hashes — bit-deterministic in both
    engines."""
    ex = _winnow_fingerprints(spark, sf_dir)
    dfreq = (ex.groupBy("f").agg(F.count(F.lit(1)).alias("fdf"))
             .filter(F.col("fdf").between(2, WINNOW_MAX_DF)))
    keepf = ex.join(dfreq.select("f"), on="f", how="left_semi")
    a, b = keepf.alias("a"), keepf.alias("b")
    return (
        a.join(b, (F.col("a.f") == F.col("b.f"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .orderBy(F.col("n_shared_fps").desc(), "doc_a", "doc_b")
        .limit(WINNOW_TOPK)
    )


# ===========================================================================
# Cluster-balanced sampling (embedding-space-balanced curation subset)
# ===========================================================================

CELL_SAMPLE_CAP = 32
# exact-decimal squared distance, mirroring S.assign_ivf_cells /
# _sqdist_dec (the _ivf_sql convention): a double fold here would rank
# near-equidistant centroids differently than the Spark side and flake
# the gate on an unlucky corpus
_CELL_DIFF = "(" + _EL.replace("{v}", "e.embedding") + " - "     + _EL.replace("{v}", "c.embedding") + ")"
_CELL_DIST = (f"list_sum(list_transform(generate_series(1, "
              f"len(e.embedding)), i -> {_CELL_DIFF} * {_CELL_DIFF}))")


@query(
    "emb_cell_balanced_sample",
    f"""
    WITH assigned AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.vec_id AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_CELL_DIST} ASC, c.vec_id ASC)
                   AS rn
        FROM embeddings e,
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) c
      ) WHERE rn = 1),
    sized AS (
      SELECT vec_id, cell, count(*) OVER (PARTITION BY cell) AS cell_size,
             row_number() OVER (PARTITION BY cell ORDER BY
               {_H60.format(x="CAST(vec_id AS VARCHAR)")}, vec_id)
                 AS kept_rank
      FROM assigned)
    SELECT vec_id, cell, CAST(cell_size AS BIGINT) AS cell_size, kept_rank
    FROM sized WHERE kept_rank <= {CELL_SAMPLE_CAP}
    ORDER BY vec_id
    """,
)
def emb_cell_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced curation sampling (the SemDeDup-pipeline
    companion: after dedup, BALANCE the kept set across embedding-space
    regions instead of letting dense regions dominate): every vector
    assigns to its nearest seeded coarse centroid (the shared
    shuffle-free IVF assignment) and each cell keeps at most 32 vectors
    in deterministic hash order — an unbiased within-cell draw both
    engines reproduce bit-for-bit. Output is bounded by cells x cap
    regardless of corpus size; the only shuffle is the per-cell rank."""
    from meerschaum_spark.catalog import hash60
    emb = _emb(spark, sf_dir)
    centroids = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 8)
    assigned = S.assign_ivf_cells(emb, centroids).select("vec_id", "cell")
    wsize = Window.partitionBy("cell")
    wrank = Window.partitionBy("cell").orderBy(
        hash60(F.col("vec_id").cast("string")), "vec_id")
    return (assigned
            .withColumn("cell_size", F.count(F.lit(1)).over(wsize))
            .withColumn("kept_rank", F.row_number().over(wrank))
            .filter(F.col("kept_rank") <= CELL_SAMPLE_CAP)
            .select("vec_id", "cell",
                    F.col("cell_size").cast("long").alias("cell_size"),
                    "kept_rank")
            .orderBy("vec_id"))


# ===========================================================================
# Johnson-Lindenstrauss projection with measured distortion
# ===========================================================================

JL_K = 16   # target dims (from 64)
JL_D = 64


def _jl_signs() -> list[list[int]]:
    """Deterministic Rademacher (+-1) projection matrix derived from md5
    at import time — ONE Python-computed constant inlined into BOTH
    engines' plans, so no cross-engine hash evaluation is involved."""
    import hashlib
    rows = []
    for r in range(JL_K):
        row = []
        for i in range(JL_D):
            h = hashlib.md5(f"jl:{r}:{i}".encode()).hexdigest()
            row.append(1 if int(h[0], 16) & 1 else -1)
        rows.append(row)
    return rows


_JL_SIGNS = _jl_signs()
_JL_DIFF = ("list_transform(generate_series(1, len(a.embedding)), i -> "
            + _EL.replace("{v}", "a.embedding") + " - "
            + _EL.replace("{v}", "b.embedding") + ")")
# square at bounded scale: p_r carries scale 9 (padded to 18 by the
# accumulator) — cast to DECIMAL(18,9) first so the square is (37,18),
# exact under BOTH engines' 38-digit cap (squaring the raw (30,18)
# accumulator overflows and rounds differently per engine)
_JL_PROJ_SQ = " + ".join(
    "(CAST(p{r} AS DECIMAL(18,9)) * CAST(p{r} AS DECIMAL(18,9)))"
    .format(r=r) for r in range(JL_K))
_JL_PROJS = ",\n             ".join(
    "list_sum(list_transform(generate_series(1, {d}), i -> dv[i] * "
    "({signs}[i])::DECIMAL(2,0))) AS p{r}".format(
        d=JL_D, signs=_JL_SIGNS[r], r=r)
    for r in range(JL_K))


@query(
    "emb_jl_distortion",
    f"""
    WITH pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_JL_DIFF} AS dv
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id % 50 = 0),
    proj AS (
      SELECT vec_a, vec_b,
             list_sum(list_transform(dv, d -> d * d)) AS orig_sq_dec,
             {_JL_PROJS}
      FROM pairs)
    SELECT vec_a, vec_b,
           CAST(CAST(orig_sq_dec AS VARCHAR) AS DOUBLE) AS orig_sq,
           CAST(CAST(({_JL_PROJ_SQ}) AS VARCHAR) AS DOUBLE) / {JL_K}.0
               AS proj_sq_scaled,
           (CAST(CAST(({_JL_PROJ_SQ}) AS VARCHAR) AS DOUBLE) / {JL_K}.0)
             / CAST(CAST(orig_sq_dec AS VARCHAR) AS DOUBLE) AS distortion
    FROM proj ORDER BY vec_a
    """,
)
def emb_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (64 -> 16 dims via a
    deterministic Rademacher sign matrix) with its distortion MEASURED
    on sampled neighbor pairs: |P(a-b)|^2/k against |a-b|^2 — the JL
    lemma says the ratio concentrates near 1, and the gate pins the
    actual numbers. The sign matrix is one Python-computed constant
    inlined into both engines; every dot/square accumulates exact
    decimal (signs are +-1, so products stay exact) and only the final
    two ratios run in double. At corpus scale the projection is a
    narrow per-row expression — no shuffle, the 16x64 matrix lives in
    the plan itself."""
    emb = _emb(spark, sf_dir)
    a = emb.select(F.col("vec_id").alias("vec_a"),
                   F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"),
                   F.col("embedding").alias("vb"))
    pairs = (a.filter(F.col("vec_a") % 50 == 0)
             .join(b, F.col("vec_b") == F.col("vec_a") + 1))
    dv = F.zip_with("va", "vb",
                    lambda x, y: x.cast(S.VDEC) - y.cast(S.VDEC))
    pairs = pairs.select("vec_a", "vec_b", dv.alias("dv")).transform(_pin)
    orig_sq = F.aggregate(
        F.transform("dv", lambda d: d * d),
        F.lit(0).cast(S.ACC), lambda acc, x: (acc + x).cast(S.ACC))
    # sign arrays as SQL text — the Column-API form cost 16×64 F.lit
    # py4j round trips (~2.5 s of pure plan-build time, measured r13);
    # the parsed expression tree (and therefore every value) is
    # identical
    projs = [
        F.expr(
            "aggregate(zip_with(dv, array("
            + ",".join(f"CAST({s} AS DECIMAL(2,0))"
                       for s in _JL_SIGNS[r])
            + f"), (d, s) -> d * s), CAST(0 AS {S.ACC}), "
            f"(acc, x) -> CAST(acc + x AS {S.ACC}))"
        ).alias(f"p{r}")
        for r in range(JL_K)
    ]
    proj = pairs.select("vec_a", "vec_b", orig_sq.alias("orig_sq_dec"),
                        *projs)
    # fixed-type fold, NOT chained '+': Spark's decimal-addition type
    # rule grows precision by one per add and past 38 digits it sheds
    # SCALE, silently rounding the sum; the aggregate re-casts the
    # accumulator every step so the type never drifts (the _sqdist_dec
    # discipline)
    squares = F.array(*[
        (F.col(f"p{r}").cast("decimal(18,9)")
         * F.col(f"p{r}").cast("decimal(18,9)")).cast("decimal(38,18)")
        for r in range(JL_K)])
    proj_sq = F.aggregate(squares, F.lit(0).cast("decimal(38,18)"),
                          lambda acc, x: (acc + x).cast("decimal(38,18)"))
    return (proj.select(
                "vec_a", "vec_b",
                F.col("orig_sq_dec").cast("double").alias("orig_sq"),
                (proj_sq.cast("double") / F.lit(float(JL_K)))
                .alias("proj_sq_scaled"),
                ((proj_sq.cast("double") / F.lit(float(JL_K)))
                 / F.col("orig_sq_dec").cast("double")).alias("distortion"))
            .orderBy("vec_a"))


# ===========================================================================
# Dedup cascade report: every dedup method's reach, side by side
# ===========================================================================

_CASCADE_TAIL = f""",
    flagged_near AS (SELECT DISTINCT u AS doc_id FROM reach),
    tot AS (SELECT count(*) AS n FROM documents),
    ex_h AS (SELECT md5(text) AS h FROM documents),
    n_exact AS (
      SELECT COALESCE(CAST(sum(c) AS BIGINT), 0) AS n FROM (
        SELECT count(*) AS c FROM ex_h GROUP BY h HAVING count(*) >= 2)),
    fp_h AS (SELECT {_FP_SQL} AS h FROM documents),
    n_fp AS (
      SELECT COALESCE(CAST(sum(c) AS BIGINT), 0) AS n FROM (
        SELECT count(*) AS c FROM fp_h GROUP BY h HAVING count(*) >= 2)),
    n_near AS (SELECT count(*) AS n FROM flagged_near),
    sub_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sub_w AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= {SUBSTR_WINDOW}
                  THEN list_distinct(list_transform(
                    generate_series(1, len(toks) - {SUBSTR_WINDOW - 1}),
                    i -> {_H60.format(
                        x=f"array_to_string(toks[i:i+{SUBSTR_WINDOW - 1}], ' ')")}))
                  ELSE [] END AS whs
      FROM sub_t),
    sub_ex AS (SELECT doc_id, unnest(whs) AS wh FROM sub_w),
    sub_keep AS (
      SELECT wh FROM sub_ex GROUP BY wh
      HAVING count(*) BETWEEN 2 AND {SUBSTR_MAX_DF}),
    n_sub AS (
      SELECT count(DISTINCT sub_ex.doc_id) AS n
      FROM sub_ex JOIN sub_keep ON sub_ex.wh = sub_keep.wh),
    win_g AS (SELECT doc_id, {_WIN_GRAMS} AS hs FROM sub_t),
    win_fp AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= {WINNOW_W}
                  THEN list_distinct(list_transform(
                    generate_series(1, len(hs) - {WINNOW_W - 1}),
                    i -> list_min(hs[i:i+{WINNOW_W - 1}])))
                  ELSE list_distinct(hs) END AS fps
      FROM win_g),
    win_ex AS (SELECT doc_id, unnest(fps) AS f FROM win_fp),
    win_keep AS (
      SELECT f FROM win_ex GROUP BY f
      HAVING count(*) BETWEEN 2 AND {WINNOW_MAX_DF}),
    n_win AS (
      SELECT count(DISTINCT win_ex.doc_id) AS n
      FROM win_ex JOIN win_keep ON win_ex.f = win_keep.f)
    SELECT method, n_flagged,
           CAST(n_flagged AS DOUBLE) / CAST(tot.n AS DOUBLE) AS frac_flagged
    FROM (
      SELECT 'exact' AS method, n_exact.n AS n_flagged FROM n_exact
      UNION ALL SELECT 'fingerprint', n_fp.n FROM n_fp
      UNION ALL SELECT 'near_dup_cluster', n_near.n FROM n_near
      UNION ALL SELECT 'substring_window', n_sub.n FROM n_sub
      UNION ALL SELECT 'winnowing', n_win.n FROM n_win
    ) m, tot ORDER BY method
"""


@query(
    "doc_dedup_cascade_report",
    _CLUSTERS_SQL.replace(
        _CLUSTERS_FINAL_SELECT,
        _CASCADE_TAIL),
)
def doc_dedup_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup arsenal's comparative reach in ONE gated report: for
    each method — exact text hash, normalized fingerprint, fused
    MinHash/LSH/Jaccard/CC near-dup clusters, 16-token substring
    windows, winnowing fingerprints — the count and fraction of
    documents it flags as duplicate-implicated. This is the cascade a
    curation team actually evaluates before choosing its dedup budget;
    every number shares the geometry constants (window sizes, DF caps,
    K/bands) of its standalone operator, so the report can never drift
    from the operators it summarizes. Session-cached tables (spread
    docs, cluster labels) make the marginal cost two window passes."""
    from meerschaum_spark.catalog import hash60
    docs = _docs(spark, sf_dir)

    # every method folds to a ONE-ROW aggregate frame; a union of the
    # five + a broadcast of the one-row total makes the whole report a
    # single lazy plan — one job at action time, no driver-side count
    # loop (was five sequential .count() actions)
    def _dup_frame(label: str, hash_col) -> DataFrame:
        return (docs.select(hash_col.alias("h"))
                .groupBy("h").agg(F.count(F.lit(1)).alias("c"))
                .filter(F.col("c") >= 2)
                .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long")
                     .alias("n_flagged"))
                .select(F.lit(label).alias("method"), "n_flagged"))

    def _flag_frame(label: str, ex: DataFrame, key: str,
                    cap: int) -> DataFrame:
        keep = (ex.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
                .filter(F.col("c").between(2, cap)).select(key))
        return (ex.join(keep, on=key, how="left_semi")
                .agg(F.count_distinct("doc_id").cast("long")
                     .alias("n_flagged"))
                .select(F.lit(label).alias("method"), "n_flagged"))

    # the SAME session-cached tables the standalone operators consume —
    # shared definition AND shared materialization, so the report can
    # neither drift from nor re-pay for the operators it summarizes
    parts = [
        _dup_frame("exact", F.md5(F.col("text"))),
        _dup_frame("fingerprint", hash60(T.norm_text(F.col("text")))),
        (_near_dup_clusters(spark, sf_dir)
         .agg(F.count_distinct("doc_id").cast("long").alias("n_flagged"))
         .select(F.lit("near_dup_cluster").alias("method"), "n_flagged")),
        _flag_frame("substring_window", _substr_windows(spark, sf_dir),
                    "wh", SUBSTR_MAX_DF),
        _flag_frame("winnowing", _winnow_fingerprints(spark, sf_dir),
                    "f", WINNOW_MAX_DF),
    ]
    report = parts[0]
    for p in parts[1:]:
        report = report.unionByName(p)
    total = docs.agg(F.count(F.lit(1)).cast("double").alias("_n_total"))
    return (report.crossJoin(F.broadcast(total))
            .select("method", "n_flagged",
                    (F.col("n_flagged").cast("double")
                     / F.col("_n_total")).alias("frac_flagged"))
            .orderBy("method"))


@query(
    "doc_bpe_pair_counts",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents),
    p AS (
      SELECT t.doc_id, u.pr[1] || ' ' || u.pr[2] AS pair
      FROM t, UNNEST(list_zip(t.toks[1:-2], t.toks[2:])) AS u(pr)
      WHERE len(t.toks) >= 2)
    SELECT pair,
           count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS doc_freq
    FROM p GROUP BY pair
    ORDER BY n_occurrences DESC, pair LIMIT 40
    """,
)
def doc_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge round at corpus scale: adjacent-token pair
    frequencies (the statistic a byte-pair-encoding trainer maximizes
    each iteration — Sennrich et al. 2016). zip_with over two slices of
    the token array builds the pair list JVM-side, explode + one hash
    aggregation with map-side combine counts it, and a 40-row top-k
    comes back. 100 TB shape: no shuffle carries raw text — only
    (pair, partial count) pairs move, exactly how a distributed BPE
    trainer's count step runs per merge."""
    docs = _docs(spark, sf_dir)
    t = (docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
         .filter(F.size("toks") >= 2))
    pairs = t.select(
        "doc_id",
        F.explode(F.expr(
            "zip_with(slice(toks, 1, size(toks) - 1),"
            "         slice(toks, 2, size(toks) - 1),"
            "         (a, b) -> concat(a, ' ', b))")).alias("pair"))
    return (pairs.groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.count_distinct("doc_id").alias("doc_freq"))
            .orderBy(F.col("n_occurrences").desc(), "pair")
            .limit(40))


@query(
    "doc_domain_caps",
    """
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY length(text) DESC, doc_id) AS rnk,
             count(*) OVER (PARTITION BY source) AS n_source_docs
      FROM documents)
    SELECT doc_id, source,
           CAST(rnk AS BIGINT) AS rnk,
           CAST(n_source_docs AS BIGINT) AS n_source_docs
    FROM ranked WHERE rnk <= 50 ORDER BY doc_id
    """,
)
def doc_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document caps — the Common-Crawl-style curation rule
    "keep at most K docs per source, preferring the longest"
    (deterministic tie-break on doc_id).

    Skew-proof two-phase top-K via the shared ``salted_top_k`` helper
    (functions/skew.py): a SALTED local rank first caps every
    (source, salt) slice at K, so the global per-source rank sorts at
    most K x 32 rows per domain — a domain holding half the corpus (the
    realistic web-crawl skew case) never lands in one window partition.
    The exact per-source totals come from a separate map-side-combined
    count aggregate, broadcast back onto the K winners."""
    from meerschaum_spark.functions.skew import salted_top_k
    docs = _docs(spark, sf_dir)
    k = 50
    ranked = salted_top_k(
        docs.select("doc_id", "source", F.length("text").alias("_len")),
        keys=["source"],
        order_cols=[F.col("_len").desc(), F.col("doc_id")],
        k=k, n_salts=32, rank_col="rnk")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_source_docs"))
    return (ranked
            .join(F.broadcast(counts), on="source")
            .select("doc_id", "source",
                    F.col("rnk").cast("long").alias("rnk"),
                    "n_source_docs")
            .orderBy("doc_id"))


@query(
    "doc_ngram_novelty",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM t),
    ex AS (SELECT doc_id, {_H60.format(x='unnest(shingles)')} AS sh FROM sh),
    firsts AS (SELECT sh, min(doc_id) AS first_doc FROM ex GROUP BY sh)
    SELECT ex.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = ex.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(sum(CASE WHEN f.first_doc = ex.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS novelty
    FROM ex JOIN firsts f ON ex.sh = f.sh
    GROUP BY ex.doc_id ORDER BY ex.doc_id
    """,
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset novelty curve: per document, the fraction of its distinct
    3-gram shingles whose FIRST corpus occurrence (smallest doc_id) is
    this document — the statistic behind diminishing-returns curves for
    corpus growth (later crawls add mostly already-seen n-grams). Two
    hash aggregations over one exploded shingle pass; the first-seen
    table joins back on 60-bit hashes (longs on the wire, never the
    shingle strings)."""
    from meerschaum_spark.catalog import hash60
    docs = _docs(spark, sf_dir)
    toked = docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    ex = (toked.select(
        "doc_id",
        F.explode(D.shingles_of_tokens(F.col("toks"))).alias("s"))
        .select("doc_id", hash60(F.col("s")).alias("sh")))
    firsts = ex.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                  .otherwise(0))
    return (ex.join(firsts, on="sh")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 novel.cast("long").alias("n_novel"),
                 (novel.cast("double")
                  / F.count(F.lit(1))).alias("novelty"))
            .orderBy("doc_id"))


@query(
    "doc_phrase_search",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
    pos AS (
      SELECT doc_id, unnest(arr) AS tok,
             unnest(range(1, len(arr) + 1)) AS pos
      FROM toks)
    SELECT a.doc_id,
           count(*) AS n_occurrences,
           CAST(min(a.pos) AS BIGINT) AS first_pos
    FROM pos a JOIN pos b
      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.tok = 'table' AND b.tok = 'hash'
    GROUP BY a.doc_id
    ORDER BY n_occurrences DESC, a.doc_id
    """,
)
def doc_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-inverted-index phrase search — the full-text-search
    primitive (Lucene/Postgres ``phraseto_tsquery`` analogue): find
    every document containing the exact phrase ``"table hash"`` with
    occurrence counts and the first hit position, via posting-list
    intersection on (doc_id, position+1) adjacency.

    Scale shape: tokenization is one JVM ``split``+``posexplode`` scan,
    and each phrase term's posting list is FILTERED OUT of the token
    stream before any join — the adjacency join moves only the two
    terms' postings (selectivity of the rarest term bounds the work,
    the classic search-engine economics), hash-partitioned on doc_id so
    an n-term phrase chains n−1 co-partitioned equi-joins with ONE
    shuffle of each posting list and no re-shuffle between chain steps.
    Positions are 1-based to mirror the oracle's ``range(1, len+1)``."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "tok"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok"))
    a = toks.filter(F.col("tok") == "table").select("doc_id", "pos")
    b = toks.filter(F.col("tok") == "hash") \
        .select("doc_id", (F.col("pos") - 1).alias("pos"))
    return (a.join(b, ["doc_id", "pos"])
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.min("pos").cast("long").alias("first_pos"))
            .orderBy(F.col("n_occurrences").desc(), "doc_id"))


def _cosine_sql_sliced(k: int, query_filter: str, dim: int | None) -> str:
    """``_cosine_sql`` over a DIMENSION-PREFIX of each vector (``dim``
    None = full width) — list slicing before the same exact-decimal dot
    macro, so truncated and full rankings share one determinism story."""
    sl = "" if dim is None else f"[1:{dim}]"
    dot_qc = ("CAST(CAST(" + _DOT.format(a=f"qv{sl}", b=f"cv{sl}")
              + " AS VARCHAR) AS DOUBLE)")
    dot_qq = ("CAST(CAST(" + _DOT.format(a=f"qv{sl}", b=f"qv{sl}")
              + " AS VARCHAR) AS DOUBLE)")
    dot_cc = ("CAST(CAST(" + _DOT.format(a=f"cv{sl}", b=f"cv{sl}")
              + " AS VARCHAR) AS DOUBLE)")
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE {query_filter}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    pairs AS (
      SELECT query_id, neighbor_id,
             {dot_qc} / (sqrt({dot_qq}) * sqrt({dot_cc})) AS cosine
      FROM q, c WHERE neighbor_id != query_id),
    ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM pairs)
    SELECT query_id, neighbor_id FROM ranked WHERE rnk <= {k}
    """


@query(
    "emb_matryoshka_recall",
    f"""
    WITH full_k AS ({_cosine_sql_sliced(5, "vec_id % 100 = 0", None)}),
    trunc_k AS ({_cosine_sql_sliced(5, "vec_id % 100 = 0", 16)})
    SELECT count(DISTINCT full_k.query_id) AS n_queries,
           count(*) AS n_exact_pairs,
           count(trunc_k.neighbor_id) AS n_hits,
           CAST(count(trunc_k.neighbor_id) AS DOUBLE) / count(*)
             AS recall_at_5
    FROM full_k LEFT JOIN trunc_k USING (query_id, neighbor_id)
    """,
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation evaluation: top-5 cosine recall of the
    16-of-64 dimension PREFIX against the full-width ranking — the
    measurement behind shipping truncated MRL embeddings (4× less
    storage/bandwidth) with a known retrieval-quality cost, same
    methodology as ``emb_ann_recall``/``emb_ivf_recall``.

    The truncated ranking is the identical exact-decimal dot-product
    pipeline over ``slice(embedding, 1, 16)`` — slicing is free
    column-wise work before the same join, so the operator's scale
    shape is exactly ``cosine_topk``'s (broadcast queries × corpus,
    per-query top-k window), run twice, joined on the (query, neighbor)
    pairs."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    full = S.cosine_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    t_emb = emb.select("vec_id", F.slice("embedding", 1, 16)
                       .alias("embedding"))
    t_queries = t_emb.filter(F.col("vec_id") % 100 == 0)
    trunc = (S.cosine_topk(t_emb, t_queries, k=5)
             .select("query_id", "neighbor_id")
             .withColumn("_hit", F.lit(1)))
    j = full.join(trunc, ["query_id", "neighbor_id"], "left")
    return j.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact_pairs"),
        F.count("_hit").alias("n_hits"),
        (F.count("_hit").cast("double")
         / F.count(F.lit(1)).cast("double")).alias("recall_at_5"))


@query(
    "doc_containment_join",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM base),
    ex0 AS (SELECT doc_id, {_H60.format(x='unnest(shingles)')} AS s FROM sh),
    sets AS (SELECT doc_id, list_distinct(list(s)) AS hs
             FROM ex0 GROUP BY doc_id),
    sz AS (SELECT doc_id, hs, len(hs) AS n FROM sets WHERE len(hs) > 0),
    pairs AS (
      SELECT a.doc_id AS doc_src, b.doc_id AS doc_container,
             len(list_intersect(a.hs, b.hs)) AS n_shared,
             a.n AS na
      FROM sz a JOIN sz b ON a.doc_id <> b.doc_id)
    SELECT doc_src, doc_container, n_shared,
           CAST(n_shared AS DOUBLE) / CAST(na AS DOUBLE) AS containment
    FROM pairs WHERE 2 * n_shared >= na
    ORDER BY doc_src, doc_container
    """,
)
def doc_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment (subset/quote) detection at C ≥ 1/2 over
    3-gram shingle sets — the asymmetric complement to
    ``doc_jaccard_prefix_join``: finds the short document whose content
    is substantially INSIDE a longer one (training-data inclusion,
    quotation, template embedding), which symmetric Jaccard structurally
    misses. Runs through the SELF-ROUTING ``dedup.containment_join``
    (r10): a one-aggregate candidate-volume preflight picks the
    lossless prefix-filter plan on real-text-shaped corpora (this data
    → exact oracle match) and falls back to the bucket-capped LSH
    prescreen + exact re-check on dense corpora where the lossless
    plan is inherently Θ(n²); the oracle is the quadratic definition
    the prefix path avoids."""
    docs = _docs(spark, sf_dir)
    return (D.containment_join(docs, num=1, den=2, n=3,
                               sets=_prefix_sets(spark, sf_dir),
                               auto=True)
            .orderBy("doc_src", "doc_container"))


# ===========================================================================
# r9: multi-round BPE training + maximal substring-duplicate spans
# ===========================================================================

#: merge rounds for the iterated BPE trainer (each round = one corpus
#: count + one argmax + one map-only merge)
BPE_TRAIN_ROUNDS = 4


def _bpe_rounds_ctes(rounds: int, merge_last: bool) -> list[str]:
    """Shared CTE scaffolding for the unrolled BPE rounds (standard SQL
    forbids aggregates in recursive CTE terms, so — like the PageRank
    oracle — each round is spelled explicitly). Greedy left-to-right
    merging is the gaps-and-islands parity selection: adjacent match
    positions can only collide when the winner pair is (x, x), and
    there the 1st, 3rd, … match of each consecutive run merges —
    exactly the sequential fold the Spark side runs. With
    ``merge_last`` the final winner is also APPLIED (``r{rounds+1}``
    exists — the encode oracle's final state); without it the last
    round only elects ``w{rounds}`` (the trainer's merge table)."""
    parts = [
        f"WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),",
        "r1 AS MATERIALIZED (SELECT doc_id,"
        " unnest(generate_series(1, len(toks))) AS pos,"
        " unnest(toks) AS sym FROM t WHERE len(toks) >= 1)",
    ]
    for k in range(1, rounds + 1):
        parts.append(f"""
, cnt{k} AS MATERIALIZED (
    SELECT a.sym AS s1, b.sym AS s2, count(*) AS n
    FROM r{k} a, r{k} b
    WHERE b.doc_id = a.doc_id AND b.pos = a.pos + 1
    GROUP BY 1, 2),
w{k} AS MATERIALIZED (SELECT s1, s2, n FROM cnt{k} ORDER BY n DESC, s1, s2 LIMIT 1)""")
        if k == rounds and not merge_last:
            break
        parts.append(f"""
, m{k} AS MATERIALIZED (
    SELECT a.doc_id, a.pos
    FROM r{k} a, r{k} b, w{k} w
    WHERE b.doc_id = a.doc_id AND b.pos = a.pos + 1
      AND a.sym = w.s1 AND b.sym = w.s2),
i{k} AS MATERIALIZED (
    SELECT doc_id, pos,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
    FROM m{k}),
s{k} AS MATERIALIZED (
    SELECT doc_id, pos FROM (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY doc_id, g ORDER BY pos) AS rn
      FROM i{k}) WHERE rn % 2 = 1),
n{k} AS MATERIALIZED (
    SELECT r.doc_id, r.pos,
           CASE WHEN sl.pos IS NOT NULL
                THEN (SELECT s1 || ' ' || s2 FROM w{k})
                ELSE r.sym END AS sym
    FROM r{k} r
    LEFT JOIN s{k} sl ON sl.doc_id = r.doc_id AND sl.pos = r.pos
    LEFT JOIN s{k} dp ON dp.doc_id = r.doc_id AND dp.pos = r.pos - 1
    WHERE dp.pos IS NULL),
r{k + 1} AS MATERIALIZED (
    SELECT doc_id,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos, sym
    FROM n{k})""")
    return parts


def _bpe_train_oracle_sql(rounds: int = BPE_TRAIN_ROUNDS) -> str:
    parts = _bpe_rounds_ctes(rounds, merge_last=False)
    unions = "\n    UNION ALL ".join(
        f"SELECT {k} AS round, s1 AS pair_left, s2 AS pair_right, "
        f"CAST(n AS BIGINT) AS n_occurrences FROM w{k}"
        for k in range(1, rounds + 1))
    parts.append(f"\nSELECT * FROM (\n    {unions}\n) ORDER BY round")
    return "\n".join(parts)


def _bpe_encode_oracle_sql(rounds: int = BPE_TRAIN_ROUNDS) -> str:
    parts = _bpe_rounds_ctes(rounds, merge_last=True)
    parts.append(f"""
, tok0 AS (SELECT doc_id, len(toks) AS n0 FROM t),
tokf AS (SELECT doc_id, count(*) AS nf FROM r{rounds + 1} GROUP BY doc_id)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(t0.n0) AS BIGINT) AS tokens_before,
       CAST(sum(tf.nf) AS BIGINT) AS tokens_after,
       CAST(sum(t0.n0) AS DOUBLE) / CAST(sum(tf.nf) AS DOUBLE)
           AS expansion
FROM documents d
JOIN tok0 t0 ON t0.doc_id = d.doc_id
JOIN tokf tf ON tf.doc_id = d.doc_id
GROUP BY 1 ORDER BY 1""")
    return "\n".join(parts)


@query("doc_bpe_train_rounds", _bpe_train_oracle_sql())
def doc_bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated BPE training (Sennrich et al. 2016) — the full merge
    LOOP, extending ``doc_bpe_pair_counts``'s single count step: each
    round counts adjacent symbol pairs corpus-wide, picks the most
    frequent (ties broken lexicographically on the pair), and greedily
    merges every non-overlapping occurrence left-to-right; merged
    symbols participate as ordinary symbols in later rounds. Returns
    the merge table (round, winner pair, its pre-merge adjacency
    count).

    100 TB shape, per round: the count is ONE map-side-combinable hash
    aggregate (only (pair, partial-count) rows shuffle — raw text never
    moves); the argmax is a TakeOrdered top-1; the merge is a MAP-ONLY
    fold over each token array (``F.aggregate``, JVM-side, no Python).
    The winner collect is one row per round — metadata-sized, the same
    contract as the PQ codebooks — and a per-round localCheckpoint
    keeps the fold lineage flat, the PageRank iteration discipline.
    Greedy overlap semantics cost nothing extra: after a merge the
    accumulator's tail is the merged symbol, which can never equal the
    winner's left element (it strictly contains a separator the raw
    winner lacks in round 1, and symbol equality is exact thereafter),
    so the fold IS the left-to-right scan."""
    cur, out_rows = _bpe_apply_rounds(
        spark, sf_dir, BPE_TRAIN_ROUNDS, merge_last=False)
    schema = ("round int, pair_left string, pair_right string, "
              "n_occurrences long")
    return spark.createDataFrame(out_rows, schema).orderBy("round")


#: session-scoped BPE round state: the trainer and the encoder replay
#: the SAME merge loop (per round: one corpus-wide pair-count hash agg
#: + a one-row argmax collect + a map-only fold, each fold pinned).
#: Rounds 1..K-1 are identical work in both queries, so the loop state
#: — the winner list and the pinned token table after each applied
#: merge — caches per (session, sf_dir) like the signature tables
#: (r13 optimization; every invocation still computes fresh from the
#: parquet inputs).
_BPE_CACHE: dict = {}

#: max pinned per-round token-table snapshots retained beyond the base
#: table (ADVICE r13: unbounded retention leaked one localCheckpoint per
#: round for the session lifetime). Covers the catalog's trainer/encoder
#: pair (rounds-1 and rounds) with room to spare.
_BPE_KEEP_SNAPSHOTS = 4


def _bpe_apply_rounds(spark: SparkSession, sf_dir: str, rounds: int,
                      merge_last: bool) -> tuple[DataFrame, list]:
    """The shared Spark-side BPE loop: per round one pair-count hash
    aggregate + a one-row argmax collect + a map-only greedy
    ``F.aggregate`` fold applying the winner. Returns the (possibly
    fully merged) token table and the winner rows. ``merge_last``
    mirrors the oracle generator: the trainer reports winners without
    applying the last one; the encoder applies every learned merge.
    Winner discovery and per-round folded states are session-cached
    (``_BPE_CACHE``) so the two consumers share one loop execution."""
    app_id = spark.sparkContext.applicationId
    for stale in [k for k in _BPE_CACHE if k[0] != app_id]:
        del _BPE_CACHE[stale]
    # cache key contract (shared with _cached_sigs/_PART_EDGE_CACHE):
    # sf_dir contents are assumed IMMUTABLE within a session — mutating
    # or regenerating the corpus under a live session serves stale
    # snapshots (fine for the read-only bench/oracle tables; a mutable
    # deployment must evict via cache_log.evict or a fresh session)
    key = (app_id, sf_dir)
    st = _BPE_CACHE.get(key)
    _t0 = time.perf_counter()
    _cold = st is None or len(st["winners"]) < rounds
    if st is None:
        docs = _docs(spark, sf_dir)
        cur0 = (docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
                .filter(F.size("toks") >= 1)
                .transform(_pin))
        st = {"curs": [cur0], "winners": [], "exhausted": False}
        cache_log.register_evictor(
            "bpe_rounds", lambda k=key: _BPE_CACHE.pop(k, None) and None)
        _BPE_CACHE[key] = st

    def _apply(cur: DataFrame, s1: str, s2: str) -> DataFrame:
        a_lit, b_lit = F.lit(s1), F.lit(s2)
        m_lit = F.lit(f"{s1} {s2}")
        folded = F.aggregate(
            F.col("toks"),
            F.expr("cast(array() as array<string>)"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == a_lit) & (x == b_lit),
                F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                         F.array(m_lit)),
            ).otherwise(F.concat(acc, F.array(x))))
        return cur.select("doc_id", folded.alias("toks")).transform(_pin)

    def _cur_at(k: int) -> DataFrame:
        # token table with the first k winners applied (snapshots build
        # incrementally; each is pinned, so later calls are free).
        # Retention is CAPPED (ADVICE r13): only the base table and the
        # last _BPE_KEEP_SNAPSHOTS stay pinned — a many-round caller
        # would otherwise accumulate one localCheckpoint per round for
        # the session lifetime. An evicted intermediate rebuilds forward
        # from the nearest retained ancestor (never happens for the
        # catalog's two consumers, whose targets are within the cap).
        while len(st["curs"]) <= k:
            j = len(st["curs"])
            _rnd, s1, s2, _n = st["winners"][j - 1]
            st["curs"].append(_apply(_cur_at(j - 1), s1, s2))
            for i in range(1, len(st["curs"]) - _BPE_KEEP_SNAPSHOTS):
                st["curs"][i] = None
        if st["curs"][k] is None:
            i = max(j for j in range(k + 1) if st["curs"][j] is not None)
            while i < k:
                _rnd, s1, s2, _n = st["winners"][i]
                st["curs"][i + 1] = _apply(st["curs"][i], s1, s2)
                i += 1
        return st["curs"][k]

    while len(st["winners"]) < rounds and not st["exhausted"]:
        k = len(st["winners"])
        cur = _cur_at(k)
        pairs = cur.select(F.explode(F.expr(
            "zip_with(slice(toks, 1, size(toks) - 1),"
            "         slice(toks, 2, size(toks) - 1),"
            "         (a, b) -> struct(a AS s1, b AS s2))")).alias("p"))
        win = (pairs.groupBy(F.col("p.s1").alias("s1"),
                             F.col("p.s2").alias("s2"))
               .agg(F.count(F.lit(1)).alias("n"))
               .orderBy(F.col("n").desc(), "s1", "s2")
               .limit(1).collect())
        if not win:
            st["exhausted"] = True
            break
        s1, s2, n = win[0]["s1"], win[0]["s2"], win[0]["n"]
        st["winners"].append((k + 1, s1, s2, int(n)))

    out_rows = list(st["winners"][:rounds])
    n_won = len(out_rows)
    # original loop semantics: every discovered winner is applied
    # immediately EXCEPT a final-round winner under merge_last=False;
    # on exhaustion (no winner found) everything discovered was applied
    applied = n_won if (merge_last or n_won < rounds) else n_won - 1
    cur = _cur_at(applied)
    if _cold:
        cache_log.record("bpe_rounds", time.perf_counter() - _t0)
    return cur, out_rows


@query("doc_bpe_encode_fertility", _bpe_encode_oracle_sql())
def doc_bpe_encode_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by domain — the curation metric behind "which
    sources compress well under the tokenizer": train the same
    ``BPE_TRAIN_ROUNDS`` merges as ``doc_bpe_train_rounds``, APPLY all
    of them corpus-wide (the encode pass a real tokenizer pipeline runs
    after training), and report per-source document counts, token
    totals before/after, and the expansion ratio (before/after — higher
    = the learned merges fire more often in that domain).

    Scale shape is the trainer's: K count aggregates + K map-only folds
    (no extra passes — encoding IS the K-th fold's output), then one
    co-partitioned doc_id join and a per-source hash aggregate. The
    ratio is one identical-double division of two exact integer sums."""
    cur, _ = _bpe_apply_rounds(
        spark, sf_dir, BPE_TRAIN_ROUNDS, merge_last=True)
    docs = _docs(spark, sf_dir)
    before = docs.select("doc_id", "source",
                         F.size(T.tokens(F.col("text"))).alias("n0"))
    after = cur.select("doc_id", F.size("toks").alias("nf"))
    return (before.join(after, on="doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n0").cast("long").alias("tokens_before"),
                 F.sum("nf").cast("long").alias("tokens_after"),
                 (F.sum("n0").cast("double")
                  / F.sum("nf").cast("double")).alias("expansion"))
            .orderBy("source"))


#: result cap for the maximal-span report (deterministic full ordering)
SPAN_LIMIT = 50


def _substr_pos_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached POSITIONAL (doc_id, pos, wh) rolling-window table —
    the span operator needs offsets, which the distinct-hash table
    (``_substr_windows``) deliberately drops."""
    from meerschaum_spark.catalog import hash60

    def build():
        docs = _docs(spark, sf_dir)
        t = docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
        pw = (t.filter(F.size("toks") >= SUBSTR_WINDOW)
              .select("doc_id", F.explode(F.transform(
                  F.sequence(F.lit(1),
                             F.size("toks") - F.lit(SUBSTR_WINDOW - 1)),
                  lambda i: F.struct(
                      i.alias("pos"),
                      hash60(F.array_join(
                          F.slice(F.col("toks"), i, SUBSTR_WINDOW),
                          " ")).alias("wh")))).alias("pw")))
        return pw.select("doc_id", F.col("pw.pos").alias("pos"),
                         F.col("pw.wh").alias("wh"))
    return _cached_sigs("substr_pos_windows", spark, sf_dir, build)


@query(
    "doc_substring_dup_spans",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    p AS (SELECT doc_id,
                 unnest(generate_series(1, len(toks) - {SUBSTR_WINDOW - 1}))
                     AS pos,
                 toks
          FROM t WHERE len(toks) >= {SUBSTR_WINDOW}),
    w AS MATERIALIZED (SELECT doc_id, pos,
                 {_H60.format(
                     x=f"array_to_string(toks[pos:pos+{SUBSTR_WINDOW - 1}],"
                       " ' ')")} AS wh
          FROM p),
    dfreq AS MATERIALIZED (SELECT wh, count(*) AS wdf
              FROM (SELECT DISTINCT doc_id, wh FROM w) GROUP BY wh),
    kw AS MATERIALIZED (SELECT w.doc_id, w.pos, w.wh FROM w
           JOIN dfreq ON w.wh = dfreq.wh
           WHERE dfreq.wdf BETWEEN 2 AND {SUBSTR_MAX_DF}),
    m AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.pos AS a_pos, b.pos AS b_pos
          FROM kw a JOIN kw b ON a.wh = b.wh AND a.doc_id < b.doc_id),
    isl AS (SELECT doc_a, doc_b, a_pos, b_pos,
                   a_pos - row_number() OVER (
                     PARTITION BY doc_a, doc_b, a_pos - b_pos
                     ORDER BY a_pos) AS g
            FROM m),
    sp AS MATERIALIZED (SELECT doc_a, doc_b,
                  CAST(min(a_pos) AS BIGINT) AS a_start,
                  CAST(min(b_pos) AS BIGINT) AS b_start,
                  CAST(count(*) + {SUBSTR_WINDOW - 1} AS BIGINT)
                      AS span_tokens
           FROM isl GROUP BY doc_a, doc_b, a_pos - b_pos, g)
    SELECT doc_a, doc_b, a_start, b_start, span_tokens FROM sp
    ORDER BY span_tokens DESC, doc_a, doc_b, a_start, b_start
    LIMIT {SPAN_LIMIT}
    """,
)
def doc_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL exact-duplicate spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better") — extends
    ``doc_substring_dup_pairs``'s fixed 16-token window hits by chaining
    ADJACENT shared windows into maximal runs: matched window offsets
    (a_pos, b_pos) lie on the diagonal a_pos − b_pos, and a maximal
    duplicated span is a maximal run of consecutive offsets on one
    diagonal — length ``run + 15`` tokens. The oracle computes the same
    islands independently, so the gate verifies maximality (a
    non-maximal split or an over-chained gap changes (start, length)
    rows on both engines differently).

    Scale shape: the window join carries (doc_id, pos, hash) only and
    is doc-frequency-capped like the pair operator (windows in 2..50
    docs — singletons can't pair, hotter ones are boilerplate); the
    chaining window partitions by (doc_a, doc_b, diagonal) — fine-
    grained keys, never a global sort. Positions make the window table
    ~L rows per doc (vs distinct hashes), the price of span offsets."""
    sp = _span_table(spark, sf_dir)
    return (sp.select("doc_a", "doc_b", "a_start", "b_start", "span_tokens")
            .orderBy(F.col("span_tokens").desc(),
                     "doc_a", "doc_b", "a_start", "b_start")
            .limit(SPAN_LIMIT))


def _span_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached MAXIMAL-span table (doc_a, doc_b, a_start,
    b_start, span_tokens) — the shared substrate of
    ``doc_substring_dup_spans`` and ``doc_dup_span_fraction``: one
    DF-capped positional window join + one diagonal gaps-and-islands
    chaining per session instead of one per consumer."""
    def build():
        pw = _substr_pos_windows(spark, sf_dir)
        dfreq = (_substr_windows(spark, sf_dir)
                 .groupBy("wh").agg(F.count(F.lit(1)).alias("wdf"))
                 .filter(F.col("wdf").between(2, SUBSTR_MAX_DF)))
        kw = pw.join(dfreq.select("wh"), on="wh", how="left_semi")
        a, b = kw.alias("a"), kw.alias("b")
        m = (a.join(b, (F.col("a.wh") == F.col("b.wh"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.pos").alias("a_pos"),
                     F.col("b.pos").alias("b_pos")))
        diag = F.col("a_pos") - F.col("b_pos")
        win = Window.partitionBy("doc_a", "doc_b", diag).orderBy("a_pos")
        isl = m.withColumn("g", F.col("a_pos") - F.row_number().over(win))
        return (isl.groupBy("doc_a", "doc_b", diag.alias("_diag"), "g")
                .agg(F.min("a_pos").cast("long").alias("a_start"),
                     F.min("b_pos").cast("long").alias("b_start"),
                     (F.count(F.lit(1)) + F.lit(SUBSTR_WINDOW - 1))
                     .cast("long").alias("span_tokens"))
                .drop("_diag", "g"))
    return _cached_sigs("substr_spans", spark, sf_dir, build)


@query(
    "doc_dup_span_fraction",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    p AS (SELECT doc_id,
                 unnest(generate_series(1, len(toks) - {SUBSTR_WINDOW - 1}))
                     AS pos,
                 toks
          FROM t WHERE len(toks) >= {SUBSTR_WINDOW}),
    w AS MATERIALIZED (SELECT doc_id, pos,
                 {_H60.format(
                     x=f"array_to_string(toks[pos:pos+{SUBSTR_WINDOW - 1}],"
                       " ' ')")} AS wh
          FROM p),
    dfreq AS MATERIALIZED (SELECT wh, count(*) AS wdf
              FROM (SELECT DISTINCT doc_id, wh FROM w) GROUP BY wh),
    kw AS MATERIALIZED (SELECT w.doc_id, w.pos, w.wh FROM w
           JOIN dfreq ON w.wh = dfreq.wh
           WHERE dfreq.wdf BETWEEN 2 AND {SUBSTR_MAX_DF}),
    m AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.pos AS a_pos, b.pos AS b_pos
          FROM kw a JOIN kw b ON a.wh = b.wh AND a.doc_id < b.doc_id),
    isl AS (SELECT doc_a, doc_b, a_pos, b_pos,
                   a_pos - row_number() OVER (
                     PARTITION BY doc_a, doc_b, a_pos - b_pos
                     ORDER BY a_pos) AS g
            FROM m),
    sp AS MATERIALIZED (SELECT doc_a, doc_b,
                  min(a_pos) AS a_start, min(b_pos) AS b_start,
                  count(*) + {SUBSTR_WINDOW - 1} AS span_tokens
           FROM isl GROUP BY doc_a, doc_b, a_pos - b_pos, g),
    iv AS (SELECT doc_a AS doc_id, a_start AS s,
                  a_start + span_tokens AS e FROM sp
           UNION ALL
           SELECT doc_b AS doc_id, b_start AS s,
                  b_start + span_tokens AS e FROM sp),
    markd AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv),
    grp AS (
      SELECT doc_id, s, e,
             sum(new_island) OVER (PARTITION BY doc_id ORDER BY s, e
                                   ROWS UNBOUNDED PRECEDING) AS isl_id
      FROM markd),
    uni AS (SELECT doc_id, CAST(sum(mx - mn) AS BIGINT) AS dup_tokens
            FROM (SELECT doc_id, isl_id, min(s) AS mn, max(e) AS mx
                  FROM grp GROUP BY doc_id, isl_id)
            GROUP BY doc_id)
    SELECT u.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           u.dup_tokens,
           CAST(u.dup_tokens AS DOUBLE) / CAST(len(t.toks) AS DOUBLE)
               AS dup_fraction
    FROM uni u JOIN t ON t.doc_id = u.doc_id
    ORDER BY u.doc_id
    """,
)
def doc_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-token FRACTION (the Lee et al. 2022
    curation signal: drop or downweight documents whose content is
    substantially duplicated elsewhere) — the interval-union closure
    over ``doc_substring_dup_spans``: every maximal span marks
    ``[start, start+len)`` in BOTH partner documents, overlapping marks
    from different partners union per document (classic
    merge-overlapping-intervals: an interval starts a new island when
    its start exceeds the running max end), and the union length over
    the token count is the fraction.

    Scale shape: everything repartitions on fine-grained keys — the
    span chaining on (doc_a, doc_b, diagonal), the interval union on
    doc_id (per-doc interval counts are bounded by partner count × span
    count, never corpus-sized) — and the final join back to token
    counts is a co-partitioned key join. The identical-double division
    is the only float op, computed from exact integers on both
    engines."""
    sp = _span_table(spark, sf_dir)
    iv = (sp.select(F.col("doc_a").alias("doc_id"),
                    F.col("a_start").alias("s"),
                    (F.col("a_start") + F.col("span_tokens")).alias("e"))
          .unionByName(
              sp.select(F.col("doc_b").alias("doc_id"),
                        F.col("b_start").alias("s"),
                        (F.col("b_start") + F.col("span_tokens"))
                        .alias("e"))))
    prev = (Window.partitionBy("doc_id").orderBy("s", "e")
            .rowsBetween(Window.unboundedPreceding, -1))
    run = Window.partitionBy("doc_id").orderBy("s", "e") \
        .rowsBetween(Window.unboundedPreceding, 0)
    grp = (iv.withColumn(
        "new_island",
        F.when(F.col("s") > F.coalesce(F.max("e").over(prev),
                                       F.lit(-1)), 1).otherwise(0))
        .withColumn("isl_id", F.sum("new_island").over(run)))
    uni = (grp.groupBy("doc_id", "isl_id")
           .agg(F.min("s").alias("mn"), F.max("e").alias("mx"))
           .groupBy("doc_id")
           .agg(F.sum(F.col("mx") - F.col("mn")).cast("long")
                .alias("dup_tokens")))
    toks = (_docs(spark, sf_dir)
            .select("doc_id", F.size(T.tokens(F.col("text")))
                    .cast("long").alias("n_tokens")))
    return (uni.join(toks, on="doc_id")
            .select("doc_id", "n_tokens", "dup_tokens",
                    (F.col("dup_tokens").cast("double")
                     / F.col("n_tokens").cast("double"))
                    .alias("dup_fraction"))
            .orderBy("doc_id"))


@query(
    "multimodal_audio_features",
    f"""
    WITH clips AS (SELECT DISTINCT user_id AS clip_id FROM events
                   WHERE user_id IS NOT NULL),
    par AS (SELECT clip_id,
                   20 + clip_id % 50 AS p,
                   1000 + (clip_id % 17) * 500 AS a
            FROM clips),
    s AS (SELECT clip_id, p, a,
                 unnest(generate_series(0, {M.AUDIO_N_SAMPLES - 1})) AS i
          FROM par),
    w AS (SELECT clip_id, i,
                 ((i % p) * (2 * a)) // (p - 1) - a AS v
          FROM s),
    z AS (SELECT clip_id, v,
                 CASE WHEN (v >= 0) !=
                      (lead(v) OVER (PARTITION BY clip_id ORDER BY i) >= 0)
                      THEN 1 ELSE 0 END AS c
          FROM w)
    SELECT clip_id,
           CAST({M.AUDIO_N_SAMPLES} AS BIGINT) AS n_samples,
           CAST(max(abs(v)) AS BIGINT) AS peak,
           CAST(sum(c) AS BIGINT) AS zero_crossings,
           CAST(sum(v * v) AS BIGINT) AS sum_sq,
           sqrt(CAST(sum(v * v) AS DOUBLE) / {M.AUDIO_N_SAMPLES}.0) AS rms
    FROM z GROUP BY clip_id ORDER BY clip_id
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature extraction over opaque PCM ``binary``
    payloads — the multimodal plumbing item upgraded from stub to
    working codec for raw PCM (the one audio format that needs no
    external library): per-user int16-LE clips are synthesized by one
    Arrow-batched pandas UDF, round-trip through a genuine byte-level
    decode (``np.frombuffer``), and yield the classic screening
    features — peak, zero-crossing count, exact integer energy, RMS.

    Cross-engine exactness discipline: the waveform is an integer
    sawtooth (generation has no libm call to diverge on), features are
    exact integers, and RMS is one power-of-two-exact division plus one
    IEEE-correctly-rounded sqrt — so the oracle regenerates every
    sample in SQL and hash-matches. Scale shape: synthesis and
    extraction are MAP-ONLY pandas stages over the clip table (the
    id-distinct is the only shuffle); at 100 TB each clip row carries
    its payload through one python runner layer, partitioned by
    ``parallelize`` so per-core batches stay full."""
    ev = load_table(spark, sf_dir, "events")
    clips = parallelize(
        ev.filter(F.col("user_id").isNotNull())
        .select(F.col("user_id").alias("clip_id")).distinct())
    pcm = M.synth_pcm_clips(clips)
    return M.audio_features(pcm).orderBy("clip_id")


@query(
    "multimodal_audio_fingerprint_neardup",
    f"""
    WITH clips AS (SELECT DISTINCT user_id AS clip_id FROM events
                   WHERE user_id IS NOT NULL),
    par AS (SELECT clip_id,
                   20 + clip_id % 50 AS p,
                   1000 + (clip_id % 17) * 500 AS a
            FROM clips),
    s AS (SELECT clip_id, p, a,
                 unnest(generate_series(0, {M.AUDIO_N_SAMPLES - 1})) AS i
          FROM par),
    w AS (SELECT clip_id,
                 i // {M.AUDIO_N_SAMPLES // M.AUDIO_FP_WINDOWS} AS win,
                 ((i % p) * (2 * a)) // (p - 1) - a AS v
          FROM s),
    e AS (SELECT clip_id, win, sum(v * v) AS ew
          FROM w GROUP BY clip_id, win),
    tot AS (SELECT clip_id, sum(ew) AS te FROM e GROUP BY clip_id),
    bits AS (SELECT e.clip_id, win,
                    CASE WHEN ew * {M.AUDIO_FP_WINDOWS} > te
                         THEN 1 ELSE 0 END AS bit
             FROM e JOIN tot USING (clip_id)),
    hs AS MATERIALIZED (
        SELECT clip_id,
               CAST(sum(bit * (1::BIGINT << win)) AS BIGINT) AS fp
        FROM bits GROUP BY clip_id)
    SELECT a.clip_id AS clip_a, b.clip_id AS clip_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
    FROM hs a JOIN hs b ON a.clip_id < b.clip_id
    WHERE bit_count(xor(a.fp, b.fp)) <= 2
    ORDER BY clip_a, clip_b
    """,
)
def multimodal_audio_fingerprint_neardup(spark: SparkSession,
                                         sf_dir: str) -> DataFrame:
    """AUDIO near-duplicate detection by energy-profile fingerprint
    (r13 — completing the near-dup triptych across modalities: text
    simhash, image aHash, now audio): every per-user PCM clip is
    synthesized, byte-decoded, and fingerprinted by
    ``multimodal.audio_energy_fingerprint`` (one bit per 128-sample
    window, set iff its exact integer energy beats the clip mean),
    then Hamming ≤ 2 pairs come from the LOSSLESS pigeonhole block
    join (``dedup.hamming_near_pairs``, ``nbits=16``). The oracle
    regenerates every sawtooth sample in SQL, derives the same
    fingerprints, and brute-forces the O(n²) pair join — so the
    banding must be exactly lossless to hash-match. Reference
    analogue: none (attachments are opaque bytes there)."""
    ev = load_table(spark, sf_dir, "events")
    clips = parallelize(
        ev.filter(F.col("user_id").isNotNull())
        .select(F.col("user_id").alias("clip_id")).distinct())
    fps = (M.audio_energy_fingerprint(M.synth_pcm_clips(clips))
           .withColumnRenamed("fingerprint", "simhash"))
    pairs = D.hamming_near_pairs(fps, id_col="clip_id",
                                 max_distance=2, nbits=16)
    return (pairs.select(F.col("doc_a").alias("clip_a"),
                         F.col("doc_b").alias("clip_b"),
                         F.col("hamming").cast("long").alias("hamming"))
            .orderBy("clip_a", "clip_b"))


# ===========================================================================
# r10: fuzzy-dedup quality measurement (the curation report reviewers see)
# ===========================================================================

#: continuation grafted onto _CLUSTERS_SQL (same mechanism as
#: _CASCADE_TAIL): the z-prefixed CTEs replay the span-fraction oracle
#: (doc_dup_span_fraction) under fresh names — the cluster chain already
#: owns t/sh/sets — and the report assembly mirrors the Spark plan
#: exactly. MATERIALIZED hints on every multi-referenced CTE (DuckDB
#: re-inlines them otherwise — the r9 4^k BPE lesson).
_QUALITY_TAIL = f""",
    nd_rm AS (
      SELECT u AS doc_id FROM reach GROUP BY u
      HAVING u <> LEAST(u, MIN(v))),
    toksn AS MATERIALIZED (
      SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents),
    ex_rm AS (
      SELECT doc_id FROM (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS m
        FROM documents) WHERE doc_id <> m),
    zt AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    zp AS (SELECT doc_id,
                  unnest(generate_series(1, len(toks) - {SUBSTR_WINDOW - 1}))
                      AS pos,
                  toks
           FROM zt WHERE len(toks) >= {SUBSTR_WINDOW}),
    zw AS MATERIALIZED (SELECT doc_id, pos,
                 {_H60.format(
                     x=f"array_to_string(toks[pos:pos+{SUBSTR_WINDOW - 1}],"
                       " ' ')")} AS wh
          FROM zp),
    zdf AS MATERIALIZED (SELECT wh, count(*) AS wdf
              FROM (SELECT DISTINCT doc_id, wh FROM zw) GROUP BY wh),
    zkw AS MATERIALIZED (SELECT zw.doc_id, zw.pos, zw.wh FROM zw
           JOIN zdf ON zw.wh = zdf.wh
           WHERE zdf.wdf BETWEEN 2 AND {SUBSTR_MAX_DF}),
    zm AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.pos AS a_pos, b.pos AS b_pos
          FROM zkw a JOIN zkw b ON a.wh = b.wh AND a.doc_id < b.doc_id),
    zisl AS (SELECT doc_a, doc_b, a_pos, b_pos,
                    a_pos - row_number() OVER (
                      PARTITION BY doc_a, doc_b, a_pos - b_pos
                      ORDER BY a_pos) AS g
             FROM zm),
    zsp AS MATERIALIZED (SELECT doc_a, doc_b,
                  min(a_pos) AS a_start, min(b_pos) AS b_start,
                  count(*) + {SUBSTR_WINDOW - 1} AS span_tokens
           FROM zisl GROUP BY doc_a, doc_b, a_pos - b_pos, g),
    ziv AS (SELECT doc_a AS doc_id, a_start AS s,
                   a_start + span_tokens AS e FROM zsp
            UNION ALL
            SELECT doc_b AS doc_id, b_start AS s,
                   b_start + span_tokens AS e FROM zsp),
    zmark AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1)
                  THEN 1 ELSE 0 END AS new_island
      FROM ziv),
    zgrp AS (
      SELECT doc_id, s, e,
             sum(new_island) OVER (PARTITION BY doc_id ORDER BY s, e
                                   ROWS UNBOUNDED PRECEDING) AS isl_id
      FROM zmark),
    zuni AS (SELECT doc_id, CAST(sum(mx - mn) AS BIGINT) AS dup_tokens
             FROM (SELECT doc_id, isl_id, min(s) AS mn, max(e) AS mx
                   FROM zgrp GROUP BY doc_id, isl_id)
             GROUP BY doc_id),
    span_rm AS (
      SELECT z.doc_id FROM zuni z JOIN toksn t ON t.doc_id = z.doc_id
      WHERE 2 * z.dup_tokens >= t.n_tokens),
    rm AS MATERIALIZED (
      SELECT r.method, r.doc_id, t.n_tokens, t.source
      FROM (SELECT 'exact' AS method, doc_id FROM ex_rm
            UNION ALL SELECT 'near_dup', doc_id FROM nd_rm
            UNION ALL SELECT 'span', doc_id FROM span_rm) r
      JOIN toksn t ON t.doc_id = r.doc_id),
    tot AS (SELECT count(*) AS nd, CAST(sum(n_tokens) AS BIGINT) AS nt
            FROM toksn),
    meth AS MATERIALIZED (
      SELECT method, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM rm GROUP BY method),
    sec_method AS (
      SELECT 'method' AS section, m.method AS label, m.n_docs, m.n_tokens,
             CAST(t.nt - m.n_tokens AS DOUBLE) / CAST(t.nt AS DOUBLE)
                 AS frac
      FROM meth m, tot t),
    ov AS (
      SELECT a.method AS ma, b.method AS mb, count(*) AS n_docs,
             CAST(sum(a.n_tokens) AS BIGINT) AS n_tokens
      FROM rm a JOIN rm b ON a.doc_id = b.doc_id AND a.method < b.method
      GROUP BY a.method, b.method),
    sec_overlap AS (
      SELECT 'overlap' AS section, o.ma || '&' || o.mb AS label,
             o.n_docs, o.n_tokens,
             CAST(o.n_docs AS DOUBLE)
                 / CAST(xa.n_docs + xb.n_docs - o.n_docs AS DOUBLE) AS frac
      FROM ov o
      JOIN meth xa ON xa.method = o.ma
      JOIN meth xb ON xb.method = o.mb),
    dom_tot AS (SELECT source, count(*) AS dn FROM toksn GROUP BY source),
    sec_domain AS (
      SELECT 'domain' AS section, r.method || '|' || r.source AS label,
             count(*) AS n_docs, CAST(sum(r.n_tokens) AS BIGINT) AS n_tokens,
             CAST(count(*) AS DOUBLE) / CAST(dt.dn AS DOUBLE) AS frac
      FROM rm r JOIN dom_tot dt ON dt.source = r.source
      GROUP BY r.method, r.source, dt.dn)
    SELECT section, label, n_docs, n_tokens, frac
    FROM (SELECT * FROM sec_method
          UNION ALL SELECT * FROM sec_overlap
          UNION ALL SELECT * FROM sec_domain)
    ORDER BY section, label
"""


@query(
    "doc_dedup_quality_report",
    _CLUSTERS_SQL.replace(_CLUSTERS_FINAL_SELECT, _QUALITY_TAIL),
)
def doc_dedup_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy-dedup QUALITY report a 100 TB curation run ships to
    reviewers (closing the Lee et al. 2022 loop): for the three dedup
    methods at matched 0.5 thresholds — ``exact`` (keep min doc_id per
    identical text), ``near_dup`` (MinHash→LSH→Jaccard→components,
    keep the cluster's min label), ``span`` (remove docs whose maximal
    duplicated-span union covers ≥ half their tokens) — one flat frame
    with three sections:

    - ``method``: docs/tokens each method removes and the
      RETAINED-token fraction of the corpus (the number that decides a
      dedup budget);
    - ``overlap``: for each method pair, the docs/tokens both remove
      and the Jaccard of the removal sets (do the methods agree, or
      buy different coverage?);
    - ``domain``: per (method, source) removal counts and the
      within-domain removal RATE (is one domain being gutted?).

    All three inputs are the session-cached tables the standalone
    operators already built (cluster labels, span table, token
    counts), so the marginal cost is a handful of small aggregates —
    the report can never drift from the operators it summarizes.
    Every fraction is one identical-double division of exact longs.
    Scale shape: removal sets are fine-grained-key groupBys; the
    overlap self-join keys on doc_id (removal rows ≤ 3 per doc); the
    domain rollup broadcasts a per-source count."""
    docs = _docs(spark, sf_dir)
    toks = (docs.select("doc_id", "source",
                        F.size(T.tokens(F.col("text"))).cast("long")
                        .alias("n_tokens"))
            .transform(_pin))  # 4 consumers: rm join, totals, domains
    ex_rm = (docs.select("doc_id", F.md5("text").alias("_h"))
             .withColumn("_m",
                         F.min("doc_id").over(Window.partitionBy("_h")))
             .filter(F.col("doc_id") != F.col("_m")).select("doc_id"))
    nd_rm = (_near_dup_clusters(spark, sf_dir)
             .filter(~F.col("keep")).select("doc_id"))
    span_rm = (doc_dup_span_fraction(spark, sf_dir)
               .filter(2 * F.col("dup_tokens") >= F.col("n_tokens"))
               .select("doc_id"))
    rm = (ex_rm.select(F.lit("exact").alias("method"), "doc_id")
          .unionByName(
              nd_rm.select(F.lit("near_dup").alias("method"), "doc_id"))
          .unionByName(
              span_rm.select(F.lit("span").alias("method"), "doc_id"))
          .join(toks, on="doc_id")
          .transform(_pin))  # 4 consumers: meth, both overlap sides, domain
    tot = toks.agg(F.count(F.lit(1)).cast("long").alias("_nd"),
                   F.sum("n_tokens").cast("long").alias("_nt"))
    meth = (rm.groupBy("method")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens")))
    sec_method = (meth.crossJoin(F.broadcast(tot))
                  .select(F.lit("method").alias("section"),
                          F.col("method").alias("label"),
                          "n_docs", "n_tokens",
                          ((F.col("_nt") - F.col("n_tokens")).cast("double")
                           / F.col("_nt").cast("double")).alias("frac")))
    a = rm.select(F.col("method").alias("ma"), "doc_id")
    b = rm.select(F.col("method").alias("mb"), "doc_id", "n_tokens")
    ov = (a.join(b, on="doc_id").filter(F.col("ma") < F.col("mb"))
          .groupBy("ma", "mb")
          .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
               F.sum("n_tokens").cast("long").alias("n_tokens")))
    ma_c = meth.select(F.col("method").alias("ma"),
                       F.col("n_docs").alias("_na"))
    mb_c = meth.select(F.col("method").alias("mb"),
                       F.col("n_docs").alias("_nb"))
    sec_overlap = (ov.join(F.broadcast(ma_c), "ma")
                   .join(F.broadcast(mb_c), "mb")
                   .select(F.lit("overlap").alias("section"),
                           F.concat_ws("&", "ma", "mb").alias("label"),
                           "n_docs", "n_tokens",
                           (F.col("n_docs").cast("double")
                            / (F.col("_na") + F.col("_nb")
                               - F.col("n_docs")).cast("double"))
                           .alias("frac")))
    dom_tot = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("_dn"))
    sec_domain = (rm.groupBy("method", "source")
                  .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                       F.sum("n_tokens").cast("long").alias("n_tokens"))
                  .join(F.broadcast(dom_tot), "source")
                  .select(F.lit("domain").alias("section"),
                          F.concat_ws("|", "method", "source")
                          .alias("label"),
                          "n_docs", "n_tokens",
                          (F.col("n_docs").cast("double")
                           / F.col("_dn").cast("double")).alias("frac")))
    return (sec_method.unionByName(sec_overlap).unionByName(sec_domain)
            .orderBy("section", "label"))


# ===========================================================================
# r10: source keyness, hybrid RRF retrieval, MMR diversification
# ===========================================================================

_KEYNESS_K = 10
_KEYNESS_MIN_COUNT = 5

@query(
    "doc_source_keyness",
    f"""
    WITH ex AS (SELECT source AS scope, unnest({_TOKS}) AS tok
                FROM documents),
    st AS (SELECT scope, tok, count(*) AS a FROM ex GROUP BY scope, tok),
    tt AS (SELECT tok, CAST(sum(a) AS BIGINT) AS g FROM st GROUP BY tok),
    sc AS (SELECT scope, CAST(sum(a) AS BIGINT) AS s_tot
           FROM st GROUP BY scope),
    ct AS (SELECT CAST(sum(a) AS BIGINT) AS n_tot FROM st),
    m AS (
      SELECT st.scope, st.tok, st.a, tt.g, ct.n_tot,
             tt.g - st.a AS b,
             sc.s_tot - st.a AS c,
             ct.n_tot - tt.g - (sc.s_tot - st.a) AS d
      FROM st JOIN tt USING (tok) JOIN sc USING (scope), ct
      WHERE tt.g >= {_KEYNESS_MIN_COUNT}),
    dd AS (
      SELECT *, CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                - CAST(b AS DOUBLE) * CAST(c AS DOUBLE) AS delta
      FROM m),
    s AS (
      SELECT scope, tok, a AS n_in_scope, g AS n_global,
             CAST(n_tot AS DOUBLE) * (delta * delta)
               / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                  * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)) AS chi2
      FROM dd WHERE delta > 0),
    r AS (SELECT *, row_number() OVER (PARTITION BY scope
                                       ORDER BY chi2 DESC, tok) AS rnk
          FROM s)
    SELECT scope, tok, n_in_scope, n_global, chi2, rnk
    FROM r WHERE rnk <= {_KEYNESS_K} ORDER BY scope, rnk
    """,
)
def doc_source_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square keyness: the top distinctive terms per source/domain —
    the corpus-QA probe that surfaces what makes each domain's language
    different (and catches template/boilerplate contamination as absurdly
    high keyness). One corpus-scale explode+agg; everything downstream is
    vocabulary-sized (see functions/text.py source_keyness)."""
    docs = _docs(spark, sf_dir)
    out = T.source_keyness(docs, k=_KEYNESS_K, min_count=_KEYNESS_MIN_COUNT)
    return out.select(F.col("scope"), F.col("tok"),
                      F.col("n_in_scope").cast("long").alias("n_in_scope"),
                      F.col("n_global").cast("long").alias("n_global"),
                      "chi2", "rnk").orderBy("scope", "rnk")


_RRF_POOL = 20
_RRF_K = 10

@query(
    "doc_hybrid_rrf",
    f"""
    WITH bm AS MATERIALIZED ({_bm25_sql(_BM25_TERMS, _RRF_POOL)}),
    cosr AS MATERIALIZED ({_cosine_sql(_RRF_POOL, "vec_id = 0")}),
    ids AS (SELECT doc_id FROM bm
            UNION SELECT neighbor_id AS doc_id FROM cosr),
    f AS (
      SELECT ids.doc_id,
             bm.rnk AS bm25_rnk, cosr.rnk AS cos_rnk,
             coalesce(1000000000000 // (60 + bm.rnk), 0)
               + coalesce(1000000000000 // (60 + cosr.rnk), 0) AS rrf_fp
      FROM ids LEFT JOIN bm USING (doc_id)
               LEFT JOIN cosr ON cosr.neighbor_id = ids.doc_id),
    r AS (SELECT *, row_number() OVER (ORDER BY rrf_fp DESC, doc_id)
                      AS fused_rnk
          FROM f)
    SELECT doc_id, bm25_rnk, cos_rnk, rrf_fp, fused_rnk
    FROM r WHERE fused_rnk <= {_RRF_K} ORDER BY fused_rnk
    """,
)
def doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of a lexical (BM25) and a
    dense (embedding-cosine) ranking — the standard RAG/retrieval fusion.
    The two rankers are the corpus-scale stages (each a distributed scan +
    TakeOrdered top-k); the fusion itself joins two k-row lists and emits
    exact fixed-point BIGINT scores (no floats cross the hash gate).
    Documents align to embeddings by doc_id = vec_id."""
    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    bm = (T.bm25_topk(docs, _BM25_TERMS, k=_RRF_POOL)
          .select(F.col("doc_id").alias("id"),
                  F.col("rnk").alias("bm25_rnk")))
    q = emb.filter(F.col("vec_id") == 0)
    cos = (S.cosine_topk(emb, q, k=_RRF_POOL)
           .select(F.col("neighbor_id").alias("id"),
                   F.col("rnk").alias("cos_rnk")))
    fused = S.rrf_fuse([("bm25", bm), ("cos", cos)], k=_RRF_K)
    return fused.select(F.col("id").alias("doc_id"), "bm25_rnk", "cos_rnk",
                        "rrf_fp", "fused_rnk").orderBy("fused_rnk")


_MMR_K = 5
_MMR_POOL = 16


def _mmr_sql(k: int, pool: int) -> str:
    lam = "CAST(0.7 AS DOUBLE)"
    oml = "CAST(0.3 AS DOUBLE)"
    dot_ab = "CAST(CAST(" + _DOT.format(a="va", b="vb") + " AS VARCHAR) AS DOUBLE)"
    dot_aa = "CAST(CAST(" + _DOT.format(a="va", b="va") + " AS VARCHAR) AS DOUBLE)"
    dot_bb = "CAST(CAST(" + _DOT.format(a="vb", b="vb") + " AS VARCHAR) AS DOUBLE)"
    parts = [f"""
    WITH pool AS MATERIALIZED ({_cosine_sql(pool, "vec_id = 0")}),
    pv AS MATERIALIZED (
      SELECT p.neighbor_id AS id, e.embedding AS v, p.cosine AS rel
      FROM pool p JOIN embeddings e ON e.vec_id = p.neighbor_id),
    sp AS MATERIALIZED (
      SELECT x.id AS a, y.id AS b,
             {dot_ab.replace('va', 'x.v').replace('vb', 'y.v')}
               / (sqrt({dot_aa.replace('va', 'x.v')})
                  * sqrt({dot_bb.replace('vb', 'y.v')})) AS sim
      FROM pv x JOIN pv y ON x.id < y.id),
    sims AS (SELECT a, b, sim FROM sp UNION ALL SELECT b, a, sim FROM sp),
    sel1 AS MATERIALIZED (
      SELECT id, rel, CAST(0.0 AS DOUBLE) AS penalty,
             {lam} * rel - {oml} * CAST(0.0 AS DOUBLE) AS score
      FROM pv
      ORDER BY {lam} * rel - {oml} * CAST(0.0 AS DOUBLE) DESC, id LIMIT 1),
    selected1 AS (SELECT id FROM sel1)"""]
    for r in range(2, k + 1):
        parts.append(f""",
    cand{r} AS MATERIALIZED (
      SELECT p.id, p.rel, max(s.sim) AS penalty
      FROM pv p JOIN sims s ON s.a = p.id
                           AND s.b IN (SELECT id FROM selected{r-1})
      WHERE p.id NOT IN (SELECT id FROM selected{r-1})
      GROUP BY p.id, p.rel),
    sel{r} AS MATERIALIZED (
      SELECT id, rel, penalty, {lam} * rel - {oml} * penalty AS score
      FROM cand{r}
      ORDER BY {lam} * rel - {oml} * penalty DESC, id LIMIT 1),
    selected{r} AS (SELECT id FROM selected{r-1}
                    UNION ALL SELECT id FROM sel{r})""")
    unions = "\n    UNION ALL ".join(
        f"SELECT {r} AS pick_rank, id AS vec_id, rel AS relevance, "
        f"penalty, score AS mmr_score FROM sel{r}"
        for r in range(1, k + 1))
    parts.append(f"\n    {unions}\n    ORDER BY pick_rank\n    ")
    return "".join(parts)


@query("emb_mmr_diversify", _mmr_sql(_MMR_K, _MMR_POOL))
def emb_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k: greedy selection of
    5 results from a cosine top-16 pool, trading relevance against
    redundancy (lambda = 0.7) — the diversity-selection operator for
    retrieval and for "don't train on near-identical examples" batch
    curation. Corpus-scale work = the relevance scan + the pool pairwise
    sims (both distributed, decimal-exact doubles); the greedy argmax
    runs driver-side over the contracted <= 64-row pool (see
    functions/similarity.py mmr_diversify). Oracle = the same greedy
    unrolled as one CTE chain per round."""
    emb = _emb(spark, sf_dir)
    return S.mmr_diversify(emb, query_id=0, k=_MMR_K, pool=_MMR_POOL)


# ===========================================================================
# r10: IVF-PQ search (FAISS IVFADC shape) with measured recall
# ===========================================================================

def _pq_subdist_sql(x: str, y: str, off: int) -> str:
    a = f"CAST({x}[{off} + i] AS DOUBLE)"
    b = f"CAST({y}[{off} + i] AS DOUBLE)"
    return (f"list_reduce(list_transform(generate_series(1, {PQ_SUBDIM}), "
            f"i -> ({a} - {b}) * ({a} - {b})), (a, b) -> a + b)")


def _ivfpq_sql(k: int, n_centroids: int, query_filter: str,
               nprobe: int = 1, refine: int = 0) -> str:
    diff = ("(" + _EL.replace("{v}", "e.embedding") + " - "
            + _EL.replace("{v}", "c._cv") + ")")
    sqdist = (f"list_sum(list_transform(generate_series(1, len(e.embedding)), "
              f"i -> {diff} * {diff}))")
    adc = ("(" + _pq_subdist_sql("q.qv", "cb0.embedding", 0) + ") + ("
           + _pq_subdist_sql("q.qv", "cb1.embedding", PQ_SUBDIM) + ")")
    return f"""
    WITH cent AS (SELECT vec_id AS _cid, embedding AS _cv
                  FROM embeddings WHERE vec_id < {n_centroids}),
    arn AS MATERIALIZED (
      SELECT e.vec_id, e.embedding, c._cid AS cell,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {sqdist} ASC, c._cid ASC) AS rn
      FROM embeddings e, cent c),
    assigned AS (SELECT vec_id, embedding, cell FROM arn WHERE rn = 1),
    a0 AS MATERIALIZED ({_pq_assign_sql(0)}),
    a1 AS MATERIALIZED ({_pq_assign_sql(1)}),
    codes AS MATERIALIZED (
      SELECT assigned.vec_id, assigned.cell, a0.code0, a1.code1
      FROM assigned JOIN a0 ON a0.vec_id = assigned.vec_id
                    JOIN a1 ON a1.vec_id = assigned.vec_id),
    q AS (SELECT vec_id AS query_id, embedding AS qv, cell
          FROM arn WHERE ({query_filter}) AND rn <= {nprobe}),
    pairs AS (
      SELECT q.query_id, q.qv, codes.vec_id AS neighbor_id,
             codes.code0, codes.code1, {adc} AS adc
      FROM q JOIN codes USING (cell)
             JOIN embeddings cb0 ON cb0.vec_id = codes.code0
             JOIN embeddings cb1 ON cb1.vec_id = codes.code1
      WHERE codes.vec_id != q.query_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc ASC, neighbor_id) AS rnk
      FROM pairs){_ivfpq_refine_sql(k, refine)}
    """


def _ivfpq_refine_sql(k: int, refine: int) -> str:
    if not refine:
        return f"""
    SELECT query_id, neighbor_id, code0, code1, adc, rnk
    FROM ranked WHERE rnk <= {k} ORDER BY query_id, rnk"""
    diff = ("(" + _EL.replace("{v}", "s.qv") + " - "
            + _EL.replace("{v}", "n.embedding") + ")")
    sq = (f"list_sum(list_transform(generate_series(1, len(s.qv)), "
          f"i -> {diff} * {diff}))")
    return f""",
    short AS (SELECT * FROM ranked WHERE rnk <= {k * refine}),
    refined AS (
      SELECT s.query_id, s.neighbor_id, s.code0, s.code1, s.adc,
             row_number() OVER (PARTITION BY s.query_id
                                ORDER BY {sq} ASC, s.neighbor_id) AS rnk
      FROM short s JOIN embeddings n ON n.vec_id = s.neighbor_id)
    SELECT query_id, neighbor_id, code0, code1, adc, rnk
    FROM refined WHERE rnk <= {k} ORDER BY query_id, rnk"""


def _l2_sql(k: int, query_filter: str) -> str:
    diff = ("(" + _EL.replace("{v}", "qv") + " - "
            + _EL.replace("{v}", "cv") + ")")
    sq = (f"list_sum(list_transform(generate_series(1, len(qv)), "
          f"i -> {diff} * {diff}))")
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE {query_filter}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    pairs AS (SELECT query_id, neighbor_id, {sq} AS sqdist
              FROM q, c WHERE neighbor_id != query_id),
    ranked AS (SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY sqdist ASC, neighbor_id)
                        AS rnk
               FROM pairs)
    SELECT query_id, neighbor_id FROM ranked WHERE rnk <= {k}
    """


IVFPQ_NPROBE = 2
IVFPQ_REFINE = 4


def _ivfpq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached IVF-PQ index table (id, cell, code0, code1) — the
    once-per-corpus artifact (FAISS's trained+populated index) shared by
    emb_ivfpq_topk and emb_ivfpq_recall via the `_cached_sigs`
    mechanism, so repeated searches never re-pay the encode pass."""
    def build() -> DataFrame:
        emb = _emb(spark, sf_dir)
        base = load_table(spark, sf_dir, "embeddings")
        centroids = base.filter(F.col("vec_id") < 8)
        cb_rows = sorted(
            base.filter(F.col("vec_id") < PQ_CODEBOOK)
            .select("vec_id", "embedding").collect(),
            key=lambda r: r[0])
        return S.ivfpq_corpus_codes(emb, centroids, cb_rows,
                                    PQ_SUBSPACES, PQ_SUBDIM)
    return _cached_sigs("ivfpq_codes", spark, sf_dir, build)


@query("emb_ivfpq_topk",
       _ivfpq_sql(5, 8, "vec_id % 100 = 0", IVFPQ_NPROBE, IVFPQ_REFINE))
def emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search with asymmetric distance (FAISS IVFADC, Jégou et
    al. 2011): coarse cells (seeded centroids vec_id < 8, nprobe=2) +
    2x16 PQ codes + the FAISS refine stage (ADC top-20 shortlist
    re-ranked by exact decimal L2); per candidate the ADC distance is
    two LUT lookups + one add — the corpus's full-width vectors are
    read once and NEVER shuffled; the refine fetch joins k·refine ids
    per query, not cells (see functions/similarity.ivfpq_topk)."""
    emb = _emb(spark, sf_dir)
    base = load_table(spark, sf_dir, "embeddings")
    centroids = base.filter(F.col("vec_id") < 8)
    codebook = base.filter(F.col("vec_id") < PQ_CODEBOOK)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return S.ivfpq_topk(emb, queries, centroids, codebook, k=5,
                        subspaces=PQ_SUBSPACES, subdim=PQ_SUBDIM,
                        nprobe=IVFPQ_NPROBE, refine=IVFPQ_REFINE,
                        corpus_codes=_ivfpq_codes(spark, sf_dir))


@query(
    "emb_ivfpq_recall",
    f"""
    WITH pq AS MATERIALIZED (
      SELECT query_id, neighbor_id
      FROM ({_ivfpq_sql(5, 8, "vec_id % 100 = 0", 2, 4)}) z),
    exact AS MATERIALIZED (
      SELECT query_id, neighbor_id
      FROM ({_l2_sql(5, "vec_id % 100 = 0")}) e)
    SELECT count(DISTINCT exact.query_id) AS n_queries,
           count(*) AS n_exact_pairs,
           count(pq.neighbor_id) AS n_hits,
           CAST(count(pq.neighbor_id) AS DOUBLE) / count(*) AS recall_at_5
    FROM exact LEFT JOIN pq USING (query_id, neighbor_id)
    """,
)
def emb_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF-PQ (ADC) path against exact brute-force
    squared-L2 — the compressed index's accuracy measured, not claimed,
    completing the recall trilogy (LSH / IVF / IVF-PQ). Ground truth
    ranks exact decimals; hit counts are integers; the one float op is
    the final division. The truth table is the session-cached
    ``_l2_truth5`` (shared with emb_ivfpq_nprobe_curve — the brute-force
    pass is the expensive side and is paid once per session)."""
    emb = _emb(spark, sf_dir)
    base = load_table(spark, sf_dir, "embeddings")
    centroids = base.filter(F.col("vec_id") < 8)
    codebook = base.filter(F.col("vec_id") < PQ_CODEBOOK)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = _l2_truth5(spark, sf_dir)
    pq = (S.ivfpq_topk(emb, queries, centroids, codebook, k=5,
                       subspaces=PQ_SUBSPACES, subdim=PQ_SUBDIM,
                       nprobe=IVFPQ_NPROBE, refine=IVFPQ_REFINE,
                       corpus_codes=_ivfpq_codes(spark, sf_dir))
          .select("query_id", "neighbor_id")
          .withColumn("_hit", F.lit(1)))
    return (
        exact.join(pq, on=["query_id", "neighbor_id"], how="left")
        .agg(F.countDistinct("query_id").alias("n_queries"),
             F.count(F.lit(1)).alias("n_exact_pairs"),
             F.count("_hit").alias("n_hits"),
             (F.count("_hit").cast("double")
              / F.count(F.lit(1))).alias("recall_at_5"))
    )


def _l2_truth5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached exact brute-force top-5 ground truth for the
    standard query sample (vec_id % 100 = 0) — shared by every recall
    measurement so the quadratic truth pass is paid once per session."""
    def build() -> DataFrame:
        emb = _emb(spark, sf_dir)
        queries = emb.filter(F.col("vec_id") % 100 == 0)
        return S.l2_topk(emb, queries, k=5).select("query_id",
                                                   "neighbor_id")
    return _cached_sigs("l2_truth5", spark, sf_dir, build)


NPROBE_CURVE = (1, 2, 4)


def _ivfpq_curve_sql(k: int, n_centroids: int, query_filter: str,
                     nprobes: tuple, refine: int) -> str:
    """Union of per-nprobe recall rows sharing ONE materialized index
    (cent/arn/codes) and ONE materialized exact-truth CTE — the oracle
    twin of the engine's `_ivfpq_codes` / `_l2_truth5` session caches."""
    diff = ("(" + _EL.replace("{v}", "e.embedding") + " - "
            + _EL.replace("{v}", "c._cv") + ")")
    sqdist = (f"list_sum(list_transform(generate_series(1, len(e.embedding)), "
              f"i -> {diff} * {diff}))")
    adc = ("(" + _pq_subdist_sql("q.qv", "cb0.embedding", 0) + ") + ("
           + _pq_subdist_sql("q.qv", "cb1.embedding", PQ_SUBDIM) + ")")
    rdiff = ("(" + _EL.replace("{v}", "s.qv") + " - "
             + _EL.replace("{v}", "n.embedding") + ")")
    rsq = (f"list_sum(list_transform(generate_series(1, len(s.qv)), "
           f"i -> {rdiff} * {rdiff}))")
    branches, selects = [], []
    for n in nprobes:
        branches.append(f"""
    q{n} AS (SELECT vec_id AS query_id, embedding AS qv, cell
             FROM arn WHERE ({query_filter}) AND rn <= {n}),
    pairs{n} AS (
      SELECT q.query_id, q.qv, codes.vec_id AS neighbor_id, {adc} AS adc
      FROM q{n} q JOIN codes USING (cell)
                  JOIN embeddings cb0 ON cb0.vec_id = codes.code0
                  JOIN embeddings cb1 ON cb1.vec_id = codes.code1
      WHERE codes.vec_id != q.query_id),
    short{n} AS (
      SELECT * FROM (
        SELECT query_id, qv, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc ASC, neighbor_id) AS rnk
        FROM pairs{n}) WHERE rnk <= {k * refine}),
    top{n} AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               row_number() OVER (PARTITION BY s.query_id
                                  ORDER BY {rsq} ASC, s.neighbor_id) AS rnk
        FROM short{n} s JOIN embeddings n ON n.vec_id = s.neighbor_id)
      WHERE rnk <= {k})""")
        selects.append(f"""
    SELECT {n} AS nprobe,
           count(DISTINCT exact.query_id) AS n_queries,
           count(*) AS n_exact_pairs,
           count(pq.neighbor_id) AS n_hits,
           CAST(count(pq.neighbor_id) AS DOUBLE) / count(*) AS recall_at_5
    FROM exact LEFT JOIN top{n} pq USING (query_id, neighbor_id)""")
    return f"""
    WITH cent AS (SELECT vec_id AS _cid, embedding AS _cv
                  FROM embeddings WHERE vec_id < {n_centroids}),
    arn AS MATERIALIZED (
      SELECT e.vec_id, e.embedding, c._cid AS cell,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {sqdist} ASC, c._cid ASC) AS rn
      FROM embeddings e, cent c),
    assigned AS (SELECT vec_id, embedding, cell FROM arn WHERE rn = 1),
    a0 AS MATERIALIZED ({_pq_assign_sql(0)}),
    a1 AS MATERIALIZED ({_pq_assign_sql(1)}),
    codes AS MATERIALIZED (
      SELECT assigned.vec_id, assigned.cell, a0.code0, a1.code1
      FROM assigned JOIN a0 ON a0.vec_id = assigned.vec_id
                    JOIN a1 ON a1.vec_id = assigned.vec_id),
    exact AS MATERIALIZED (
      SELECT query_id, neighbor_id
      FROM ({_l2_sql(k, query_filter)}) e),{','.join(branches)}
    SELECT * FROM ({' UNION ALL '.join(selects)}) ORDER BY nprobe
    """


def _pq_train_sql(subspaces: int, subdim: int, k: int) -> str:
    """Per-subspace exact-integer Lloyd step twin: µ-quantized slices,
    seeded assignment, floor-division means, reassignment, SSE sums —
    every value BIGINT (the sums CAST back down: DuckDB's sum(BIGINT)
    is HUGEINT, which pandas would lossy-float past 2^53)."""
    fd = floordiv_sql  # subtract-nonneg-remainder floor division
    blocks, selects = [], []
    for m in range(subspaces):
        off = m * subdim
        q = (f"list_transform(generate_series(1, {subdim}), i -> "
             f"CAST(floor(CAST(embedding[{off} + i] AS DOUBLE) "
             f"* 1000000 + 0.5) AS BIGINT))")
        d0 = (f"list_sum(list_transform(generate_series(1, {subdim}), "
              f"i -> (x.xq[i] - c.xq[i]) * (x.xq[i] - c.xq[i])))")
        d2 = (f"list_sum(list_transform(generate_series(1, {subdim}), "
              f"i -> (x.xq[i] - m.mv[i]) * (x.xq[i] - m.mv[i])))")
        blocks.append(f"""
    xq{m} AS MATERIALIZED (
      SELECT vec_id, {q} AS xq FROM embeddings),
    cq{m} AS (SELECT vec_id AS cid, xq FROM xq{m} WHERE vec_id < {k}),
    a{m} AS MATERIALIZED (
      SELECT vec_id, xq, cid AS cell, d AS d0 FROM (
        SELECT x.vec_id, x.xq, c.cid, {d0} AS d,
               row_number() OVER (PARTITION BY x.vec_id
                                  ORDER BY {d0} ASC, c.cid ASC) AS rn
        FROM xq{m} x, cq{m} c) WHERE rn = 1),
    mean{m} AS (
      SELECT cell, pos, {fd('sum(x)', 'count(*)')} AS mu
      FROM (SELECT cell, generate_subscripts(xq, 1) AS pos,
                   unnest(xq) AS x
            FROM a{m})
      GROUP BY cell, pos),
    mv{m} AS (SELECT cell, list(CAST(mu AS BIGINT) ORDER BY pos) AS mv
              FROM mean{m} GROUP BY cell),
    a2{m} AS (
      SELECT vec_id, cell2, d2 FROM (
        SELECT x.vec_id, m.cell AS cell2, {d2} AS d2,
               row_number() OVER (PARTITION BY x.vec_id
                                  ORDER BY {d2} ASC, m.cell ASC) AS rn
        FROM a{m} x, mv{m} m) WHERE rn = 1)""")
        selects.append(f"""
    SELECT {m} AS subspace, count(*) AS n_vecs,
           CAST(sum(a.d0) AS BIGINT) AS sse_seeded,
           CAST(sum(b.d2) AS BIGINT) AS sse_trained,
           count(DISTINCT a.cell) AS n_cells_seeded,
           count(DISTINCT b.cell2) AS n_cells_trained
    FROM a{m} a JOIN a2{m} b USING (vec_id)""")
    return (f"    WITH {','.join(blocks)}\n"
            f"    SELECT * FROM ({' UNION ALL '.join(selects)}) "
            f"ORDER BY subspace")


def _residual_pq_sql(subspaces: int, subdim: int,
                     n_cents: int, n_cb: int) -> str:
    """Residual-PQ twin: full-width µ-quantized vectors, integer IVF
    assignment, residual via indexed list subtract, raw-vs-residual PQ
    SSE per subspace. Sums CAST back to BIGINT (HUGEINT/pandas rule)."""
    dim = subspaces * subdim
    q = (f"list_transform(generate_series(1, {dim}), i -> "
         f"CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) "
         f"AS BIGINT))")
    dc = (f"list_sum(list_transform(generate_series(1, {dim}), "
          f"i -> (x.xq[i] - c.xq[i]) * (x.xq[i] - c.xq[i])))")
    blocks = [f"""
    xq AS MATERIALIZED (SELECT vec_id, {q} AS xq FROM embeddings),
    cq AS (SELECT vec_id AS cid, xq FROM xq WHERE vec_id < {n_cents}),
    av AS MATERIALIZED (
      SELECT vec_id, xq,
             list_transform(generate_series(1, {dim}),
                            i -> xq[i] - cxq[i]) AS rq
      FROM (
        SELECT x.vec_id, x.xq, c.xq AS cxq,
               row_number() OVER (PARTITION BY x.vec_id
                                  ORDER BY {dc} ASC, c.cid ASC) AS rn
        FROM xq x, cq c) WHERE rn = 1)"""]
    selects = []
    for m in range(subspaces):
        off = m * subdim
        dw = (f"list_sum(list_transform(generate_series(1, {subdim}), "
              f"i -> (x.xq[{off} + i] - c.xq[{off} + i]) "
              f"* (x.xq[{off} + i] - c.xq[{off} + i])))")
        dr = (f"list_sum(list_transform(generate_series(1, {subdim}), "
              f"i -> (x.rq[{off} + i] - c.rq[{off} + i]) "
              f"* (x.rq[{off} + i] - c.rq[{off} + i])))")
        blocks.append(f"""
    aw{m} AS (SELECT vec_id, min({dw}) AS dw
              FROM av x, (SELECT xq FROM av WHERE vec_id < {n_cb}) c
              GROUP BY vec_id),
    ar{m} AS (SELECT vec_id, min({dr}) AS dr
              FROM av x, (SELECT rq FROM av WHERE vec_id < {n_cb}) c
              GROUP BY vec_id)""")
        selects.append(f"""
    SELECT {m} AS subspace, count(*) AS n_vecs,
           CAST(sum(dw) AS BIGINT) AS sse_raw_pq,
           CAST(sum(dr) AS BIGINT) AS sse_residual_pq
    FROM aw{m} JOIN ar{m} USING (vec_id)""")
    return (f"    WITH {','.join(blocks)}\n"
            f"    SELECT * FROM ({' UNION ALL '.join(selects)}) "
            f"ORDER BY subspace")


@query("emb_residual_pq_gain",
       _residual_pq_sql(PQ_SUBSPACES, PQ_SUBDIM, 8, PQ_CODEBOOK))
def emb_residual_pq_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual PQ vs raw PQ, the actual FAISS IVFADC encoding choice
    (PQ codes the residual v − centroid[cell]) with the effect measured
    under the gate — see ``similarity.residual_pq_gain``. Codebooks are
    the same seeded rows in both arms: raw slices vs those rows' own
    residual slices, so the comparison isolates the residual transform
    itself. MEASURED FINDING (sf0.01): with SEEDED (untrained) coarse
    centroids the residual arm is ~16% WORSE (389e12 vs 337e12 SSE per
    subspace) — residual coding only pays once the coarse quantizer
    concentrates residual energy, which is exactly why FAISS trains
    both stages (cf. the nprobe finding in emb_ivfpq_recall: more
    candidates lowered ADC recall). The operator exists to measure that
    decision, not to assume the paper's answer transfers to an
    untrained index."""
    emb = _emb(spark, sf_dir)
    base = load_table(spark, sf_dir, "embeddings")
    cents = base.filter(F.col("vec_id") < 8).collect()
    cb = base.filter(F.col("vec_id") < PQ_CODEBOOK).collect()
    return S.residual_pq_gain(emb, cents, cb, subspaces=PQ_SUBSPACES,
                              subdim=PQ_SUBDIM)


@query("emb_pq_train_gain",
       _pq_train_sql(PQ_SUBSPACES, PQ_SUBDIM, PQ_CODEBOOK))
def emb_pq_train_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED PQ codebooks: one exact-integer Lloyd iteration per
    subspace over µ-quantized vector slices, measuring the quantization
    SSE drop vs the seeded codebook rows (the k-means training FAISS
    runs before populating an IVFADC index — here with the gain
    measured under the gate, not assumed). See
    ``similarity.pq_train_gain`` for the scale shape: two literal-
    codebook assignment passes + one (cell, pos) hash agg per subspace;
    the trained means travel as ≤512 driver-side integers."""
    emb = _emb(spark, sf_dir)
    base = load_table(spark, sf_dir, "embeddings")
    cb_rows = sorted(
        base.filter(F.col("vec_id") < PQ_CODEBOOK)
        .select("vec_id", "embedding").collect(), key=lambda r: r[0])
    return S.pq_train_gain(emb, cb_rows, subspaces=PQ_SUBSPACES,
                           subdim=PQ_SUBDIM)


@query("emb_ivfpq_nprobe_curve",
       _ivfpq_curve_sql(5, 8, "vec_id % 100 = 0", NPROBE_CURVE,
                        IVFPQ_REFINE))
def emb_ivfpq_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 vs nprobe ∈ {1,2,4} at fixed refine — the FAISS tuning
    curve an operator actually reads before sizing a 100 TB index (how
    much cell coverage buys how much recall). Everything expensive is
    paid once: the IVF-PQ codes table and the brute-force truth are the
    session-cached `_ivfpq_codes` / `_l2_truth5`; each curve point adds
    only a query-side cell join over the narrow codes table plus a
    k·refine-row exact re-rank."""
    emb = _emb(spark, sf_dir)
    base = load_table(spark, sf_dir, "embeddings")
    centroids = base.filter(F.col("vec_id") < 8)
    codebook = base.filter(F.col("vec_id") < PQ_CODEBOOK)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    codes = _ivfpq_codes(spark, sf_dir)
    exact = _l2_truth5(spark, sf_dir)
    rows = []
    # one shared candidate/ADC pass for all three curve points
    # (similarity.ivfpq_topk_curve — per-point rows identical to
    # ivfpq_topk at that nprobe, pinned by test); previously each point
    # re-collected the codebook and re-ran the whole cell join
    curve = S.ivfpq_topk_curve(emb, queries, centroids, codebook, k=5,
                               subspaces=PQ_SUBSPACES, subdim=PQ_SUBDIM,
                               nprobes=NPROBE_CURVE, refine=IVFPQ_REFINE,
                               corpus_codes=codes)
    for n, point in curve:
        pq = (point.select("query_id", "neighbor_id")
              .withColumn("_hit", F.lit(1)))
        rows.append(
            exact.join(pq, on=["query_id", "neighbor_id"], how="left")
            .agg(F.countDistinct("query_id").alias("n_queries"),
                 F.count(F.lit(1)).alias("n_exact_pairs"),
                 F.count("_hit").alias("n_hits"),
                 (F.count("_hit").cast("double")
                  / F.count(F.lit(1))).alias("recall_at_5"))
            .select(F.lit(n).cast("int").alias("nprobe"),
                    "n_queries", "n_exact_pairs", "n_hits",
                    "recall_at_5"))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("nprobe")


# ===========================================================================
# r11: incrementally-maintained ANN index under sync (pipe_ann_index_sync)
# ===========================================================================

#: updated rows for the maintenance scenario: vec_id < 20 flips sign —
#: exact in float for ANY value, covers codebook-source ids (3..15 < 16)
#: so the FREEZE is load-bearing, and lands in the first day-cell only
#: (hour = vec_id), exercising the cell-scoped recompute path.
_ANNIDX_UPDATED = "vec_id < 20"
_ANNIDX_NCENT = 16


def _annidx_pq_assign_sql(m: int) -> str:
    """``_pq_assign_sql`` against the post-update corpus (``final``)
    with the codebook still the ORIGINAL seeded rows — the frozen-
    codebook contract the engine's side table maintains."""
    dist = _PQ_SUBDIST.format(d=PQ_SUBDIM, off=m * PQ_SUBDIM)
    return f"""
      SELECT vec_id, cid AS code{m} FROM (
        SELECT e.vec_id, c.vec_id AS cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dist} ASC, c.vec_id ASC) AS rn
        FROM final e,
             (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id < {PQ_CODEBOOK}) c
      ) WHERE rn = 1"""


def _annidx_sql() -> str:
    # IEEE-double fold in element order (the proven _PQ_SUBDIST ≡
    # _pq_subdist_dbl idiom) — the engine's index encode uses doubles,
    # not the emb_* family's exact-decimal casts: the per-sync encode
    # is the one place assignment cost multiplies by the corpus
    # (pipe._ann_encode docstring has the 5× measurement)
    diff = ("(CAST(e.embedding[i] AS DOUBLE) "
            "- CAST(c._cv[i] AS DOUBLE))")
    sqdist = (f"list_reduce(list_transform(generate_series(1, "
              f"len(e.embedding)), i -> {diff} * {diff}), "
              f"(a, b) -> a + b)")
    return f"""
    WITH final AS MATERIALIZED (
      SELECT vec_id,
             CASE WHEN {_ANNIDX_UPDATED}
                  THEN list_transform(embedding, x -> -x)
                  ELSE embedding END AS embedding
      FROM embeddings),
    cent AS (SELECT vec_id AS _cid, embedding AS _cv
             FROM embeddings WHERE vec_id < {_ANNIDX_NCENT}),
    arn AS MATERIALIZED (
      SELECT e.vec_id, c._cid AS cell,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {sqdist} ASC, c._cid ASC) AS rn
      FROM final e, cent c),
    assigned AS (SELECT vec_id, cell FROM arn WHERE rn = 1),
    a0 AS MATERIALIZED ({_annidx_pq_assign_sql(0)}),
    a1 AS MATERIALIZED ({_annidx_pq_assign_sql(1)})
    SELECT assigned.vec_id, assigned.cell, a0.code0, a1.code1
    FROM assigned JOIN a0 USING (vec_id) JOIN a1 USING (vec_id)
    ORDER BY assigned.vec_id
    """


@query("pipe_ann_index_sync", _annidx_sql())
def pipe_ann_index_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTALLY-MAINTAINED ANN index under the correctness
    gate (VERDICT r10 #6): embeddings replay through a Pipe with
    ``parameters['ann_index']`` in three syncs — a first build (full
    encode + codebook FREEZE from the 16 smallest-id rows), an
    insert-only sync (the index delta-folds by encoding ONLY the
    appended files — O(patch), the shuffle-free literal-array
    projection), and an UPDATE sync (vec_id < 20 flip sign: the index
    swap-recomputes exactly the touched day-cell). The returned frame
    is the maintained side table itself; the ORACLE is the from-scratch
    encode of the FINAL corpus against the FROZEN (pre-update) codebook
    — hash equality IS the sync-then-search ≡ full-rebuild proof.

    Reference analogue: none (the reference has no vector surface);
    this is the rollup-substrate discipline (pipe.py M14) applied to
    the FAISS IVFADC index layout, the artifact a 100 TB corpus must
    maintain like a continuous aggregate because re-encoding per sync
    is a full-corpus pass. Physical O(patch)/cell-scoped pins live in
    ``tests/test_ann_index.py``."""
    import shutil
    import tempfile

    from meerschaum_spark.pipe import Pipe

    base = (load_table(spark, sf_dir, "embeddings")
            .select(F.expr("timestamp'2024-01-01' + make_interval("
                           "0, 0, 0, 0, cast(vec_id AS int))").alias("ts"),
                    "vec_id", "embedding")
            .persist())
    instance = tempfile.mkdtemp(prefix="mrsm_q_annidx_")
    try:
        pipe = Pipe(
            "catalog", "annidx", instance=instance, spark=spark,
            columns={"datetime": "ts", "id": "vec_id"},
            parameters={"ann_index": {
                "column": "embedding", "n_centroids": _ANNIDX_NCENT,
                "subspaces": PQ_SUBSPACES, "subdim": PQ_SUBDIM,
            }})
        r1 = pipe.sync(base.filter(F.col("vec_id") < 300))
        assert r1.success, r1.message
        # disjoint-by-construction insert: skip the diff (the bounded
        # remote-fetch contract) — the ann maintenance still rides the
        # captured appended files, same O(patch) encode path
        r2 = pipe.sync(base.filter(F.col("vec_id") >= 300),
                       check_existing=False)
        assert r2.success, r2.message
        upd = (base.filter(F.expr(_ANNIDX_UPDATED))
               .withColumn("embedding",
                           F.transform("embedding", lambda x: -x)))
        r3 = pipe.sync(upd)
        assert r3.success, r3.message
        out = (pipe.get_ann_index()
               .select("vec_id", "cell", "code0", "code1")
               .orderBy("vec_id"))
        # contract the result driver-local BEFORE the temp store dies
        # with the finally (the MMR/Markov LocalRelation discipline —
        # corpus is 500 rows of 4 ints by construction)
        rows = out.collect()
        return spark.createDataFrame(
            rows, "vec_id long, cell long, code0 long, code1 long")
    finally:
        base.unpersist()
        shutil.rmtree(instance, ignore_errors=True)


# ===========================================================================
# r12: TRAINED codebook under the maintained-index gate
# (pipe_ann_trained_sync)
# ===========================================================================

def _ann_trained_sql() -> str:
    """Oracle for the trained-freeze maintained index: replicate ONE
    exact-integer Lloyd iteration over the FIRST sync's corpus
    (vec_id < 300, seeded from the 16 smallest-id rows), convert the
    floor-division integer means to doubles (q/1e6 — bit-identical to
    the engine's python division + JSON repr round trip), then encode
    the FINAL post-update corpus against those TRAINED centroids with
    the IEEE-double fold idiom. DuckDB ``//`` floors like python ``//``
    (the documented cross-engine floor-division pairing); integer
    sqdists/sums are exact; sum(BIGINT) is HUGEINT so it casts back
    before the division (the r10 HUGEINT lesson)."""
    qz = ("list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) "
          "* 1000000.0 + 0.5) AS BIGINT))")
    isq = ("list_reduce(list_transform(generate_series(1, 64), i -> "
           "(c._xq[i] - s._sq[i]) * (c._xq[i] - s._sq[i])), "
           "(a, b) -> a + b)")
    dd = ("(CAST(e.embedding[i] AS DOUBLE) - c._cv[i])")
    dsq = (f"list_reduce(list_transform(generate_series(1, 64), i -> "
           f"{dd} * {dd}), (a, b) -> a + b)")

    def pq(m: int) -> str:
        off = m * 32
        d = (f"(CAST(e.embedding[i + {off}] AS DOUBLE) "
             f"- c._cv[i + {off}])")
        sq = (f"list_reduce(list_transform(generate_series(1, 32), "
              f"i -> {d} * {d}), (a, b) -> a + b)")
        return f"""
      SELECT vec_id, cid AS code{m} FROM (
        SELECT e.vec_id, c._cid AS cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {sq} ASC, c._cid ASC) AS rn
        FROM final e, cent_t c
      ) WHERE rn = 1"""

    return f"""
    WITH seedq AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS _pos,
             {qz} AS _sq
      FROM embeddings WHERE vec_id < 16),
    corpusq AS MATERIALIZED (
      SELECT vec_id, {qz} AS _xq
      FROM embeddings WHERE vec_id < 300),
    asg AS MATERIALIZED (
      SELECT vec_id, cell, _xq FROM (
        SELECT c.vec_id, s._pos AS cell, c._xq,
               row_number() OVER (PARTITION BY c.vec_id
                                  ORDER BY {isq} ASC, s._pos ASC) AS rn
        FROM corpusq c, seedq s) WHERE rn = 1),
    means AS MATERIALIZED (
      SELECT cell, i AS pos,
             CAST({floordiv_sql('CAST(sum(_xq[i]) AS BIGINT)',
                                'count(*)')} AS BIGINT) AS m
      FROM asg, generate_series(1, 64) g(i)
      GROUP BY cell, i),
    cent_t AS MATERIALIZED (
      SELECT s._pos AS _cid,
             list(CAST(COALESCE(mm.m, s._sq[g.i]) AS DOUBLE)
                  / 1000000.0 ORDER BY g.i) AS _cv
      FROM seedq s
      CROSS JOIN generate_series(1, 64) g(i)
      LEFT JOIN means mm ON mm.cell = s._pos AND mm.pos = g.i
      GROUP BY s._pos),
    final AS MATERIALIZED (
      SELECT vec_id,
             CASE WHEN {_ANNIDX_UPDATED}
                  THEN list_transform(embedding, x -> -x)
                  ELSE embedding END AS embedding
      FROM embeddings),
    arn AS MATERIALIZED (
      SELECT e.vec_id, c._cid AS cell,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {dsq} ASC, c._cid ASC) AS rn
      FROM final e, cent_t c),
    assigned AS (SELECT vec_id, cell FROM arn WHERE rn = 1),
    a0 AS MATERIALIZED ({pq(0)}),
    a1 AS MATERIALIZED ({pq(1)})
    SELECT assigned.vec_id, assigned.cell, a0.code0, a1.code1
    FROM assigned JOIN a0 USING (vec_id) JOIN a1 USING (vec_id)
    ORDER BY assigned.vec_id
    """


@query("pipe_ann_trained_sync", _ann_trained_sql())
def pipe_ann_trained_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED-codebook maintained index under the gate (r12,
    VERDICT r11 #6a): same three-sync replay as ``pipe_ann_index_sync``
    (build, disjoint insert, vec_id<20 sign-flip update) but the
    ``ann_index`` conf carries ``train_iters: 1`` — the freeze runs one
    exact-integer Lloyd iteration over the FIRST sync's corpus before
    snapshotting, so the frozen codebook is trained centroids (ids =
    positions 0..15), not the seeded rows. Hash equality against the
    oracle's independent training + final-corpus encode proves BOTH the
    training arithmetic (µ-quantized assignment, floor-division means,
    q/1e6 double conversion) and that later syncs encode against the
    FROZEN trained codebook — the update flips the very rows the seeds
    came from, so a re-derivation would flip the centroids and every
    hash. Reference analogue: none (no vector surface); this gates the
    FAISS train-then-populate lifecycle under continuous ingestion."""
    import shutil
    import tempfile

    from meerschaum_spark.pipe import Pipe

    base = (load_table(spark, sf_dir, "embeddings")
            .select(F.expr("timestamp'2024-01-01' + make_interval("
                           "0, 0, 0, 0, cast(vec_id AS int))").alias("ts"),
                    "vec_id", "embedding")
            .persist())
    instance = tempfile.mkdtemp(prefix="mrsm_q_anntr_")
    try:
        pipe = Pipe(
            "catalog", "anntrained", instance=instance, spark=spark,
            columns={"datetime": "ts", "id": "vec_id"},
            parameters={"ann_index": {
                "column": "embedding", "n_centroids": _ANNIDX_NCENT,
                "subspaces": PQ_SUBSPACES, "subdim": PQ_SUBDIM,
                "train_iters": 1,
            }})
        r1 = pipe.sync(base.filter(F.col("vec_id") < 300))
        assert r1.success, r1.message
        r2 = pipe.sync(base.filter(F.col("vec_id") >= 300),
                       check_existing=False)
        assert r2.success, r2.message
        upd = (base.filter(F.expr(_ANNIDX_UPDATED))
               .withColumn("embedding",
                           F.transform("embedding", lambda x: -x)))
        r3 = pipe.sync(upd)
        assert r3.success, r3.message
        out = (pipe.get_ann_index()
               .select("vec_id", "cell", "code0", "code1")
               .orderBy("vec_id"))
        rows = out.collect()
        return spark.createDataFrame(
            rows, "vec_id long, cell long, code0 long, code1 long")
    finally:
        base.unpersist()
        shutil.rmtree(instance, ignore_errors=True)


@query("streaming_ann_index_sync", _annidx_sql())
def streaming_ann_index_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained ANN index under STREAMING ingestion (r12): the
    embeddings corpus arrives as two staged file drops on a watched
    directory and flows through ``stream_sync_pipe`` (foreachBatch →
    ``pipe.sync`` with the detached-session metric fallbacks) into a
    pipe carrying ``parameters['ann_index']`` — arrival 1 builds and
    FREEZES the codebook, arrival 2 mixes disjoint inserts
    (vec_id ≥ 300) with updates (vec_id < 20 sign-flip, hitting
    codebook-source rows) in ONE micro-batch. The final side table must
    hash-equal the SAME oracle as ``pipe_ann_index_sync``: a
    from-scratch encode of the final corpus against the frozen
    codebook — batch and streaming ingestion are twins over one truth,
    the EWMA/CDC/Holt twin discipline applied to index maintenance.
    Staged files are written OUTSIDE the watched dir and renamed in
    (the documented mid-commit-listing hazard)."""
    import os as _os
    import shutil
    import tempfile

    from meerschaum_spark.pipe import Pipe
    from meerschaum_spark.queries import _stream_replay_confs
    from meerschaum_spark.streaming.runner import stream_sync_pipe

    base = (load_table(spark, sf_dir, "embeddings")
            .select(F.expr("timestamp'2024-01-01' + make_interval("
                           "0, 0, 0, 0, cast(vec_id AS int))").alias("ts"),
                    "vec_id", "embedding")
            .persist())
    instance = tempfile.mkdtemp(prefix="mrsm_q_sannidx_")
    src = _os.path.join(instance, "_src")
    stage = _os.path.join(instance, "_stage")
    _os.makedirs(src)
    try:
        pipe = Pipe(
            "catalog", "sannidx", instance=instance, spark=spark,
            columns={"datetime": "ts", "id": "vec_id"},
            parameters={"ann_index": {
                "column": "embedding", "n_centroids": _ANNIDX_NCENT,
                "subspaces": PQ_SUBSPACES, "subdim": PQ_SUBDIM,
            }})
        schema = base.schema
        ckpt = _os.path.join(instance, "_ckpt")
        arrivals = [
            base.filter(F.col("vec_id") < 300),
            base.filter(F.col("vec_id") >= 300).unionByName(
                base.filter(F.expr(_ANNIDX_UPDATED))
                .withColumn("embedding",
                            F.transform("embedding", lambda x: -x))),
        ]
        with _stream_replay_confs(spark):
            for i, batch in enumerate(arrivals):
                batch.write.mode("overwrite").parquet(stage)
                _os.rename(stage, _os.path.join(src, f"b{i}"))
                stream = (spark.readStream.schema(schema)
                          .parquet(src + "/*"))
                q = stream_sync_pipe(pipe, stream, ckpt,
                                     query_name=f"_mrsm_sannidx_{i}")
                finished = q.awaitTermination(300)
                if q.exception() is not None:
                    raise q.exception()
                if not finished:
                    q.stop()
                    raise TimeoutError("ann streaming replay timed out")
        out = (pipe.get_ann_index()
               .select("vec_id", "cell", "code0", "code1")
               .orderBy("vec_id"))
        rows = out.collect()
        return spark.createDataFrame(
            rows, "vec_id long, cell long, code0 long, code1 long")
    finally:
        base.unpersist()
        shutil.rmtree(instance, ignore_errors=True)


# ===========================================================================
# r13: maintained-index SEARCH under the gate (pipe_ann_search_topk)
# ===========================================================================

#: (kind, applicationId, sf_dir) -> instance dir of a built-and-updated
#: ANN pipe (see _ann_replay_pipe)
_ANN_PIPE_CACHE: dict = {}

#: the three identical-replay groups the gate queries share: ann_index
#: params + replay shape ("full" = full-corpus sync then sign-flip
#: update; "split" = the 3-sync replay: vec_id<300 build, >=300
#: insert-only, sign-flip update)
_ANN_REPLAY: dict = {
    "pq_search": ({"column": "embedding", "n_centroids": _ANNIDX_NCENT,
                   "subspaces": PQ_SUBSPACES, "subdim": PQ_SUBDIM},
                  "full"),
    "sq8_search": ({"column": "embedding", "n_centroids": _ANNIDX_NCENT,
                    "codec": "sq8"},
                   "full"),
    "residual": ({"column": "embedding", "n_centroids": _ANNIDX_NCENT,
                  "subspaces": PQ_SUBSPACES, "subdim": PQ_SUBDIM,
                  "train_iters": 1, "residual": True},
                 "split"),
}


def _ann_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The timestamped embeddings frame every ANN gate replays from."""
    return (load_table(spark, sf_dir, "embeddings")
            .select(F.expr("timestamp'2024-01-01' + make_interval("
                           "0, 0, 0, 0, cast(vec_id AS int))").alias("ts"),
                    "vec_id", "embedding"))


def _ann_replay_pipe(kind: str, spark: SparkSession, sf_dir: str):
    """Session-cached built-and-updated ANN pipe shared by the gate
    queries whose build replays are IDENTICAL (r14): the pq search pair
    (pipe_ann_search_topk / pipe_ann_refine_search), the sq8 search
    pair, and the residual sync/search pair each ran the same sync
    sequence against the same corpus into their own temp store — two
    full pipe builds (syncs + index encode + codebook freeze, ~4 s each
    at sf0.1) per pair for one artifact. Same `_cached_sigs`/_BPE_CACHE
    economics: one materialization per (applicationId, sf_dir), rebuilt
    fresh every process from the parquet inputs, build logged to
    cache_log under ``ann_pipe:<kind>`` with an evictor that drops every
    cached entry and store dir of that kind (the bench's rep loop uses
    it so first-consumer min3 re-pays the build). Assumes sf_dir
    contents are immutable within a session — the standing
    session-cache invariant (queries_llm:251).
    Consumers only READ the returned pipe (ann_search/get_ann_index);
    the replay's syncs all happen here."""
    import shutil
    import tempfile

    from meerschaum_spark.pipe import Pipe

    params, shape = _ANN_REPLAY[kind]
    app_id = spark.sparkContext.applicationId
    for stale in [k for k in _ANN_PIPE_CACHE if k[1] != app_id]:
        shutil.rmtree(_ANN_PIPE_CACHE.pop(stale), ignore_errors=True)
    key = (kind, app_id, sf_dir)
    instance = _ANN_PIPE_CACHE.get(key)
    if instance is None:
        t0 = time.perf_counter()
        instance = tempfile.mkdtemp(prefix=f"mrsm_q_annshared_{kind}_")
        base = _ann_base(spark, sf_dir).persist()
        try:
            pipe = Pipe(
                "catalog", f"annshared_{kind}", instance=instance,
                spark=spark, columns={"datetime": "ts", "id": "vec_id"},
                parameters={"ann_index": dict(params)})
            if shape == "full":
                r1 = pipe.sync(base)
                assert r1.success, r1.message
            else:
                r1 = pipe.sync(base.filter(F.col("vec_id") < 300))
                assert r1.success, r1.message
                r2 = pipe.sync(base.filter(F.col("vec_id") >= 300),
                               check_existing=False)
                assert r2.success, r2.message
            upd = (base.filter(F.expr(_ANNIDX_UPDATED))
                   .withColumn("embedding",
                               F.transform("embedding", lambda x: -x)))
            rn = pipe.sync(upd)
            assert rn.success, rn.message
        except BaseException:
            shutil.rmtree(instance, ignore_errors=True)
            raise
        finally:
            base.unpersist()
        cache_log.record(f"ann_pipe:{kind}", time.perf_counter() - t0)

        def _evict(kind=kind):
            # every entry of this kind (any app or sf_dir), not only the
            # key that registered last
            for k in [k for k in _ANN_PIPE_CACHE if k[0] == kind]:
                shutil.rmtree(_ANN_PIPE_CACHE.pop(k), ignore_errors=True)

        cache_log.register_evictor(f"ann_pipe:{kind}", _evict)
        _ANN_PIPE_CACHE[key] = instance
    from meerschaum_spark.pipe import Pipe as _Pipe
    return _Pipe("catalog", f"annshared_{kind}", instance=instance,
                 spark=spark, columns={"datetime": "ts", "id": "vec_id"},
                 parameters={"ann_index": dict(params)})


@_atexit.register
def _ann_pipe_cache_cleanup() -> None:
    import shutil
    for inst in _ANN_PIPE_CACHE.values():
        shutil.rmtree(inst, ignore_errors=True)
    _ANN_PIPE_CACHE.clear()


def _ann_search_ctes() -> str:
    """The PQ-search CTE body shared by ``_ann_search_sql`` and
    ``_ann_refine_search_sql``: rebuild the post-update index in SQL
    (the ``_annidx_sql`` CTEs — double-fold cells vs the FROZEN
    original centroids, PQ codes vs the frozen codebook), then
    replicate the IVFADC search for the five flipped query vectors:
    probe list = the 2 nearest centroids by the EXACT-DECIMAL idiom
    (``assign_ivf_cells_multi``'s arithmetic — the pairing proven by
    the driver-green emb_ivfpq rows), candidate ADC = two IEEE-double
    subspace folds against the codebook entries the candidate's codes
    name, (adc, neighbor_id) row_number. Ends at ``ranked``."""
    dd = ("(CAST(e.embedding[i] AS DOUBLE) "
          "- CAST(c._cv[i] AS DOUBLE))")
    dsq = (f"list_reduce(list_transform(generate_series(1, "
           f"len(e.embedding)), i -> {dd} * {dd}), "
           f"(a, b) -> a + b)")
    qdiff = ("(" + _EL.replace("{v}", "q.qv") + " - "
             + _EL.replace("{v}", "c._cv") + ")")
    qdist = (f"list_sum(list_transform(generate_series(1, len(q.qv)), "
             f"i -> {qdiff} * {qdiff}))")
    adc = ("(" + _pq_subdist_sql("p.qv", "cb0.embedding", 0) + ") + ("
           + _pq_subdist_sql("p.qv", "cb1.embedding", PQ_SUBDIM) + ")")
    return f"""final AS MATERIALIZED (
      SELECT vec_id,
             CASE WHEN {_ANNIDX_UPDATED}
                  THEN list_transform(embedding, x -> -x)
                  ELSE embedding END AS embedding
      FROM embeddings),
    cent AS (SELECT vec_id AS _cid, embedding AS _cv
             FROM embeddings WHERE vec_id < {_ANNIDX_NCENT}),
    arn AS MATERIALIZED (
      SELECT e.vec_id, c._cid AS cell,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {dsq} ASC, c._cid ASC) AS rn
      FROM final e, cent c),
    assigned AS (SELECT vec_id, cell FROM arn WHERE rn = 1),
    a0 AS MATERIALIZED ({_annidx_pq_assign_sql(0)}),
    a1 AS MATERIALIZED ({_annidx_pq_assign_sql(1)}),
    codes AS MATERIALIZED (
      SELECT assigned.vec_id, assigned.cell, a0.code0, a1.code1
      FROM assigned JOIN a0 USING (vec_id) JOIN a1 USING (vec_id)),
    qv AS (SELECT vec_id AS query_id, embedding AS qv
           FROM final WHERE vec_id < 5),
    qrn AS MATERIALIZED (
      SELECT q.query_id, q.qv, c._cid AS cell,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY {qdist} ASC, c._cid ASC) AS rn
      FROM qv q, cent c),
    probes AS (SELECT query_id, qv, cell FROM qrn WHERE rn <= 2),
    pairs AS (
      SELECT p.query_id, codes.vec_id AS neighbor_id,
             codes.code0, codes.code1, {adc} AS adc
      FROM probes p JOIN codes USING (cell)
           JOIN embeddings cb0 ON cb0.vec_id = codes.code0
           JOIN embeddings cb1 ON cb1.vec_id = codes.code1
      WHERE codes.vec_id != p.query_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc ASC, neighbor_id) AS rnk
      FROM pairs)"""


def _ann_search_sql() -> str:
    """Oracle for the no-refine ``pipe.ann_search`` gate: the shared
    PQ-search CTE body plus the ADC top-5 projection."""
    return f"""
    WITH {_ann_search_ctes()}
    SELECT query_id, neighbor_id, code0, code1, adc, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """


def _ann_refine_search_sql() -> str:
    """Oracle for ``pipe.ann_search(refine=2)``: the shared PQ-search
    body keeps the ADC top-10 shortlist, whose TRUE post-update
    vectors are fetched back and re-ranked by EXACT-DECIMAL squared
    L2 (the ``_sqdist_dec`` ≡ ``_EL`` list_sum pairing proven by the
    driver-green emb_ivfpq refine rows), (d2, neighbor_id) top-5."""
    dq = ("(" + _EL.replace("{v}", "q.qv") + " - "
          + _EL.replace("{v}", "e.embedding") + ")")
    d2 = (f"list_sum(list_transform(generate_series(1, len(q.qv)), "
          f"i -> {dq} * {dq}))")
    return f"""
    WITH {_ann_search_ctes()},
    short AS (
      SELECT query_id, neighbor_id, code0, code1, adc
      FROM ranked WHERE rnk <= 10),
    ex AS (
      SELECT s.query_id, s.neighbor_id, s.code0, s.code1, s.adc,
             {d2} AS d2
      FROM short s
      JOIN qv q USING (query_id)
      JOIN final e ON e.vec_id = s.neighbor_id),
    rr AS (
      SELECT query_id, neighbor_id, code0, code1, adc,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY d2 ASC, neighbor_id) AS rnk
      FROM ex)
    SELECT query_id, neighbor_id, code0, code1, adc, rnk
    FROM rr WHERE rnk <= 5 ORDER BY query_id, rnk
    """


@query("pipe_ann_search_topk", _ann_search_sql())
def pipe_ann_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pipe.ann_search`` END-TO-END under the gate (r13): the
    maintained index's SEARCH half, previously pytest-only. A pipe
    builds + freezes on the full corpus, an update sync flips
    vec_id < 20 (maintaining the index through the cell-scoped
    recompute), then the five FLIPPED query vectors search with
    nprobe=2, k=5 — multi-probe coarse assignment (exact-decimal
    ranking), per-query ADC lookup tables over the frozen codebook
    (IEEE-double folds), (adc, id) tie-break. Hash equality against
    the oracle's independent index rebuild + search replication proves
    the entire read path over the maintained artifact: cells, codes,
    probe lists, and ADC arithmetic. The adc DOUBLE output column is
    hash-safe by the proven ``_pq_subdist_dbl`` ≡ ``_pq_subdist_sql``
    cross-engine idiom. Shares the built-and-updated pipe with
    ``pipe_ann_refine_search`` via ``_ann_replay_pipe`` (identical
    replay, r14). Reference analogue: none (no vector surface)."""
    pipe = _ann_replay_pipe("pq_search", spark, sf_dir)
    queries = (_ann_base(spark, sf_dir).filter(F.col("vec_id") < 5)
               .withColumn("embedding",
                           F.transform("embedding", lambda x: -x))
               .drop("ts"))
    res = pipe.ann_search(queries, k=5, nprobe=2)
    rows = res.collect()
    return spark.createDataFrame(
        rows, "query_id long, neighbor_id long, code0 long, "
              "code1 long, adc double, rnk int")


@query("pipe_ann_refine_search", _ann_refine_search_sql())
def pipe_ann_refine_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pipe.ann_search`` with the FAISS REFINE stage END-TO-END (r13
    third block — the last ann_search branch that was pytest-only):
    the same build + sign-flip-update replay as pipe_ann_search_topk,
    then the five flipped queries search nprobe=2, k=5, refine=2 —
    the ADC ranking keeps a k·refine=10 shortlist whose TRUE
    post-update vectors are fetched back (id equi-join against the
    maintained store) and re-ranked by exact decimal L2. Hash equality
    against the oracle's independent rebuild + two-stage search proves
    the refine fetch reads the POST-update corpus (a stale fetch
    re-ranks by pre-flip vectors and flips the hash) and that the
    decimal re-rank ordering is engine-exact. Output carries the ADC
    value and codes of each survivor, so the shortlist stage is pinned
    too. Shares the built-and-updated pipe with ``pipe_ann_search_topk``
    via ``_ann_replay_pipe`` (identical replay, r14). Reference
    analogue: none (no vector surface)."""
    pipe = _ann_replay_pipe("pq_search", spark, sf_dir)
    queries = (_ann_base(spark, sf_dir).filter(F.col("vec_id") < 5)
               .withColumn("embedding",
                           F.transform("embedding", lambda x: -x))
               .drop("ts"))
    res = pipe.ann_search(queries, k=5, nprobe=2, refine=2)
    rows = res.collect()
    return spark.createDataFrame(
        rows, "query_id long, neighbor_id long, code0 long, "
              "code1 long, adc double, rnk int")


# ===========================================================================
# r13: RESIDUAL PQ under the maintained-index gate (pipe_ann_residual_sync)
# ===========================================================================

def _ann_residual_ctes() -> str:
    """The residual-index CTE body shared by ``_ann_residual_sql`` and
    ``_ann_residual_search_sql``: replicate the one-iteration Lloyd
    training pass (the ``_ann_trained_sql`` CTEs verbatim —
    µ-quantized integer assignment, floor-division means CAST back
    from HUGEINT, q/1e6 double conversion), derive the RESIDUAL
    CODEBOOK as the original seeds' residuals vs their nearest trained
    centroid (IEEE-double argmin, position ids 0..15 in seed-id
    order), then encode the FINAL post-update corpus: cell = trained-
    centroid argmin, codes = per-subspace argmin of the double fold
    between the vector's residual and each residual-codebook entry —
    every distance in the engine's exact element order. Ends at the
    ``r0``/``r1`` per-subspace code CTEs (callers append their own
    tail)."""
    qz = ("list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) "
          "* 1000000.0 + 0.5) AS BIGINT))")
    isq = ("list_reduce(list_transform(generate_series(1, 64), i -> "
           "(c._xq[i] - s._sq[i]) * (c._xq[i] - s._sq[i])), "
           "(a, b) -> a + b)")
    dd = ("(CAST(e.embedding[i] AS DOUBLE) - c._cv[i])")
    dsq = (f"list_reduce(list_transform(generate_series(1, 64), i -> "
           f"{dd} * {dd}), (a, b) -> a + b)")
    # seed-vs-trained-centroid assignment: seeds are already DOUBLE
    # lists, so no cast inside the fold (the engine subtracts python
    # doubles)
    sd = "(s._sv[i] - c._cv[i])"
    ssq = (f"list_reduce(list_transform(generate_series(1, 64), i -> "
           f"{sd} * {sd}), (a, b) -> a + b)")

    def rq(m: int) -> str:
        off = m * 32
        d = f"(e._res[i + {off}] - r._rv[i + {off}])"
        sq = (f"list_reduce(list_transform(generate_series(1, 32), "
              f"i -> {d} * {d}), (a, b) -> a + b)")
        return f"""
      SELECT vec_id, cid AS code{m} FROM (
        SELECT e.vec_id, r._rid AS cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {sq} ASC, r._rid ASC) AS rn
        FROM fres e, rescb r
      ) WHERE rn = 1"""

    return f"""seedq AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS _pos,
             {qz} AS _sq
      FROM embeddings WHERE vec_id < 16),
    corpusq AS MATERIALIZED (
      SELECT vec_id, {qz} AS _xq
      FROM embeddings WHERE vec_id < 300),
    asg AS MATERIALIZED (
      SELECT vec_id, cell, _xq FROM (
        SELECT c.vec_id, s._pos AS cell, c._xq,
               row_number() OVER (PARTITION BY c.vec_id
                                  ORDER BY {isq} ASC, s._pos ASC) AS rn
        FROM corpusq c, seedq s) WHERE rn = 1),
    means AS MATERIALIZED (
      SELECT cell, i AS pos,
             CAST({floordiv_sql('CAST(sum(_xq[i]) AS BIGINT)',
                                'count(*)')} AS BIGINT) AS m
      FROM asg, generate_series(1, 64) g(i)
      GROUP BY cell, i),
    cent_t AS MATERIALIZED (
      SELECT s._pos AS _cid,
             list(CAST(COALESCE(mm.m, s._sq[g.i]) AS DOUBLE)
                  / 1000000.0 ORDER BY g.i) AS _cv
      FROM seedq s
      CROSS JOIN generate_series(1, 64) g(i)
      LEFT JOIN means mm ON mm.cell = s._pos AND mm.pos = g.i
      GROUP BY s._pos),
    sd AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS _sv
      FROM embeddings WHERE vec_id < 16),
    sasg AS MATERIALIZED (
      SELECT vec_id, cell, _sv FROM (
        SELECT s.vec_id, c._cid AS cell, s._sv,
               row_number() OVER (PARTITION BY s.vec_id
                                  ORDER BY {ssq} ASC, c._cid ASC) AS rn
        FROM sd s, cent_t c) WHERE rn = 1),
    rescb AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY a.vec_id) - 1 AS _rid,
             list_transform(generate_series(1, 64),
                            i -> a._sv[i] - t._cv[i]) AS _rv
      FROM sasg a JOIN cent_t t ON t._cid = a.cell),
    final AS MATERIALIZED (
      SELECT vec_id,
             CASE WHEN {_ANNIDX_UPDATED}
                  THEN list_transform(embedding, x -> -x)
                  ELSE embedding END AS embedding
      FROM embeddings),
    arn AS MATERIALIZED (
      SELECT e.vec_id, c._cid AS cell,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {dsq} ASC, c._cid ASC) AS rn
      FROM final e, cent_t c),
    assigned AS (SELECT vec_id, cell FROM arn WHERE rn = 1),
    fres AS MATERIALIZED (
      SELECT f.vec_id,
             list_transform(generate_series(1, 64),
                            i -> CAST(f.embedding[i] AS DOUBLE)
                                 - t._cv[i]) AS _res
      FROM final f
      JOIN assigned a USING (vec_id)
      JOIN cent_t t ON t._cid = a.cell),
    r0 AS MATERIALIZED ({rq(0)}),
    r1 AS MATERIALIZED ({rq(1)})"""


def _ann_residual_sql() -> str:
    """Oracle for the residual-encoded maintained index: the shared
    residual CTE body (:func:`_ann_residual_ctes`) plus the index-table
    projection tail."""
    return f"""
    WITH {_ann_residual_ctes()}
    SELECT assigned.vec_id, assigned.cell, r0.code0, r1.code1
    FROM assigned JOIN r0 USING (vec_id) JOIN r1 USING (vec_id)
    ORDER BY assigned.vec_id
    """


@query("pipe_ann_residual_sync", _ann_residual_sql())
def pipe_ann_residual_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL product quantization in the maintained index
    (``parameters['ann_index']['residual']`` — r13, the faithful FAISS
    IVFADC encoding: codes quantize r = v − centroid[cell], which
    carries far less energy than the raw vector): the three-sync
    replay with ``train_iters: 1``, where the freeze snapshots BOTH
    the trained centroids and the residual codebook (the original
    seeds' residuals vs those trained centroids — a separate frozen
    artifact, because with codebook == centroids each row's own
    residual is degenerate zero; the engine REQUIRES training for
    exactly that reason, encoding emb_residual_pq_gain's measured
    seeded-centroids-are-worse finding). Hash equality against the
    oracle's independent train → residual-codebook → final-corpus
    residual encode proves the whole two-artifact freeze is
    load-bearing: the update flips the rows that fed the seeds, the
    training pass, AND the residual codebook. Shares the built pipe
    with ``pipe_ann_residual_search`` via ``_ann_replay_pipe``
    (identical replay, r14). Reference analogue: none (no vector
    surface)."""
    pipe = _ann_replay_pipe("residual", spark, sf_dir)
    out = (pipe.get_ann_index()
           .select("vec_id", "cell", "code0", "code1")
           .orderBy("vec_id"))
    rows = out.collect()
    return spark.createDataFrame(
        rows, "vec_id long, cell long, code0 long, code1 long")


# ===========================================================================
# r13: IVF-SQ8 codec under the maintained-index gate (pipe_ann_sq8_sync)
# ===========================================================================

def _ann_sq8_sql() -> str:
    """Oracle for the IVF-SQ8 maintained index: per-dimension (min,
    max) stats FROZEN from the FIRST sync's corpus (vec_id < 300 —
    original values, since the freeze ran before the update), coarse
    centroids = the 16 smallest-id ORIGINAL rows, then the FINAL
    post-update corpus encoded from scratch: cell = IEEE-double argmin
    (the ``_annidx_sql`` idiom), codes = the clamped affine
    ``greatest(0, least(255, floor((x − mn)·255/(mx − mn) + 0.5)))``
    in the engine's exact operation order. Codes render as a canonical
    comma-joined string (array output columns are banned — the r11
    driver-canonicalizer lesson)."""
    dd = "(CAST(e.embedding[i] AS DOUBLE) - c._cv[i])"
    dsq = (f"list_reduce(list_transform(generate_series(1, 64), i -> "
           f"{dd} * {dd}), (a, b) -> a + b)")
    code = ("CASE WHEN s.ss[i] = 0.0 THEN 0 "
            "ELSE CAST(greatest(0.0, least(255.0, "
            "floor((CAST(f.embedding[i] AS DOUBLE) - s.mns[i]) "
            "* 255.0 / s.ss[i] + 0.5))) AS BIGINT) END")
    return f"""
    WITH first AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
    dstats AS MATERIALIZED (
      SELECT g.i AS pos,
             min(CAST(embedding[g.i] AS DOUBLE)) AS mn,
             max(CAST(embedding[g.i] AS DOUBLE)) AS mx
      FROM first, generate_series(1, 64) g(i)
      GROUP BY g.i),
    statl AS MATERIALIZED (
      SELECT list(mn ORDER BY pos) AS mns,
             list(mx - mn ORDER BY pos) AS ss
      FROM dstats),
    cent AS (SELECT vec_id AS _cid, embedding AS _cv
             FROM embeddings WHERE vec_id < {_ANNIDX_NCENT}),
    final AS MATERIALIZED (
      SELECT vec_id,
             CASE WHEN {_ANNIDX_UPDATED}
                  THEN list_transform(embedding, x -> -x)
                  ELSE embedding END AS embedding
      FROM embeddings),
    arn AS MATERIALIZED (
      SELECT e.vec_id, c._cid AS cell,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {dsq} ASC, c._cid ASC) AS rn
      FROM final e, cent c),
    assigned AS (SELECT vec_id, cell FROM arn WHERE rn = 1),
    codes AS MATERIALIZED (
      SELECT f.vec_id,
             list_transform(generate_series(1, len(f.embedding)),
                            i -> {code}) AS sq8
      FROM final f, statl s)
    SELECT assigned.vec_id, assigned.cell,
           array_to_string(codes.sq8, ',') AS sq8_codes
    FROM assigned JOIN codes USING (vec_id)
    ORDER BY assigned.vec_id
    """


@query("pipe_ann_sq8_sync", _ann_sq8_sql())
def pipe_ann_sq8_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-SQ8 codec (``parameters['ann_index']['codec'] = 'sq8'``,
    r13 — the FAISS ``IVF,SQ8`` index shape) under the maintained-index
    gate: the same three-sync replay as ``pipe_ann_index_sync`` (build
    + freeze, disjoint insert, vec_id < 20 sign-flip update), but the
    side table stores one clamped uint8-range code PER DIMENSION
    against per-dim stats frozen at first build (4× compression at
    full dimensionality — the measured r12 quality ladder reads SQ8
    recall@5 0.72 vs IVF-PQ+refine 0.20, so this is the maintained
    index's quality codec). Hash equality against the oracle's
    from-scratch encode of the final corpus with the FROZEN stats +
    centroids proves the freeze is load-bearing for BOTH artifacts:
    the update flips rows that fed the stats and the codebook, so any
    re-derivation moves mins/maxes and flips hashes. Reference
    analogue: none (no vector surface); FAISS ScalarQuantizer QT_8bit
    is the public model."""
    import shutil
    import tempfile

    from meerschaum_spark.pipe import Pipe

    base = (load_table(spark, sf_dir, "embeddings")
            .select(F.expr("timestamp'2024-01-01' + make_interval("
                           "0, 0, 0, 0, cast(vec_id AS int))").alias("ts"),
                    "vec_id", "embedding")
            .persist())
    instance = tempfile.mkdtemp(prefix="mrsm_q_annsq8_")
    try:
        pipe = Pipe(
            "catalog", "annsq8", instance=instance, spark=spark,
            columns={"datetime": "ts", "id": "vec_id"},
            parameters={"ann_index": {
                "column": "embedding", "n_centroids": _ANNIDX_NCENT,
                "codec": "sq8",
            }})
        r1 = pipe.sync(base.filter(F.col("vec_id") < 300))
        assert r1.success, r1.message
        r2 = pipe.sync(base.filter(F.col("vec_id") >= 300),
                       check_existing=False)
        assert r2.success, r2.message
        upd = (base.filter(F.expr(_ANNIDX_UPDATED))
               .withColumn("embedding",
                           F.transform("embedding", lambda x: -x)))
        r3 = pipe.sync(upd)
        assert r3.success, r3.message
        out = (pipe.get_ann_index()
               .select("vec_id", "cell",
                       F.expr("array_join(transform(sq8, "
                              "x -> CAST(x AS STRING)), ',')")
                       .alias("sq8_codes"))
               .orderBy("vec_id"))
        rows = out.collect()
        return spark.createDataFrame(
            rows, "vec_id long, cell long, sq8_codes string")
    finally:
        base.unpersist()
        shutil.rmtree(instance, ignore_errors=True)


# ===========================================================================
# r13: codec SEARCH gates (pipe_ann_sq8_search / pipe_ann_residual_search)
# ===========================================================================

def _ann_sq8_search_ctes() -> str:
    """The sq8-search CTE body shared by ``_ann_sq8_search_sql`` and
    ``_ann_sq8_refine_search_sql``: rebuild the post-update index
    (frozen per-dim stats from the ORIGINAL corpus — the first sync is
    full-corpus here — frozen centroids = the 16 smallest-id original
    rows, final corpus cells by the IEEE-double argmin, codes by the
    clamped affine), then replicate the search for the five flipped
    queries: probe list = the 2 nearest centroids by the EXACT-DECIMAL
    idiom (``assign_ivf_cells_multi``'s arithmetic), query codes = the
    SAME clamped affine against the frozen stats (symmetric scalar
    quantization), candidate distance = the exact integer squared-L2
    over the codes (BIGINT — CAST back from DuckDB's HUGEINT
    list_sum), (code_dist, neighbor_id) ranking. Ends at ``ranked``."""
    dd = "(CAST(e.embedding[i] AS DOUBLE) - c._cv[i])"
    dsq = (f"list_reduce(list_transform(generate_series(1, 64), i -> "
           f"{dd} * {dd}), (a, b) -> a + b)")
    qdiff = ("(" + _EL.replace("{v}", "q.qv") + " - "
             + _EL.replace("{v}", "c._cv") + ")")
    qdist = (f"list_sum(list_transform(generate_series(1, len(q.qv)), "
             f"i -> {qdiff} * {qdiff}))")
    code = ("CASE WHEN s.ss[i] = 0.0 THEN 0 "
            "ELSE CAST(greatest(0.0, least(255.0, "
            "floor((CAST({v}[i] AS DOUBLE) - s.mns[i]) "
            "* 255.0 / s.ss[i] + 0.5))) AS BIGINT) END")
    fcode = code.replace("{v}", "f.embedding")
    qcode = code.replace("{v}", "q.qv")
    return f"""dstats AS MATERIALIZED (
      SELECT g.i AS pos,
             min(CAST(embedding[g.i] AS DOUBLE)) AS mn,
             max(CAST(embedding[g.i] AS DOUBLE)) AS mx
      FROM embeddings, generate_series(1, 64) g(i)
      GROUP BY g.i),
    statl AS MATERIALIZED (
      SELECT list(mn ORDER BY pos) AS mns,
             list(mx - mn ORDER BY pos) AS ss
      FROM dstats),
    cent AS (SELECT vec_id AS _cid, embedding AS _cv
             FROM embeddings WHERE vec_id < {_ANNIDX_NCENT}),
    final AS MATERIALIZED (
      SELECT vec_id,
             CASE WHEN {_ANNIDX_UPDATED}
                  THEN list_transform(embedding, x -> -x)
                  ELSE embedding END AS embedding
      FROM embeddings),
    arn AS MATERIALIZED (
      SELECT e.vec_id, c._cid AS cell,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {dsq} ASC, c._cid ASC) AS rn
      FROM final e, cent c),
    assigned AS (SELECT vec_id, cell FROM arn WHERE rn = 1),
    codes AS MATERIALIZED (
      SELECT f.vec_id,
             list_transform(generate_series(1, len(f.embedding)),
                            i -> {fcode}) AS cc
      FROM final f, statl s),
    qv AS (SELECT vec_id AS query_id, embedding AS qv
           FROM final WHERE vec_id < 5),
    qrn AS MATERIALIZED (
      SELECT q.query_id, q.qv, c._cid AS cell,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY {qdist} ASC, c._cid ASC) AS rn
      FROM qv q, cent c),
    probes AS MATERIALIZED (
      SELECT q.query_id, q.cell,
             list_transform(generate_series(1, len(q.qv)),
                            i -> {qcode}) AS qc
      FROM (SELECT query_id, qv, cell FROM qrn WHERE rn <= 2) q,
           statl s),
    pairs AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, 64),
                  i -> (p.qc[i] - cd.cc[i]) * (p.qc[i] - cd.cc[i])))
                  AS BIGINT) AS code_dist
      FROM probes p
      JOIN assigned a USING (cell)
      JOIN codes cd ON cd.vec_id = a.vec_id
      WHERE a.vec_id != p.query_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY code_dist ASC,
                                            neighbor_id) AS rnk
      FROM pairs)"""


def _ann_sq8_search_sql() -> str:
    """Oracle for the no-refine sq8 search gate: the shared CTE body
    plus the integer-distance top-5 projection."""
    return f"""
    WITH {_ann_sq8_search_ctes()}
    SELECT query_id, neighbor_id, code_dist, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """


def _ann_sq8_refine_search_sql() -> str:
    """Oracle for ``pipe.ann_search(refine=2)`` on the sq8 codec: the
    shared body keeps the integer-distance top-10 shortlist, whose
    TRUE post-update vectors are fetched back and re-ranked by
    EXACT-DECIMAL squared L2 (the same ``_sqdist_dec`` ≡ ``_EL``
    list_sum pairing the PQ refine gate rides), (d2, neighbor_id)
    top-5; each survivor keeps the integer code_dist it rode in on."""
    dq = ("(" + _EL.replace("{v}", "q.qv") + " - "
          + _EL.replace("{v}", "e.embedding") + ")")
    d2 = (f"list_sum(list_transform(generate_series(1, len(q.qv)), "
          f"i -> {dq} * {dq}))")
    return f"""
    WITH {_ann_sq8_search_ctes()},
    short AS (
      SELECT query_id, neighbor_id, code_dist
      FROM ranked WHERE rnk <= 10),
    ex AS (
      SELECT s.query_id, s.neighbor_id, s.code_dist, {d2} AS d2
      FROM short s
      JOIN qv q USING (query_id)
      JOIN final e ON e.vec_id = s.neighbor_id),
    rr AS (
      SELECT query_id, neighbor_id, code_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY d2 ASC, neighbor_id) AS rnk
      FROM ex)
    SELECT query_id, neighbor_id, code_dist, rnk
    FROM rr WHERE rnk <= 5 ORDER BY query_id, rnk
    """


@query("pipe_ann_sq8_search", _ann_sq8_search_sql())
def pipe_ann_sq8_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pipe.ann_search`` on the SQ8 codec END-TO-END (r13 — the
    search half of ``pipe_ann_sq8_sync``, mirroring what
    ``pipe_ann_search_topk`` gates for PQ): build + freeze on the full
    corpus, sign-flip update sync (exceeding the frozen stats, so
    corpus codes clamp), then the five FLIPPED query vectors search
    nprobe=2, k=5 through ``similarity.ivfsq8_topk`` — multi-probe
    coarse assignment (exact-decimal ranking), symmetric scalar
    quantization of the query against the FROZEN stats, exact integer
    squared-L2 over codes. The ranking key is BIGINT-exact, so the
    output hashes with no double-render caveat at all (stronger than
    the PQ gate's adc column in that respect). Reference analogue:
    none (no vector surface); FAISS ``IVF,SQ8`` is the public
    model. Shares the built-and-updated pipe with
    ``pipe_ann_sq8_refine_search`` via ``_ann_replay_pipe`` (identical
    replay, r14)."""
    pipe = _ann_replay_pipe("sq8_search", spark, sf_dir)
    queries = (_ann_base(spark, sf_dir).filter(F.col("vec_id") < 5)
               .withColumn("embedding",
                           F.transform("embedding", lambda x: -x))
               .drop("ts"))
    res = pipe.ann_search(queries, k=5, nprobe=2)
    rows = res.collect()
    return spark.createDataFrame(
        rows, "query_id long, neighbor_id long, code_dist long, "
              "rnk int")


@query("pipe_ann_sq8_refine_search", _ann_sq8_refine_search_sql())
def pipe_ann_sq8_refine_search(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """``pipe.ann_search`` refine mode on the SQ8 codec END-TO-END
    (r13 review block — completing the search-surface symmetry: PQ
    refine is gated by pipe_ann_refine_search, this gates the sq8
    twin): build + freeze on the full corpus, sign-flip update, then
    the five flipped queries search nprobe=2, k=5, refine=2 — the
    integer code-distance ranking keeps a k·refine=10 shortlist whose
    TRUE post-update vectors are fetched back and exact-decimal
    re-ranked. The output keeps each survivor's BIGINT code_dist (the
    column the review-block symmetry fix exposed), so both stages
    hash. Shares the built-and-updated pipe with ``pipe_ann_sq8_search``
    via ``_ann_replay_pipe`` (identical replay, r14). Reference
    analogue: none (no vector surface)."""
    pipe = _ann_replay_pipe("sq8_search", spark, sf_dir)
    queries = (_ann_base(spark, sf_dir).filter(F.col("vec_id") < 5)
               .withColumn("embedding",
                           F.transform("embedding", lambda x: -x))
               .drop("ts"))
    res = pipe.ann_search(queries, k=5, nprobe=2, refine=2)
    rows = res.collect()
    return spark.createDataFrame(
        rows, "query_id long, neighbor_id long, code_dist long, "
              "rnk int")


def _ann_residual_search_sql() -> str:
    """Oracle for ``pipe.ann_search`` on the residual codec: the shared
    residual CTE body (train → residual codebook → final-corpus
    residual encode), then the search replication for the five flipped
    queries. The engine probes by an IEEE-DOUBLE fold against the
    trained centroids (``ivfpq_residual_topk``'s ``sqdist_dbl`` —
    aggregate seeded 0.0 ≡ list_reduce, the proven pairing), computes
    the query's OWN residual per probed cell, and the candidate adc is
    the per-subspace fold between that residual and the
    residual-codebook entries the candidate's codes name — the LUT the
    engine builds holds exactly these folds, so spelling them directly
    is value-identical."""
    qd = "(CAST(q.qv[i] AS DOUBLE) - c._cv[i])"
    qdsq = (f"list_reduce(list_transform(generate_series(1, 64), i -> "
            f"{qd} * {qd}), (a, b) -> a + b)")

    def rsub(m: int) -> str:
        off = m * 32
        d = f"(p.qres[i + {off}] - rb{m}._rv[i + {off}])"
        return (f"list_reduce(list_transform(generate_series(1, 32), "
                f"i -> {d} * {d}), (a, b) -> a + b)")

    return f"""
    WITH {_ann_residual_ctes()},
    fcodes AS MATERIALIZED (
      SELECT assigned.vec_id, assigned.cell, r0.code0, r1.code1
      FROM assigned JOIN r0 USING (vec_id) JOIN r1 USING (vec_id)),
    qv AS (SELECT vec_id AS query_id, embedding AS qv
           FROM final WHERE vec_id < 5),
    qrn AS MATERIALIZED (
      SELECT q.query_id, q.qv, c._cid AS cell, c._cv,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY {qdsq} ASC, c._cid ASC) AS rn
      FROM qv q, cent_t c),
    probes AS MATERIALIZED (
      SELECT query_id, cell,
             list_transform(generate_series(1, 64),
                            i -> CAST(qv[i] AS DOUBLE) - _cv[i]) AS qres
      FROM qrn WHERE rn <= 2),
    pairs AS (
      SELECT p.query_id, f.vec_id AS neighbor_id,
             ({rsub(0)}) + ({rsub(1)}) AS adc
      FROM probes p
      JOIN fcodes f USING (cell)
      JOIN rescb rb0 ON rb0._rid = f.code0
      JOIN rescb rb1 ON rb1._rid = f.code1
      WHERE f.vec_id != p.query_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc ASC, neighbor_id) AS rnk
      FROM pairs)
    SELECT query_id, neighbor_id, adc, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """


@query("pipe_ann_residual_search", _ann_residual_search_sql())
def pipe_ann_residual_search(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """``pipe.ann_search`` on the RESIDUAL codec END-TO-END (r13 — the
    faithful IVFADC read path, Jégou et al. 2011 §III): the same
    three-sync replay as ``pipe_ann_residual_sync`` (train_iters=1
    freeze of trained centroids + residual codebook, disjoint insert,
    sign-flip update), then the five FLIPPED queries search nprobe=2,
    k=5 through ``similarity.ivfpq_residual_topk`` — per-(query,
    probed-cell) residual LUTs over the query's own residual. Hash
    equality against the oracle's independent train → residual
    codebook → encode → search replication proves the maintained
    two-artifact freeze serves reads correctly, not just that the
    stored codes match. The adc DOUBLE output is hash-safe by the
    same IEEE-fold idiom as the PQ search gate. Shares the built pipe
    with ``pipe_ann_residual_sync`` via ``_ann_replay_pipe`` (identical
    replay, r14). Reference analogue: none (no vector surface)."""
    pipe = _ann_replay_pipe("residual", spark, sf_dir)
    queries = (_ann_base(spark, sf_dir).filter(F.col("vec_id") < 5)
               .withColumn("embedding",
                           F.transform("embedding", lambda x: -x))
               .drop("ts"))
    res = pipe.ann_search(queries, k=5, nprobe=2)
    rows = res.collect()
    return spark.createDataFrame(
        rows, "query_id long, neighbor_id long, adc double, "
              "rnk int")


# ===========================================================================
# r12: LSH band-geometry tuning curve (doc_lsh_band_tuning)
# ===========================================================================

def _band_rows_sql_cfg(bands: int) -> str:
    """Parametrized twin of ``_band_rows_sql``: K=8 signatures split
    into ``bands`` bands of 8//bands consecutive rows, reading from the
    shared MATERIALIZED ``sigm`` table."""
    rpb = _K // bands
    selects = []
    for b in range(bands):
        members = " || ',' || ".join(
            f"CAST(sig_{b * rpb + j} AS VARCHAR)" for j in range(rpb))
        selects.append(f"SELECT doc_id, source, {b} AS band, "
                       f"md5({members}) AS bh FROM sigm")
    return " UNION ALL ".join(selects)


def _lsh_tuning_cfg_sql(bands: int) -> str:
    """One tuning row: candidates at (K=8, b=bands) with the bucket
    cap, joined against the shared truth."""
    return f"""
      SELECT {bands} AS n_bands, {_K // bands} AS rows_per_band,
             count(_c) AS n_candidate_pairs,
             count(CASE WHEN _t IS NOT NULL AND _c IS NOT NULL THEN 1
                   END) AS n_true_positives,
             count(CASE WHEN _t IS NULL THEN 1 END) AS n_false_positives,
             count(CASE WHEN _c IS NULL THEN 1 END) AS n_false_negatives,
             CASE WHEN count(_c) > 0 THEN
               CAST(count(CASE WHEN _t IS NOT NULL AND _c IS NOT NULL
                          THEN 1 END) AS DOUBLE) / count(_c) END
               AS precision,
             CASE WHEN count(_t) > 0 THEN
               CAST(count(CASE WHEN _t IS NOT NULL AND _c IS NOT NULL
                          THEN 1 END) AS DOUBLE) / count(_t) END
               AS recall
      FROM (
        WITH bands0 AS MATERIALIZED ({_band_rows_sql_cfg(bands)}),
        bandsc AS (
          SELECT b.* FROM bands0 b
          JOIN (SELECT band, bh, source FROM bands0
                GROUP BY band, bh, source
                HAVING count(*) <= {D.LSH_MAX_BUCKET}) z
            ON b.band = z.band AND b.bh = z.bh
           AND b.source = z.source),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, 1 AS _c
          FROM bandsc a JOIN bandsc b
            ON a.band = b.band AND a.bh = b.bh AND a.source = b.source
               AND a.doc_id < b.doc_id)
        SELECT _t, _c FROM truth FULL JOIN cand USING (doc_a, doc_b))"""


@query(
    "doc_lsh_band_tuning",
    _MINHASH_CTE + f""",
    sigm AS MATERIALIZED (SELECT * FROM sig),
    sz AS MATERIALIZED (SELECT doc_id, source, {_LSHQ_TOKSET} AS hs,
                               len({_LSHQ_TOKSET}) AS n
                        FROM documents),
    truth AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 1 AS _t
      FROM sz a JOIN sz b
        ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE 3 * len(list_intersect(a.hs, b.hs)) >= a.n + b.n)
    {_lsh_tuning_cfg_sql(8)}
    UNION ALL {_lsh_tuning_cfg_sql(4)}
    UNION ALL {_lsh_tuning_cfg_sql(2)}
    ORDER BY n_bands DESC
    """,
)
def doc_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded-LSH TUNING CURVE (r12): measured precision/recall at
    three band geometries over the SAME K=8 minhash signatures —
    (b=8, r=1), the default (b=4, r=2), and (b=2, r=4) — against the
    lossless exact-Jaccard≥1/2 truth, with the mega-bucket cap live in
    every arm. The theoretical S-curve 1−(1−s^r)^b says more bands =
    higher recall / lower precision; this measures where each geometry
    actually lands on the corpus, including cap loss — the nprobe-curve
    discipline applied to the dedup side. MEASURED FINDING on the gate
    corpus (verified independently: per-pair signature agreement is
    exactly 0-of-8 or 8-of-8 within source): the dense shared
    vocabulary makes each permutation's argmin a function of a few
    extreme-token memberships, so candidate sets COLLAPSE TO IDENTICAL
    across all three geometries (P=0.856/R=0.746 at sf0.01 for every
    arm) — on such corpora band geometry buys nothing and the recall
    ceiling is the signature family itself, exactly the kind of
    corpus-level fact this instrument exists to surface before a
    100 TB run. One signature pass and one truth join amortize across
    the three arms (session-cached ``_minhash_sigs`` /
    ``_token_sets_src``)."""
    docs = _docs(spark, sf_dir)
    sigs = _minhash_sigs(spark, sf_dir)
    # the session-cached truth pair set: it joins into EVERY band arm
    # here AND into doc_lsh_quality; the shared pin replaces the r13
    # per-query pin (one prefix-join evaluation per session)
    truth = (_jaccard_truth_src(spark, sf_dir)
             .withColumn("_t", F.lit(1)))
    tp = F.count(F.when(F.col("_t").isNotNull()
                        & F.col("_c").isNotNull(), 1))
    out = None
    for bands in (8, 4, 2):
        cand = (D.lsh_candidate_pairs(docs, scope_col="source",
                                      k=_K, bands=bands, sigs=sigs)
                .withColumn("_c", F.lit(1)))
        j = truth.join(cand, on=["doc_a", "doc_b"], how="full")
        row = j.agg(
            F.count("_c").alias("n_candidate_pairs"),
            tp.alias("n_true_positives"),
            F.count(F.when(F.col("_t").isNull(), 1))
            .alias("n_false_positives"),
            F.count(F.when(F.col("_c").isNull(), 1))
            .alias("n_false_negatives"),
        ).select(
            F.lit(bands).cast("int").alias("n_bands"),
            F.lit(_K // bands).cast("int").alias("rows_per_band"),
            "n_candidate_pairs", "n_true_positives",
            "n_false_positives", "n_false_negatives",
            F.when(F.col("n_candidate_pairs") > 0,
                   F.col("n_true_positives").cast("double")
                   / F.col("n_candidate_pairs")).alias("precision"),
            F.when((F.col("n_true_positives")
                    + F.col("n_false_negatives")) > 0,
                   F.col("n_true_positives").cast("double")
                   / (F.col("n_true_positives")
                      + F.col("n_false_negatives"))).alias("recall"))
        out = row if out is None else out.unionByName(row)
    return out.orderBy(F.col("n_bands").desc())


# ===========================================================================
# r12: scalar quantization (SQ8) with measured recall (emb_sq8_recall)
# ===========================================================================

@query(
    "emb_sq8_recall",
    f"""
    WITH stats AS MATERIALIZED (
      SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn,
             max(CAST(embedding[i] AS DOUBLE)) AS mx
      FROM embeddings, generate_series(1, 64) g(i)
      GROUP BY i),
    arrs AS (SELECT list(mn ORDER BY i) AS mns,
                    list(mx ORDER BY i) AS mxs
             FROM stats),
    codes AS MATERIALIZED (
      SELECT e.vec_id,
             list_transform(generate_series(1, 64), i ->
               CAST(CASE WHEN a.mxs[i] - a.mns[i] = 0.0
                    THEN 0.0
                    ELSE floor((CAST(e.embedding[i] AS DOUBLE) - a.mns[i])
                               * 255.0 / (a.mxs[i] - a.mns[i]) + 0.5)
                    END AS BIGINT)) AS c
      FROM embeddings e, arrs a),
    q AS (SELECT vec_id AS query_id, c AS qc FROM codes
          WHERE vec_id % 100 = 0),
    pairs AS (
      SELECT q.query_id, n.vec_id AS neighbor_id,
             list_sum(list_transform(generate_series(1, 64), i ->
               (q.qc[i] - n.c[i]) * (q.qc[i] - n.c[i]))) AS d
      FROM q, codes n WHERE n.vec_id != q.query_id),
    sq AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d ASC, neighbor_id ASC) AS rnk
        FROM pairs) WHERE rnk <= 5),
    exact AS MATERIALIZED (
      SELECT query_id, neighbor_id
      FROM ({_l2_sql(5, "vec_id % 100 = 0")}) e)
    SELECT count(DISTINCT exact.query_id) AS n_queries,
           count(*) AS n_exact_pairs,
           count(sq.neighbor_id) AS n_hits,
           CAST(count(sq.neighbor_id) AS DOUBLE) / count(*) AS recall_at_5
    FROM exact LEFT JOIN sq USING (query_id, neighbor_id)
    """,
)
def emb_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of 8-bit SCALAR quantization (FAISS ScalarQuantizer
    QT_8bit — the 4× compression point between raw floats and PQ):
    per-dimension min/max train the quantizer (one posexplode agg,
    dim rows to the driver), every vector encodes to one uint8-range
    BIGINT per dim via an IEEE-double affine + round (literal stats
    arrays as ONE parsed SQL string), and search is exact integer
    squared-L2 over the codes against the session-cached brute-force
    truth. Extends the measured-recall family (LSH / IVF / IVF-PQ /
    matryoshka) with the quantizer whose error is per-dimension
    uniform rather than subspace-structured; both engines share the
    identical double op order (CAST-to-double first — DuckDB would
    otherwise subtract in float32) so codes are bit-identical.
    MEASURED at sf0.01: recall@5 = 0.72 at 4× compression — versus
    0.20 for IVF-PQ(2×16)+refine at 32× — the compression/accuracy
    trade the curve family exists to quantify."""
    emb = _emb(spark, sf_dir)
    stats = S.sq8_stats(emb)
    codes = _cached_sigs("sq8_codes", spark, sf_dir,
                         lambda: S.sq8_codes(_emb(spark, sf_dir), stats))
    qc = codes.filter(F.col("vec_id") % 100 == 0)
    sq = (S.sq8_topk(codes, qc, k=5)
          .select("query_id", "neighbor_id")
          .withColumn("_hit", F.lit(1)))
    exact = _l2_truth5(spark, sf_dir)
    return (
        exact.join(sq, on=["query_id", "neighbor_id"], how="left")
        .agg(F.countDistinct("query_id").alias("n_queries"),
             F.count(F.lit(1)).alias("n_exact_pairs"),
             F.count("_hit").alias("n_hits"),
             (F.count("_hit").cast("double")
              / F.count(F.lit(1))).alias("recall_at_5"))
    )


@query(
    "emb_binary_recall",
    f"""
    WITH codes AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(CASE WHEN CAST(x AS DOUBLE) > 0.0
                                      THEN 1 ELSE 0 END AS BIGINT)) AS c
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, c AS qc FROM codes
          WHERE vec_id % 100 = 0),
    pairs AS (
      SELECT q.query_id, n.vec_id AS neighbor_id,
             list_sum(list_transform(generate_series(1, 64), i ->
               (q.qc[i] - n.c[i]) * (q.qc[i] - n.c[i]))) AS d
      FROM q, codes n WHERE n.vec_id != q.query_id),
    bq AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d ASC, neighbor_id ASC) AS rnk
        FROM pairs) WHERE rnk <= 5),
    exact AS MATERIALIZED (
      SELECT query_id, neighbor_id
      FROM ({_l2_sql(5, "vec_id % 100 = 0")}) e)
    SELECT count(DISTINCT exact.query_id) AS n_queries,
           count(*) AS n_exact_pairs,
           count(bq.neighbor_id) AS n_hits,
           CAST(count(bq.neighbor_id) AS DOUBLE) / count(*) AS recall_at_5
    FROM exact LEFT JOIN bq USING (query_id, neighbor_id)
    """,
)
def emb_binary_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of 1-BIT binary quantization (sign bit per dimension,
    Hamming-distance ranking with id tie-break — the 32× compression
    floor of the quantization ladder, the binary-embedding trade now
    common in vector stores): completes the measured
    compression/accuracy curve — at sf0.01, 1-bit/32× reads
    recall@5 = 0.28, SQ8/4× = 0.72, IVF-PQ(2×16)+refine/32× = 0.20 —
    i.e. at EQUAL 32× compression the sign bits beat the
    seeded-codebook PQ here, the kind of corpus-specific ordering only
    a measurement surfaces. Hamming over 0/1 codes is the same exact
    BIGINT (a−b)² fold as the SQ8 search — one shuffle-free encode
    projection + a broadcast-query distance pass; the sign threshold is
    exact on both engines (no arithmetic before the compare beyond the
    float→double widen)."""
    codes = _cached_sigs(
        "bin_codes", spark, sf_dir,
        lambda: _emb(spark, sf_dir).selectExpr(
            "vec_id",
            "transform(embedding, x -> CAST(CASE WHEN CAST(x AS DOUBLE) "
            "> 0.0D THEN 1 ELSE 0 END AS BIGINT)) AS sq8"))
    qc = codes.filter(F.col("vec_id") % 100 == 0)
    bq = (S.sq8_topk(codes, qc, k=5)
          .select("query_id", "neighbor_id")
          .withColumn("_hit", F.lit(1)))
    exact = _l2_truth5(spark, sf_dir)
    return (
        exact.join(bq, on=["query_id", "neighbor_id"], how="left")
        .agg(F.countDistinct("query_id").alias("n_queries"),
             F.count(F.lit(1)).alias("n_exact_pairs"),
             F.count("_hit").alias("n_hits"),
             (F.count("_hit").cast("double")
              / F.count(F.lit(1))).alias("recall_at_5"))
    )
