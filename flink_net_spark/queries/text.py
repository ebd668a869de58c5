"""Text analysis for training-data pipelines (SURVEY.md §7 phase 6).

Language-ID heuristics, quality scoring, token counting, and document
fingerprinting over the ``documents`` table.  Everything is built-in column
expressions (whole-stage codegen) — no Python in the hot path — so the same
formulas run as DuckDB SQL for the oracle.

Scale: all ops are embarrassingly parallel per-document map work; no
shuffle except final small aggregations.  At 100 TB this is a single scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flink_net_spark.functions import detmath as DM
from flink_net_spark.functions import hashing as H
from flink_net_spark.operators.skew import salted_top_k
from flink_net_spark.queries import query
from flink_net_spark.tables import (
    QueryScope,
    load_table,
    scoped,
    session_shared,
    spread_small_scan,
)

STOPWORDS = ("the", "a")  # present in the synthetic vocabulary


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id, {H.duckdb_char_polyhash("text")} AS fingerprint
    FROM documents
    ORDER BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (content-defined identity)."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", F.expr(H.spark_char_polyhash("text")).alias("fingerprint"))
        .orderBy("doc_id")
    )


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' '))                    AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-z]+'))         AS n_alpha_tokens,
           length(text)                                    AS n_chars_actual,
           n_chars                                         AS n_chars_meta
    FROM documents
    ORDER BY doc_id
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace split + BPE-ish regex token runs."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    return (
        d.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
            F.expr("size(regexp_extract_all(text, '[a-z]+', 0))").cast("long").alias("n_alpha_tokens"),
            F.length("text").cast("long").alias("n_chars_actual"),
            F.col("n_chars").alias("n_chars_meta"),
        )
        .orderBy("doc_id")
    )


_STOP_SET_SQL = "('" + "', '".join(STOPWORDS) + "')"


@query(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               string_split(text, ' ') AS toks,
               length(text)            AS n_chars
        FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           ROUND(len(list_filter(toks, x -> x IN {_STOP_SET_SQL})) * 1.0 / len(toks), 4)
               AS stopword_ratio,
           ROUND(list_sum([length(x) for x in toks]) * 1.0 / len(toks), 4)
               AS avg_token_len,
           ROUND(LEAST(len(toks) / 100.0, 1.0)
                 * (0.5 + 0.5 * LEAST(len(list_filter(toks, x -> x IN {_STOP_SET_SQL}))
                                      * 5.0 / len(toks), 1.0)), 4)
               AS quality_score
    FROM t
    ORDER BY doc_id
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length saturation × stopword-density factor
    (the classic 'looks like natural language' gate for pretraining data)."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    n_stop = F.expr(f"size(filter(split(text, ' '), x -> x IN ({stop_list})))")
    n_tok = F.size(toks)
    sum_len = F.expr("aggregate(split(text, ' '), 0L, (acc, x) -> acc + length(x))")
    stop_ratio = n_stop * F.lit(1.0) / n_tok
    return (
        d.select(
            "doc_id",
            n_tok.cast("long").alias("n_tokens"),
            F.round(stop_ratio, 4).alias("stopword_ratio"),
            F.round(sum_len * 1.0 / n_tok, 4).alias("avg_token_len"),
            F.round(
                F.least(n_tok / 100.0, F.lit(1.0))
                * (0.5 + 0.5 * F.least(n_stop * 5.0 / n_tok, F.lit(1.0))),
                4,
            ).alias("quality_score"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               ROUND(len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SET_SQL}))
                     * 1.0 / len(string_split(text, ' ')), 6) AS stop_density
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN stop_density >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_guessed_en,
           ROUND(AVG(stop_density), 4) AS avg_stop_density
    FROM scored
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: English-stopword density thresholding,
    evaluated against the labeled ``lang`` column.  (A real deployment swaps
    in per-language n-gram profiles; the pipeline shape — score, threshold,
    compare — is identical.)"""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    # 1.0D (not 1.0): Spark SQL parses a bare 1.0 literal as DECIMAL(2,1),
    # which would propagate DecimalType into the output and hash-mismatch the
    # oracle's DOUBLE.  Rounded before thresholding so fp fuzz can't flip the
    # >= 0.05 guess between engines.
    density = F.expr(
        f"round(size(filter(split(text, ' '), x -> x IN ({stop_list}))) * 1.0D"
        f" / size(split(text, ' ')), 6)"
    )
    return (
        d.select("doc_id", "lang", density.alias("stop_density"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("stop_density") >= 0.05, 1).otherwise(0)).alias("n_guessed_en"),
            F.round(F.avg("stop_density"), 4).alias("avg_stop_density"),
        )
        .orderBy("lang")
    )


@query(
    "text_char_bigrams",
    oracle="""
    SELECT bigram, COUNT(*) AS n
    FROM (
        SELECT UNNEST([text[i:i+1] for i in range(1, length(text))]) AS bigram
        FROM documents
    )
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 15
    """,
)
def text_char_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character n-gram profile (the feature extractor behind real lang-ID)."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    return (
        d.select(
            F.explode(
                F.expr("transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))")
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(15)
    )


@query(
    "text_repetition_stats",
    oracle="""
    WITH wc AS (
        SELECT doc_id, word, COUNT(*) AS c
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents)
        GROUP BY doc_id, word
    ),
    wstats AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_words,
               CAST(MAX(c) AS BIGINT) AS top_word_count,
               COUNT(*)               AS n_distinct_words
        FROM wc GROUP BY doc_id
    ),
    gstats AS (
        SELECT doc_id,
               COUNT(*)               AS n_bigrams,
               COUNT(DISTINCT bigram) AS n_distinct_bigrams
        FROM (
            SELECT doc_id, UNNEST([w[i] || ' ' || w[i + 1] for i in range(1, len(w))]) AS bigram
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        )
        GROUP BY doc_id
    )
    SELECT w.doc_id, n_words, top_word_count, n_distinct_words,
           CAST(COALESCE(g.n_bigrams, 0) AS BIGINT)          AS n_bigrams,
           CAST(COALESCE(g.n_distinct_bigrams, 0) AS BIGINT) AS n_distinct_bigrams,
           (top_word_count * 5 >= n_words
            OR (COALESCE(g.n_bigrams, 0) > 0
                AND (g.n_bigrams - g.n_distinct_bigrams) * 2 >= g.n_bigrams)) AS flag_repetitive
    FROM wstats w LEFT JOIN gstats g ON w.doc_id = g.doc_id
    ORDER BY w.doc_id
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (Gopher-style filters, Rae et al. 2021):
    most-common-word share and duplicate word-bigram share per document.

    All outputs are integer counts plus one boolean derived by integer
    arithmetic (``top * 5 >= n`` ≙ "top word covers ≥20% of the doc") so the
    cross-engine hash can never flip on float rounding.

    Scale: every stat here is a function of ONE document, so the whole query
    is a single map-side projection over array higher-order functions — zero
    shuffles, zero joins, no exploded intermediate rows.  The top-word count
    is the max run length over the SORTED word array (per-row linear pass via
    ``aggregate``), replacing the explode → groupBy(doc_id, word) →
    groupBy(doc_id) double shuffle of the naive word-count shape.  At 100 TB
    this is embarrassingly parallel: throughput = scan speed.
    """
    d = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", F.split("text", " ").alias("w"))
    # max word frequency == longest run in the sorted array; NULL initial
    # `prev` makes the first comparison fall to the run-reset branch.
    top_word = F.expr(
        "aggregate(array_sort(w),"
        " struct(CAST(NULL AS STRING) AS prev, 0L AS run, 0L AS best),"
        " (acc, x) -> CASE WHEN x = acc.prev"
        "   THEN struct(x AS prev, acc.run + 1L AS run, greatest(acc.best, acc.run + 1L) AS best)"
        "   ELSE struct(x AS prev, 1L AS run, greatest(acc.best, 1L) AS best) END,"
        " acc -> acc.best)"
    )
    grams = F.expr(
        "CASE WHEN size(w) < 2 THEN array() "
        "ELSE transform(sequence(1, size(w) - 1), "
        "i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) END"
    )
    return (
        d.select(
            "doc_id",
            F.size("w").cast("bigint").alias("n_words"),
            top_word.alias("top_word_count"),
            F.size(F.array_distinct("w")).cast("bigint").alias("n_distinct_words"),
            F.size(grams).cast("bigint").alias("n_bigrams"),
            F.size(F.array_distinct(grams)).cast("bigint").alias("n_distinct_bigrams"),
        )
        .select(
            "doc_id",
            "n_words",
            "top_word_count",
            "n_distinct_words",
            "n_bigrams",
            "n_distinct_bigrams",
            (
                (F.col("top_word_count") * 5 >= F.col("n_words"))
                | (
                    (F.col("n_bigrams") > 0)
                    & ((F.col("n_bigrams") - F.col("n_distinct_bigrams")) * 2 >= F.col("n_bigrams"))
                )
            ).alias("flag_repetitive"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# BM25 term scoring — the retrieval-grade companion of tfidf_doc_terms.
# --------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75

# One shared scoring expression, valid verbatim in BOTH engines: every
# constant is an injected double literal and every operation is
# correctly-rounded IEEE double arithmetic in an explicit order, so the
# score is bit-identical given bit-identical inputs.  The idf is rewritten
# ln(1 + (N - df + 0.5)/(df + 0.5)) = ln((N+1)/(df+0.5))
#                                   = det_ln(2N + 2) - det_ln(2df + 1),
# turning the one libm transcendental into two deterministic integer logs.
_BM25_SCORE_EXPR = (
    f"((bn_ln - bd_ln) * ((CAST(tf AS DOUBLE) * {DM.dlit(_BM25_K1 + 1)}) / "
    f"(CAST(tf AS DOUBLE) + {DM.dlit(_BM25_K1)} * ({DM.dlit(1 - _BM25_B)} + "
    f"{DM.dlit(_BM25_B)} * (CAST(dl AS DOUBLE) / avgdl)))))"
)


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM terms WHERE term <> '' GROUP BY doc_id, term
    ),
    dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    df2 AS (SELECT term, 2 * df + 1 AS dfx FROM df),
    df_ln AS (SELECT term, {DM.duckdb_det_ln_select("dfx", "bd")} FROM df2),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
           FROM dl),
    st2 AS (SELECT avgdl, 2 * n_docs + 2 AS ndx FROM st),
    st_ln AS (SELECT avgdl, {DM.duckdb_det_ln_select("ndx", "bn")} FROM st2),
    jb AS (
        SELECT tf.doc_id AS doc_id, tf.term AS term, tf.tf AS tf,
               dl.dl AS dl, df_ln.bd_ln AS bd_ln
        FROM tf
        JOIN dl ON dl.doc_id = tf.doc_id
        JOIN df_ln ON df_ln.term = tf.term
        WHERE tf.doc_id % 20 = 0
    ),
    scored AS (
        SELECT doc_id, term, {_BM25_SCORE_EXPR} AS bm25
        FROM jb CROSS JOIN st_ln
    )
    SELECT doc_id, term, rank,
           CAST(ROUND(bm25 * 10000) AS BIGINT) AS bm25_e4
    FROM (
        SELECT doc_id, term, bm25,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY bm25 DESC, term) AS rank
        FROM scored
    )
    WHERE rank <= 5
    ORDER BY doc_id, rank
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 BM25-scored terms per sampled document (Okapi BM25, k1=1.2,
    b=0.75) — the retrieval scoring every quality-filter / decontamination /
    eval-retrieval pipeline reaches for once plain tf-idf saturates on long
    documents.

    Float discipline (round-9: this query carried the same latent
    fragile-``ln`` class that failed its NLL siblings on the r07 driver):
    the idf is now two DETERMINISTIC integer logs (functions/detmath.py)
    and the full score is ONE shared expression string evaluated by both
    engines with identical literals and op order — bit-identical by
    construction.  The score is emitted quantized to integer 1e-4 units
    (``bm25_e4``): scale-0 ROUND on a shared double is tie-safe across
    engines, unlike ROUND(x, 4) whose internal 1e4 scaling the engines
    implement differently.

    Scale: tf shuffles once on (doc_id, term) with map-side combine; dl and
    df are tiny rollups of tf (doc- and vocab-bounded); the ~40-flop
    det-ln runs on the vocab-sized df table and the 1-row (n_docs, avgdl)
    scalar, which broadcasts to the scoring join; the top-k window
    partitions by doc_id — same shuffle shape as tfidf_doc_terms."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    df_ln = DM.spark_with_det_ln(
        df.withColumn("dfx", F.expr("2 * df + 1")), "dfx", "bd"
    ).select("term", "bd_ln")
    st = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)").alias("avgdl"),
    )
    st_ln = DM.spark_with_det_ln(
        st.withColumn("ndx", F.expr("2 * n_docs + 2")), "ndx", "bn"
    ).select("avgdl", "bn_ln")
    w = Window.partitionBy("doc_id").orderBy(F.col("bm25").desc(), F.col("term"))
    return (
        tf.filter(F.col("doc_id") % 20 == 0)
        .join(dl, "doc_id")
        .join(df_ln, "term")
        .crossJoin(F.broadcast(st_ln))
        .withColumn("bm25", F.expr(_BM25_SCORE_EXPR))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .withColumn("rank", F.col("rank").cast("long"))
        .select(
            "doc_id",
            "term",
            "rank",
            F.expr("CAST(ROUND(bm25 * 10000) AS BIGINT)").alias("bm25_e4"),
        )
        .orderBy("doc_id", "rank")
    )


# Gopher-style quality rules (Rae et al. 2021, table A1 — bounds adapted to
# the synthetic corpus' scale): word-count window, mean-word-length window,
# minimum stopword evidence, and a repetition (distinct-word ratio) floor.
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 20, 80
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3.0, 8.0
GOPHER_MIN_STOP_HITS = 2
GOPHER_MIN_UNIQ_RATIO = 0.55


@query(
    "text_gopher_filters",
    oracle=f"""
    WITH f AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               (length(text) - len(string_split(text, ' ')) + 1) * 1.0
                   / len(string_split(text, ' ')) AS mean_wl,
               len(list_filter(string_split(text, ' '),
                               x -> x IN {_STOP_SET_SQL})) AS stop_hits,
               len(list_distinct(string_split(text, ' '))) * 1.0
                   / len(string_split(text, ' ')) AS uniq_ratio
        FROM documents
    )
    SELECT doc_id, n_words, ROUND(mean_wl, 4) AS mean_word_len, stop_hits,
           ROUND(uniq_ratio, 4) AS uniq_ratio,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}) AS pass_words,
           (mean_wl >= {GOPHER_MIN_MWL} AND mean_wl <= {GOPHER_MAX_MWL}) AS pass_mwl,
           (stop_hits >= {GOPHER_MIN_STOP_HITS}) AS pass_stop,
           (uniq_ratio >= {GOPHER_MIN_UNIQ_RATIO}) AS pass_rep,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
            AND mean_wl >= {GOPHER_MIN_MWL} AND mean_wl <= {GOPHER_MAX_MWL}
            AND stop_hits >= {GOPHER_MIN_STOP_HITS}
            AND uniq_ratio >= {GOPHER_MIN_UNIQ_RATIO}) AS keep
    FROM f ORDER BY doc_id
    """,
)
def text_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality gate: the standard pre-training corpus
    filter battery (word-count window, mean-word-length window, stopword
    evidence, repetition floor) as pure column expressions — per-document
    map work, zero shuffle, one scan at any corpus size.

    Each rule emits its own boolean so downstream curation can audit WHY a
    document was dropped (the survival-rate-per-rule report is a groupBy
    over these flags); ``keep`` is the conjunction."""
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    ws = F.split("text", " ")
    n_words = F.size(ws)
    mean_wl = (F.length("text") - n_words + 1) * F.lit(1.0) / n_words
    stop_hits = F.expr(f"size(filter(split(text, ' '), x -> x IN ({stop_list})))")
    uniq_ratio = F.size(F.array_distinct(ws)) * F.lit(1.0) / n_words
    pass_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    pass_mwl = (mean_wl >= GOPHER_MIN_MWL) & (mean_wl <= GOPHER_MAX_MWL)
    pass_stop = stop_hits >= GOPHER_MIN_STOP_HITS
    pass_rep = uniq_ratio >= GOPHER_MIN_UNIQ_RATIO
    return (
        d.select(
            "doc_id",
            n_words.cast("long").alias("n_words"),
            F.round(mean_wl, 4).alias("mean_word_len"),
            stop_hits.cast("long").alias("stop_hits"),
            F.round(uniq_ratio, 4).alias("uniq_ratio"),
            pass_words.alias("pass_words"),
            pass_mwl.alias("pass_mwl"),
            pass_stop.alias("pass_stop"),
            pass_rep.alias("pass_rep"),
            (pass_words & pass_mwl & pass_stop & pass_rep).alias("keep"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_unigram_nll",
    oracle=f"""
    WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    cnt AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS c
        FROM terms WHERE term <> '' GROUP BY term
    ),
    cnt_ln AS (SELECT term, {DM.duckdb_det_ln_select("c", "uc")} FROM cnt),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
    tot_ln AS (SELECT {DM.duckdb_det_ln_select("n", "un")} FROM tot),
    tok AS (
        SELECT t.doc_id,
               CAST(ROUND((un_ln - uc_ln) * 1000000) AS BIGINT) AS nll_e6
        FROM terms t JOIN cnt_ln ON cnt_ln.term = t.term CROSS JOIN tot_ln
        WHERE t.term <> ''
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)      AS n_tokens,
           CAST(SUM(nll_e6) AS BIGINT)   AS sum_nll_e6,
           CAST(SUM(nll_e6) // COUNT(*) AS BIGINT) AS avg_nll_e6
    FROM tok GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram negative log-likelihood per document — the CCNet-style
    perplexity-proxy quality signal (docs whose tokens are improbable under
    the corpus' own unigram LM are outliers: boilerplate, noise, wrong
    language), computed without any external model.

    Float discipline (round-9 fix of the r07 driver red): each token
    contributes ``ln(N) − ln(count)`` over exact integer counts, but libm
    ``ln`` is not correctly rounded, so the two engines could disagree by
    1 ulp and flip the micro-nat quantization.  Both engines now evaluate
    the DETERMINISTIC ln expression (functions/detmath.py: exact exponent
    split + atanh Horner series, injected literal constants, identical op
    order) — bit-identical by construction.  Quantization to integer
    micro-nats happens BEFORE the per-document sum, so the aggregation is
    order-independent integer math at any parallelism.

    Scale: two term-keyed partial aggregations (term cardinality, not
    corpus size, bounds the reduce side), one join back on the term, one
    doc-keyed agg; the ~40-flop det-ln runs on the count TABLES, not the
    token stream.  The corpus total rides along as a broadcast 1-row
    scalar.  At 100 TB the term dictionary shuffles once and the token
    stream shuffles twice — no all-pairs anywhere."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    cnt = terms.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    cnt_ln = DM.spark_with_det_ln(cnt, "c", "uc").select("term", "uc_ln")
    tot = cnt.agg(F.sum("c").alias("n"))
    tot_ln = DM.spark_with_det_ln(tot, "n", "un").select("un_ln")
    tok = (
        terms.join(cnt_ln, "term")
        .crossJoin(F.broadcast(tot_ln))
        .select(
            "doc_id",
            F.expr("CAST(ROUND((un_ln - uc_ln) * 1000000) AS BIGINT)").alias(
                "nll_e6"
            ),
        )
    )
    return (
        tok.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("nll_e6").alias("sum_nll_e6"),
        )
        .withColumn(
            "avg_nll_e6", F.expr("sum_nll_e6 div n_tokens")
        )
        .orderBy("doc_id")
    )


_BOW_DIM = 64  # hashed feature space (hashing trick: fixed dim, any vocab)


@query(
    "text_hashed_bow",
    oracle=f"""
    WITH th AS (
        SELECT doc_id, unnest({H.duckdb_token_hashes("text")}) AS h
        FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id,
           h % {_BOW_DIM}           AS feature,
           CAST(COUNT(*) AS BIGINT) AS tf
    FROM th GROUP BY doc_id, feature
    ORDER BY doc_id, feature
    """,
)
def text_hashed_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words vectorizer (Weinberger et al. 2009; what
    HashingTF does in Spark MLlib): each token hashes into a fixed
    64-bucket feature space, so the vectorizer needs NO vocabulary pass,
    no dictionary broadcast, and its output dimensionality is independent
    of corpus size — the property that makes it the default featurizer at
    100 TB.  Emitted as sparse (doc_id, feature, tf) rows over a 1-in-10
    document sample.

    Scale: token hashing is map-side column work; the only shuffle is the
    (doc_id, feature)-keyed partial-aggregated count."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents")).filter(
        F.col("doc_id") % 10 == 0
    )
    return (
        d.select("doc_id", F.explode(F.expr(H.spark_token_hashes("text"))).alias("h"))
        .groupBy("doc_id", (F.col("h") % _BOW_DIM).alias("feature"))
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy("doc_id", "feature")
    )


# --------------------------------------------------------------------------
# Model-based quality scoring: hashed linear classifier (fasttext-shaped).
# --------------------------------------------------------------------------
_LOGIT_DIM = 64
_LOGIT_BIAS = -150_000  # classify ~"above-average weight density" docs as keep


def _logit_weight(d: int) -> int:
    """Deterministic signed integer weight per hashed feature — the same
    Knuth-multiplicative constant family as the LSH planes; computed in
    Python, emitted as literals into BOTH engines' expressions."""
    return ((d + 1) * 2654435761) % 1000003 - 500001


_LOGIT_WS = [_logit_weight(d) for d in range(_LOGIT_DIM)]


@query(
    "text_quality_logit",
    oracle=f"""
    WITH th AS (
        SELECT doc_id, unnest({H.duckdb_token_hashes("text")}) AS h
        FROM documents
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(([{",".join(str(w) for w in _LOGIT_WS)}])[CAST(h % {_LOGIT_DIM} AS INT) + 1])
                + {_LOGIT_BIAS} AS BIGINT) AS logit,
           (SUM(([{",".join(str(w) for w in _LOGIT_WS)}])[CAST(h % {_LOGIT_DIM} AS INT) + 1])
                + {_LOGIT_BIAS}) > 0 AS keep
    FROM th GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: a hashed linear classifier (the
    fasttext-classifier SHAPE used by CCNet/LLaMA-style quality filtering —
    tokens → hashing-trick features → w·x + b → keep/drop), one rung above
    the heuristic ``text_quality_score``.  The weights here are
    deterministic integer literals standing in for trained parameters: the
    Spark-side plumbing (map-side token hashing, feature lookup from a
    64-element broadcast-literal array, exact integer dot product, per-doc
    aggregation) is exactly what a trained model uses — swap the literal
    array for real weights and nothing else changes.

    The LOGIT is emitted instead of sigmoid(logit): every arithmetic step
    is exact BIGINT (no transcendentals), so the score — and the keep/drop
    decision — is bit-reproducible across engines and cluster sizes; a
    monotone sigmoid adds no information to a threshold decision anyway.

    Scale: token hashing + weight lookup are map-side column work; the only
    shuffle is the doc_id-keyed partial-aggregated sum.  Token-less docs
    have no logit and drop out, mirrored by the oracle (edge corpus
    covers them)."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    warr = "array(" + ",".join(f"{w}L" for w in _LOGIT_WS) + ")"
    wsum = F.sum(
        F.expr(f"element_at({warr}, CAST(h % {_LOGIT_DIM} AS INT) + 1)")
    )
    return (
        d.select("doc_id", F.explode(F.expr(H.spark_token_hashes("text"))).alias("h"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            (wsum + F.lit(_LOGIT_BIAS)).cast("bigint").alias("logit"),
        )
        .withColumn("keep", F.col("logit") > 0)
        .orderBy("doc_id")
    )


@query(
    "text_bigram_nll",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    bg AS (
        SELECT doc_id, p.w1 AS w1, p.w2 AS w2
        FROM toks, UNNEST([{{'w1': t[i], 'w2': t[i + 1]}}
                           for i in range(1, len(t))]) AS u(p)
    ),
    c2 AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2
    ),
    c1 AS (
        SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
    ),
    j AS (
        SELECT c2.w1 AS w1, c2.w2 AS w2, c1.c1 AS c1, c2.c2 AS c2
        FROM c2 JOIN c1 ON c1.w1 = c2.w1
    ),
    lm AS (
        SELECT w1, w2,
               {DM.duckdb_det_ln_select("c1", "ba")},
               {DM.duckdb_det_ln_select("c2", "bb")},
               CAST(ROUND((ba_ln - bb_ln) * 1000000) AS BIGINT) AS nll_e6
        FROM j
    ),
    tok AS (
        SELECT bg.doc_id, lm.nll_e6
        FROM bg JOIN lm ON lm.w1 = bg.w1 AND lm.w2 = bg.w2
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)    AS n_bigrams,
           CAST(SUM(nll_e6) AS BIGINT) AS sum_nll_e6,
           CAST(SUM(nll_e6) // COUNT(*) AS BIGINT) AS avg_nll_e6
    FROM tok GROUP BY doc_id ORDER BY doc_id
    """,
)
@scoped
def text_bigram_nll(spark: SparkSession, sf_dir: str, scope: QueryScope) -> DataFrame:
    """Bigram-LM negative log-likelihood per document — the next rung above
    ``text_unigram_nll`` on the CCNet quality-signal ladder (CCNet proper
    uses a KenLM 5-gram; the bigram MLE is the largest order whose counts
    both engines can materialize exactly): each transition contributes
    ``ln(c(w1·)) − ln(c(w1,w2))`` — the MLE conditional ``−ln P(w2|w1)``
    with context counts taken over bigram starts, so probabilities sum to
    one per context with no end-of-doc mismatch.

    Float discipline (round-9 fix of the r07 driver red): the two logs on
    exact integer counts are the DETERMINISTIC ln expression
    (functions/detmath.py — identical IEEE op order + injected literals on
    both engines, so bit-identical by construction instead of by libm
    luck), quantized to integer micro-nats BEFORE the per-document sum
    (the text_unigram_nll discipline) — order-independent at any
    parallelism.

    Scale: ONE (w1,w2)-keyed aggregation builds the bigram LM; the context
    counts come from re-aggregating that (much smaller) count table — NOT a
    second pass over the transition stream — and the two LM tables merge
    small-side before the single equi-join back onto the transitions, so
    the big stream is shuffled once, not three times.  The tokenized
    transition stream is persisted: it feeds both the LM build and the
    join-back, and replaying the explode is the dominant cost.  A
    production variant would join on a 64-bit pair-hash instead of the
    string pair (collision-tolerable for a quality score); the string join
    keeps the oracle exact.  Docs with fewer than two tokens have no
    transitions and drop out, mirrored by the oracle."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.expr("filter(split(text, ' '), x -> x <> '')").alias("t")
    )
    # persist: the transition stream feeds the LM build AND the join-back;
    # without it the tokenize+explode (the CPU-dominant stage) replays per
    # consumer
    bg = scope.persist(
        toks.select(
            "doc_id",
            F.expr(
                "CASE WHEN size(t) >= 2 THEN "
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(t[i - 1] AS w1, t[i] AS w2)) "
                "ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END"
            ).alias("bgs"),
        )
        .select("doc_id", F.explode("bgs").alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    # context counts = sum of bigram counts sharing w1 — exact, and an agg
    # over the bounded LM table instead of a second full-stream shuffle
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    lm = DM.spark_with_det_ln(
        DM.spark_with_det_ln(c2.join(c1, "w1"), "c1", "ba"), "c2", "bb"
    ).select(
        "w1",
        "w2",
        F.expr("CAST(ROUND((ba_ln - bb_ln) * 1000000) AS BIGINT)").alias("nll_e6"),
    )
    tok = bg.join(lm, ["w1", "w2"]).select("doc_id", "nll_e6")
    return (
        tok.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("nll_e6").alias("sum_nll_e6"),
        )
        .withColumn("avg_nll_e6", F.expr("sum_nll_e6 div n_bigrams"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Stupid-backoff LM scoring on HELD-OUT documents (train/test split).
# --------------------------------------------------------------------------
# -ln(0.4) computed ONCE in Python and injected as the identical double
# literal into both engines: a runtime log(0.4) is a transcendental whose
# last ulp libm implementations may disagree on; a shared literal cannot.
_BACKOFF_NEG_LN_04 = "0.916290731874155"


# n-gram keys travel as exact BIGINTs, never strings (the first cut keyed
# the LM joins on raw word triples and measured 22-37× the corpus in
# shuffle bytes — ~100 B of UnsafeRow per transition): each token maps to
# its char-polyhash h < MOD once, map-side; a bigram key is the BIJECTIVE
# pair encoding h1·MOD + h2 < MOD² ≈ 1.0e18 (inside int64, no collisions
# beyond the token-hash layer both engines already share), and a trigram
# key is the (pair_key, h3) column pair.  h1 = k12 div MOD decodes the
# context exactly — no second pass over the token stream.
_TRI_MOD = H.MOD


def _tri_toks_duckdb() -> str:
    return f"SELECT doc_id, {H.duckdb_nonempty_token_hashes('text')} AS h FROM documents"


# --------------------------------------------------------------------------
# Shared LM count-table builder (round-10, VERDICT r09 #8).
# --------------------------------------------------------------------------
# The LM ladder (stupid-backoff bigram, trigram backoff, KN-lite, and the
# perplexity gate riding kn_scored_transitions) each used to re-tokenize
# the corpus and re-shuffle the token stream into their own n-gram count
# tables — the text family was ~23% of the whole bench.  The tables are
# pure functions of (corpus, train split): one hashed token-array pass,
# one bigram-keyed exchange, one trigram-keyed exchange, everything else
# vocab-bounded re-aggregation.  They, and each rung's score tables, are
# ``tables.session_shared`` entries: built once per (session, corpus) and
# re-registered on every use, so correctness never depends on the cache —
# only the repeat cost does.  ``tables.release_session`` frees them.
def shared_lm_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Session-shared LM inputs: ``toks`` (doc_id, char-polyhash token
    array), ``bg_all``/``tg_all`` (lazy exploded n-gram streams, k12 pair
    keys — see the module comment on the bijective encoding), ``c2b``
    (train bigram counts, column ``c``), ``c3`` (train trigram counts),
    ``uni`` (train unigram counts, column ``u`` — derived from bigram
    STARTS plus each doc's last token, so it never re-shuffles the token
    stream).  toks/c2b/c3 are persisted; derivations are cheap re-aggs."""

    def build(scope: QueryScope) -> dict:
        d = spread_small_scan(load_table(spark, sf_dir, "documents"))
        toks = scope.persist(
            d.select("doc_id", F.expr(H.spark_nonempty_token_hashes("text")).alias("h"))
        )
        bg_all = toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(h) >= 2 THEN "
                    "transform(sequence(1, size(h) - 1), "
                    f"i -> h[i - 1] * {_TRI_MOD}L + h[i]) "
                    "ELSE CAST(array() AS array<bigint>) END"
                )
            ).alias("k12"),
        )
        tg_all = (
            toks.select(
                "doc_id",
                F.expr(
                    "CASE WHEN size(h) >= 3 THEN "
                    "transform(sequence(1, size(h) - 2), "
                    f"i -> struct(h[i - 1] * {_TRI_MOD}L + h[i] AS k12, "
                    "h[i + 1] AS h3)) "
                    "ELSE CAST(array() AS array<struct<k12: bigint, h3: bigint>>) END"
                ).alias("tgs"),
            )
            .select("doc_id", F.explode("tgs").alias("p"))
            .select("doc_id", "p.k12", "p.h3")
        )
        c2b = scope.persist(
            bg_all.filter(F.col("doc_id") % 10 != 0)
            .groupBy("k12")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        c3 = scope.persist(
            tg_all.filter(F.col("doc_id") % 10 != 0)
            .groupBy("k12", "h3")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c3"))
        )
        lasts = (
            toks.filter((F.size("h") >= 1) & (F.col("doc_id") % 10 != 0))
            .select(F.expr("element_at(h, size(h))").alias("h3"))
            .groupBy("h3")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        uni = (
            c2b.select(F.expr(f"k12 div {_TRI_MOD}").alias("h3"), F.col("c"))
            .unionAll(lasts)
            .groupBy("h3")
            .agg(F.sum("c").cast("bigint").alias("u"))
        )
        return {
            "toks": toks,
            "bg_all": bg_all,
            "tg_all": tg_all,
            "c2b": c2b,
            "c3": c3,
            "uni": uni,
        }

    return session_shared(spark, ("lm", sf_dir), build)


@query(
    "text_backoff_nll",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        {_tri_toks_duckdb()}
    ),
    bg AS MATERIALIZED (
        SELECT doc_id, u.k12 AS k12
        FROM toks, UNNEST([h[i] * {_TRI_MOD} + h[i + 1]
                           for i in range(1, len(h))]) AS u(k12)
    ),
    c2 AS (
        SELECT k12, CAST(COUNT(*) AS BIGINT) AS c2
        FROM bg WHERE doc_id % 10 <> 0 GROUP BY k12
    ),
    c1 AS (
        SELECT k12 // {_TRI_MOD} AS h1, CAST(SUM(c2) AS BIGINT) AS c1
        FROM c2 GROUP BY 1
    ),
    uni AS (
        SELECT tok AS h2, CAST(COUNT(*) AS BIGINT) AS u
        FROM (SELECT unnest(h) AS tok FROM toks WHERE doc_id % 10 <> 0)
        GROUP BY tok
    ),
    tot AS (
        SELECT CAST(SUM(u) AS BIGINT) AS big_u FROM uni
    ),
    tot_ln AS (SELECT {DM.duckdb_det_ln_select("big_u", "bt")} FROM tot),
    j AS (
        SELECT b.doc_id, c2.c2 AS c2, c1.c1 AS c1,
               GREATEST(COALESCE(uni.u, 0), 1) AS ue
        FROM (SELECT doc_id, k12 FROM bg WHERE doc_id % 10 = 0) b
        LEFT JOIN c2 ON c2.k12 = b.k12
        LEFT JOIN c1 ON c1.h1 = b.k12 // {_TRI_MOD}
        LEFT JOIN uni ON uni.h2 = b.k12 % {_TRI_MOD}
    ),
    scored AS (
        SELECT doc_id,
               CASE WHEN c2 IS NOT NULL THEN 0 ELSE 1 END AS backoff,
               {DM.duckdb_det_ln_select("c1", "ba")},
               {DM.duckdb_det_ln_select("c2", "bb")},
               {DM.duckdb_det_ln_select("ue", "bu")},
               CAST(ROUND(1000000 * CASE
                   WHEN c2 IS NOT NULL THEN (ba_ln - bb_ln)
                   ELSE (({_BACKOFF_NEG_LN_04} + bt_ln) - bu_ln)
               END) AS BIGINT) AS nll_e6
        FROM j CROSS JOIN tot_ln
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)     AS n_transitions,
           CAST(SUM(backoff) AS BIGINT) AS n_backoff,
           CAST(SUM(nll_e6) AS BIGINT)  AS sum_nll_e6
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_backoff_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff LM scoring of HELD-OUT documents (Brants et al. 2007,
    "Large Language Models in Machine Translation" — the non-normalized
    backoff score that replaced Kneser-Ney at web scale precisely because
    it needs only exact counts).  The LM is built on the 90% train split
    (doc_id % 10 ≠ 0) and scores the 10% test split: transitions SEEN in
    train cost the bigram MLE ``ln c(w1·) − ln c(w1,w2)``; unseen
    transitions back off to ``−ln(0.4 · u(w2)/U)`` over train unigrams,
    with unseen w2 floored at count 1.  This is the methodological step
    ``text_bigram_nll`` (self-scoring, every transition seen) cannot take:
    real perplexity filtering scores NEW documents, so OOV handling is the
    point, and ``n_backoff`` is emitted as its own checked column.

    Round-10: keys are the exact BIGINT pair encoding h1·MOD + h2 (the
    module comment above the trigram rung — n-grams never travel as
    strings), which lets the whole LM ride the family-wide
    shared_lm_tables build: the bigram count table, the context sums and
    the unigram table are the SAME tables the trigram and KN rungs score
    against, built once per session.  Both engines hash tokens through
    the same char-polyhash, so a (rare) token-hash collision merges the
    same counts on both sides — the oracle speaks the hashed keys too.

    Float discipline (round-9: same fix as the NLL siblings): every ``ln``
    over integer counts is the DETERMINISTIC expression from
    functions/detmath.py (bit-identical across engines by construction);
    the one constant transcendental, −ln 0.4, stays a shared
    Python-computed literal (_BACKOFF_NEG_LN_04); per-transition micro-nat
    quantization before the integer per-doc sum keeps the result
    order-independent.  All CASE values are positive, so HALF_UP and
    half-away rounding agree.

    Scale: the (k12) shuffle that builds c2 is the shared build, amortized
    across the LM family; c1 and the unigram table re-aggregate from count
    tables, not the stream; the test stream (10% of the corpus) equi-joins
    the LM tables on 8-byte keys.  The scalar U rides a 1-row broadcast
    cross join."""
    t = shared_lm_tables(spark, sf_dir)

    def _build(scope: QueryScope) -> dict:
        c2 = t["c2b"]
        c1 = (
            c2.groupBy(F.expr(f"k12 div {_TRI_MOD}").alias("h1"))
            .agg(F.sum("c").cast("bigint").alias("c1"))
        )
        seen = DM.spark_with_det_ln(
            DM.spark_with_det_ln(
                c2.withColumn("h1", F.expr(f"k12 div {_TRI_MOD}")).join(c1, "h1"),
                "c1",
                "ba",
            ),
            "c",
            "bb",
        ).select(
            "k12",
            F.expr("CAST(ROUND(1000000 * (ba_ln - bb_ln)) AS BIGINT)").alias(
                "s_e6"
            ),
        )
        tot = t["uni"].agg(F.sum("u").cast("bigint").alias("big_u"))
        tot_ln = DM.spark_with_det_ln(tot, "big_u", "bt").select("bt_ln")
        unseen = DM.spark_with_det_ln(
            t["uni"].crossJoin(F.broadcast(tot_ln)), "u", "bu"
        ).select(
            F.col("h3").alias("h2"),
            F.expr(
                f"CAST(ROUND(1000000 * (({_BACKOFF_NEG_LN_04} + bt_ln) - bu_ln))"
                " AS BIGINT)"
            ).alias("x_e6"),
        )
        # OOV floor: ue = GREATEST(COALESCE(u,0),1) = 1 — run the SAME
        # det-ln chain over the literal 1 so the quantized constant is
        # bit-identical to the per-transition computation it replaces
        floor = DM.spark_with_det_ln(
            tot_ln.withColumn("ue", F.lit(1).cast("bigint")), "ue", "bu"
        ).select(
            F.expr(
                f"CAST(ROUND(1000000 * (({_BACKOFF_NEG_LN_04} + bt_ln) - bu_ln))"
                " AS BIGINT)"
            ).alias("floor_e6")
        )
        return {
            "seen": scope.persist(seen),
            "unseen": scope.persist(unseen),
            "floor": floor,
        }

    bo = session_shared(spark, ("lm_backoff", sf_dir), _build)
    bo_floor = bo["floor"]  # 1-row OOV constant
    scored = (
        t["bg_all"]
        .filter(F.col("doc_id") % 10 == 0)
        .join(bo["seen"], "k12", "left")
        .withColumn("h2", F.expr(f"k12 % {_TRI_MOD}"))
        .join(bo["unseen"], "h2", "left")
        .crossJoin(F.broadcast(bo_floor))
        .select(
            "doc_id",
            F.expr("CASE WHEN s_e6 IS NOT NULL THEN 0 ELSE 1 END").alias(
                "backoff"
            ),
            F.expr("COALESCE(s_e6, x_e6, floor_e6)").alias("nll_e6"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
            F.sum("backoff").cast("bigint").alias("n_backoff"),
            F.sum("nll_e6").cast("bigint").alias("sum_nll_e6"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Trigram stupid backoff — one rung above text_backoff_nll on the LM ladder.
# --------------------------------------------------------------------------
# -2·ln(0.4) (the doubled backoff penalty for trigram→unigram) as the same
# injected-literal discipline; computed from the SAME -ln(0.4) literal so
# the two penalties stay consistent.
_BACKOFF_NEG_LN_04_X2 = DM.dlit(2 * float(_BACKOFF_NEG_LN_04))

@query(
    "text_trigram_backoff_nll",
    oracle=f"""
    WITH toks AS (
        {_tri_toks_duckdb()}
    ),
    tg AS (
        SELECT doc_id, p.k12 AS k12, p.h3 AS h3
        FROM toks, UNNEST([{{'k12': h[i] * {_TRI_MOD} + h[i + 1], 'h3': h[i + 2]}}
                           for i in range(1, len(h) - 1)]) AS u(p)
    ),
    c3 AS (
        SELECT k12, h3, CAST(COUNT(*) AS BIGINT) AS c3
        FROM tg WHERE doc_id % 10 <> 0 GROUP BY k12, h3
    ),
    ctx3 AS (
        SELECT k12, CAST(SUM(c3) AS BIGINT) AS cc3 FROM c3 GROUP BY k12
    ),
    j3 AS (
        SELECT c3.k12 AS k12, c3.h3 AS h3, ctx3.cc3 AS cc3, c3.c3 AS c3
        FROM c3 JOIN ctx3 ON ctx3.k12 = c3.k12
    ),
    lm3 AS (
        SELECT k12, h3,
               {{DET_TA}},
               {{DET_TB}},
               CAST(ROUND((ta_ln - tb_ln) * 1000000) AS BIGINT) AS nll3_e6
        FROM j3
    ),
    firsts AS (
        SELECT h[1] * {_TRI_MOD} + h[2] AS k12, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks WHERE len(h) >= 2 AND doc_id % 10 <> 0 GROUP BY 1
    ),
    c2b AS (
        SELECT k12, CAST(SUM(c) AS BIGINT) AS c2b FROM (
            SELECT (c3.k12 % {_TRI_MOD}) * {_TRI_MOD} + c3.h3 AS k12, c3.c3 AS c
            FROM c3
            UNION ALL
            SELECT k12, c FROM firsts
        ) GROUP BY k12
    ),
    c1ctx AS (
        SELECT k12 // {_TRI_MOD} AS h1, CAST(SUM(c2b) AS BIGINT) AS cc1
        FROM c2b GROUP BY 1
    ),
    j2 AS (
        SELECT c2b.k12 AS k23, c1ctx.cc1 AS cc1, c2b.c2b AS c2b
        FROM c2b JOIN c1ctx ON c1ctx.h1 = c2b.k12 // {_TRI_MOD}
    ),
    lm2 AS (
        SELECT k23,
               {{DET_TC}},
               {{DET_TD}},
               CAST(ROUND(1000000 * (({_BACKOFF_NEG_LN_04} + tc_ln) - td_ln)) AS BIGINT) AS nll2_e6
        FROM j2
    ),
    lasts AS (
        SELECT h[len(h)] AS h3, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks WHERE len(h) >= 1 AND doc_id % 10 <> 0 GROUP BY 1
    ),
    uni AS (
        SELECT h3, CAST(SUM(c) AS BIGINT) AS u FROM (
            SELECT c2b.k12 // {_TRI_MOD} AS h3, c2b.c2b AS c FROM c2b
            UNION ALL
            SELECT h3, c FROM lasts
        ) GROUP BY h3
    ),
    tot AS (SELECT CAST(SUM(u) AS BIGINT) AS big_u FROM uni),
    tot_ln AS (
        SELECT {{DET_TT}},
               CAST(ROUND(1000000 * ({_BACKOFF_NEG_LN_04_X2} + tt_ln)) AS BIGINT) AS k0_e6
        FROM tot
    ),
    lm1 AS (
        SELECT h3,
               {{DET_TU}},
               CAST(ROUND(1000000 * (({_BACKOFF_NEG_LN_04_X2} + tt_ln) - tu_ln)) AS BIGINT) AS nll1_e6
        FROM uni CROSS JOIN tot_ln
    ),
    scored AS (
        SELECT g.doc_id,
               CASE WHEN lm3.nll3_e6 IS NOT NULL THEN 0
                    WHEN lm2.nll2_e6 IS NOT NULL THEN 1
                    ELSE 2 END AS bo,
               COALESCE(lm3.nll3_e6, lm2.nll2_e6, lm1.nll1_e6, tot_ln.k0_e6) AS nll_e6
        FROM (SELECT doc_id, k12, h3,
                     (k12 % {_TRI_MOD}) * {_TRI_MOD} + h3 AS k23
              FROM tg WHERE doc_id % 10 = 0) g
        LEFT JOIN lm3 ON lm3.k12 = g.k12 AND lm3.h3 = g.h3
        LEFT JOIN lm2 ON lm2.k23 = g.k23
        LEFT JOIN lm1 ON lm1.h3 = g.h3
        CROSS JOIN tot_ln
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)                       AS n_transitions,
           CAST(SUM(CASE WHEN bo = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bo_bigram,
           CAST(SUM(CASE WHEN bo = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bo_unigram,
           CAST(SUM(nll_e6) AS BIGINT)                    AS sum_nll_e6
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """.replace("{DET_TA}", DM.duckdb_det_ln_select("cc3", "ta"))
       .replace("{DET_TB}", DM.duckdb_det_ln_select("c3", "tb"))
       .replace("{DET_TC}", DM.duckdb_det_ln_select("cc1", "tc"))
       .replace("{DET_TD}", DM.duckdb_det_ln_select("c2b", "td"))
       .replace("{DET_TT}", DM.duckdb_det_ln_select("big_u", "tt"))
       .replace("{DET_TU}", DM.duckdb_det_ln_select("u", "tu")),
)
def text_trigram_backoff_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram stupid-backoff LM scoring of HELD-OUT documents (Brants et
    al. 2007) — the round-9 rung above ``text_backoff_nll``: transitions
    SEEN as train trigrams cost the trigram MLE ``ln c(w1w2·) − ln
    c(w1w2w3)``; unseen trigrams back off to the bigram model with one
    0.4 penalty; unseen bigrams back off to train unigrams with the
    doubled penalty, unseen w3 floored at count 1.  ``n_bo_bigram`` /
    ``n_bo_unigram`` expose the backoff histogram as checked columns —
    the operational signal (a doc scoring mostly through the unigram
    floor is out-of-domain for the corpus LM).

    Float discipline: ships representation-independent on day one — every
    log is the deterministic det-ln expression (functions/detmath.py), the
    two backoff penalties are injected literals derived from the SAME
    −ln 0.4 string as the bigram query, and quantization to integer
    micro-nats happens at the (vocab-bounded) LM tables, BEFORE the
    per-document integer sum.

    Scale: every n-gram travels as an exact BIGINT key, never a string
    (see the module comment above — the pair key h1·MOD + h2 is bijective
    and decodes its context with one integer division, and the string→hash
    map is computed once, map-side).  ONE (k12, h3) shuffle builds the
    trigram LM and one k12 shuffle the bigram LM; every context table
    re-aggregates from its count table, never the stream; the 10% test
    stream equi-joins the LM tables on 8-16-byte keys; the corpus total +
    unigram-floor constant ride a 1-row broadcast.  det-ln and
    quantization run on LM tables whose size is vocabulary-, not
    corpus-bounded."""
    t = shared_lm_tables(spark, sf_dir)
    tg_all = t["tg_all"]

    def _build(scope: QueryScope) -> dict:
        c3 = t["c3"]
        ctx3 = c3.groupBy("k12").agg(F.sum("c3").cast("bigint").alias("cc3"))
        lm3 = DM.spark_with_det_ln(
            DM.spark_with_det_ln(c3.join(ctx3, "k12"), "cc3", "ta"), "c3", "tb"
        ).select(
            "k12",
            "h3",
            F.expr("CAST(ROUND((ta_ln - tb_ln) * 1000000) AS BIGINT)").alias(
                "nll3_e6"
            ),
        )
        # lower-order LMs come from the SHARED count tables: the bigram
        # table is the family-wide c2b build (its equality with the
        # derive-from-trigrams identity — bigram (x,y) occurrences are the
        # (w2,w3) of exactly one trigram plus each doc's first bigram — is
        # what the oracle still computes), and the unigram table
        # re-aggregates from bigram starts + doc-final tokens inside
        # shared_lm_tables, so the token stream never shuffles again here.
        c2b = t["c2b"]
        c1ctx = (
            c2b.groupBy(F.expr(f"k12 div {_TRI_MOD}").alias("h1"))
            .agg(F.sum("c").cast("bigint").alias("cc1"))
        )
        j2 = c2b.join(c1ctx, F.expr(f"h1 = k12 div {_TRI_MOD}")).select(
            F.col("k12").alias("k23"), "cc1", F.col("c").alias("c2b")
        )
        lm2 = DM.spark_with_det_ln(
            DM.spark_with_det_ln(j2, "cc1", "tc"), "c2b", "td"
        ).select(
            "k23",
            F.expr(
                f"CAST(ROUND(1000000 * (({_BACKOFF_NEG_LN_04} + tc_ln) - td_ln)) AS BIGINT)"
            ).alias("nll2_e6"),
        )
        uni = t["uni"]
        tot = uni.agg(F.sum("u").cast("bigint").alias("big_u"))
        tot_ln = DM.spark_with_det_ln(tot, "big_u", "tt").select(
            "tt_ln",
            F.expr(
                f"CAST(ROUND(1000000 * ({_BACKOFF_NEG_LN_04_X2} + tt_ln)) AS BIGINT)"
            ).alias("k0_e6"),
        )
        lm1 = DM.spark_with_det_ln(
            uni.crossJoin(F.broadcast(tot_ln)), "u", "tu"
        ).select(
            "h3",
            F.expr(
                f"CAST(ROUND(1000000 * (({_BACKOFF_NEG_LN_04_X2} + tt_ln) - tu_ln)) AS BIGINT)"
            ).alias("nll1_e6"),
        )
        return {
            "lm3": scope.persist(lm3),
            "lm2": scope.persist(lm2),
            "lm1": scope.persist(lm1),
            "k0": tot_ln.select("k0_e6"),
        }

    tri = session_shared(spark, ("lm_trigram", sf_dir), _build)
    tri_k0 = tri["k0"]  # 1-row backoff-floor constant
    scored = (
        tg_all.filter(F.col("doc_id") % 10 == 0)
        .withColumn("k23", F.expr(f"(k12 % {_TRI_MOD}) * {_TRI_MOD} + h3"))
        .join(tri["lm3"], ["k12", "h3"], "left")
        .join(tri["lm2"], "k23", "left")
        .join(tri["lm1"], "h3", "left")
        .crossJoin(F.broadcast(tri_k0))
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN nll3_e6 IS NOT NULL THEN 0 "
                "WHEN nll2_e6 IS NOT NULL THEN 1 ELSE 2 END"
            ).alias("bo"),
            F.expr("COALESCE(nll3_e6, nll2_e6, nll1_e6, k0_e6)").alias("nll_e6"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
            F.sum(F.expr("CASE WHEN bo = 1 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_bo_bigram"),
            F.sum(F.expr("CASE WHEN bo = 2 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_bo_unigram"),
            F.sum("nll_e6").cast("bigint").alias("sum_nll_e6"),
        )
        .orderBy("doc_id")
    )

# --------------------------------------------------------------------------
# Kneser-Ney-lite bigram LM — the interpolated rung of the LM ladder
# (reference parity: SURVEY.md §2.11 scalar surface / §7 phase 6 text ops;
# the stupid-backoff rungs above are the *back-off* family, this is the
# *interpolated absolute-discounting* family used by CCNet-style corpus
# perplexity filters).
#
#   P(w2|w1) = max(c(w1,w2) - D, 0)/c(w1·)  +  D·N1+(w1·)/c(w1·) · Pc(w2)
#   Pc(w2)   = (2·N1+(·w2) + 1) / (2·(B + 1))        (add-half continuation)
#
# with D = 3/4 EXACTLY, so every term is a ratio of small BIGINTs:
# max(c-D,0) = (4c-3)/4 for c >= 1, lambda = 3r/(4cc).  The interpolated
# probability is a SUM, so unlike the back-off rungs its log cannot split
# into ln(count) - ln(count): the seen-bigram NLL goes through the
# detmath DOUBLE chain (det_lnd) on a probability both engines construct
# bit-identically from BIGINTs with a fixed divide/multiply/add order.
# Unseen paths factor exactly, so they stay on the integer chain:
#   ctx-backoff  nll = [ln(4cc) - ln(3r)] + [ln(2B+2) - ln(2l+1)]
#   full backoff nll = ln(2B+2)                 (l = 0)
# each bracket quantized to micro-nats on its vocab-bounded LM table
# (sum-of-rounded vs rounded-sum differs by <= 1 micro-nat — deterministic
# on both engines, which is the contract; the semantic value is identical
# at the 1e-6 scale).
#
# det_lnd domain: p in [1/(4cc), 1) and ln arguments 4cc/3r/2l+1/2B+2 are
# all positive BIGINTs -- safe for any corpus under 2^59 tokens.
#
# The LM build (toks .. lmseen/lmctx/lmcont/k0) is shared between the
# held-out scorer below and curation_perplexity_gate (pipeline_ops.py),
# as one DuckDB CTE block and one Spark table-builder.

_KN_CTES = f"""toks AS (
        {_tri_toks_duckdb()}
    ),
    bg AS (
        SELECT doc_id, u.k12 AS k12
        FROM toks, UNNEST([h[i] * {_TRI_MOD} + h[i + 1]
                           for i in range(1, len(h))]) AS u(k12)
    ),
    c2 AS (
        SELECT k12, CAST(COUNT(*) AS BIGINT) AS c
        FROM bg WHERE doc_id % 10 <> 0 GROUP BY k12
    ),
    ctx AS (
        SELECT k12 // {_TRI_MOD} AS h1,
               CAST(SUM(c) AS BIGINT) AS cc,
               CAST(COUNT(*) AS BIGINT) AS r
        FROM c2 GROUP BY 1
    ),
    cont AS (
        SELECT k12 % {_TRI_MOD} AS h2, CAST(COUNT(*) AS BIGINT) AS l
        FROM c2 GROUP BY 1
    ),
    btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM c2),
    btln AS (
        SELECT b, b22, {{DET_BB}}
        FROM (SELECT b, 2 * b + 2 AS b22 FROM btot)
    ),
    lmctx AS (
        SELECT h1, {{DET_CA}}, {{DET_CB}},
               CAST(ROUND(1000000 * (ca_ln - cb_ln)) AS BIGINT) AS a_e6
        FROM (SELECT h1, 4 * cc AS cc4, 3 * r AS r3 FROM ctx)
    ),
    lmcont AS (
        SELECT h2, {{DET_CL}},
               CAST(ROUND(1000000 * (bb_ln - cl_ln)) AS BIGINT) AS cont_e6
        FROM (SELECT h2, 2 * l + 1 AS l21 FROM cont) CROSS JOIN btln
    ),
    k0 AS (
        SELECT CAST(ROUND(1000000 * bb_ln) AS BIGINT) AS k0_e6 FROM btln
    ),
    seen0 AS (
        SELECT c2.k12 AS k12,
               (CAST(4 * c2.c - 3 AS DOUBLE) / CAST(4 * ctx.cc AS DOUBLE))
               + (CAST(3 * ctx.r AS DOUBLE) / CAST(4 * ctx.cc AS DOUBLE))
                 * (CAST(2 * cont.l + 1 AS DOUBLE) / CAST(2 * btot.b + 2 AS DOUBLE)) AS p
        FROM c2
        JOIN ctx ON ctx.h1 = c2.k12 // {_TRI_MOD}
        JOIN cont ON cont.h2 = c2.k12 % {_TRI_MOD}
        CROSS JOIN btot
    ),
    lmseen AS (
        SELECT k12, {{DET_PP}},
               CAST(ROUND(1000000 * (0e0 - pp_ln)) AS BIGINT) AS nll2_e6
        FROM seen0
    ),
    kn_scored AS (
        SELECT g.doc_id,
               CASE WHEN s.nll2_e6 IS NOT NULL THEN 0
                    WHEN x.a_e6 IS NOT NULL THEN 1
                    ELSE 2 END AS bo,
               COALESCE(s.nll2_e6,
                        x.a_e6 + COALESCE(n.cont_e6, k0.k0_e6),
                        COALESCE(n.cont_e6, k0.k0_e6)) AS nll_e6
        FROM bg g
        LEFT JOIN lmseen s ON s.k12 = g.k12
        LEFT JOIN lmctx x ON x.h1 = g.k12 // {_TRI_MOD}
        LEFT JOIN lmcont n ON n.h2 = g.k12 % {_TRI_MOD}
        CROSS JOIN k0
    )""".replace("{DET_BB}", DM.duckdb_det_ln_select("b22", "bb")) \
        .replace("{DET_CA}", DM.duckdb_det_ln_select("cc4", "ca")) \
        .replace("{DET_CB}", DM.duckdb_det_ln_select("r3", "cb")) \
        .replace("{DET_CL}", DM.duckdb_det_ln_select("l21", "cl")) \
        .replace("{DET_PP}", DM.duckdb_det_lnd_select("p", "pp"))


# The KN-smoothed per-transition cost in e6 units, as one SQL expression
# over the joined (nll2_e6, a_e6, cont_e6, k0_e6) columns.  Shared by
# kn_scored_transitions and text_lm_gain's fused aggregation — r16 VERDICT
# flagged the inline duplicate as a drift hazard (the fused copy must stay
# character-identical for the fusion's equivalence argument to hold).
_KN_NLL_E6_EXPR = (
    "COALESCE(nll2_e6, a_e6 + COALESCE(cont_e6, k0_e6), "
    "COALESCE(cont_e6, k0_e6))"
)


def _kn_tables(spark: SparkSession, sf_dir: str, t: dict) -> dict:
    """The session-shared KN-lite score tables over ``t``, the family-wide
    shared_lm_tables build (round-10): ``lmseen`` (k12 → nll2_e6),
    ``lmctx`` (h1 → a_e6), ``lmcont`` (h2 → cont_e6) and the 1-row
    full-backoff constant ``k0row``."""

    def _build(scope: QueryScope) -> dict:
        c2 = t["c2b"]
        ctx = (
            c2.groupBy(F.expr(f"k12 div {_TRI_MOD}").alias("h1"))
            .agg(
                F.sum("c").cast("bigint").alias("cc"),
                F.count(F.lit(1)).cast("bigint").alias("r"),
            )
        )
        cont = (
            c2.groupBy(F.expr(f"k12 % {_TRI_MOD}").alias("h2"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("l"))
        )
        btot = c2.agg(F.count(F.lit(1)).cast("bigint").alias("b"))
        btln = DM.spark_with_det_ln(
            btot.withColumn("b22", F.expr("2 * b + 2")), "b22", "bb"
        ).select("b", "b22", "bb_ln")
        lmctx = DM.spark_with_det_ln(
            DM.spark_with_det_ln(
                ctx.select(
                    "h1", F.expr("4 * cc").alias("cc4"), F.expr("3 * r").alias("r3")
                ),
                "cc4",
                "ca",
            ),
            "r3",
            "cb",
        ).select(
            "h1",
            F.expr("CAST(ROUND(1000000 * (ca_ln - cb_ln)) AS BIGINT)").alias("a_e6"),
        )
        lmcont = DM.spark_with_det_ln(
            cont.select("h2", F.expr("2 * l + 1").alias("l21")).crossJoin(
                F.broadcast(btln)
            ),
            "l21",
            "cl",
        ).select(
            "h2",
            F.expr("CAST(ROUND(1000000 * (bb_ln - cl_ln)) AS BIGINT)").alias(
                "cont_e6"
            ),
        )
        k0row = btln.select(
            F.expr("CAST(ROUND(1000000 * bb_ln) AS BIGINT)").alias("k0_e6")
        )
        seen0 = (
            c2.withColumn("h1", F.expr(f"k12 div {_TRI_MOD}"))
            .withColumn("h2", F.expr(f"k12 % {_TRI_MOD}"))
            .join(ctx, "h1")
            .join(cont, "h2")
            .crossJoin(F.broadcast(btot))
            .withColumn(
                "p",
                F.expr(
                    "(CAST(4 * c - 3 AS DOUBLE) / CAST(4 * cc AS DOUBLE))"
                    " + (CAST(3 * r AS DOUBLE) / CAST(4 * cc AS DOUBLE))"
                    " * (CAST(2 * l + 1 AS DOUBLE) / CAST(2 * b + 2 AS DOUBLE))"
                ),
            )
        )
        lmseen = DM.spark_with_det_lnd(seen0, "p", "pp").select(
            "k12",
            F.expr("CAST(ROUND(1000000 * (0e0 - pp_ln)) AS BIGINT)").alias(
                "nll2_e6"
            ),
        )
        return {
            "lmseen": scope.persist(lmseen),
            "lmctx": scope.persist(lmctx),
            "lmcont": scope.persist(lmcont),
            "k0row": k0row,
        }

    return session_shared(spark, ("lm_kn", sf_dir), _build)


def kn_scored_transitions(spark: SparkSession, sf_dir: str):
    """Spark half of the shared KN-lite LM: returns (scored, k0row) where
    ``scored`` is every transition in the corpus as
    (doc_id, bo, nll_e6) — bo 0 = seen bigram, 1 = ctx backoff, 2 = full
    backoff — and ``k0row`` the 1-row full-backoff constant.  Callers
    filter to their doc population (held-out scorer: doc_id % 10 = 0;
    perplexity gate: all docs).

    The LM always trains on doc_id % 10 != 0; see the module comment for
    the probability model and determinism contract.  The token stream and
    the score tables are session-shared, not result-scoped."""
    t = shared_lm_tables(spark, sf_dir)
    kn = _kn_tables(spark, sf_dir, t)
    k0row = kn["k0row"]
    scored = (
        t["bg_all"]
        .withColumn("h1", F.expr(f"k12 div {_TRI_MOD}"))
        .withColumn("h2", F.expr(f"k12 % {_TRI_MOD}"))
        .join(kn["lmseen"], "k12", "left")
        .join(kn["lmctx"], "h1", "left")
        .join(kn["lmcont"], "h2", "left")
        .crossJoin(F.broadcast(k0row))
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN nll2_e6 IS NOT NULL THEN 0 "
                "WHEN a_e6 IS NOT NULL THEN 1 ELSE 2 END"
            ).alias("bo"),
            F.expr(_KN_NLL_E6_EXPR).alias("nll_e6"),
        )
    )
    return scored, k0row


@query(
    "text_kn_bigram_nll",
    oracle=f"""
    WITH {_KN_CTES}
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)                                AS n_transitions,
           CAST(SUM(CASE WHEN bo = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bo_ctx,
           CAST(SUM(CASE WHEN bo = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bo_cont,
           CAST(SUM(nll_e6) AS BIGINT)                             AS sum_nll_e6
    FROM kn_scored WHERE doc_id % 10 = 0 GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_kn_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out Kneser-Ney-lite bigram scoring: train on 90% of docs
    (doc_id % 10 != 0), score the 10% test stream; per doc emit transition
    count, backoff-level counts, and the summed micro-nat NLL.

    Scale: the token stream shuffles ONCE (the bigram count build keyed on
    the bijective BIGINT pair code); context (cc, r), continuation (l) and
    type-total (B) tables all re-aggregate from the vocab-bounded count
    table c2, never the stream.  The seen-bigram LM computes its
    interpolated probability per c2 row (vocab-bounded) via two equi-joins
    on h1/h2 plus the 1-row B broadcast, and takes its log through the
    deterministic DOUBLE chain (detmath det_lnd) — bit-identical across
    engines because p is built from BIGINTs with a fixed op order and
    every det-ln op is correctly-rounded IEEE arithmetic.  The test
    stream equi-joins three LM tables on 8-byte keys; the full-backoff
    constant rides a 1-row broadcast."""
    scored, _k0row = kn_scored_transitions(spark, sf_dir)
    return (
        scored.filter(F.col("doc_id") % 10 == 0)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
            F.sum(F.expr("CASE WHEN bo = 1 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_bo_ctx"),
            F.sum(F.expr("CASE WHEN bo = 2 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_bo_cont"),
            F.sum("nll_e6").cast("bigint").alias("sum_nll_e6"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Zipf / lexical-diversity statistics per language.
# --------------------------------------------------------------------------
# Corpus-health numbers every pretraining-data report carries: type-token
# ratio, hapax fraction, and the Zipf slope (the least-squares slope of
# ln(freq) on ln(rank) over the top-64 terms — natural text sits near -1;
# template/boilerplate corpora flatten, spam steepens).
#
# Exact-integer contract: x_e6 = ROUND(1e6*det_ln(rank)), y_e6 =
# ROUND(1e6*det_ln(freq)) via the deterministic ln chain, then the
# closed-form slope num/den = (n*Sxy - Sx*Sy) / (n*Sxx - Sx*Sx) on BIGINTs.
# Bounds at n = 64: x_e6 <= 1e6*ln(64) ~ 4.2e6 and y_e6 <= 1e6*ln(2^62)
# ~ 4.3e7, so n*Sxy <= 64*64*(4.2e6*4.3e7) ~ 7.4e17 and every intermediate
# stays under 2^63 for ANY corpus size — the top-64 cap is what makes the
# regression int64-exact (the temperature-mix overflow lesson applied at
# design time).  The final slope divides the two BIGINTs as doubles (both
# casts and the division are correctly-rounded IEEE ops on identical
# inputs) and quantizes to micro-units.
#
# Scale (100 TB): term counts combiner-reduce into the one token shuffle
# (reduce side is vocabulary-bounded); the per-lang summary re-aggregates
# the count table.  The rank window never sees the full vocabulary: the
# rank is ``skew.salted_top_k`` salted by t % 8, so the only
# global-ordered window in the plan is over <= 512 rows per lang.
_ZIPF_TOP = 64
_ZIPF_SALT = 8


def _zipf_oracle() -> str:
    return f"""
    WITH tk AS (
        SELECT lang, u.t AS t
        FROM (SELECT lang,
                     {H.duckdb_nonempty_token_hashes('text')} AS hs
              FROM documents),
             UNNEST(hs) AS u(t)
    ),
    tc AS (
        SELECT lang, t, CAST(COUNT(*) AS BIGINT) AS c
        FROM tk GROUP BY lang, t
    ),
    stats AS (
        SELECT lang,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        FROM tc GROUP BY lang
    ),
    top AS (
        SELECT lang, c, rn FROM (
            SELECT lang, c,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY lang ORDER BY c DESC, t
                   ) AS BIGINT) AS rn
            FROM tc
        ) WHERE rn <= {_ZIPF_TOP}
    ),
    pts AS (
        SELECT lang,
               CAST(ROUND(1000000 * zx_ln) AS BIGINT) AS x_e6,
               CAST(ROUND(1000000 * zy_ln) AS BIGINT) AS y_e6
        FROM (SELECT lang, {DM.duckdb_det_ln_select('rn', 'zx')},
                     {DM.duckdb_det_ln_select('c', 'zy')}
              FROM top)
    ),
    reg AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_top,
               CAST(SUM(x_e6) AS BIGINT) AS sx,
               CAST(SUM(y_e6) AS BIGINT) AS sy,
               CAST(SUM(x_e6 * y_e6) AS BIGINT) AS sxy,
               CAST(SUM(x_e6 * x_e6) AS BIGINT) AS sxx
        FROM pts GROUP BY lang
    )
    SELECT s.lang,
           s.n_tokens, s.n_types, s.n_hapax,
           (1000000 * s.n_types) // s.n_tokens AS ttr_e6,
           (1000000 * s.n_hapax) // s.n_types  AS hapax_e6,
           r.n_top,
           CASE WHEN r.n_top >= 2 THEN
               CAST(ROUND(1000000 *
                   (CAST(r.n_top * r.sxy - r.sx * r.sy AS DOUBLE)
                    / CAST(r.n_top * r.sxx - r.sx * r.sx AS DOUBLE)))
                    AS BIGINT)
           END AS zipf_slope_e6
    FROM stats s JOIN reg r ON (r.lang = s.lang
                                OR (r.lang IS NULL AND s.lang IS NULL))
    ORDER BY s.lang
    """


@query("text_zipf_ttr", oracle=_zipf_oracle())
def text_zipf_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language lexical statistics: token/type/hapax counts, type-token
    ratio, hapax fraction, and the top-64 Zipf slope in exact micro-units.
    See the module comment above for the int64 bounds and the salted
    two-phase rank that keeps the ordered window vocabulary-independent."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    tk = d.select(
        "lang", F.explode(F.expr(H.spark_nonempty_token_hashes("text"))).alias("t")
    )
    tc = tk.groupBy("lang", "t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    stats = tc.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.expr("CASE WHEN c = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_hapax"),
    )
    top = salted_top_k(
        tc,
        _ZIPF_TOP,
        [F.col("c").desc(), "t"],
        ["lang"],
        salt=F.col("t") % _ZIPF_SALT,
        rank="rn",
    ).select("lang", "c", "rn")
    pts = DM.spark_with_det_ln(
        DM.spark_with_det_ln(top, "rn", "zx"), "c", "zy"
    ).select(
        "lang",
        F.expr("CAST(ROUND(1000000 * zx_ln) AS BIGINT)").alias("x_e6"),
        F.expr("CAST(ROUND(1000000 * zy_ln) AS BIGINT)").alias("y_e6"),
    )
    reg = pts.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_top"),
        F.sum("x_e6").cast("bigint").alias("sx"),
        F.sum("y_e6").cast("bigint").alias("sy"),
        F.sum(F.expr("x_e6 * y_e6")).cast("bigint").alias("sxy"),
        F.sum(F.expr("x_e6 * x_e6")).cast("bigint").alias("sxx"),
    )
    return (
        stats.join(reg, stats.lang.eqNullSafe(reg.lang))
        .select(
            stats.lang.alias("lang"),
            "n_tokens",
            "n_types",
            "n_hapax",
            F.expr("(1000000 * n_types) div n_tokens").alias("ttr_e6"),
            F.expr("(1000000 * n_hapax) div n_types").alias("hapax_e6"),
            "n_top",
            F.expr(
                "CASE WHEN n_top >= 2 THEN "
                "CAST(ROUND(1000000 * "
                "(CAST(n_top * sxy - sx * sy AS DOUBLE)"
                " / CAST(n_top * sxx - sx * sx AS DOUBLE))) AS BIGINT) END"
            ).alias("zipf_slope_e6"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Word entropy — the Dolma/RedPajama-class lexical-diversity quality signal.
# --------------------------------------------------------------------------
# Exact per-document unigram entropy H = ln n − (Σ c·ln c)/n over the doc's
# own token distribution, in micro-nats: low-entropy docs are repetitive
# boilerplate / keyword stuffing, high-entropy docs are natural prose.
# Determinism: every ln is the det-ln chain; each term's c·ln c is
# quantized to micro-nats BEFORE the per-doc integer sum (order-free), and
# the division by n is integer floor over non-negative operands.  Tokens
# travel as char-polyhashes (the family contract: a hash collision merges
# identical counts on both engines).


@query(
    "text_word_entropy",
    oracle=f"""
    WITH tc AS (
        SELECT doc_id, tok AS h, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id,
                     unnest({H.duckdb_nonempty_token_hashes('text')}) AS tok
              FROM documents)
        GROUP BY doc_id, tok
    ),
    per AS (
        SELECT doc_id, c, {DM.duckdb_det_ln_select("c", "wc")} FROM tc
    ),
    perq AS (
        SELECT doc_id, c,
               CAST(ROUND(1000000 * (c * wc_ln)) AS BIGINT) AS cl_e6
        FROM per
    ),
    doc AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT)     AS n_tokens,
               CAST(COUNT(*) AS BIGINT)   AS n_types,
               CAST(SUM(cl_e6) AS BIGINT) AS s_e6
        FROM perq GROUP BY doc_id
    ),
    docln AS (
        SELECT doc_id, n_tokens, n_types, s_e6,
               {DM.duckdb_det_ln_select("n_tokens", "nn")}
        FROM doc
    )
    SELECT doc_id, n_tokens, n_types,
           CAST(CAST(ROUND(1000000 * nn_ln) AS BIGINT) - (s_e6 // n_tokens)
                AS BIGINT) AS entropy_e6
    FROM docln ORDER BY doc_id
    """,
)
def text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact unigram entropy in micro-nats (see the section
    comment).  Docs with zero tokens have no distribution and are omitted.

    Scale: ZERO token-level exchanges — a document's tokens are already
    co-located in its scan split, so the per-doc count multiset is
    computed map-side as run lengths over the SORTED token-hash array
    (one aggregate HOF inside codegen); the det-ln / quantize work runs
    on the exploded counts (still map-side) and the only exchange is the
    partial-aggregated one-row-per-doc reduction.  No joins, no windows.
    Measured @mf: 0.1-class vs 2.39 for the naive (doc, token) groupBy."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    toks = H.spark_nonempty_token_hashes("text")
    runs = d.select(
        "doc_id",
        F.expr(
            f"""aggregate(
                array_sort({toks}),
                named_struct('prev', CAST(-1 AS BIGINT), 'c', 0L,
                             'cs', CAST(array() AS array<bigint>)),
                (a, x) -> CASE
                    WHEN a.c = 0L THEN named_struct('prev', x, 'c', 1L, 'cs', a.cs)
                    WHEN x = a.prev THEN
                        named_struct('prev', x, 'c', a.c + 1L, 'cs', a.cs)
                    ELSE named_struct('prev', x, 'c', 1L,
                                      'cs', a.cs || array(a.c)) END,
                a -> CASE WHEN a.c = 0L THEN a.cs
                          ELSE a.cs || array(a.c) END)"""
        ).alias("cs"),
    )
    tc = runs.select("doc_id", F.explode("cs").alias("c"))
    per = DM.spark_with_det_ln(tc, "c", "wc").select(
        "doc_id",
        "c",
        F.expr("CAST(ROUND(1000000 * (c * wc_ln)) AS BIGINT)").alias("cl_e6"),
    )
    doc = per.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("cl_e6").cast("bigint").alias("s_e6"),
    )
    return (
        DM.spark_with_det_ln(doc, "n_tokens", "nn")
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            F.expr(
                "CAST(CAST(ROUND(1000000 * nn_ln) AS BIGINT)"
                " - (s_e6 div n_tokens) AS BIGINT)"
            ).alias("entropy_e6"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# LM predictability gain — contextual information content per document.
# --------------------------------------------------------------------------
# For each held-out transition, the UNIGRAM cost of the target token
# (ln U − ln u(w2), OOV floored at count 1) minus the KN-lite bigram cost
# is the empirical pointwise mutual information I(w2; w1): how much the
# one-word context reduces surprisal.  Per document, the mean gain
# separates syntactically coherent prose (high gain — context predicts)
# from shuffled/keyword text (≈0 gain) even when both have healthy
# unigram statistics — the signal unigram-only quality filters miss.
# Rides the shared LM build end to end: the unigram table, the KN score
# tables and the transition stream are all shared_lm_tables artifacts.


@query(
    "text_lm_gain",
    oracle=f"""
    WITH {_KN_CTES},
    uni AS (
        SELECT tok AS h2, CAST(COUNT(*) AS BIGINT) AS u
        FROM (SELECT unnest(h) AS tok FROM toks WHERE doc_id % 10 <> 0)
        GROUP BY tok
    ),
    tot AS (SELECT CAST(SUM(u) AS BIGINT) AS big_u FROM uni),
    tot_ln AS (SELECT {DM.duckdb_det_ln_select("big_u", "bt")} FROM tot),
    utest AS (
        SELECT g.doc_id,
               GREATEST(COALESCE(uni.u, 0), 1) AS ue
        FROM (SELECT doc_id, k12 FROM bg WHERE doc_id % 10 = 0) g
        LEFT JOIN uni ON uni.h2 = g.k12 % {_TRI_MOD}
    ),
    uq AS (
        SELECT doc_id,
               {DM.duckdb_det_ln_select("ue", "bu")},
               CAST(ROUND(1000000 * (bt_ln - bu_ln)) AS BIGINT) AS u_e6
        FROM utest CROSS JOIN tot_ln
    ),
    udoc AS (
        SELECT doc_id, CAST(SUM(u_e6) AS BIGINT) AS sum_uni_e6
        FROM uq GROUP BY doc_id
    ),
    kdoc AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT)    AS n_transitions,
               CAST(SUM(nll_e6) AS BIGINT) AS sum_kn_e6
        FROM kn_scored WHERE doc_id % 10 = 0 GROUP BY doc_id
    )
    SELECT k.doc_id AS doc_id, k.n_transitions, u.sum_uni_e6, k.sum_kn_e6,
           CAST(u.sum_uni_e6 - k.sum_kn_e6 AS BIGINT) AS gain_e6
    FROM kdoc k JOIN udoc u ON u.doc_id = k.doc_id
    ORDER BY doc_id
    """,
)
def text_lm_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-held-out-document LM predictability gain (see section comment):
    summed unigram NLL minus summed KN-lite bigram NLL over the same
    transitions, all in exact micro-nats.

    Scale: zero new corpus-level shuffles — the transition stream, the
    unigram table and the KN score tables are the shared session build;
    this query adds only vocab-bounded det-ln work (cached as its own
    session-shared entry) and ONE per-doc partial aggregation.

    r16 (guide §2.4 — operations keyed the same way share one exchange):
    the unigram-cost and KN-cost legs used to be two separate consumptions
    of the held-out bigram stream, each with its own per-doc aggregation,
    joined back on doc_id at the end — three exchanges of the stream plus
    a doc-keyed join, all to compute two sums over the SAME rows.  The
    legs are now fused into one join chain (the ``ux_cost`` h2-join rides
    the same stream-side exchange as the ``lmcont`` h2-join) ending in a
    single groupBy(doc_id) that emits both sums.  Row-for-row identical:
    the same per-transition costs summed over the same held-out stream —
    both engines' results and the oracle are unchanged (solo warm median
    4.97 → measured after below; exchanges in the final plan 3× stream +
    doc join → 1× stream)."""
    t = shared_lm_tables(spark, sf_dir)

    def _build(scope: QueryScope) -> dict:
        tot = t["uni"].agg(F.sum("u").cast("bigint").alias("big_u"))
        tot_ln = DM.spark_with_det_ln(tot, "big_u", "bt").select("bt_ln")
        ucost = DM.spark_with_det_ln(
            t["uni"].crossJoin(F.broadcast(tot_ln)), "u", "bu"
        ).select(
            F.col("h3").alias("h2"),
            F.expr("CAST(ROUND(1000000 * (bt_ln - bu_ln)) AS BIGINT)").alias(
                "u_e6"
            ),
        )
        floor = DM.spark_with_det_ln(
            tot_ln.withColumn("ue", F.lit(1).cast("bigint")), "ue", "bu"
        ).select(
            F.expr("CAST(ROUND(1000000 * (bt_ln - bu_ln)) AS BIGINT)").alias(
                "ufloor_e6"
            )
        )
        return {"cost": scope.persist(ucost), "floor": floor}

    ux = session_shared(spark, ("lm_unigram_cost", sf_dir), _build)
    ux_floor = ux["floor"]  # 1-row OOV constant
    # The KN score tables, re-joined here rather than through
    # kn_scored_transitions so the unigram leg can share their exchanges.
    kn = _kn_tables(spark, sf_dir, t)
    k0row = kn["k0row"]  # 1-row full-backoff constant
    fused = (
        t["bg_all"]
        .filter(F.col("doc_id") % 10 == 0)
        .withColumn("h1", F.expr(f"k12 div {_TRI_MOD}"))
        .withColumn("h2", F.expr(f"k12 % {_TRI_MOD}"))
        .join(kn["lmseen"], "k12", "left")
        .join(kn["lmctx"], "h1", "left")
        .join(kn["lmcont"], "h2", "left")
        .join(ux["cost"], "h2", "left")
        .crossJoin(F.broadcast(k0row))
        .crossJoin(F.broadcast(ux_floor))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
            F.sum(F.expr("COALESCE(u_e6, ufloor_e6)"))
            .cast("bigint")
            .alias("sum_uni_e6"),
            F.sum(F.expr(_KN_NLL_E6_EXPR))
            .cast("bigint")
            .alias("sum_kn_e6"),
        )
    )
    return (
        fused.select(
            "doc_id",
            "n_transitions",
            "sum_uni_e6",
            "sum_kn_e6",
            F.expr("CAST(sum_uni_e6 - sum_kn_e6 AS BIGINT)").alias("gain_e6"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Heaps' law: vocabulary growth along the ingestion order.
# --------------------------------------------------------------------------
HEAPS_BUCKETS = 20


@query(
    "text_heaps_law",
    oracle=f"""
    WITH tok AS MATERIALIZED (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    n AS MATERIALIZED (SELECT COUNT(*) AS n_docs FROM documents),
    firsts AS (
        SELECT term, MIN(doc_id) AS first_doc
        FROM tok WHERE term <> '' GROUP BY term
    ),
    newv AS (
        SELECT (first_doc * {HEAPS_BUCKETS}) // n.n_docs AS bucket,
               COUNT(*) AS new_terms
        FROM firsts, n GROUP BY 1
    ),
    toks AS (
        SELECT (doc_id * {HEAPS_BUCKETS}) // n.n_docs AS bucket,
               COUNT(*) AS n_tokens
        FROM tok, n WHERE term <> '' GROUP BY 1
    )
    SELECT t.bucket                                    AS bucket,
           CAST(COALESCE(v.new_terms, 0) AS BIGINT)    AS new_terms,
           CAST(SUM(COALESCE(v.new_terms, 0)) OVER w AS BIGINT) AS vocab_cum,
           CAST(t.n_tokens AS BIGINT)                  AS n_tokens,
           CAST(SUM(t.n_tokens) OVER w AS BIGINT)      AS tokens_cum
    FROM toks t LEFT JOIN newv v ON v.bucket = t.bucket
    WINDOW w AS (ORDER BY t.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY bucket
    """,
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth curve in ingestion order (Heaps 1978): per
    corpus-ventile, the number of NEVER-SEEN-BEFORE terms, the cumulative
    vocabulary, and the cumulative token count — the V(n) ~ K * n^beta
    statistic tokenizer-vocabulary sizing and dedup-saturation monitoring
    read off every ingestion run (a flattening curve = the crawl has
    stopped discovering new language).

    The "seen before" semantics is exact, not approximate: a term's first
    occurrence is MIN(doc_id) — one aggregation over the token stream, no
    ordered scan, no state.  Bucketing by ``(first_doc * B) div n_docs``
    is exact integer math on both engines.

    Scale: the token explode is map-side; first-occurrence aggregation
    shuffles once on the term (reduce side = vocabulary, with map-side
    partial MIN); the per-bucket rollups reduce to {HEAPS_BUCKETS} rows,
    and the cumulative window runs over those {HEAPS_BUCKETS} rows only —
    the single-partition window is bounded by the constant bucket count,
    never the corpus.  The doc-count scalar rides in as a 1-row broadcast
    cross join."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    firsts = tok.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    newv = (
        firsts.crossJoin(F.broadcast(n))
        .groupBy(F.expr(f"(first_doc * {HEAPS_BUCKETS}) div n_docs").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    toks = (
        tok.crossJoin(F.broadcast(n))
        .groupBy(F.expr(f"(doc_id * {HEAPS_BUCKETS}) div n_docs").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        toks.join(newv, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("new_terms", F.lit(0)).cast("long").alias("new_terms"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
        )
        .select(
            "bucket",
            "new_terms",
            F.sum("new_terms").over(w).cast("long").alias("vocab_cum"),
            "n_tokens",
            F.sum("n_tokens").over(w).cast("long").alias("tokens_cum"),
        )
        .select("bucket", "new_terms", "vocab_cum", "n_tokens", "tokens_cum")
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# PMI collocation mining.
# --------------------------------------------------------------------------
PMI_MIN_COUNT = 5
PMI_TOPK = 100


@query(
    "text_collocations_pmi",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    bg AS (
        SELECT p.w1 AS w1, p.w2 AS w2
        FROM toks, UNNEST([{{'w1': t[i], 'w2': t[i + 1]}}
                           for i in range(1, len(t))]) AS u(p)
    ),
    c2 AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair
        FROM bg GROUP BY w1, w2
    ),
    cl AS (SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_left FROM c2 GROUP BY w1),
    cr AS (SELECT w2, CAST(SUM(n_pair) AS BIGINT) AS n_right FROM c2 GROUP BY w2),
    tot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS nb FROM c2),
    totl AS (SELECT nb, {DM.duckdb_det_ln_select("nb", "pn")} FROM tot),
    j AS (
        SELECT c2.w1, c2.w2, c2.n_pair, cl.n_left, cr.n_right
        FROM c2 JOIN cl ON cl.w1 = c2.w1 JOIN cr ON cr.w2 = c2.w2
        WHERE c2.n_pair >= {PMI_MIN_COUNT}
    ),
    lnj AS (
        SELECT w1, w2, n_pair, n_left, n_right,
               {DM.duckdb_det_ln_select("n_pair", "pc")},
               {DM.duckdb_det_ln_select("n_left", "pa")},
               {DM.duckdb_det_ln_select("n_right", "pb")}
        FROM j
    )
    SELECT w1, w2, n_pair, n_left, n_right,
           CAST(ROUND((pc_ln + pn_ln - pa_ln - pb_ln) * 1000000) AS BIGINT)
               AS pmi_e6
    FROM lnj CROSS JOIN totl
    ORDER BY pmi_e6 DESC, w1, w2
    LIMIT {PMI_TOPK}
    """,
)
@scoped
def text_collocations_pmi(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """Pointwise-mutual-information collocation mining — the phrase-mining
    primitive (Church & Hanks 1990) corpus pipelines use to find
    multi-word expressions worth single-token treatment: PMI(w1, w2) =
    ln(c(w1,w2) · N / (c(w1·) · c(·w2))) over bigram counts, with the
    standard count floor (n_pair >= {PMI_MIN_COUNT}) that keeps PMI's
    low-frequency bias out of the ranking.

    Float discipline: all four logs run the deterministic-ln chain
    (functions/detmath.py) on exact integer counts, combined in one
    literal IEEE expression identical on both engines and quantized to
    integer micro-nats before the top-k — bit-stable at any parallelism.

    Scale: ONE (w1,w2)-keyed aggregation builds the pair table; the two
    marginal tables re-aggregate from IT (bounded by vocabulary², in
    practice vocabulary-sized — never a second pass over the corpus
    stream), the N total is a 1-row broadcast, and the final top-k is
    TakeOrderedAndProject (per-partition heads, no global sort).  The
    marginal joins shuffle only the LM-table-sized count frames."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.expr("filter(split(text, ' '), x -> x <> '')").alias("t")
    )
    bg = (
        toks.select(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN "
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(t[i - 1] AS w1, t[i] AS w2)) "
                "ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END"
            ).alias("bgs"),
        )
        .select(F.explode("bgs").alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c2 = scope.persist(bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair")))
    cl = c2.groupBy("w1").agg(F.sum("n_pair").alias("n_left"))
    cr = c2.groupBy("w2").agg(F.sum("n_pair").alias("n_right"))
    btot = DM.spark_with_det_ln(
        c2.agg(F.sum("n_pair").alias("nb")), "nb", "pn"
    ).select("pn_ln")
    j = (
        c2.filter(F.col("n_pair") >= PMI_MIN_COUNT)
        .join(cl, "w1")
        .join(cr, "w2")
    )
    lnj = DM.spark_with_det_ln(
        DM.spark_with_det_ln(
            DM.spark_with_det_ln(j, "n_pair", "pc"), "n_left", "pa"
        ),
        "n_right",
        "pb",
    )
    out = (
        lnj.crossJoin(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.col("n_left").cast("long").alias("n_left"),
            F.col("n_right").cast("long").alias("n_right"),
            F.expr(
                "CAST(ROUND((pc_ln + pn_ln - pa_ln - pb_ln) * 1000000) AS BIGINT)"
            ).alias("pmi_e6"),
        )
        .orderBy(F.desc("pmi_e6"), "w1", "w2")
        .limit(PMI_TOPK)
    )
    return out


# --------------------------------------------------------------------------
# Code-vs-prose detection (round-13).
# --------------------------------------------------------------------------
CODE_KEYWORDS = ("def ", "import ", "#include", "function", "return", "void ")
CODE_SYM_PM = 80       # ≥8% symbol chars
CODE_BRACE_MIN = 10    # or ≥10 brace/semicolon/paren/equals chars
CODE_INDENT_MIN = 3    # or ≥3 indented lines
CODE_KW_MIN = 2        # or ≥2 keyword hits


def _code_detect_sql(engine: str) -> dict[str, str]:
    """The shared metric formulas, rendered per engine.  Every count is a
    length-difference over literal replace (engine-portable, no regex
    dialect hazard) except the alnum strip, whose pattern contains NO
    backslash — Spark SQL string literals process backslash ESCAPES
    (``'\\s'`` reaches the regex engine as ``s``) while DuckDB's don't,
    so any backslashed class would silently compile to two different
    regexes.  Symbols are therefore counted as nonspace-minus-alnum:
    whitespace removed by literal CHR replaces, alnum by the
    backslash-free class ``[^A-Za-z0-9]``."""
    flags = ", 'g'" if engine == "duck" else ""
    ns = (
        "LENGTH(REPLACE(REPLACE(REPLACE(REPLACE(text, ' ', ''),"
        " CHR(9), ''), CHR(10), ''), CHR(13), ''))"
    )
    sym = (
        f"({ns} - LENGTH(REGEXP_REPLACE(text, '[^A-Za-z0-9]', ''{flags})))"
    )
    braces = " + ".join(
        f"(LENGTH(text) - LENGTH(REPLACE(text, '{c}', '')))"
        for c in ("{", "}", "(", ")", ";", "=")
    )
    kws = " + ".join(
        f"(LENGTH(text) - LENGTH(REPLACE(text, '{k}', ''))) / {len(k)}"
        for k in CODE_KEYWORDS
    )
    indent = (
        "(LENGTH(text) - LENGTH(REPLACE(text, CHR(10) || '  ', CHR(10)))) / 2"
    )
    return {
        "sym_pm": f"CASE WHEN LENGTH(text) = 0 THEN 0"
                  f" ELSE (1000 * {sym}) // LENGTH(text) END"
        if engine == "duck"
        else f"CASE WHEN LENGTH(text) = 0 THEN 0"
             f" ELSE (1000 * {sym}) div LENGTH(text) END",
        "brace_semi": f"({braces})",
        "kw_hits": f"CAST(({kws}) AS BIGINT)",
        "indent_lines": f"CAST({indent} AS BIGINT)",
    }


def _code_detect_oracle() -> str:
    m = _code_detect_sql("duck")
    return f"""
    WITH d AS (
        SELECT lang,
               CAST({m["sym_pm"]} AS BIGINT)      AS sym_pm,
               CAST({m["brace_semi"]} AS BIGINT)  AS brace_semi,
               {m["kw_hits"]}                     AS kw_hits,
               {m["indent_lines"]}                AS indent_lines
        FROM documents
    ),
    f AS (
        SELECT *,
               (sym_pm >= {CODE_SYM_PM}
                AND (brace_semi >= {CODE_BRACE_MIN}
                     OR indent_lines >= {CODE_INDENT_MIN}))
               OR kw_hits >= {CODE_KW_MIN} AS is_code
        FROM d
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)                         AS n_docs,
           CAST(SUM(CASE WHEN is_code THEN 1 ELSE 0 END) AS BIGINT) AS n_code,
           CAST(SUM(sym_pm) AS BIGINT)                      AS sum_sym_pm,
           CAST(SUM(brace_semi) AS BIGINT)                  AS sum_brace_semi,
           CAST(SUM(kw_hits) AS BIGINT)                     AS sum_kw_hits,
           CAST(SUM(indent_lines) AS BIGINT)                AS sum_indent_lines
    FROM f
    GROUP BY lang
    ORDER BY lang
    """


@query("text_code_detect", oracle=_code_detect_oracle())
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection — the curation signal that routes documents
    into code-specific pipelines (and keeps stray source files out of
    prose corpora): per-document symbol density (per-mille of
    non-alphanumeric-non-space chars), brace/semicolon/paren/equals
    counts, indented-line counts, and code-keyword hits, thresholded into
    an ``is_code`` verdict ({CODE_SYM_PM}‰ symbols plus structural braces
    or indentation, or ≥{CODE_KW_MIN} keyword hits — the StarCoder/Gopher
    rule-battery style of classifier-free detection).

    Cross-engine exactness: every count is a LENGTH-DIFFERENCE over a
    literal REPLACE (no regex dialect hazard) except the symbol strip,
    whose character class is identical in Java regex and RE2; the density
    is integer per-mille (trunc div on nonnegative ints).  Empty docs
    score 0 (the edge corpus pins this).

    Scale: one stateless scan projection per document plus a map-side
    combined per-language rollup — no shuffle carries text; the output is
    language-cardinality bounded."""
    m = _code_detect_sql("spark")
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.expr(m["sym_pm"]).cast("long").alias("sym_pm"),
        F.expr(m["brace_semi"]).cast("long").alias("brace_semi"),
        F.expr(m["kw_hits"]).alias("kw_hits"),
        F.expr(m["indent_lines"]).alias("indent_lines"),
    )
    f = d.withColumn(
        "is_code",
        (
            (F.col("sym_pm") >= CODE_SYM_PM)
            & (
                (F.col("brace_semi") >= CODE_BRACE_MIN)
                | (F.col("indent_lines") >= CODE_INDENT_MIN)
            )
        )
        | (F.col("kw_hits") >= CODE_KW_MIN),
    )
    return (
        f.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("is_code"), 1).otherwise(0)).alias("n_code"),
            F.sum("sym_pm").alias("sum_sym_pm"),
            F.sum("brace_semi").alias("sum_brace_semi"),
            F.sum("kw_hits").alias("sum_kw_hits"),
            F.sum("indent_lines").alias("sum_indent_lines"),
        )
        .orderBy("lang")
    )
