"""Training-data pipeline operators: sampling, vocabulary/TF-IDF statistics,
corpus histograms, and PII scrubbing — SURVEY.md §7 phase 6 extensions.

The reference has no data-curation surface at all (its record-level logic is
arbitrary C# in IMapOperator/IFlatMapOperator, SURVEY.md §2.11); these are
the engine-native operators a 100 TB pretraining-data pipeline needs on top
of the relational core.  All are pure column-expression pipelines (JVM-side,
whole-stage codegen, zero Python UDFs) with exact-integer or
string-comparison outputs so the DuckDB oracle hash-matches bit-for-bit.

Scale notes (100 TB):
  - sampling is a stateless per-row filter on a content hash — no shuffle,
    fully pushdown-compatible, and reproducible across reruns/retries
    (critical for exactly-once curation jobs).
  - vocab/DF statistics shuffle once on the term; term cardinality, not
    corpus size, bounds the reduce side.
  - the PII scrub is a per-row map — scan-shaped, no shuffle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flink_net_spark.functions import hashing as H
from flink_net_spark.operators.skew import salted_top_k
from flink_net_spark.queries import query
from flink_net_spark.tables import QueryScope, load_table, scoped, spread_small_scan

# --------------------------------------------------------------------------
# Deterministic stratified sampling.
# --------------------------------------------------------------------------
# Per-stratum keep rates expressed as a hex prefix threshold on
# md5(doc_id): md5 is uniform, so P[first-4-hex < T] = T / 65536.
# Both engines emit lowercase-hex md5 of the same string → identical keeps.
_SAMPLE_THRESHOLDS = {
    "en": "3333",  # ≈ 20% — downsample the majority stratum
    "de": "8000",  # ≈ 50%
    "es": "8000",
    "fr": "8000",
    "zh": "8000",
}


def _spark_keep_cond():
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    cond = F.lit(False)
    for lang, thr in _SAMPLE_THRESHOLDS.items():
        cond = cond | ((F.col("lang") == lang) & (h < thr))
    return cond


def _duckdb_keep_cond() -> str:
    h = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)"
    ors = " OR ".join(
        f"(lang = '{lang}' AND {h} < '{thr}')"
        for lang, thr in _SAMPLE_THRESHOLDS.items()
    )
    return f"({ors})"


@query(
    "sample_stratified_hash",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_duckdb_keep_cond()}
    ORDER BY doc_id
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling: keep a doc iff the first 4
    hex chars of md5(doc_id) fall under the stratum's threshold — en keeps
    ~20%, the rest ~50%.

    Content-hash sampling beats ``df.sample()`` for curation pipelines:
    the keep-set is a pure function of the row (reproducible across reruns,
    retries, and cluster sizes — ``sample()`` depends on partition layout
    and seed plumbing), it needs no shuffle, and the filter sits directly
    on the scan.  The same idiom stratifies by any column combination."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(_spark_keep_cond()).select("doc_id", "lang").orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Vocabulary: corpus-wide term frequencies, top-K.
# --------------------------------------------------------------------------
@query(
    "vocab_top_terms",
    oracle="""
    SELECT term, CAST(COUNT(*) AS BIGINT) AS term_count
    FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
    WHERE term <> ''
    GROUP BY term
    ORDER BY term_count DESC, term
    LIMIT 100
    """,
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with counts, top-100 — the token-counting pass every
    tokenizer-training / frequency-filter pipeline starts with.

    Scale: explode happens map-side; partial counts combine before the one
    shuffle on the term, so the reduce side is bounded by vocabulary size
    (≪ corpus size).  TakeOrderedAndProject handles the top-K without a
    global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("term_count"))
        .orderBy(F.col("term_count").desc(), "term")
        .limit(100)
    )


# --------------------------------------------------------------------------
# BPE merge-pair counting: the inner loop of distributed tokenizer training.
# --------------------------------------------------------------------------
BPE_TOPK = 64


@query(
    "text_bpe_pairs",
    oracle=f"""
    WITH wf AS MATERIALIZED (
        SELECT word || chr(31) AS w2, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
        GROUP BY word
    ),
    p AS (
        SELECT substring(w2, CAST(i AS INT), 2) AS pair, freq
        FROM wf, unnest(range(1, length(w2))) AS t(i)
    )
    SELECT pair,
           CAST(SUM(freq) AS BIGINT) AS pair_count,
           CAST(COUNT(*) AS BIGINT)  AS n_word_positions
    FROM p
    GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT {BPE_TOPK}
    """,
)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge-candidate counting (Sennrich et al. 2016
    "Neural Machine Translation of Rare Words with Subword Units", alg. 1's
    pair-statistics step) — the inner loop of distributed tokenizer
    training: count adjacent symbol pairs across the corpus, weighted by
    word frequency, and surface the top merge candidates.

    Symbol sequences are characters plus an end-of-word sentinel (unit
    separator, chr(31) — outside the corpus alphabet), so merges that
    touch word boundaries (the 'est</w>' class) are counted distinctly
    from word-internal ones, exactly as Sennrich's reference
    implementation does.  ``pair_count`` is the true number of corpus
    positions where the pair occurs (a word with 'aaa' contributes two
    'aa' positions, times its frequency); ``n_word_positions`` counts the
    distinct word-form positions, i.e. the dictionary-side footprint of
    applying the merge.

    Scale: this is the two-shuffle shape tokenizer training actually
    ships — (1) word-frequency aggregation (map-side combined, reduce
    bounded by vocabulary), (2) pair aggregation over the DISTINCT-WORD
    dictionary, not the raw corpus (pair extraction runs once per word
    form — the compression BPE trainers rely on; on real corpora the
    dictionary is ~1e6 rows vs 1e11 corpus tokens).  Top-K via
    orderBy+limit = TakeOrderedAndProject: per-partition heads, no global
    sort.  Successive merge rounds re-run this query on the re-segmented
    dictionary — the iteration state (the merged vocab) is vocabulary-
    sized, never corpus-sized."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(F.expr("concat(word, chr(31))").alias("w2"), "freq")
    )
    pairs = wf.select(
        F.explode(
            F.expr("transform(sequence(1, length(w2) - 1), i -> substring(w2, i, 2))")
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("freq").alias("pair_count"),
            F.count(F.lit(1)).alias("n_word_positions"),
        )
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(BPE_TOPK)
    )


# --------------------------------------------------------------------------
# TF-IDF term ranking per document (exact-integer emission).
# --------------------------------------------------------------------------
@query(
    "tfidf_doc_terms",
    oracle="""
    WITH tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
        WHERE term <> ''
        GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY term
    )
    SELECT doc_id, term, tf, df
    FROM (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf DESC, df.df ASC, tf.term) AS rn
        FROM tf JOIN df ON tf.term = df.term
        WHERE tf.doc_id % 20 = 0
    )
    WHERE rn <= 5
    ORDER BY doc_id, rn
    """,
)
def tfidf_doc_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most characteristic terms per document: rank by term frequency
    descending, then document frequency ascending (rare-in-corpus wins the
    tie) — the tf-idf ordering without emitting the float score, so the
    cross-engine hash can't wobble on ``ln`` ULP differences; consumers
    compute tf·ln(N/df) from the exact integers emitted here.

    Scale: tf shuffles on (doc_id, term) — combiner-friendly; df reuses
    tf's output (one extra shuffle on term, vocab-bounded); the tf⋈df join
    broadcasts df when vocab is small, else AQE shuffles on term.  The
    doc_id sample predicate prunes BEFORE the per-doc window."""
    docs = load_table(spark, sf_dir, "documents")
    terms = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term")
    )
    return (
        tf.filter(F.col("doc_id") % 20 == 0)
        .join(df, "term")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "term", "tf", "df")
        .orderBy("doc_id", F.col("rn"))
    )


# --------------------------------------------------------------------------
# Corpus length histogram (fixed-width buckets).
# --------------------------------------------------------------------------
@query(
    "docs_length_histogram",
    oracle="""
    SELECT n_chars // 100 AS len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY len_bucket
    ORDER BY len_bucket
    """,
)
def docs_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution in 100-char buckets — the first plot of
    any corpus audit, and the input to length-based quality filters.

    Scale: single scan, integer bucket key, combiner-friendly aggregates;
    the reduce side is the bucket count (~hundreds), so this is effectively
    map-side-only work."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            (F.col("n_chars") / 100).cast("long").alias("len_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("len_bucket")
    )


# --------------------------------------------------------------------------
# PII scrubbing (regex redaction).
# --------------------------------------------------------------------------
# Patterns restricted to the Java-regex ∩ RE2 common subset, written
# backslash-free ([.] for literal dot, trailing - in classes) so the same
# string survives Spark SQL literal escaping AND DuckDB literals unchanged.
# A single alternation does scrub + count in one pass: both engines use
# leftmost-first alternation semantics, and one pattern can't double-count
# a digit run that several individual patterns would each match.
PII_PATTERNS = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}",
    "phone": "[+]?[0-9][0-9() -]{7,}[0-9]",
    "id_number": "[0-9]{9,}",
}
PII_COMBINED = "|".join(PII_PATTERNS.values())
_REDACTED = "[PII]"


def spark_scrub_expr(text: str) -> str:
    """Spark SQL expression: ``text`` with every PII match redacted."""
    return f"regexp_replace({text}, '{PII_COMBINED}', '{_REDACTED}')"


def duckdb_scrub_expr(text: str) -> str:
    return f"regexp_replace({text}, '{PII_COMBINED}', '{_REDACTED}', 'g')"


def spark_match_count_expr(text: str) -> str:
    """Spark SQL expression: total PII matches in ``text`` (group 0 so the
    count is of full matches, mirroring DuckDB's default)."""
    return (
        f"CAST(size(regexp_extract_all({text}, '{PII_COMBINED}', 0)) AS BIGINT)"
    )


def duckdb_match_count_expr(text: str) -> str:
    return f"CAST(len(regexp_extract_all({text}, '{PII_COMBINED}')) AS BIGINT)"


@query(
    "text_pii_scrub",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN {duckdb_match_count_expr('text')} > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
           CAST(SUM({duckdb_match_count_expr('text')}) AS BIGINT) AS n_matches,
           CAST(SUM(length({duckdb_scrub_expr('text')})) AS BIGINT) AS scrubbed_chars
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction (emails, phone numbers, long digit runs) with a
    per-source audit: docs touched, total matches, and post-scrub corpus
    size.  The synthetic corpus contains no PII by construction, so counts
    are zero here — the patterns themselves are exercised on crafted rows
    in tests/test_pipeline_ops.py; this query proves the scan-shaped
    aggregation pipeline end-to-end against the oracle.

    Scale: pure per-row map + one tiny groupBy(source) — the scrub runs
    where the data lives, nothing shuffles except the per-source tallies."""
    docs = load_table(spark, sf_dir, "documents")
    n_matches = F.expr(spark_match_count_expr("text"))
    return (
        docs.select(
            "source",
            n_matches.alias("_m"),
            F.length(F.expr(spark_scrub_expr("text"))).alias("_len"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("_m") > 0, 1).otherwise(0)).alias("n_docs_with_pii"),
            F.sum("_m").alias("n_matches"),
            F.sum("_len").alias("scrubbed_chars"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Train/val/test split, eval-set decontamination, sequence packing.
# --------------------------------------------------------------------------
# 90/5/5 by the first 4 hex chars of md5(doc_id): 0.90*65536 = 0xe666,
# 0.95*65536 = 0xf333.  Lexicographic hex compare == numeric compare.
_SPLIT_TRAIN_MAX = "e666"
_SPLIT_VAL_MAX = "f333"


@query(
    "curation_split_assign",
    oracle=f"""
    SELECT source, split,
           COUNT(*)                    AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM (
        SELECT source, n_chars,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{_SPLIT_TRAIN_MAX}'
                    THEN 'train'
                    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{_SPLIT_VAL_MAX}'
                    THEN 'val' ELSE 'test' END AS split
        FROM documents
    )
    GROUP BY source, split
    ORDER BY source, split
    """,
)
def curation_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5) as a pure function
    of the row key — reproducible across reruns, retries, and cluster
    resizes, unlike seeded ``randomSplit`` (whose output depends on
    partition layout).  The same hex-threshold idiom as
    ``sample_stratified_hash``.

    Scale: a narrow map + one small aggregate; the split column can also be
    used directly as a partition column on write (see sinks.write_partitioned).
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = (
        F.when(h < _SPLIT_TRAIN_MAX, "train")
        .when(h < _SPLIT_VAL_MAX, "val")
        .otherwise("test")
    )
    return (
        docs.select("source", "n_chars", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .orderBy("source", "split")
    )


N_EVAL_DOCS = 5  # doc_id 0..4 play the held-out eval set


def _decontaminate_oracle() -> str:
    from flink_net_spark.queries.dedup import _DUCK_SHINGLES, _DUCK_TH_DOCS

    return f"""
    WITH sh AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM {_DUCK_TH_DOCS}
    ),
    ev AS (
        SELECT DISTINCT UNNEST(sh) AS shingle FROM sh WHERE doc_id < {N_EVAL_DOCS}
    ),
    tr AS (
        SELECT doc_id, UNNEST(sh) AS shingle FROM sh WHERE doc_id >= {N_EVAL_DOCS}
    )
    SELECT tr.doc_id, COUNT(DISTINCT tr.shingle) AS n_hits
    FROM tr JOIN ev ON tr.shingle = ev.shingle
    GROUP BY tr.doc_id
    ORDER BY tr.doc_id
    """


@query("curation_decontaminate", oracle=_decontaminate_oracle())
def curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag every training document sharing at
    least one word-3gram shingle with the held-out eval set (doc_id < 5) —
    the n-gram-overlap contamination check every serious LLM data pipeline
    runs before training (cf. GPT-3 appendix C / PaLM dedup reports).

    Scale: the eval side is tiny by construction (benchmarks are KBs, the
    corpus is TBs) → its distinct shingles BROADCAST; the training side
    explodes shingles and hash-joins in place with NO shuffle of the corpus;
    the per-doc count aggregates on doc_id.  One linear pass at 100 TB.
    """
    from flink_net_spark.queries.dedup import _spark_shingle_hash_df

    sh = _spark_shingle_hash_df(spark, sf_dir)
    eval_sh = (
        sh.filter(F.col("doc_id") < N_EVAL_DOCS)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    train = sh.filter(F.col("doc_id") >= N_EVAL_DOCS).select(
        "doc_id", F.explode("sh").alias("shingle")
    )
    return (
        train.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_hits"))
        .orderBy("doc_id")
    )


SEQ_BUDGET_TOKENS = 2048


@query(
    "curation_pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM toks
    )
    SELECT source,
           CAST((cum - n_tokens) // {SEQ_BUDGET_TOKENS} AS BIGINT) AS seq_id,
           COUNT(*)                     AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(MIN(doc_id) AS BIGINT)   AS first_doc,
           CAST(MAX(doc_id) AS BIGINT)   AS last_doc
    FROM packed
    GROUP BY source, seq_id
    ORDER BY source, seq_id
    """,
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents (in deterministic doc_id order,
    independently per source) to fixed token-budget training sequences via
    an exclusive running token sum — the distributed form of concat-and-
    chunk packing.  A doc whose exclusive cumsum crosses a boundary starts
    spilling into the next sequence, exactly like token-level chunking.

    Scale: ONE window scan partitioned by source — each source packs in
    parallel; no global ordering bottleneck.  At 100 TB you'd sub-shard the
    partition key (source, doc_id bucket) the same way.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = d.withColumn("cum", F.sum("n_tokens").over(w))
    return (
        packed.withColumn(
            "seq_id", ((F.col("cum") - F.col("n_tokens")) / SEQ_BUDGET_TOKENS).cast("bigint")
        )
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "seq_id")
    )


# --------------------------------------------------------------------------
# Weighted domain mixing (epoch up/down-sampling per source).
# --------------------------------------------------------------------------
# Training-data mixtures assign each domain a weight: >1 repeats the domain
# for multiple epochs, <1 downsamples it.  n_copies = floor(w) + one extra
# copy iff the doc's hash falls under frac(w) — deterministic, shuffle-free,
# and exact in expectation per domain.  src0 is upweighted 2.5x, src1 cut to
# 0.3x, everything else passes through at 1.0.
_MIX_WEIGHTS = {"src0": (2, "8000"), "src1": (0, "4ccc")}  # (floor, frac-hex)
_MIX_DEFAULT = (1, "0000")


@query(
    "curation_domain_mix",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source,
               CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 ELSE 1 END
                 + CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
                             (CASE source WHEN 'src0' THEN '8000'
                                          WHEN 'src1' THEN '4ccc'
                                          ELSE '0000' END)
                        THEN 1 ELSE 0 END AS n_copies
        FROM documents
    )
    SELECT doc_id, source, CAST(UNNEST(generate_series(1, n_copies)) AS BIGINT) AS copy_idx
    FROM w
    WHERE n_copies >= 1
    ORDER BY doc_id, copy_idx
    """,
)
def curation_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted domain mixing: replicate or drop documents per-source so the
    output corpus matches target mixture weights (src0 ×2.5, src1 ×0.3,
    rest ×1.0).  The fractional part is decided by the same md5 hex-prefix
    idiom as ``sample_stratified_hash`` — a pure function of the row, so
    the mixture is reproducible across reruns and cluster sizes.

    Scale: map-side only (a CASE + conditional array explode on the scan);
    no shuffle, no driver-side sampling state.  This is how you take a
    100 TB corpus to a weighted training mixture in one pass."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    base = F.lit(_MIX_DEFAULT[0])
    thr = F.lit(_MIX_DEFAULT[1])
    for src, (b, t) in _MIX_WEIGHTS.items():
        base = F.when(F.col("source") == src, b).otherwise(base)
        thr = F.when(F.col("source") == src, t).otherwise(thr)
    n_copies = base + (h < thr).cast("int")
    return (
        docs.select("doc_id", "source", n_copies.alias("n"))
        .filter(F.col("n") >= 1)
        .select(
            "doc_id",
            "source",
            F.explode(F.expr("sequence(1L, CAST(n AS BIGINT))")).alias("copy_idx"),
        )
        .orderBy("doc_id", "copy_idx")
    )


# --------------------------------------------------------------------------
# Temperature sampling: corpus-statistics-driven mixture reweighting.
# --------------------------------------------------------------------------
# Keep ~TEMP_TARGET_E4/1e4 of the corpus overall, reallocated across sources
# by exponential smoothing p_s ∝ n_s^T with T = 0.5 (the multilingual
# up/down-sampling of mBERT / XLM-R): hot sources are downsampled harder,
# tail sources kept nearly whole.  T = 0.5 is deliberate — sqrt is an IEEE
# CORRECTLY-ROUNDED operation, so (unlike pow(n, 0.7)) both engines compute
# bit-identical weights with no last-ulp drift risk.
TEMP_TARGET_E4 = 5000

# Per-source hash threshold in 16-bit space:
#   rate_s  = target · n_total · sqrt(n_s) / (Σ sqrt · n_s)
#   thr16_s = floor(rate_s · 65536)
#           = (65536 · target · n_total · sqrt_e6) DIV (10000 · tot_e6 · n_s)
# computed as EXACT INTEGER floor-division in wide types (round-9 fix of the
# r08 verdict's overflow finding: the old BIGINT product
# ``5000 · n_total · sqrt_e6`` wrapped past 2^63 once a source held ~2M docs
# — Spark, non-ANSI, wrapped SILENTLY to a negative thr16 and dropped the
# whole source, while DuckDB raised).  Spark carries the products in
# DECIMAL(38,0) with integral ``div``; DuckDB in HUGEINT with ``//`` — all
# operands positive, so both are floor division and the mathematics is
# identical with NO floating point at all (the one sqrt stays upstream in
# sqrt_e6).  Headroom: at a 10^13-doc corpus (≫100 TB) the numerator is
# ~65536·5000·10^13·3.2·10^12 ≈ 10^34, inside both DECIMAL(38,0) and int128.
_TEMP_NUM = 65536 * TEMP_TARGET_E4  # 327,680,000 — fits BIGINT before widening
_TEMP_THR16_SPARK = (
    f"CAST((CAST({_TEMP_NUM} AS DECIMAL(38,0)) * CAST(n_total AS DECIMAL(38,0))"
    f" * CAST(sqrt_e6 AS DECIMAL(38,0)))"
    f" div (CAST(10000 AS DECIMAL(38,0)) * CAST(tot_e6 AS DECIMAL(38,0))"
    f" * CAST(n AS DECIMAL(38,0))) AS BIGINT)"
)
_TEMP_THR16_DUCKDB = (
    f"CAST((CAST({_TEMP_NUM} AS HUGEINT) * CAST(n_total AS HUGEINT)"
    f" * CAST(sqrt_e6 AS HUGEINT))"
    f" // (CAST(10000 AS HUGEINT) * CAST(tot_e6 AS HUGEINT)"
    f" * CAST(n AS HUGEINT)) AS BIGINT)"
)


@query(
    "curation_temperature_mix",
    oracle=f"""
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source
    ),
    c2 AS (
        SELECT source, n,
               CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS sqrt_e6
        FROM counts
    ),
    tot AS (
        SELECT CAST(SUM(sqrt_e6) AS BIGINT) AS tot_e6,
               CAST(SUM(n) AS BIGINT) AS n_total
        FROM c2
    ),
    thr AS (
        SELECT source, n, {_TEMP_THR16_DUCKDB} AS thr16 FROM c2, tot
    ),
    kept AS (
        SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM documents d JOIN thr t ON d.source = t.source
        WHERE t.thr16 >= 65536
           OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
              < lpad(lower(hex(t.thr16)), 4, '0')
        GROUP BY d.source
    )
    SELECT t.source, t.n AS n_in, t.thr16,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM thr t LEFT JOIN kept k USING (source)
    ORDER BY source
    """,
)
def curation_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (T = 0.5, XLM-R-style): compute
    per-source keep rates FROM corpus statistics — p_s ∝ sqrt(n_s), scaled
    so ~half the corpus survives — then keep each doc by the md5-hex-prefix
    idiom of ``sample_stratified_hash`` against the source's 16-bit
    threshold.  Complements ``curation_domain_mix`` (whose weights are
    FIXED inputs): this is the op that turns raw source histograms into a
    smoothed training mixture without a human in the loop.

    Scale: one tiny groupBy(source) histogram (S rows) + a 1-row total,
    broadcast back; the corpus itself is touched by a single map-side
    filter — no shuffle of document rows at any size.  All arithmetic is
    exact integer math in wide types except one correctly-rounded sqrt
    (see _TEMP_THR16_SPARK/_TEMP_THR16_DUCKDB — overflow-free past 10^13
    docs), so the keep-set is bit-reproducible across engines, reruns, and
    cluster sizes."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn(
            "sqrt_e6",
            F.expr("CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)"),
        )
    )
    tot = counts.agg(
        F.sum("sqrt_e6").cast("bigint").alias("tot_e6"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    thr = counts.crossJoin(F.broadcast(tot)).withColumn(
        "thr16", F.expr(_TEMP_THR16_SPARK)
    )
    kept_cond = (F.col("thr16") >= 65536) | (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
        < F.expr("lpad(lower(hex(thr16)), 4, '0')")
    )
    kept = (
        docs.select("doc_id", "source")
        .join(F.broadcast(thr.select("source", "thr16")), "source")
        .filter(kept_cond)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
    )
    return (
        thr.select("source", F.col("n").alias("n_in"), "thr16")
        .join(kept, "source", "left")
        .select(
            "source",
            "n_in",
            "thr16",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# End-to-end curation: filter -> dedup -> pack, one composed plan.
# --------------------------------------------------------------------------
@query(
    "curation_end_to_end",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source, text,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
        WHERE lang = 'en' AND n_chars >= 50
    ),
    kept AS (
        SELECT doc_id, source, n_tokens FROM (
            SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
            FROM base
        ) WHERE doc_id = keeper
    ),
    packed AS (
        SELECT source, doc_id, n_tokens,
               CAST((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) - n_tokens)
                    // {SEQ_BUDGET_TOKENS} AS BIGINT) AS seq_id
        FROM kept
    )
    SELECT source, seq_id,
           COUNT(*)                   AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           MIN(doc_id)                AS first_doc
    FROM packed
    GROUP BY source, seq_id
    ORDER BY source, seq_id
    """,
)
def curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline a training-data job actually runs:
    language + length gate → exact dedup (keep the lowest doc_id per
    content hash) → per-source sequence packing — all ONE declarative plan,
    so Catalyst pipelines the filter into the scan and the dedup window and
    packing window share the same source partitioning.

    Scale: the only shuffles are the two window partitionings (content
    hash, then source); both are key-local and spill-safe.  Compare the
    stage-by-stage queries (``sample_stratified_hash``, ``dedup_exact``,
    ``curation_pack_sequences``) — composition does not change any
    operator's shape, which is the point of a declarative engine."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter((F.col("lang") == "en") & (F.col("n_chars") >= 50)).select(
        "doc_id", "source", "text", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w_dedup = Window.partitionBy(F.md5(F.col("text").cast("binary")))
    kept = (
        base.withColumn("keeper", F.min("doc_id").over(w_dedup))
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "source", "n_tokens")
    )
    w_pack = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = kept.withColumn(
        "seq_id",
        ((F.sum("n_tokens").over(w_pack) - F.col("n_tokens")) / SEQ_BUDGET_TOKENS).cast("bigint"),
    )
    return (
        packed.groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source", "seq_id")
    )


# --------------------------------------------------------------------------
# Sliding-window document chunking (training-example construction).
# --------------------------------------------------------------------------
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


@query(
    "curation_chunk_overlap",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    c AS (
        SELECT doc_id,
               s.start // {CHUNK_STRIDE}                            AS chunk_idx,
               array_to_string(ws[s.start + 1 : s.start + {CHUNK_TOKENS}], ' ') AS ctext
        FROM t, UNNEST(range(0, len(ws), {CHUNK_STRIDE})) AS s(start)
    )
    SELECT doc_id, chunk_idx,
           len(string_split(ctext, ' '))                    AS n_chunk_tokens,
           {H.duckdb_char_polyhash("ctext")}                AS chunk_hash
    FROM c ORDER BY doc_id, chunk_idx
    """,
)
def curation_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunker: split each document into CHUNK_TOKENS-token
    training chunks with a CHUNK_TOKENS−CHUNK_STRIDE (8-token) overlap (the
    standard long-document → context-window construction; overlap preserves
    cross-boundary continuations).

    Pure map work: explode ~n_tokens/stride chunk starts per document
    (≈1.33× row duplication from the overlap), slice the pre-split token
    array, emit (chunk_idx, token count, content hash).  No shuffle except
    the presentation sort; at 100 TB this is scan → explode → write,
    embarrassingly parallel and pushdown-friendly."""
    from flink_net_spark.tables import spread_small_scan

    # spread: the per-chunk rolling hash is CPU-heavy higher-order-function
    # work, and a single-row-group corpus file would serialize it on one
    # core (measured 2.8s → sub-second at sf0.1)
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    ws = F.split("text", " ")
    c = (
        d.select("doc_id", ws.alias("ws"))
        .withColumn(
            "start",
            F.explode(
                F.sequence(F.lit(0), F.size("ws") - 1, F.lit(CHUNK_STRIDE))
            ),
        )
        .select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
            F.concat_ws(
                " ", F.slice(F.col("ws"), F.col("start") + 1, CHUNK_TOKENS)
            ).alias("ctext"),
        )
    )
    return (
        c.select(
            "doc_id",
            "chunk_idx",
            F.size(F.split("ctext", " ")).cast("long").alias("n_chunk_tokens"),
            F.expr(H.spark_char_polyhash("ctext")).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# --------------------------------------------------------------------------
# Bloom-filter decontamination — the broadcast-bitset scale path.
# --------------------------------------------------------------------------
# curation_decontaminate broadcasts the eval set's raw shingle SET; once the
# protected corpus grows past executor memory (multi-benchmark suites,
# paraphrase banks, licensed-content blocklists), the production pattern is
# a fixed-size Bloom filter: k deterministic hashes into an m-bit bitset,
# built distributed (bit_or over 64-bit words), broadcast as m/32 BIGINT
# words, probed map-side.  k=4, m=65536 bits → 2048 words = 16 KB broadcast
# REGARDLESS of eval-set size.  False positives are part of the contract:
# the op emits bloom_hits alongside the exact join's hits, so the FP count
# is checked DATA (both engines compute the same bitset, the same probes,
# and the same exact ground truth).
_BLOOM_K = 4
_BLOOM_BITS = 65536  # 2048 x 32-bit words (bit 31 max: DuckDB raises on a
# signed-int64 shift into bit 63, so words hold 32 bits and the mask shift
# never exceeds 31 — identical two's-complement-free semantics both engines)
_BLOOM_COEFFS = H.minhash_coeffs(_BLOOM_K)
_BLOOM_EVAL_MOD = 50  # doc_id % 50 == 0 → the protected eval corpus (~2%)


def _bloom_pos_exprs(g: str) -> list[str]:
    """The k hash positions of gram expr ``g`` — valid in BOTH dialects
    (plain integer arithmetic; a·g < MOD² ≈ 1e18 stays inside int64)."""
    return [
        f"((({a} * {g} + {b}) % {H.MOD}) % {_BLOOM_BITS})"
        for a, b in _BLOOM_COEFFS
    ]


def _bloom_hit_cond(dialect: str) -> str:
    """All-k-bits-set test against the dense word array ``marr``, purely
    map-side (no explode, no join): one AND of k indexed bit tests per
    gram.  Dialects differ only in array indexing / shift spelling."""
    conds = []
    for p in _bloom_pos_exprs("g"):
        if dialect == "spark":
            word = f"element_at(marr, CAST({p} div 32 AS INT) + 1)"
            bit = f"shiftleft(1L, CAST({p} % 32 AS INT))"
        else:
            word = f"marr[CAST({p} // 32 AS INT) + 1]"
            bit = f"(1::BIGINT << ({p} % 32))"
        conds.append(f"(({word} & {bit}) <> 0)")
    return " AND ".join(conds)


def _bloom_oracle() -> str:
    from flink_net_spark.queries.dedup import _DUCK_SHINGLES, _DUCK_TH_DOCS

    return f"""
    WITH sh AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM {_DUCK_TH_DOCS}
    ),
    ev AS (
        SELECT DISTINCT UNNEST(sh) AS g FROM sh WHERE doc_id % {_BLOOM_EVAL_MOD} = 0
    ),
    bloom_words AS (
        SELECT p // 32 AS word, bit_or(1::BIGINT << (p % 32)) AS mask
        FROM (SELECT UNNEST([{', '.join(_bloom_pos_exprs('g'))}]) AS p FROM ev)
        GROUP BY 1
    ),
    bw AS (
        SELECT list(COALESCE(w.mask, 0) ORDER BY r.wi) AS marr
        FROM range(0, {_BLOOM_BITS // 32}) r(wi)
        LEFT JOIN bloom_words w ON w.word = r.wi
    ),
    tr AS (
        SELECT DISTINCT doc_id, UNNEST(sh) AS g FROM sh
        WHERE doc_id % {_BLOOM_EVAL_MOD} <> 0
    ),
    bloom AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS bloom_hits
        FROM tr CROSS JOIN bw
        WHERE {_bloom_hit_cond("duckdb")}
        GROUP BY doc_id
    ),
    exact AS (
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS exact_hits
        FROM tr t JOIN ev e USING (g) GROUP BY t.doc_id
    ),
    nw AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows FROM tr GROUP BY doc_id
    )
    SELECT nw.doc_id AS doc_id, nw.n_windows,
           CAST(COALESCE(bloom.bloom_hits, 0) AS BIGINT) AS bloom_hits,
           CAST(COALESCE(exact.exact_hits, 0) AS BIGINT) AS exact_hits,
           CAST(COALESCE(bloom.bloom_hits, 0)
                - COALESCE(exact.exact_hits, 0) AS BIGINT) AS n_false_pos
    FROM nw
    LEFT JOIN bloom USING (doc_id)
    LEFT JOIN exact USING (doc_id)
    ORDER BY doc_id
    """


@query("curation_bloom_decontaminate", oracle=_bloom_oracle())
@scoped
def curation_bloom_decontaminate(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """Bloom-filter decontamination with exact verification as checked data.

    Build: the protected corpus' (doc_id % 50 == 0) distinct word-3gram
    shingles hash through k=4 deterministic functions into a 65536-bit
    Bloom filter, constructed DISTRIBUTED as a bit_or aggregation over
    2048 32-bit words — the standard way to build a Bloom filter in one
    shuffle of (word, mask) pairs.  Probe: every training shingle tests
    its 4 bits against the broadcast 16 KB word table, map-side.

    Emitted per training doc: total distinct windows, Bloom hits, EXACT
    hits (the ground-truth semi-join curation_decontaminate runs), and the
    false-positive count — so the filter's precision is part of the
    oracle-checked contract, not a claim.  All arithmetic is exact BIGINT
    (a·g < MOD² ≈ 1e18; masks are single bits in int64 words).

    Scale: at 100 TB the exact semi-join needs the eval shingle set
    resident per executor; the Bloom probe needs 16 KB — constant in eval
    size (grow m for FP control: 1 GB of words protects ~10⁹ shingles at
    <1% FP).  One (word, mask) shuffle builds it; the filter then rides a
    1-row broadcast as a DENSE word array and every gram tests its k bits
    in ONE map-side conjunction — no explode, no probe-side join, no
    (doc_id, gram, position) re-shuffle (the first cut exploded k rows per
    gram into a word join + count and measured 11-19× the corpus in
    shuffle bytes; this form's only corpus-sized exchange is the distinct
    (doc_id, gram) dedup)."""
    from flink_net_spark.queries.dedup import _spark_shingle_hash_df
    sh = _spark_shingle_hash_df(spark, sf_dir)
    # persisted: consumed by BOTH the filter build and the broadcast
    # exact probe (r16); bounded by the protected corpus' distinct grams
    eval_sh = scope.persist(
        sh.filter(F.col("doc_id") % _BLOOM_EVAL_MOD == 0)
        .select(F.explode("sh").alias("g"))
        .distinct()
    )
    pos_arr = "array(" + ", ".join(_bloom_pos_exprs("g")) + ")"
    bloom_words = (
        eval_sh.select(F.explode(F.expr(pos_arr)).alias("p"))
        .select(
            F.expr("p div 32").alias("word"),
            F.expr("shiftleft(1L, CAST(p % 32 AS INT))").alias("m"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(m)").alias("mask"))
    )
    bw = bloom_words.agg(
        F.expr("map_from_entries(collect_list(struct(word, mask)))").alias("mm")
    ).select(
        F.expr(
            f"transform(sequence(0, {_BLOOM_BITS // 32 - 1}), "
            "wi -> coalesce(element_at(mm, CAST(wi AS BIGINT)), 0L))"
        ).alias("marr")
    )
    # sh is per-doc DISTINCT by construction (H.spark_hashed_shingles), so
    # (doc_id, g) rows are already unique — the first cut's global
    # .distinct() here was a full-stream shuffle for nothing
    tr = (
        sh.filter(F.col("doc_id") % _BLOOM_EVAL_MOD != 0)
        .select("doc_id", F.explode("sh").alias("g"))
    )
    # r16 (guide §2.4 — operations keyed the same way share one exchange):
    # n_windows, bloom_hits and exact_hits used to be THREE separate
    # consumptions of the train shingle stream — three doc-keyed
    # exchanges, two doc-keyed joins, and (sh being a derived stream, not
    # a cache) three re-tokenizations of the corpus.  They are now one
    # pass: the Bloom test becomes a map-side conditional SUM instead of a
    # filter, the exact semi-join becomes a broadcast LEFT join against
    # the (distinct) eval set marked hit=1, and one groupBy(doc_id) emits
    # all three counts.  Per-doc values are identical: the same rows
    # counted under the same conditions (an inner-join count over a
    # distinct key equals the left-join conditional sum).  eval_sh is
    # scope-persisted because it now feeds both the filter build and the
    # broadcast probe.  Measured solo at sf0.1: erratic 6.1-12.3 s warm
    # (re-derivation-dominated) → see OPTIMIZATION_r16.md.
    eval_marked = F.broadcast(eval_sh.withColumn("eh", F.lit(1)))
    out = (
        tr.crossJoin(F.broadcast(bw))
        .join(eval_marked, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum(
                F.when(F.expr(_bloom_hit_cond("spark")), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("bloom_hits"),
            F.sum(F.coalesce("eh", F.lit(0))).cast("bigint").alias("exact_hits"),
        )
        .select(
            "doc_id",
            "n_windows",
            "bloom_hits",
            "exact_hits",
            (F.col("bloom_hits") - F.col("exact_hits"))
            .cast("bigint")
            .alias("n_false_pos"),
        )
        .orderBy("doc_id")
    )
    return out


# --------------------------------------------------------------------------
# Count-min-sketch heavy hitters — approximate counting with the accuracy
# contract emitted as data.
# --------------------------------------------------------------------------
_CMS_D = 4      # hash rows
_CMS_W = 1024   # counters per row
_CMS_TOPK = 20
_CMS_COEFFS = H.minhash_coeffs(2 * _CMS_D)[_CMS_D:]  # disjoint from Bloom's


def _cms_pos_exprs(h: str) -> list[str]:
    return [
        f"((({a} * {h} + {b}) % {H.MOD}) % {_CMS_W})" for a, b in _CMS_COEFFS
    ]


def _cms_oracle() -> str:
    pos_structs = ", ".join(
        f"{{'i': {i}, 'pos': {p}}}" for i, p in enumerate(_cms_pos_exprs("h"))
    )
    return f"""
    WITH t AS (
        SELECT term, {H.duckdb_char_polyhash("term")} AS h
        FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        WHERE term <> ''
    ),
    ntok AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM t),
    cells AS (
        SELECT i, pos, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT u.p.i AS i, u.p.pos AS pos
              FROM t, UNNEST([{pos_structs}]) AS u(p))
        GROUP BY i, pos
    ),
    exact AS (
        SELECT term, h, CAST(COUNT(*) AS BIGINT) AS exact_count
        FROM t GROUP BY term, h
    ),
    top AS (
        SELECT term, h, exact_count,
               CAST(ROW_NUMBER() OVER (ORDER BY exact_count DESC, term)
                    AS BIGINT) AS rank
        FROM exact
    ),
    est AS (
        SELECT top.rank, top.term, top.exact_count,
               CAST(MIN(cells.c) AS BIGINT) AS cms_count
        FROM top, UNNEST([{pos_structs}]) AS u(p)
        JOIN cells ON cells.i = u.p.i AND cells.pos = u.p.pos
        WHERE top.rank <= {_CMS_TOPK}
        GROUP BY 1, 2, 3
    )
    SELECT rank, term, exact_count, cms_count,
           CAST(cms_count - exact_count AS BIGINT) AS slack,
           (cms_count - exact_count) <= n_tokens // 256 AS within_bound
    FROM est CROSS JOIN ntok
    ORDER BY rank
    """


@query("vocab_topk_cms", oracle=_cms_oracle())
def vocab_topk_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch term counting (Cormode & Muthukrishnan 2005)
    checked against exact counts: tokens hash through d=4 rows of w=1024
    counters; a term's estimate is the MIN over its 4 cells.  The sketch
    is 16 KB REGARDLESS of vocabulary size — the structure a 100 TB
    pipeline uses where the exact term dictionary (vocab_top_terms'
    shuffle) no longer fits the reduce side.

    The accuracy contract rides the output: for the exact top-20 terms the
    op emits exact_count, cms_count, their slack (CMS never underestimates,
    so slack ≥ 0 by construction), and a within_bound flag at 4× the
    expected N/w collision mass.  Both engines build the identical sketch
    from identical integer hashes, so every column — including the sketch's
    own error — hash-matches.

    Scale: the sketch build is ONE (i, pos)-keyed aggregation with 4096
    distinct groups (perfect partial-agg compression: the map side emits at
    most 4096 rows per task whatever the corpus size); the top-k lookup
    joins an 80-row probe set against the 4096-row broadcast sketch."""
    # per-term polyhash is the CPU-heavy map stage: spread the
    # single-row-group test parquet across cores (no-op on real layouts)
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    t = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .withColumn("h", F.expr(H.spark_char_polyhash("term")))
    )
    ntok = t.agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"))
    pos_structs = "array(" + ", ".join(
        f"struct({i} AS i, {p} AS pos)" for i, p in enumerate(_cms_pos_exprs("h"))
    ) + ")"
    cells = (
        t.select(F.explode(F.expr(pos_structs)).alias("u"))
        .select(F.col("u.i").alias("i"), F.col("u.pos").alias("pos"))
        .groupBy("i", "pos")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    exact = t.groupBy("term", "h").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_count")
    )
    # Salted top-k: a global Window.orderBy over the full vocabulary is a
    # single-task sort; pre-pruning within (h % 8) is 8-way parallel.
    top = salted_top_k(
        exact,
        _CMS_TOPK,
        [F.col("exact_count").desc(), F.col("term")],
        salt=F.col("h") % 8,
    )
    est = (
        top.select("rank", "term", "exact_count", F.explode(F.expr(pos_structs)).alias("u"))
        .select("rank", "term", "exact_count", F.col("u.i").alias("i"), F.col("u.pos").alias("pos"))
        .join(F.broadcast(cells), ["i", "pos"])
        .groupBy("rank", "term", "exact_count")
        .agg(F.min("c").cast("bigint").alias("cms_count"))
    )
    return (
        est.crossJoin(F.broadcast(ntok))
        .select(
            "rank",
            "term",
            "exact_count",
            "cms_count",
            (F.col("cms_count") - F.col("exact_count")).cast("bigint").alias("slack"),
            F.expr("(cms_count - exact_count) <= (n_tokens div 256)").alias("within_bound"),
        )
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# CCNet-style perplexity gate: tier the corpus by LM mean NLL.
# --------------------------------------------------------------------------
# The standard pretraining curation step (CCNet; Gopher/LLaMA pipelines):
# score every document against a reference LM and split the corpus into
# head/middle/tail perplexity terciles, then report the tier composition
# per source.  The LM is the shared Kneser-Ney-lite bigram model from
# queries/text.py (trained on the doc_id % 10 != 0 partition — the
# "reference corpus" proxy), and the tier boundaries are EXACT nearest-rank
# terciles of the per-doc mean micro-nat NLL.


@query(
    "curation_perplexity_gate",
    oracle=None,  # set below — needs text._KN_CTES after import
)
@scoped
def curation_perplexity_gate(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """Perplexity-tercile gate over EVERY document: per (source, tier)
    emit doc count, summed transitions, and the mean-NLL range.

    Tiering must not global-sort the corpus: per-doc means are quantized
    micro-nat BIGINTs, so their distinct values are bounded by the NLL
    VALUE RANGE (≤ ~4e7 for any corpus), not the corpus size.  The
    terciles come from a cumulative sum over that value histogram — the
    only ordered window in the plan runs on histogram rows, corpus-size
    independent — and the two thresholds ride a 1-row broadcast back over
    the doc stream, so tier assignment is a map-side CASE.  Docs with no
    bigram (0/1 tokens) take the OOV constant k0 as their mean.

    Determinism: mean = sum_nll_e6 div n (integer floor division), and
    nearest-rank terciles (first value whose cumulative count reaches
    ceil(n/3), ceil(2n/3)) are pure integer predicates — no quantile
    interpolation, no float ordering."""
    from flink_net_spark.queries.text import kn_scored_transitions
    scored, k0row = kn_scored_transitions(spark, sf_dir)
    doc_nll = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tr"),
        F.sum("nll_e6").cast("bigint").alias("s_nll"),
    )
    d = spread_small_scan(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source"
    )
    per_doc = scope.persist(
        d.join(doc_nll, "doc_id", "left")
        .crossJoin(F.broadcast(k0row))
        .select(
            "doc_id",
            "source",
            F.expr("COALESCE(n_tr, 0L)").alias("n_tr"),
            F.expr("COALESCE(s_nll div n_tr, k0_e6)").alias("mean_e6"),
        )
    )
    nrow = per_doc.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    hist = per_doc.groupBy(F.col("mean_e6").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(Window.orderBy("v")))
    thr = (
        cum.crossJoin(F.broadcast(nrow))
        .agg(
            F.min(F.expr("CASE WHEN cum >= (n + 2) div 3 THEN v END")).alias("t1"),
            F.min(F.expr("CASE WHEN cum >= (2 * n + 2) div 3 THEN v END")).alias("t2"),
        )
    )
    tiered = per_doc.crossJoin(F.broadcast(thr)).select(
        "source",
        F.expr(
            "CASE WHEN mean_e6 <= t1 THEN 1L WHEN mean_e6 <= t2 THEN 2L ELSE 3L END"
        ).alias("tier"),
        "n_tr",
        "mean_e6",
    )
    return (
        tiered.groupBy("source", "tier")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tr").cast("bigint").alias("sum_transitions"),
            F.min("mean_e6").cast("bigint").alias("min_mean_nll_e6"),
            F.max("mean_e6").cast("bigint").alias("max_mean_nll_e6"),
        )
        .orderBy("source", "tier")
    )


def _perplexity_gate_oracle() -> str:
    from flink_net_spark.queries.text import _KN_CTES

    return f"""
    WITH {_KN_CTES},
    doc_nll AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tr,
               CAST(SUM(nll_e6) AS BIGINT) AS s_nll
        FROM kn_scored GROUP BY doc_id
    ),
    per_doc AS (
        SELECT d.doc_id, d.source,
               COALESCE(x.n_tr, 0) AS n_tr,
               COALESCE(x.s_nll // x.n_tr, k0.k0_e6) AS mean_e6
        FROM documents d
        LEFT JOIN doc_nll x ON x.doc_id = d.doc_id
        CROSS JOIN k0
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM per_doc),
    hist AS (
        SELECT mean_e6 AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM per_doc GROUP BY 1
    ),
    cum AS (SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum FROM hist),
    thr AS (
        SELECT MIN(CASE WHEN cum >= (nn.n + 2) // 3 THEN v END) AS t1,
               MIN(CASE WHEN cum >= (2 * nn.n + 2) // 3 THEN v END) AS t2
        FROM cum CROSS JOIN nn
    ),
    tiered AS (
        SELECT p.source,
               CAST(CASE WHEN p.mean_e6 <= thr.t1 THEN 1
                    WHEN p.mean_e6 <= thr.t2 THEN 2 ELSE 3 END AS BIGINT) AS tier,
               p.n_tr, p.mean_e6
        FROM per_doc p CROSS JOIN thr
    )
    SELECT source, tier,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tr) AS BIGINT) AS sum_transitions,
           CAST(MIN(mean_e6) AS BIGINT) AS min_mean_nll_e6,
           CAST(MAX(mean_e6) AS BIGINT) AS max_mean_nll_e6
    FROM tiered GROUP BY source, tier ORDER BY source, tier
    """


from flink_net_spark.queries import ORACLES as _ORACLES  # noqa: E402

_ORACLES["curation_perplexity_gate"] = _perplexity_gate_oracle()


# --------------------------------------------------------------------------
# DSIR-style importance scoring (hashed n-gram importance resampling).
# --------------------------------------------------------------------------
# Data Selection via Importance Resampling (Xie et al., NeurIPS 2023): score
# every raw document by the log importance weight of a hashed bag-of-words
# model, log w(x) = sum_tokens [ln p_target(b) - ln p_raw(b)], where b is
# the token's hash bucket and both distributions are Laplace-smoothed bucket
# frequencies.  The target corpus here is the lang='en' partition (a stand-in
# for any curated seed set); the raw corpus is everything.
#
# Exact-integer contract: with ct/cr the bucket counts and T/R the corpus
# token totals, the per-token weight is
#     w_e6(b)  = ROUND(1e6 * (det_ln(ct_b + 1) - det_ln(cr_b + 1)))
#     shift_e6 = ROUND(1e6 * (det_ln(R + B)    - det_ln(T + B)))
# (the +B Laplace denominators fold into the per-token constant shift), and
# the doc score is SUM(w_e6 + shift_e6) over its tokens — every ln goes
# through the deterministic chain (functions/detmath.py), so both engines
# produce bit-identical BIGINTs.  Bounds: |w_e6 + shift_e6| <= 2e6*ln(2^62)
# ~ 8.6e7, so a doc would need ~1e11 tokens to overflow int64.
#
# Scale (100 TB): the token stream shuffles ONCE into the bucket-count
# build, combiner-reduced to <= DSIR_BUCKETS rows; the weight table is
# bucket-bounded (4096 rows) and BROADCAST back onto the second token pass,
# so scoring is map-side; the per-doc aggregation combiner-reduces to one
# row per doc before its shuffle.  The final per-source top-K runs on the
# doc-level aggregate, not the token stream.
DSIR_BUCKETS = 4096
_DSIR_TOPK = 10


def _dsir_spark_buckets() -> str:
    ph = H.spark_char_polyhash("w")
    return (
        f"transform(filter(split(text, ' '), x -> x <> ''), "
        f"w -> ({ph}) % {DSIR_BUCKETS})"
    )


def _dsir_duckdb_buckets() -> str:
    ph = H.duckdb_char_polyhash("w")
    return (
        f"[({ph}) % {DSIR_BUCKETS} "
        f"for w in list_filter(string_split(text, ' '), x -> x <> '')]"
    )


def _dsir_oracle() -> str:
    from flink_net_spark.functions import detmath as DM

    return f"""
    WITH tk AS (
        SELECT doc_id, lang, source, u.b AS b
        FROM (SELECT doc_id, lang, source, {_dsir_duckdb_buckets()} AS bs
              FROM documents),
             UNNEST(bs) AS u(b)
    ),
    bc AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tc
        FROM tk GROUP BY b
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) + {DSIR_BUCKETS} AS rb,
               CAST(SUM(tc) AS BIGINT) + {DSIR_BUCKETS} AS tb
        FROM bc
    ),
    shift AS (
        SELECT CAST(ROUND(1000000 * (st_ln - sr_ln)) AS BIGINT) AS shift_e6
        FROM (SELECT {DM.duckdb_det_ln_select('rb', 'sr')},
                     {DM.duckdb_det_ln_select('tb', 'st')}
              FROM tot)
    ),
    wts AS (
        SELECT b, CAST(ROUND(1000000 * (wa_ln - wb_ln)) AS BIGINT) AS w_e6
        FROM (SELECT b, {DM.duckdb_det_ln_select('ct1', 'wa')},
                     {DM.duckdb_det_ln_select('cr1', 'wb')}
              FROM (SELECT b, tc + 1 AS ct1, c + 1 AS cr1 FROM bc))
    ),
    doc AS (
        SELECT t.doc_id, t.source,
               CAST(COUNT(*) AS BIGINT) AS n_tok,
               CAST(SUM(w.w_e6 + s.shift_e6) AS BIGINT) AS score_e6
        FROM tk t JOIN wts w ON w.b = t.b CROSS JOIN shift s
        GROUP BY t.doc_id, t.source
    ),
    ranked AS (
        SELECT source, doc_id, n_tok, score_e6,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY score_e6 DESC, doc_id
               ) AS BIGINT) AS rk
        FROM doc
    )
    SELECT source, rk, doc_id, n_tok, score_e6
    FROM ranked WHERE rk <= {_DSIR_TOPK} ORDER BY source, rk
    """


@query("curation_dsir_importance", oracle=_dsir_oracle())
@scoped
def curation_dsir_importance(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """DSIR importance scoring: rank raw documents by how lang='en'-like
    their hashed bag-of-words is, emitting the top-10 per source with the
    exact micro-nat log importance weight.  See the module comment above
    for the probability model and the int64 bounds.

    Plan: bucket counts build with map-side partial aggregation (reduce
    side bounded by DSIR_BUCKETS, not corpus size); the 4096-row weight
    table and the 1-row Laplace shift broadcast onto the scoring pass, so
    per-token work never shuffles; the per-source top-K windows over the
    doc-level aggregate only."""
    from flink_net_spark.functions import detmath as DM

    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    tk = d.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.expr(_dsir_spark_buckets())).alias("b"),
    )
    # ONE token-level exchange builds everything the weight table needs:
    # per-bucket raw and target counts together (conditional aggregation),
    # with the corpus totals derived from the 4096-row bucket table rather
    # than a second scan (the first cut ran cr/ct/tot as three separate
    # token aggregations, duplicated again under the broadcast subtree -
    # six corpus-scale exchanges; this shape has two token passes total:
    # the count build and the broadcast-join scoring pass).
    bc = scope.persist(
        tk.groupBy("b").agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.sum(F.expr("CASE WHEN lang = 'en' THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("tc"),
        )
    )
    tot = bc.agg(
        F.expr(f"CAST(SUM(c) AS BIGINT) + {DSIR_BUCKETS}").alias("rb"),
        F.expr(f"CAST(SUM(tc) AS BIGINT) + {DSIR_BUCKETS}").alias("tb"),
    )
    shift = DM.spark_with_det_ln(
        DM.spark_with_det_ln(tot, "rb", "sr"), "tb", "st"
    ).select(
        F.expr("CAST(ROUND(1000000 * (st_ln - sr_ln)) AS BIGINT)").alias("shift_e6")
    )
    crt = bc.select(
        "b",
        F.expr("tc + 1").alias("ct1"),
        F.expr("c + 1").alias("cr1"),
    )
    wts = DM.spark_with_det_ln(
        DM.spark_with_det_ln(crt, "ct1", "wa"), "cr1", "wb"
    ).select(
        "b",
        F.expr("CAST(ROUND(1000000 * (wa_ln - wb_ln)) AS BIGINT)").alias("w_e6"),
    )
    doc = (
        tk.join(F.broadcast(wts), "b")
        .crossJoin(F.broadcast(shift))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.sum(F.expr("w_e6 + shift_e6")).cast("bigint").alias("score_e6"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("score_e6").desc(), "doc_id")
    return (
        doc.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _DSIR_TOPK)
        .select("source", "rk", "doc_id", "n_tok", "score_e6")
        .orderBy("source", "rk")
    )


# --------------------------------------------------------------------------
# Deterministic per-key reservoir sampling (exact-k per group).
# --------------------------------------------------------------------------
# Stratified hash sampling (above) keeps a FRACTION per stratum; many
# curation steps instead need EXACTLY k examples per group (per-language
# eval slices, per-source inspection samples, few-shot pools).  The
# deterministic analog of reservoir sampling: rank every row in its group
# by md5('rsv:' || doc_id) — a uniform, content-derived permutation — and
# keep the k smallest.  Like the hash sampler, the keep-set is a pure
# function of the rows (reproducible across reruns, retries, partition
# layouts, and engines).
#
# Scale (100 TB): a naive per-group window sorts every group in one task —
# a straggler when a group holds billions of rows.  The Spark plan ranks
# with ``skew.salted_top_k`` salted by doc_id % RSV_SALT, so the result is
# the oracle's single window while the biggest sort shrinks 8-fold (raise
# RSV_SALT with cluster size).
RSV_K = 4
RSV_SALT = 8


@query(
    "sample_reservoir_per_key",
    oracle=f"""
    SELECT lang, source, rk, doc_id, rank_hash FROM (
        SELECT lang, source, doc_id,
               md5('rsv:' || CAST(doc_id AS VARCHAR)) AS rank_hash,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang, source
                   ORDER BY md5('rsv:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS rk
        FROM documents
    ) WHERE rk <= {RSV_K} ORDER BY lang, source, rk
    """,
)
def sample_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k deterministic reservoir per (lang, source): the k docs with
    the smallest md5('rsv:'||doc_id) rank hash, with their in-group rank.
    Salted top-k — see the module comment for why the plan stays
    straggler-free when one group holds billions of rows."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.md5(F.concat(F.lit("rsv:"), F.col("doc_id").cast("string"))).alias(
            "rank_hash"
        ),
    )
    return (
        salted_top_k(
            d,
            RSV_K,
            ["rank_hash", "doc_id"],
            ["lang", "source"],
            salt=F.col("doc_id") % RSV_SALT,
            rank="rk",
        )
        .select("lang", "source", "rk", "doc_id", "rank_hash")
        .orderBy("lang", "source", "rk")
    )


# --------------------------------------------------------------------------
# Priority sampling (round-10) — weighted sampling WITHOUT replacement with
# unbiased subset-sum estimation: item i draws a deterministic uniform u_i
# and gets priority q_i = w_i / u_i; the sample is the top-K priorities and
# each sampled item's Horvitz-Thompson weight estimate is max(w_i, tau)
# where tau is the (K+1)-th priority.  Public technique: Duffield, Lund,
# Thorup, "Priority sampling" (JACM 2007) — the standard way a curation
# pipeline subsamples a corpus proportional to a per-document weight
# (length, quality score) while keeping totals estimable.
#
# Exactness: u_i = charpolyhash('pri:' || doc_id) + 1 in [1, MOD] (the
# engine-agnostic integer hash, functions/hashing.py), and the priority is
# quantized to q_i = (w_i * MOD) div u_i — an exact BIGINT in weight units
# (q_i >= w_i since u_i <= MOD), ties broken by doc_id.  w_i = n_chars + 1
# (+1 keeps zero-length docs sampleable with minimal weight).
# --------------------------------------------------------------------------
PRI_K = 200
PRI_SALT = 8


@query(
    "sample_priority_weighted",
    oracle=f"""
    WITH pri AS (
        SELECT doc_id, n_chars + 1 AS w,
               ((n_chars + 1) * {H.MOD})
                   // ({H.duckdb_char_polyhash("'pri:' || CAST(doc_id AS VARCHAR)")} + 1)
                   AS priority_q
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, w, priority_q,
               ROW_NUMBER() OVER (ORDER BY priority_q DESC, doc_id) AS rank
        FROM pri
    ),
    tau AS (
        SELECT COALESCE(MAX(priority_q), 0) AS tau_q FROM ranked
        WHERE rank = {PRI_K + 1}
    )
    SELECT rank, doc_id, w, priority_q,
           CAST(GREATEST(w, tau_q) AS BIGINT) AS w_est
    FROM ranked CROSS JOIN tau
    WHERE rank <= {PRI_K}
    ORDER BY rank
    """,
)
def sample_priority_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PRI_K} priority sample over the corpus, weighted by document
    length, with each sampled doc's unbiased Horvitz-Thompson weight
    estimate max(w, tau) (section comment: Duffield-Lund-Thorup 2007 —
    SUM(w_est) over the sample is an unbiased estimator of the corpus'
    total weight, which is what makes priority samples auditable).

    Scale: the priority is a scan-side projection (no corpus sort); the
    global top-(K+1) is ``skew.salted_top_k``, so no single task ever
    sorts the corpus; tau is a 1-row broadcast."""
    u_expr = H.spark_char_polyhash("concat('pri:', CAST(doc_id AS STRING))")
    pri = spread_small_scan(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        (F.col("n_chars") + 1).alias("w"),
        F.expr(f"((n_chars + 1) * {H.MOD}) div ({u_expr} + 1)").alias(
            "priority_q"
        ),
    )
    ranked = salted_top_k(
        pri,
        PRI_K + 1,
        [F.col("priority_q").desc(), "doc_id"],
        salt=F.col("doc_id") % PRI_SALT,
    )
    tau = ranked.filter(F.col("rank") == PRI_K + 1).agg(
        F.coalesce(F.max("priority_q"), F.lit(0)).cast("long").alias("tau_q")
    )
    return (
        ranked.filter(F.col("rank") <= PRI_K)
        .crossJoin(F.broadcast(tau))
        .select(
            "rank",
            "doc_id",
            "w",
            "priority_q",
            F.greatest("w", "tau_q").cast("long").alias("w_est"),
        )
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# Z-order (Morton-curve) layout clustering — the lakehouse OPTIMIZE ZORDER
# primitive for multi-dimensional scan locality.
# --------------------------------------------------------------------------
ZORDER_BITS = 16  # bits per dimension
ZORDER_BUCKET_SHIFT = 20  # zbucket = zval >> shift  (~256 buckets here)
_HOUR_MS = 3_600_000


def _interleave_expr(u: str, t: str, shl: str, shr: str) -> str:
    """Bit-interleave expression: u in even positions, t in odd — built once
    in Python and rendered per engine (Spark shiftleft()/shiftright()
    functions vs DuckDB << / >> operators) so the arithmetic is literally
    the same 32-term integer sum on both sides."""
    terms = []
    for k in range(ZORDER_BITS):
        terms.append(shl.format(x=f"({shr.format(x=u, k=k)} & 1)", k=2 * k))
        terms.append(shl.format(x=f"({shr.format(x=t, k=k)} & 1)", k=2 * k + 1))
    return " + ".join(terms)


_SPARK_Z = _interleave_expr(
    "u16", "t16", shl="shiftleft({x}, {k})", shr="shiftright({x}, {k})"
)
_DUCK_Z = _interleave_expr("u16", "t16", shl="({x} << {k})", shr="({x} >> {k})")


@query(
    "curation_zorder_layout",
    oracle=f"""
    WITH d AS (
        SELECT CAST(user_id AS BIGINT) % 65536            AS u16,
               (epoch_ms(ts) // {_HOUR_MS}) % 65536       AS t16
        FROM events
    ),
    z AS (SELECT u16, t16, {_DUCK_Z} AS zval FROM d)
    SELECT zval >> {ZORDER_BUCKET_SHIFT}      AS zbucket,
           CAST(COUNT(*) AS BIGINT)           AS n,
           CAST(MIN(u16) AS BIGINT)           AS u_min,
           CAST(MAX(u16) AS BIGINT)           AS u_max,
           CAST(MIN(t16) AS BIGINT)           AS t_min,
           CAST(MAX(t16) AS BIGINT)           AS t_max,
           CAST(SUM(zval) AS BIGINT)          AS z_sum,
           CAST(MAX(u16) - MIN(u16) + MAX(t16) - MIN(t16) AS BIGINT) AS bbox
    FROM z
    GROUP BY zbucket
    ORDER BY zbucket
    """,
)
def curation_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order / Morton-curve clustering key (Morton 1966; the Delta Lake /
    Iceberg ``OPTIMIZE ZORDER BY`` layout primitive) over the two hot
    filter dimensions of the events table — user and event-hour — plus the
    per-z-bucket bounding-box report that quantifies what the curve buys:
    files written in zbucket order carry tight min/max ranges on BOTH
    dimensions simultaneously, so either predicate prunes ~sqrt-fraction
    of files instead of one dimension pruning everything and the other
    nothing (linear layouts).  ``bbox`` (the summed per-bucket min/max
    extent) is the audited locality metric, ``z_sum`` pins every row's
    full interleave against the oracle.

    The interleave is a 32-term integer shift-and-mask sum generated from
    ONE Python template for both engines — exact at any parallelism, no
    float anywhere.

    Scale: computing zval is a per-row map (scan-shaped, zero exchanges);
    the report aggregates on the bucket key with map-side combine — one
    shuffle whose reduce side is the bucket count, not the corpus.  The
    production write path is ``df.repartitionByRange(zbucket,
    zval).write`` — same key, same single exchange, now yielding the
    clustered files this report audits."""
    e = load_table(spark, sf_dir, "events")
    d = e.select(
        (F.col("user_id").cast("long") % 65536).alias("u16"),
        F.expr(f"(unix_millis(ts) div {_HOUR_MS}) % 65536").alias("t16"),
    )
    z = d.select("u16", "t16", F.expr(_SPARK_Z).alias("zval"))
    return (
        z.groupBy(F.expr(f"shiftright(zval, {ZORDER_BUCKET_SHIFT})").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("u16").alias("u_min"),
            F.max("u16").alias("u_max"),
            F.min("t16").alias("t_min"),
            F.max("t16").alias("t_max"),
            F.sum("zval").alias("z_sum"),
            (F.max("u16") - F.min("u16") + F.max("t16") - F.min("t16")).alias("bbox"),
        )
        .orderBy("zbucket")
    )


# --------------------------------------------------------------------------
# Deterministic A/B assignment + integer SRM guardrail.
# --------------------------------------------------------------------------
AB_SALT = "expA"
# chi-square(1 df) critical value at p=0.001 is 10.83: flag when
# (n_a - n_b)^2 / (n_a + n_b) > 10.83, cross-multiplied to integers.
SRM_NUM = 1083
SRM_DEN = 100


@query(
    "sample_ab_assignment",
    oracle=f"""
    WITH a AS (
        SELECT event_type,
               ascii(substring(md5(CAST(user_id AS VARCHAR) || '_{AB_SALT}'),
                               1, 1)) % 2 AS arm,
               CAST(ROUND(value * 1000, 0) AS BIGINT) AS v
        FROM events
    ),
    g AS (
        SELECT event_type,
               SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
               SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
               SUM(CASE WHEN arm = 0 THEN v ELSE 0 END) AS sum_a,
               SUM(CASE WHEN arm = 1 THEN v ELSE 0 END) AS sum_b
        FROM a GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(sum_a AS BIGINT) AS sum_milli_a,
           CAST(sum_b AS BIGINT) AS sum_milli_b,
           ({SRM_DEN} * (n_a - n_b) * (n_a - n_b)
                > {SRM_NUM} * (n_a + n_b)) AS srm_flag
    FROM g ORDER BY event_type
    """,
)
def sample_ab_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic experiment bucketing + the sample-ratio-mismatch
    guardrail — the A/B-testing primitive every event pipeline ships:
    units land in an arm by salted hash (md5 of user_id + experiment
    salt, so assignment is stable across days/reruns and uncorrelated
    between experiments with different salts), and the SRM check — the
    #1 data-quality gate in experimentation (Fabijan 2019) — flags any
    cell whose arm split drifts from 50/50 beyond chi-square(1) at
    p=0.001.

    The chi-square verdict is exact integer cross-multiplication:
    {SRM_DEN}·(n_a − n_b)² > {SRM_NUM}·(n_a + n_b) — no division, no
    float, identical on both engines (the window_outlier_3sigma
    discipline).  int64-safe while |n_a − n_b| < 3·10⁸ (a flagged-SRM
    delta far beyond any real experiment's).

    Scale: assignment is a stateless map-side projection (the hash is a
    pure function of the row), metrics are ONE partial-combined groupBy —
    the same plan at 10⁶ or 10¹² events."""
    a = load_table(spark, sf_dir, "events").select(
        "event_type",
        (
            F.ascii(
                F.substring(
                    F.md5(F.concat(F.col("user_id").cast("string"), F.lit(f"_{AB_SALT}"))),
                    1,
                    1,
                )
            )
            % 2
        ).alias("arm"),
        F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").alias("v"),
    )
    g = a.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("v")).otherwise(0)).alias(
            "sum_milli_a"
        ),
        F.sum(F.when(F.col("arm") == 1, F.col("v")).otherwise(0)).alias(
            "sum_milli_b"
        ),
    )
    return g.select(
        "event_type",
        "n_a",
        "n_b",
        "sum_milli_a",
        "sum_milli_b",
        (
            SRM_DEN
            * (F.col("n_a") - F.col("n_b"))
            * (F.col("n_a") - F.col("n_b"))
            > SRM_NUM * (F.col("n_a") + F.col("n_b"))
        ).alias("srm_flag"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Token-budget mixture planning (round-13).
# --------------------------------------------------------------------------
MIX_BUDGET_CHARS = 10_000_000  # target corpus size (chars ~ tokens proxy)
MIX_REPEAT_CAP = 4             # max epochs per source (the LLaMA-style cap)
# deterministic per-source target weight 1..5, portable across engines and
# robust to arbitrary source names (no numeric parsing)
_MIX_W = "((ASCII(SUBSTR(source, LENGTH(source), 1)) + LENGTH(source)) % 5 + 1)"


@query(
    "curation_token_budget_mix",
    oracle=f"""
    WITH s AS (
        SELECT source,
               CAST({_MIX_W} AS BIGINT)    AS w,
               CAST(SUM(n_chars) AS BIGINT) AS avail
        FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(SUM(w) AS BIGINT) AS wsum FROM s)
    SELECT s.source,
           s.w                               AS weight,
           s.avail                           AS avail_chars,
           CAST({MIX_BUDGET_CHARS} * s.w AS BIGINT)          AS target_num,
           t.wsum                            AS target_den_per_budget,
           {MIX_BUDGET_CHARS} * s.w > {MIX_REPEAT_CAP} * t.wsum * s.avail
                                             AS capped,
           CAST(CASE WHEN {MIX_BUDGET_CHARS} * s.w
                          > {MIX_REPEAT_CAP} * t.wsum * s.avail
                     THEN {MIX_REPEAT_CAP} * t.wsum * s.avail
                     ELSE {MIX_BUDGET_CHARS} * s.w END AS BIGINT)
                                             AS repeat_num,
           CAST(t.wsum * s.avail AS BIGINT)  AS repeat_den,
           CAST(CASE WHEN {MIX_BUDGET_CHARS} * s.w
                          > {MIX_REPEAT_CAP} * t.wsum * s.avail
                     THEN {MIX_BUDGET_CHARS} * s.w
                          - {MIX_REPEAT_CAP} * t.wsum * s.avail
                     ELSE 0 END AS BIGINT)   AS shortfall_num
    FROM s CROSS JOIN t
    ORDER BY s.source
    """,
)
def curation_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture PLANNING — given per-source availability, a
    target mixture weight, a total corpus budget and a repeat cap, compute
    each source's epoch/repeat factor and its shortfall: the
    "how many passes of each source do I take" recipe step of
    LLaMA/DoReMi-style data mixing, where low-resource sources hit the
    repeat cap (≤{MIX_REPEAT_CAP} epochs here — repetition beyond a few
    epochs degrades, cf. Muennighoff 2023 "Scaling Data-Constrained LMs")
    and the lost mass is reported as a shortfall instead of silently
    re-normalized.

    Exactness: the repeat factor min(cap, budget·w / (Σw·avail)) is
    emitted as an EXACT RATIONAL (repeat_num/repeat_den) — the deferred-
    division discipline (window_gap_fill_interp): materializing the
    quotient would round, and rounding a plan that multiplies back into
    tokens drifts.  Weights derive from a portable arithmetic hash of the
    source name (no numeric parsing — arbitrary names, edge corpus
    included).

    Scale: one map-side-combined per-source aggregation plus a 1-row Σw
    scalar broadcast — the plan is source-cardinality bounded regardless
    of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.expr(_MIX_W).cast("long").alias("w"),
        F.sum("n_chars").cast("long").alias("avail"),
    )
    t = s.agg(F.sum("w").cast("long").alias("wsum"))
    B, CAP = MIX_BUDGET_CHARS, MIX_REPEAT_CAP
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "source",
            F.col("w").alias("weight"),
            F.col("avail").alias("avail_chars"),
            (F.lit(B) * F.col("w")).cast("long").alias("target_num"),
            F.col("wsum").alias("target_den_per_budget"),
            (F.lit(B) * F.col("w") > CAP * F.col("wsum") * F.col("avail")).alias(
                "capped"
            ),
            F.when(
                F.lit(B) * F.col("w") > CAP * F.col("wsum") * F.col("avail"),
                CAP * F.col("wsum") * F.col("avail"),
            )
            .otherwise(F.lit(B) * F.col("w"))
            .cast("long")
            .alias("repeat_num"),
            (F.col("wsum") * F.col("avail")).cast("long").alias("repeat_den"),
            F.when(
                F.lit(B) * F.col("w") > CAP * F.col("wsum") * F.col("avail"),
                F.lit(B) * F.col("w") - CAP * F.col("wsum") * F.col("avail"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("shortfall_num"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Model-based quality gate: fixed-weight linear classifier (round-14).
# --------------------------------------------------------------------------
# The FineWeb-Edu / DCLM-style curation step the rule batteries
# (text_gopher_filters) and the LM gate (curation_perplexity_gate) bracket:
# score every document with a DISTILLED linear quality model — fixed
# integer weights over cheap surface features — and tier the corpus.  The
# weights are part of the operator (a shipped classifier, not a fit), and
# every feature/logit is an exact integer, so both engines agree
# bit-for-bit.  Feature scales verified on this corpus: stop_pk 0-352,
# uniq_pk 268-1000, n_words 10-100, mwl_milli 3500-5727, sym_pk 0 on the
# alnum-only synthetic prose but exercised by the edge corpus's
# punctuation-only docs.
QLR_W_STOP = 1500      # stopword evidence per kilo-token
QLR_W_UNIQ = 800       # lexical diversity per kilo-token
QLR_W_SYM = -1200      # symbol noise per kilo-char
QLR_W_LEN = 5000       # length credit per word, capped
QLR_LEN_CAP = 80
QLR_W_MWL = -300       # distance from the ~4.5-char word-length sweet spot
QLR_MWL_CENTER = 4500
QLR_BIAS = -600_000
QLR_T_HIGH = 140_000   # tier cuts: ~thirds at sf0.001/0.01/0.1 (measured)
QLR_T_LOW = 80_000


@query(
    "curation_quality_logreg",
    oracle=f"""
    WITH f AS (
        SELECT source,
               len(string_split(text, ' ')) AS n_words,
               ((length(text) - len(string_split(text, ' ')) + 1) * 1000)
                   // len(string_split(text, ' ')) AS mwl_milli,
               (len(list_filter(string_split(text, ' '),
                                x -> x IN ('the', 'a'))) * 1000)
                   // len(string_split(text, ' ')) AS stop_pk,
               (len(list_distinct(string_split(text, ' '))) * 1000)
                   // len(string_split(text, ' ')) AS uniq_pk,
               ((LENGTH(REPLACE(REPLACE(REPLACE(REPLACE(text, ' ', ''),
                         CHR(9), ''), CHR(10), ''), CHR(13), ''))
                 - LENGTH(REGEXP_REPLACE(text, '[^A-Za-z0-9]', '', 'g')))
                   * 1000) // GREATEST(length(text), 1) AS sym_pk
        FROM documents
    ),
    l AS (
        SELECT source,
               {QLR_W_STOP} * stop_pk + {QLR_W_UNIQ} * uniq_pk
               + ({QLR_W_SYM}) * sym_pk
               + {QLR_W_LEN} * LEAST(n_words, {QLR_LEN_CAP})
               + ({QLR_W_MWL}) * abs(mwl_milli - {QLR_MWL_CENTER})
               + ({QLR_BIAS}) AS logit
        FROM f
    )
    SELECT source,
           CASE WHEN logit >= {QLR_T_HIGH} THEN 'high'
                WHEN logit >= {QLR_T_LOW} THEN 'mid'
                ELSE 'low' END            AS tier,
           CAST(COUNT(*) AS BIGINT)       AS n_docs,
           CAST(SUM(logit) AS BIGINT)     AS sum_logit,
           CAST(MIN(logit) AS BIGINT)     AS min_logit,
           CAST(MAX(logit) AS BIGINT)     AS max_logit
    FROM l
    GROUP BY source, tier
    ORDER BY source, tier
    """,
)
def curation_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-BASED quality gate: a fixed-integer-weight linear classifier
    over surface features (the FineWeb-Edu/DCLM curation shape — a
    distilled quality model scores every document; here the distilled
    model IS the shipped weight vector), tiering the corpus high/mid/low
    per source.  Complements the rule battery (text_gopher_filters: hard
    pass/fail) and the LM gate (curation_perplexity_gate: data-dependent
    terciles) with the third standard gate: a fixed decision surface that
    is corpus-independent and auditable.

    Exactness: every feature is an integer rate (per-kilo units, integer
    division on positive numerators — trunc == floor both engines) and
    the logit is an integer dot product, so tier assignment can never
    straddle a float rounding tie.  The symbol feature counts
    nonspace-minus-alnum via the backslash-free regex class (the
    text_code_detect dialect discipline).

    Scale: pure per-document column expressions in one scan (zero
    shuffle, whole-stage codegen) + one bounded groupBy(source, tier) —
    the same plan at any corpus size."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    ws = F.split("text", " ")
    n_words = F.size(ws)
    mwl_milli = F.expr(
        "((length(text) - size(split(text, ' ')) + 1) * 1000)"
        " div size(split(text, ' '))"
    )
    stop_pk = F.expr(
        "(size(filter(split(text, ' '), x -> x IN ('the', 'a'))) * 1000)"
        " div size(split(text, ' '))"
    )
    uniq_pk = F.expr(
        "(size(array_distinct(split(text, ' '))) * 1000)"
        " div size(split(text, ' '))"
    )
    sym_pk = F.expr(
        "((LENGTH(REPLACE(REPLACE(REPLACE(REPLACE(text, ' ', ''),"
        " CHR(9), ''), CHR(10), ''), CHR(13), ''))"
        " - LENGTH(REGEXP_REPLACE(text, '[^A-Za-z0-9]', '')))"
        " * 1000) div GREATEST(length(text), 1)"
    )
    logit = (
        F.lit(QLR_W_STOP) * stop_pk
        + F.lit(QLR_W_UNIQ) * uniq_pk
        + F.lit(QLR_W_SYM) * sym_pk
        + F.lit(QLR_W_LEN) * F.least(n_words, F.lit(QLR_LEN_CAP))
        + F.lit(QLR_W_MWL) * F.abs(mwl_milli - QLR_MWL_CENTER)
        + F.lit(QLR_BIAS)
    ).cast("long")
    tier = (
        F.when(logit >= QLR_T_HIGH, F.lit("high"))
        .when(logit >= QLR_T_LOW, F.lit("mid"))
        .otherwise(F.lit("low"))
    )
    return (
        d.select("source", logit.alias("logit"), tier.alias("tier"))
        .groupBy("source", "tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("logit").cast("long").alias("sum_logit"),
            F.min("logit").cast("long").alias("min_logit"),
            F.max("logit").cast("long").alias("max_logit"),
        )
        .orderBy("source", "tier")
    )


# --------------------------------------------------------------------------
# Leak-free temporal holdout: per-user leave-last-out split (round-14).
# --------------------------------------------------------------------------


@query(
    "sample_temporal_holdout",
    oracle="""
    WITH ev AS (
        -- µs-truncated ts (the round-14 ordering discipline): the split
        -- rank must tie-break exactly where Spark's µs ts does
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    r AS (
        SELECT event_id, user_id, epoch_ms(ts) AS ms,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev
    ),
    s AS (
        SELECT CASE WHEN rn = 1 THEN 'test'
                    WHEN rn = 2 THEN 'val'
                    ELSE 'train' END AS split,
               event_id, user_id, ms
        FROM r
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT)                 AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT)  AS n_users,
           CAST(SUM(event_id) AS BIGINT)            AS sum_event_id,
           CAST(MIN(ms) AS BIGINT)                  AS min_ms,
           CAST(MAX(ms) AS BIGINT)                  AS max_ms
    FROM s
    GROUP BY split
    ORDER BY split
    """,
)
def sample_temporal_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAK-FREE temporal holdout — the per-user leave-last-out split
    (the standard recommender/user-model evaluation protocol, e.g.
    Rendle 2009's leave-one-out): each user's LAST event (by event time,
    event_id tie-break) is ``test``, the second-to-last ``val``, the rest
    ``train``, so every user's test point is strictly at-or-after all of
    their training history — time-travel leakage is impossible BY
    CONSTRUCTION, not by a filter that a pipeline refactor can drop.
    Global-cutoff splits need an exact corpus-wide quantile (an
    unpartitioned running sum — the single-reducer shape); the per-user
    split is one keyed window, the same plan at any scale.

    Determinism: the (ts DESC, event_id DESC) order is total, and the
    oracle ranks on the same µs-truncated timestamps Spark sees (the
    round-14 sub-µs discipline).

    Output: per-split audit — event/user counts, the event-id checksum
    (any wrong assignment anywhere moves it), and the time span."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    s = ev.withColumn("rn", F.row_number().over(w)).select(
        F.when(F.col("rn") == 1, F.lit("test"))
        .when(F.col("rn") == 2, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ms"),
    )
    return (
        s.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
            F.min("ms").alias("min_ms"),
            F.max("ms").alias("max_ms"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# Source-mixture entropy telemetry (round-14).
# --------------------------------------------------------------------------


def _mixture_entropy_oracle() -> str:
    from flink_net_spark.functions import detmath as DM

    return f"""
    WITH src AS (
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS nt,
               CAST(COUNT(*) AS BIGINT)      AS n_sources
        FROM src
    ),
    tot_ln AS (SELECT nt, n_sources, {DM.duckdb_det_ln_select("nt", "nt")},
                      {DM.duckdb_det_ln_select("n_sources", "ns_cnt")} FROM tot),
    s_ln AS (SELECT source, n_tokens, {DM.duckdb_det_ln_select("n_tokens", "ns")} FROM src),
    c AS (
        SELECT s.source, s.n_tokens,
               (s.n_tokens * 1000000) // t.nt AS share_e6,
               CAST(ROUND((CAST(s.n_tokens AS DOUBLE) * (t.nt_ln - s.ns_ln))
                          * 1000000e0) AS BIGINT) AS contrib_e6,
               t.nt, t.ns_cnt_ln
        FROM s_ln s CROSS JOIN tot_ln t
    ),
    h AS (
        SELECT CAST(SUM(contrib_e6) // MIN(nt) AS BIGINT) AS entropy_e6,
               CAST(ROUND(MIN(ns_cnt_ln) * 1000000e0) AS BIGINT)
                   - CAST(SUM(contrib_e6) // MIN(nt) AS BIGINT) AS kl_uniform_e6
        FROM c
    )
    SELECT c.source, c.n_tokens, c.share_e6, c.contrib_e6,
           h.entropy_e6, h.kl_uniform_e6
    FROM c CROSS JOIN h
    ORDER BY c.source
    """


@query("curation_mixture_entropy", oracle=_mixture_entropy_oracle())
def curation_mixture_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE-MIXTURE entropy telemetry — the standard corpus-composition
    dashboard numbers (how concentrated is the training mix): Shannon
    entropy of the per-source token shares H = Σ pᵢ·ln(1/pᵢ) and the KL
    divergence from the uniform mix KL = ln S − H, both in exact
    micro-nats via the deterministic-ln chain (functions/detmath.py), so
    the floats are BIT-IDENTICAL on both engines and every sum is an
    integer sum (per-source contributions round to BIGINT micro-nat·token
    units FIRST — the text_unigram_nll discipline — then integer-divide
    by the token total; no order-dependent double accumulation).

    Scale: one scan computing per-doc token counts in the projection, one
    bounded groupBy(source), then source-count-sized arithmetic — the
    mixture frame is S rows whatever the corpus size."""
    from flink_net_spark.functions import detmath as DM

    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    src = (
        d.select("source", F.size(F.split("text", " ")).alias("nw"))
        .groupBy("source")
        .agg(F.sum("nw").cast("long").alias("n_tokens"))
    )
    tot = src.agg(
        F.sum("n_tokens").cast("long").alias("nt"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    tot = DM.spark_with_det_ln(tot, "nt", "nt")
    tot = DM.spark_with_det_ln(tot, "n_sources", "ns_cnt").select(
        "nt", "nt_ln", "ns_cnt_ln"
    )
    s = DM.spark_with_det_ln(src, "n_tokens", "ns")
    c = (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            F.expr("(n_tokens * 1000000) div nt").alias("share_e6"),
            F.expr(
                "CAST(ROUND((CAST(n_tokens AS DOUBLE) * (nt_ln - ns_ln))"
                " * 1000000e0) AS BIGINT)"
            ).alias("contrib_e6"),
            "nt",
            "ns_cnt_ln",
        )
    )
    h = c.agg(
        F.expr("CAST(SUM(contrib_e6) div MIN(nt) AS BIGINT)").alias("entropy_e6"),
        (
            F.expr("CAST(ROUND(MIN(ns_cnt_ln) * 1000000e0) AS BIGINT)")
            - F.expr("CAST(SUM(contrib_e6) div MIN(nt) AS BIGINT)")
        ).alias("kl_uniform_e6"),
    )
    return (
        c.select("source", "n_tokens", "share_e6", "contrib_e6")
        .crossJoin(F.broadcast(h))
        .orderBy("source")
    )
