"""Deduplication operators for training-data pipelines (SURVEY.md §7 ph. 6).

Exact, MinHash+LSH, SimHash, n-gram-Jaccard, and embedding-cosine near-dup —
all as deterministic column-expression pipelines so the DuckDB oracle can
replicate them value-for-value (see flink_net_spark.functions.hashing).

Scale design:
  - exact dedup: hash-groupBy — one shuffle on the content hash.
  - MinHash+LSH: shingle→sign→band→bucket-join.  The candidate join is an
    EQUI-join on (band_index, band_key): at 100 TB this is the only shuffle
    and it only moves (doc_id, band_key) pairs, never the text.  Verify
    (exact Jaccard) touches candidates only.
  - n-gram Jaccard: blocked all-pairs inside (lang, length-bucket) groups —
    the block key is the shuffle key; no global cartesian.
  - embedding near-dup: all-pairs is the *oracle* shape; the scale path is
    the LSH bucket variant in queries/similarity.py.
"""

from __future__ import annotations

import functools

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_net_spark.functions import hashing as H
from flink_net_spark.functions import vectors as V
from flink_net_spark.operators.skew import salted_top_k
from flink_net_spark.queries import query
from flink_net_spark.tables import (
    QueryScope,
    derived_shuffle_partitions,
    load_table,
    release_persisted,
    scoped,
    shuffle_partitions,
    spread_small_scan,
)

MINHASH_K = 16
LSH_BANDS = 8  # 2 rows per band
JACCARD_VERIFY_THRESHOLD = 0.3
NGRAM_JACCARD_THRESHOLD = 0.05
COSINE_DUP_THRESHOLD = 0.4


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text)   AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*)    AS n_copies
    FROM documents
    GROUP BY md5(text)
    ORDER BY keep_doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy; keeps the lowest doc_id of each
    duplicate group (deterministic canonical pick).

    The exchange carries the 16-BYTE BINARY digest (unhex(md5)), not the
    32-char hex string — hex presentation happens after the aggregation,
    on one row per distinct document.  Exact dedup's shuffle is inherently
    one (digest, doc_id) row per doc; on this corpus of ~100-compressed-
    byte documents that is ~0.5× the parquet bytes, and it shrinks toward
    zero as real documents grow (the digest row is constant-width)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(
            F.unhex(F.md5(F.col("text").cast("binary"))).alias("digest")
        )
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select(
            F.lower(F.hex("digest")).alias("content_hash"),
            "keep_doc_id",
            "n_copies",
        )
        .orderBy("keep_doc_id")
    )


def _spark_shingle_hash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shingle/hash HOFs are the CPU-heavy map stage: spread a sub-splittable
    # small scan across cores before computing them (no-op at real scale)
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    return d.withColumn("th", F.expr(H.spark_token_hashes("text"))).select(
        "doc_id",
        F.expr(H.spark_hashed_shingles("th")).alias("sh"),
    )


# token-hash subquery feeding every shingle-based oracle
_DUCK_TH_DOCS = f"(SELECT *, {H.duckdb_token_hashes('text')} AS th FROM documents)"
_DUCK_SHINGLES = H.duckdb_hashed_shingles("th")

# Shared CTE chain: documents → shingles → minhash sigs → LSH bands →
# candidates → exact-Jaccard-verified pairs.  Used by dedup_minhash_lsh and
# (extended with a recursive component search) dedup_resolve_groups.
_DUCK_MINHASH_PAIR_CTES = f"""
    sh AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM {_DUCK_TH_DOCS}
    ),
    sig AS (
        SELECT doc_id, sh, {H.duckdb_minhash_sig("sh", MINHASH_K)} AS sig FROM sh
    ),
    bands AS (
        SELECT doc_id, b,
               sig[2 * b + 1] * {H.MOD} + sig[2 * b + 2] AS band_key
        FROM sig CROSS JOIN UNNEST(range(0, {LSH_BANDS})) AS t(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT c.doc_a, c.doc_b,
               len(list_intersect(x.sh, y.sh)) * 1.0
                 / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b
    )
"""


def _lsh_candidates(sh: DataFrame) -> DataFrame:
    """Banded-LSH candidate pairs (doc_a < doc_b, distinct) from a
    (doc_id, sh) shingle frame: {MINHASH_K} minhashes → {LSH_BANDS} bands
    of 2 rows → equi-join on (band, band_key).  The shared candidate
    generator behind dedup_minhash_lsh / dedup_resolve_groups /
    dedup_containment — the shuffle carries (doc_id, band_key) pairs,
    never shingle arrays."""
    sig = sh.withColumn("sig", F.expr(H.spark_minhash_sig("sh", MINHASH_K)))
    bands = sig.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {LSH_BANDS - 1}), "
                f"b -> struct(b AS b, sig[2*b] * {H.MOD}L + sig[2*b+1] AS band_key))"
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.b").alias("b"), F.col("bk.band_key").alias("band_key"))

    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _minhash_pairs(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> tuple[DataFrame, DataFrame]:
    """Verified near-dup pairs (doc_a < doc_b, jaccard ≥ threshold), plus
    the shingle frame backing them, persisted in ``scope`` — a consumer
    whose eager work is done with it may ``scope.drop`` it early.

    The shingle DF feeds three subtrees (signatures + both verify sides);
    persist() shares one scan/compute across them — Catalyst does not
    dedupe common subtrees on its own."""
    sh = scope.persist(_spark_shingle_hash_df(spark, sf_dir))
    cand = _lsh_candidates(sh)
    x = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    out = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("jaccard", inter * F.lit(1.0) / union)
        .filter(F.col("jaccard") >= JACCARD_VERIFY_THRESHOLD)
    )
    return out, sh


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_DUCK_MINHASH_PAIR_CTES}
    SELECT doc_a, doc_b, ROUND(jaccard, 4) AS jaccard
    FROM verified
    WHERE jaccard >= {JACCARD_VERIFY_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
@scoped
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str, scope: QueryScope) -> DataFrame:
    """MinHash+LSH near-dup detection: word-3gram shingles → 16 minhashes →
    8 bands × 2 rows → bucket-join candidates → exact-Jaccard verify.

    Fully deterministic (fixed hash coefficients), so the oracle replicates
    the *pipeline*, not just the ground truth."""
    pairs, _sh = _minhash_pairs(spark, sf_dir, scope)
    return (
        pairs.select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# 61-bit polyhash fingerprints → 32-bit INTs before the shuffle: substring
# candidates are exact-verified downstream in a real pipeline, so fingerprint
# collisions cost a spurious candidate, never a missed span — and halving
# the key bytes is the difference between shuffling more or less than the
# corpus itself (round-5 verdict #2).  The shift to signed range keeps the
# value inside INT32 on both engines (no silent wrap semantics to match).
_FP32 = "CAST(({x} & 4294967295) - 2147483648 AS INT)"


CONTAINMENT_THRESHOLD = 0.7  # max-directional containment to report a pair


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_DUCK_MINHASH_PAIR_CTES},
    cont AS (
        SELECT c.doc_a, c.doc_b,
               len(list_intersect(x.sh, y.sh)) AS i,
               len(x.sh) AS na, len(y.sh) AS nb
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b
    ),
    scored AS (
        SELECT doc_a, doc_b,
               CASE WHEN na = 0 THEN 0.0 ELSE i * 1.0 / na END AS ca,
               CASE WHEN nb = 0 THEN 0.0 ELSE i * 1.0 / nb END AS cb,
               CASE WHEN na + nb - i = 0 THEN 0.0
                    ELSE i * 1.0 / (na + nb - i) END AS j
        FROM cont
    )
    SELECT doc_a, doc_b,
           ROUND(ca, 4) AS cont_a,
           ROUND(cb, 4) AS cont_b,
           ROUND(j, 4) AS jaccard,
           CASE WHEN ca >= cb THEN doc_a ELSE doc_b END AS contained_doc
    FROM scored
    WHERE GREATEST(ca, cb) >= {CONTAINMENT_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
@scoped
def dedup_containment(spark: SparkSession, sf_dir: str, scope: QueryScope) -> DataFrame:
    """Asymmetric containment dedup (Broder 1997, "On the resemblance and
    containment of documents"): for each banded-LSH candidate pair report
    both directional containments C(A,B) = |A∩B|/|A| and the symmetric
    Jaccard, keeping pairs whose MAX directional containment clears
    {CONTAINMENT_THRESHOLD} — the superset/quotation signal Jaccard
    misses (a short doc fully embedded in a long one has containment ≈ 1
    but Jaccard ≈ |A|/|B|).  ``contained_doc`` names the subset side
    (tie → doc_a, deterministic on both engines: exact IEEE comparison of
    the same division).

    Candidate recall follows the MinHash index (collision probability
    tracks JACCARD, not containment), so extreme-asymmetry pairs below
    Jaccard ~0.2 are out of reach of this index — the standard trade for
    reusing one LSH index across both signals (a dedicated containment
    index is prefix filtering, a different partitioning of the same
    shingle stream).  Scoring is exact for every surfaced candidate; docs
    with zero shingles score 0 on both engines (no divide-by-zero, the
    edge-corpus lesson).

    Scale: identical shape to dedup_minhash_lsh — the shuffle carries
    (doc_id, band_key) pairs and the bounded candidate set; shingle
    arrays join in only for candidates."""
    sh = scope.persist(_spark_shingle_hash_df(spark, sf_dir))
    return _containment_verify(_lsh_candidates(sh), sh)


def _containment_verify(cand: DataFrame, sh: DataFrame, dedupe: bool = False) -> DataFrame:
    """Exact containment/Jaccard scoring of candidate (doc_a < doc_b)
    pairs against the shingle frame, thresholded on max directional
    containment — the shared verify step of dedup_containment (LSH
    candidates) and dedup_containment_prefix (prefix-filter candidates).
    Zero-shingle docs score 0 on both engines.  ``dedupe=True`` drops
    duplicate candidate rows AFTER the threshold filter: verify is
    deterministic per pair, so distinct-then-verify ≡ verify-then-
    distinct — and deduping the small surviving set costs a tiny
    exchange where deduping the raw candidate stream costs a corpus-
    scaled one."""
    x = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    na, nb = F.size("sh_a"), F.size("sh_b")
    ca = F.when(na == 0, F.lit(0.0)).otherwise(inter * F.lit(1.0) / na)
    cb = F.when(nb == 0, F.lit(0.0)).otherwise(inter * F.lit(1.0) / nb)
    j = F.when(na + nb - inter == 0, F.lit(0.0)).otherwise(
        inter * F.lit(1.0) / (na + nb - inter)
    )
    out = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", ca.alias("ca"), cb.alias("cb"), j.alias("j"))
        .filter(F.greatest("ca", "cb") >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round("ca", 4).alias("cont_a"),
            F.round("cb", 4).alias("cont_b"),
            F.round("j", 4).alias("jaccard"),
            F.when(F.col("ca") >= F.col("cb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
        )
    )
    if dedupe:
        out = out.distinct()
    return out.orderBy("doc_a", "doc_b")


# the shared DuckDB verify/score tail over a `cand(doc_a, doc_b)` CTE
_DUCK_CONTAINMENT_TAIL = f"""
    cont AS (
        SELECT c.doc_a, c.doc_b,
               len(list_intersect(x.sh, y.sh)) AS i,
               len(x.sh) AS na, len(y.sh) AS nb
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b
    ),
    scored AS (
        SELECT doc_a, doc_b,
               CASE WHEN na = 0 THEN 0.0 ELSE i * 1.0 / na END AS ca,
               CASE WHEN nb = 0 THEN 0.0 ELSE i * 1.0 / nb END AS cb,
               CASE WHEN na + nb - i = 0 THEN 0.0
                    ELSE i * 1.0 / (na + nb - i) END AS j
        FROM cont
    )
    SELECT doc_a, doc_b,
           ROUND(ca, 4) AS cont_a,
           ROUND(cb, 4) AS cont_b,
           ROUND(j, 4) AS jaccard,
           CASE WHEN ca >= cb THEN doc_a ELSE doc_b END AS contained_doc
    FROM scored
    WHERE GREATEST(ca, cb) >= {CONTAINMENT_THRESHOLD}
    ORDER BY doc_a, doc_b
"""


@query(
    "dedup_containment_prefix",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM {_DUCK_TH_DOCS}
    ),
    pref AS (
        SELECT doc_id, {_FP32.format(x="g")} AS fp
        FROM (
            SELECT doc_id,
                   UNNEST(list_sort(sh)[1 : (3 * len(sh)) // 10 + 1]) AS g
            FROM sh
        )
    ),
    tok AS (
        SELECT doc_id, {_FP32.format(x="g")} AS fp
        FROM (SELECT doc_id, UNNEST(sh) AS g FROM sh)
    ),
    cand AS (
        SELECT DISTINCT LEAST(p.doc_id, t.doc_id) AS doc_a,
                        GREATEST(p.doc_id, t.doc_id) AS doc_b
        FROM pref p JOIN tok t ON t.fp = p.fp AND t.doc_id <> p.doc_id
    ),
    {_DUCK_CONTAINMENT_TAIL}
    """,
)
@scoped
def dedup_containment_prefix(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """Containment dedup with EXACT recall at the threshold, via prefix
    filtering (Chaudhuri et al. 2006 "A Primitive Operator for Similarity
    Joins"; Bayardo et al. 2007 "Scaling Up All Pairs Similarity Search")
    — the dedicated containment index dedup_containment's docstring
    points to.  Pigeonhole guarantee: if C(A,B) = |A∩B|/|A| ≥ t then A
    misses at most ⌊(1−t)·|A|⌋ of its shingles from B, so A's first
    ⌊(1−t)·|A|⌋+1 shingles in a canonical total order MUST hit B —
    candidates from an equi-join of each doc's prefix against the full
    inverted token index can never miss a qualifying pair in either
    direction (each doc plays the probe role once).  The canonical order
    is ASCENDING 61-bit shingle hash, so the prefix is a map-side
    ``slice(sort_array(sh))`` in the scan projection — ZERO extra
    exchanges (a global-df "rarest-first" order, the PPJoin refinement
    for skew-vocabulary corpora, measured 14.9× the parquet input here:
    it costs the token stream a df-count exchange, a df join and a
    per-doc rank window; hash order ≈ a random permutation, the standard
    randomized variant, and is 4.5× cheaper on this corpus).
    t = {CONTAINMENT_THRESHOLD}; the prefix length is the exact integer
    form (3·n) div 10 + 1 — no float boundary to disagree on
    cross-engine.  The join key is the 32-bit fingerprint (_FP32): a
    collision can only ADD a spurious candidate (exact-verified away),
    never lose one.  Output schema and verify maths are identical to
    dedup_containment; on any corpus this result is a SUPERSET of the
    LSH-indexed variant's (recall 1.0 vs Jaccard-tracked) — pinned by
    tests/test_plans.py on a low-Jaccard planted containment the LSH
    index has no density to catch.

    Scale: the one heavy exchange is the prefix ⋈ inverted-index join —
    prefix side 0.3× of the token stream, full side 1× (AQE broadcasts
    the prefix side while it fits, as on the audited layout; at corpus
    scale both stream through one fp-keyed shuffle — the
    dedup_substring_pairs volume class, linear in tokens).  Candidate
    count is Σ_prefix df(s); a boilerplate-dominated corpus (every doc
    sharing one hot shingle set) drives that quadratic — a boilerplate-
    removal problem first (dedup_prefix_clusters /
    dedup_substring_winnow)."""
    sh = scope.persist(_spark_shingle_hash_df(spark, sf_dir))
    fp = _FP32.format(x="g")
    pref = sh.select(
        "doc_id",
        F.explode(
            F.expr("slice(sort_array(sh), 1, (3 * size(sh)) div 10 + 1)")
        ).alias("g"),
    ).select("doc_id", F.expr(fp).alias("fp"))
    tok = sh.select("doc_id", F.explode("sh").alias("g")).select(
        "doc_id", F.expr(fp).alias("fp")
    )
    p = pref.alias("p")
    t_ = tok.alias("t")
    cand = (
        p.join(
            t_,
            (F.col("p.fp") == F.col("t.fp"))
            & (F.col("p.doc_id") != F.col("t.doc_id")),
        )
        .select(
            F.least("p.doc_id", "t.doc_id").alias("doc_a"),
            F.greatest("p.doc_id", "t.doc_id").alias("doc_b"),
        )
    )
    # NO pre-verify distinct: the raw candidate stream's dedup exchange was
    # the query's one corpus-scaled shuffle (measured 6.4 MB = 9.4× the
    # parquet input); verify runs map-side against the broadcast shingle
    # frames, so duplicated candidates cost only a re-verified pair per
    # shared prefix shingle, and the distinct moves to the tiny post-
    # threshold survivor set (dedupe=True).
    return _containment_verify(cand, sh, dedupe=True)


@query(
    "dedup_resolve_groups",
    oracle=f"""
    WITH RECURSIVE {_DUCK_MINHASH_PAIR_CTES},
    pairs AS (
        SELECT doc_a, doc_b FROM verified WHERE jaccard >= {JACCARD_VERIFY_THRESHOLD}
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(n, m) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
    )
    SELECT n AS doc_id,
           LEAST(n, MIN(m)) AS group_id,
           (LEAST(n, MIN(m)) = n) AS keep
    FROM reach
    GROUP BY n
    ORDER BY doc_id
    """,
)
@scoped
def dedup_resolve_groups(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """Pairs → keep-set resolution: connected components over the verified
    MinHash near-dup pairs by iterative min-label propagation; the minimum
    doc_id of each component is the canonical survivor (``keep = true``) —
    the near-dup generalization of ``dedup_exact``'s MIN(doc_id) pick.

    Scale: each iteration is one shuffle join on the (small) edge set —
    pairs, not documents.  Iteration count = component diameter; near-dup
    clusters are dense, so this converges in a handful of rounds (the same
    min-propagation step GraphX/GraphFrames connected components uses).
    ``localCheckpoint`` truncates lineage each round so the plan stays
    O(1) per iteration instead of accumulating every prior join (a 50-round
    un-truncated loop compiles a 1000+-join plan and recomputes from
    scratch on any cache eviction).  The oracle walks the same components
    with a recursive CTE."""
    mp, sh = _minhash_pairs(spark, sf_dir, scope)
    pairs = mp.select("doc_a", "doc_b")
    # r17 (guide §2.2): the convergence loop runs under an input-derived
    # shuffle-partition count — the pair graph is pairs-not-documents sized
    # (512 edges at sf0.1), yet every round's eager checkpoint + count ran
    # 32-task stages.  Measured at sf0.1 (tools/exp_iter_parts.py,
    # fingerprints identical): 2.80 → 1.99 s warm median.  MIN-over-BIGINT
    # label propagation is partition-count-independent.
    with shuffle_partitions(spark, derived_shuffle_partitions(sf_dir, ["documents"])):
        edges = scope.checkpoint(
            pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).union(
                pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
            ),
            eager=True,
        )
        ck = scope.checkpoint(
            edges.select(F.col("u").alias("id")).distinct().withColumn("label", F.col("id")),
            eager=True,
        )
        labels = ck
        for _ in range(50):  # bound: diameter of the largest component
            nbr = (
                edges.join(labels.withColumnRenamed("id", "v_id"), F.col("v") == F.col("v_id"))
                .groupBy("u")
                .agg(F.min("label").alias("nbr_min"))
            )
            new_ck = scope.checkpoint(  # eager: materializes + truncates lineage
                labels.withColumnRenamed("label", "old_label")
                .join(nbr.withColumnRenamed("u", "id"), "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("old_label"), F.coalesce(F.col("nbr_min"), F.col("old_label"))
                    ).alias("label"),
                    "old_label",
                ),
                eager=True,
            )
            changed = new_ck.filter(F.col("label") != F.col("old_label")).count()
            # the new checkpoint is materialized: its parent round's cache is
            # superseded — release it now instead of leaking one per iteration
            scope.drop(ck)
            ck = new_ck
            labels = ck.select("id", "label")
            if changed == 0:
                break
    # the loop ran eagerly off the localCheckpoints; the shingle cache
    # behind the pair generation and the edge checkpoint are no longer
    # referenced — release them now.  The FINAL label checkpoint backs the
    # returned plan, so it stays in the scope.
    scope.drop(sh)
    scope.drop(edges)
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("group_id"),
        (F.col("label") == F.col("id")).alias("keep"),
    ).orderBy("doc_id")


_NGRAM_BLOCK_CAP = 1000


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH h0 AS (
        SELECT doc_id, lang, n_chars // 50 AS len_bucket, {_DUCK_SHINGLES} AS sh
        FROM {_DUCK_TH_DOCS}
    ),
    h AS (
        SELECT * FROM (
            SELECT h0.*, ROW_NUMBER() OVER (PARTITION BY lang, len_bucket
                                            ORDER BY doc_id) AS rn
            FROM h0
        ) WHERE rn <= {_NGRAM_BLOCK_CAP} AND len(sh) > 0
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
    FROM h a
    JOIN h b ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
          >= {NGRAM_JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked n-gram Jaccard: all-pairs *within* (lang, length-bucket)
    blocks — the block key carries the shuffle, so no global cartesian.

    Blocks are CAPPED at 1000 docs (row_number by doc_id): at 100 TB a hot
    block (e.g. ``(en, common-length)``) would otherwise go quadratic.
    Bounded blocked all-pairs is the documented contract; unbounded
    near-dup coverage is ``dedup_minhash_lsh``'s job."""
    w_block = None  # Window import below keeps module import light
    from pyspark.sql.window import Window

    w_block = Window.partitionBy("lang", "len_bucket").orderBy("doc_id")
    sh = (
        spread_small_scan(load_table(spark, sf_dir, "documents"))
        .withColumn("th", F.expr(H.spark_token_hashes("text")))
        .select(
            "doc_id",
            "lang",
            (F.col("n_chars") / 50).cast("long").alias("len_bucket"),
            F.expr(H.spark_hashed_shingles("th")).alias("sh"),
        )
        .withColumn("rn", F.row_number().over(w_block))
        # Shingle-less docs (too short / punctuation-only) have no Jaccard
        # (union would be 0): excluded on both engines AFTER the block-cap
        # window — deliberately, because a filter on the computed `sh`
        # column placed before the window gets predicate-pushed below the
        # spread repartition with the whole shingle HOF chain inlined into
        # the single-split scan stage (the decontaminate cliff, see
        # tables.py _READ_CONFS — an EXPLICIT filter isn't covered by the
        # InferFiltersFromGenerate exclusion; measured 12.8s → 68.7s at
        # sf0.1 before this placement).  Above the window it evaluates on
        # the materialized post-shuffle column: size() on an array, free.
        .filter((F.col("rn") <= _NGRAM_BLOCK_CAP) & (F.size("sh") > 0))
        .drop("rn")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jac = inter * F.lit(1.0) / union
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round("jaccard", 4).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


_SIMHASH_BITS = 60  # sign-safe in a BIGINT; 32 bits cannot separate the synthetic vocab


def _spark_simhash(features: str = "sh") -> str:
    """Simhash over a feature-hash ARRAY COLUMN (3-gram shingle hashes).
    Features must genuinely differ between near-but-not-duplicate docs;
    distinct-WORD features degenerate on a shared vocabulary (every doc
    carries most words, so every doc hashes alike — observed: 5M bogus
    pairs at sf0.1)."""
    bit_sum = (
        f"transform(sequence(0, {_SIMHASH_BITS - 1}), b -> "
        f"CASE WHEN aggregate({features}, 0L, (acc, h) -> acc + "
        f"CASE WHEN (h div shiftleft(1L, b)) % 2 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN shiftleft(1L, b) ELSE 0L END)"
    )
    return f"aggregate({bit_sum}, 0L, (acc, x) -> acc + x)"


def _duckdb_simhash(features: str = "sh") -> str:
    bit = (
        f"CASE WHEN list_sum([CASE WHEN (h // (1::BIGINT << b)) % 2 = 1 "
        f"THEN 1 ELSE -1 END for h in {features}]) > 0 THEN (1::BIGINT << b) ELSE 0 END"
    )
    return f"list_sum([{bit} for b in range(0, {_SIMHASH_BITS})])"


@query(
    "dedup_simhash",
    oracle=f"""
    SELECT doc_id, CAST({_duckdb_simhash()} AS BIGINT) AS simhash
    FROM (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM {_DUCK_TH_DOCS})
    ORDER BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash over distinct word tokens: per bit, sign of the sum of
    ±1 votes from each token hash.  Near-dups then pair by low Hamming
    distance (see ``dedup_simhash_pairs``)."""
    sh = _spark_shingle_hash_df(spark, sf_dir)
    return sh.select("doc_id", F.expr(_spark_simhash()).alias("simhash")).orderBy("doc_id")


_HAMMING_MAX = 3
_SIMHASH_BANDS = 4  # 15-bit bands; pigeonhole: ≤3 differing bits touch ≤3 of 4 bands


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, CAST({_duckdb_simhash()} AS BIGINT) AS simhash
        FROM (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM {_DUCK_TH_DOCS})
    ),
    bands AS (
        SELECT doc_id, simhash, b, (simhash >> (15 * b)) & 32767 AS band_val
        FROM sh CROSS JOIN UNNEST(range(0, {_SIMHASH_BANDS})) AS t(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sa, b.simhash AS sb
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= {_HAMMING_MAX}
    ORDER BY doc_a, doc_b
    """,
)
@scoped
def dedup_simhash_pairs(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """SimHash near-dup pairing by banded Hamming join.

    The 32-bit simhash splits into 4 byte-bands; any pair within Hamming
    distance ≤3 must agree on ≥1 band (pigeonhole), so candidates come from
    an EQUI-join on (band, band_val) — at 100 TB the shuffle moves only
    (doc_id, simhash, band_val) triples, never text, and the verify step is
    a single bit_count(xor) per candidate.  This is the pairing step the
    round-1 docstring promised (reference analog: content-identity dedup is
    the reference's only dedup concept; SimHash banding is our north-star
    superset)."""
    # persist: without it Catalyst's projection collapse inlines the whole
    # text→token→shingle→simhash expression into BOTH join sides and the
    # verify projection, recomputing the full pipeline per candidate row
    sh = scope.persist(
        _spark_shingle_hash_df(spark, sf_dir)
        .select("doc_id", F.expr(_spark_simhash()).alias("simhash"))
    )
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_SIMHASH_BANDS - 1}), "
                f"b -> struct(b AS b, (simhash div shiftleft(1L, 15 * b)) % 32768 AS band_val))"
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", F.col("bv.b").alias("b"), F.col("bv.band_val").alias("band_val"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
        .filter(F.col("hamming") <= _HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_embedding_cosine",
    scale_safe=False,
    oracle=f"""
    WITH e AS ({V.duckdb_unit_frame()})
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_sum([a.v[i] * b.v[i] for i in range(1, 65)]) / (a.nrm * b.nrm), 4)
               AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_sum([a.v[i] * b.v[i] for i in range(1, 65)]) / (a.nrm * b.nrm)
          >= {COSINE_DUP_THRESHOLD}
    ORDER BY vec_a, vec_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (all-pairs form — correctness oracle;
    the LSH-bucketed scale path is ``sim_ann_lsh``).  Dot products in
    column expressions (zip_with + aggregate), no Python."""
    e = V.spark_unit_frame(spark, sf_dir)
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    dot = F.expr("aggregate(zip_with(va, vb, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)")
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", dot / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cosine", 4).alias("cosine"))
        .orderBy("vec_a", "vec_b")
    )


# -- exact-substring dedup (k-token duplicated spans) -------------------------
#
# The classic training-data step MinHash can't replace: MinHash scores
# WHOLE-document similarity, but corpora also contain long verbatim spans
# embedded in otherwise-different documents (quoted boilerplate, licence
# headers, copied paragraphs).  Suffix-array substring dedup (Lee et al.
# 2022, "Deduplicating Training Data Makes Language Models Better") removes
# those; the distributed re-expression is k-token window hashing: every
# length-k token window hashes to one BIGINT, windows sharing a hash across
# documents are duplicated spans.
#
# Scale design (the 100 TB shape):
#   - the ONLY thing shuffled is (doc_id, window_hash) — 16-byte rows, never
#     text.  One hash-groupBy gives per-window document frequency.
#   - the pair join is gated on 2 <= df <= SUBSTR_DF_CAP: singleton windows
#     never enter the join, and boilerplate windows (df > cap) are dropped
#     exactly as production pipelines drop them — a window shared by d docs
#     yields d(d-1)/2 pairs, so the cap bounds the fanout of any hot span.
#   - winnowing (keep only the min-hash window of every w-window run) cuts
#     the exploded row count ~2/(w+1)-fold while guaranteeing recall for
#     spans >= k+w-1; it ships as its own query (dedup_substring_winnow)
#     so the exact variant's oracle stays an exact full-window mirror.

SUBSTR_WINDOW = 8  # tokens per window (k)
SUBSTR_DF_CAP = 50  # windows in more docs than this are boilerplate: dropped


def _substring_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, gram) — one row per DISTINCT k-token window hash per doc."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    return (
        d.withColumn("th", F.expr(H.spark_token_hashes("text")))
        .select(
            "doc_id",
            F.explode(F.expr(H.spark_hashed_shingles("th", SUBSTR_WINDOW))).alias("gram"),
        )
    )


# shared oracle CTE: per-doc distinct k-token window hashes
_DUCK_SUB_GRAMS = f"""
    gr AS (
        SELECT doc_id, UNNEST({H.duckdb_hashed_shingles("th", SUBSTR_WINDOW)}) AS gram
        FROM {_DUCK_TH_DOCS}
    )
"""


@query(
    "dedup_substring_pairs",
    oracle=f"""
    WITH {_DUCK_SUB_GRAMS},
    elig AS (
        SELECT gram FROM gr GROUP BY gram
        HAVING COUNT(*) BETWEEN 2 AND {SUBSTR_DF_CAP}
    ),
    nw AS (SELECT doc_id, COUNT(*) AS n_windows FROM gr GROUP BY doc_id),
    p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*) AS n_shared_windows
        FROM gr a
        JOIN elig e ON a.gram = e.gram
        JOIN gr b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_shared_windows,
           ROUND(p.n_shared_windows * 1.0
                 / LEAST(wa.n_windows, wb.n_windows), 4) AS overlap
    FROM p
    JOIN nw wa ON wa.doc_id = p.doc_a
    JOIN nw wb ON wb.doc_id = p.doc_b
    ORDER BY doc_a, doc_b
    """,
)
@scoped
def dedup_substring_pairs(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """Document pairs sharing at least one k-token verbatim span, with the
    shared-window count and containment overlap
    (``n_shared / min(windows_a, windows_b)`` — the substring analogue of
    Jaccard containment).  See the section comment for the scale contract;
    the self-join input is pre-shrunk to windows with ``2 <= df <= cap``."""
    gr = scope.persist(_substring_grams(spark, sf_dir))
    elig = (
        gr.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= SUBSTR_DF_CAP))
        .select("gram")
    )
    shared = gr.join(elig, "gram")
    nw = gr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_windows"))
    a = shared.select(F.col("doc_id").alias("doc_a"), "gram")
    b = shared.select(F.col("doc_id").alias("doc_b"), "gram")
    pairs = (
        a.join(b, ["gram"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )
    wa = nw.select(F.col("doc_id").alias("doc_a"), F.col("n_windows").alias("nw_a"))
    wb = nw.select(F.col("doc_id").alias("doc_b"), F.col("n_windows").alias("nw_b"))
    return (
        pairs.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_windows",
            F.round(
                F.col("n_shared_windows") * F.lit(1.0) / F.least("nw_a", "nw_b"), 4
            ).alias("overlap"),
        )
        .orderBy("doc_a", "doc_b")
    )




def _pack_nbuck(sf_dir: str, table: str = "documents") -> int:
    """Bucket count for the packed collect_list shuffle transport, keyed on
    the corpus's estimated WINDOW count — not split count (round-11 VERDICT
    #5: ``max(64, 2×splits)`` made degenerately small arrays on sparse
    layouts, and the ``.rdd.getNumPartitions()`` probe it needed finalizes
    the AQE plan, executing one full extra spread exchange per call —
    round-11 ADVICE).

    W is estimated from on-disk parquet bytes (~3 B/window on text corpora
    — the estimate only needs order-of-magnitude accuracy).  Bounds:

      - overhead bound (the measured cliff): MERGED bucket arrays stay
        ≥ ~4k elements — the floor-doc NBUCK sweep shows per-(partition,
        bucket) framing overhead at +11% for ~115-element partials and
        +47% at ~14 (bench_out/SUBSTRING_STATS_FLOOR.md).
      - memory bound: nbuck ≥ W/32M keeps any merged bucket array ≤ 32M
        elements (≈128-256 MB) — a data-size-adaptive guard far under the
        INT_MAX/2 GB UnsafeArrayData single-array limit the round-11
        ADVICE flagged.  (Salting the bucket key instead is rejected:
        exact df counts need every instance of a gram in ONE group — a
        salt splits them, and re-merging costs a second exchange over
        ~the full distinct-gram set, i.e. the volume the packing saves.)
      - floor of 8: never degenerate to a handful of reduce groups.

    A degenerately replicated single GRAM can still concentrate one bucket
    (buckets are a pure function of the gram — required for the
    exchange-free (bkt, gram) regroup); corpora like that are routed to
    the winnowed profile (dedup_substring_winnow, @mf 0.66)."""
    from flink_net_spark.tables import table_disk_bytes

    w_est = max(1, table_disk_bytes(sf_dir, table) // 3)
    return max(8, w_est // 33_554_432, min(w_est // 4096, 1_048_576))


@query(
    "dedup_substring_stats",
    oracle=f"""
    WITH {_DUCK_SUB_GRAMS},
    gr32 AS (SELECT doc_id, {_FP32.format(x="gram")} AS gram FROM gr),
    freq AS (SELECT gram, COUNT(*) AS df FROM gr32 GROUP BY gram),
    nw AS (SELECT doc_id, COUNT(*) AS n_windows FROM gr32 GROUP BY doc_id),
    nd AS (
        SELECT g.doc_id, COUNT(*) AS n_dup
        FROM gr32 g JOIN freq f ON g.gram = f.gram AND f.df >= 2
        GROUP BY g.doc_id
    )
    SELECT d.doc_id AS doc_id,
           CAST(COALESCE(nw.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(nd.n_dup, 0) AS BIGINT) AS n_dup_windows,
           ROUND(CASE WHEN COALESCE(nw.n_windows, 0) = 0 THEN 0.0
                      ELSE COALESCE(nd.n_dup, 0) * 1.0 / nw.n_windows END, 4)
               AS dup_ratio
    FROM documents d
    LEFT JOIN nw ON nw.doc_id = d.doc_id
    LEFT JOIN nd ON nd.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
@scoped
def dedup_substring_stats(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """Per-document duplicated-span profile: how many of the doc's k-token
    windows appear verbatim in at least one OTHER document (df >= 2 — no
    boilerplate cap here: a doc that is mostly boilerplate should score as
    mostly duplicated).  ``dup_ratio`` is the curation signal a pipeline
    thresholds on before dropping/trimming documents.  Docs shorter than k
    tokens have no windows and score 0.  No pair join at all — membership
    only.  Windows are 32-bit fingerprints (the _FP32 contract above,
    mirrored in the oracle): a collision merges two window hashes and
    nudges df upward — the right trade for a thresholded curation signal.

    Shuffle shape (round-11, VERDICT r10 #1, measured 2.46 → 1.87, ≤2
    target met): the heavy exchange ships PACKED ARRAYS, not rows.
    (a) ``n_windows`` never shuffles at all — it is the size() of the
    per-doc distinct-shingle array, computed in the scan projection.
    (b) The df build buckets grams by ``pmod(gram, NBUCK)`` and packs
    each map partition's bucket into ONE ``collect_list`` array before
    the exchange (ObjectHashAggregate partial): int elements travel at
    4 B packed inside UnsafeArrayData instead of one 16 B UnsafeRow per
    gram — measured 1.55× the parquet input vs 2.26× for the bare-row
    repartition, against a hard 4 B/gram communication floor of 1.39×
    on this corpus (bench_out/SUBSTRING_STATS_FLOOR.md).  (c) The
    post-shuffle count adds NO second exchange: explode + groupBy(bkt,
    gram) is satisfied by hashpartitioning(bkt) since the bucket is a
    pure function of the gram (Catalyst: HashPartitioning ⊆
    ClusteredDistribution).  (d) Only the df >= 2 gram set (9% of
    instances on this corpus) joins back — a runtime-broadcast-sized
    dim here; at corpora where the boilerplate set outgrows broadcast,
    AQE falls back to a shuffled join of exactly the dup subset.

    Scale notes: NBUCK is sized from the corpus's estimated window count
    (``_pack_nbuck``: merged arrays ≥ ~4k elements against the measured
    framing-overhead cliff, ≤ 32M elements against the single-array
    limit — buckets grow with data, not cluster width, and the sizing is
    a filesystem stat, never a plan-finalizing ``.rdd`` probe).  The
    count itself streams (hash agg, one counter per gram), so a hot gram
    costs time, not memory, there — but the collect_list MERGE does
    materialize a bucket's instances, so a degenerately replicated
    single span (billions of verbatim copies of one 19-token window)
    would balloon one bucket; corpora like that are what the winnowed
    profile (dedup_substring_winnow, @mf 0.66) exists for."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    base = scope.persist(
        d.withColumn("th", F.expr(H.spark_token_hashes("text")))
        .select(
            "doc_id",
            F.expr(H.spark_hashed_shingles("th", SUBSTR_WINDOW)).alias("sh"),
        )
    )
    gr = base.select("doc_id", F.explode("sh").alias("g")).select(
        "doc_id", F.expr(_FP32.format(x="g")).alias("gram")
    )
    nbuck = _pack_nbuck(sf_dir)
    packed = (
        gr.select("gram")
        .withColumn("bkt", F.pmod(F.col("gram"), F.lit(nbuck)))
        .groupBy("bkt")
        .agg(F.collect_list("gram").alias("gs"))
    )
    dup = (
        packed.select("bkt", F.explode("gs").alias("gram"))
        .groupBy("bkt", "gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .select("gram")
    )
    nd = gr.join(dup, "gram").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup")
    )
    nw = base.select(
        "doc_id", F.size("sh").cast("long").alias("n_windows")
    )
    n_dup = F.coalesce("n_dup", F.lit(0).cast("long"))
    return (
        nw.join(nd, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            n_dup.alias("n_dup_windows"),
            F.round(
                F.when(F.col("n_windows") == 0, F.lit(0.0)).otherwise(
                    n_dup * F.lit(1.0) / F.col("n_windows")
                ),
                4,
            ).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


# Winnowing window: guarantee spans >= k + w - 1 = 19 tokens, density
# ~2/(w+1) ≈ 0.15 of positions.  Raised 4 → 12 in round 6: at w=4 the
# fingerprint exchange alone outweighed the compressed corpus (UnsafeRow
# pads every field to 8 bytes, so ~24 B/row — row COUNT, not key width, is
# the shuffle lever), and a 19-token verbatim-span floor is still far more
# sensitive than the 50-token threshold the exact-substring dedup
# literature standardizes on (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better").
SUBSTR_WINNOW_W = 12



def _winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp) — winnowed k-gram fingerprints truncated to 32 bits,
    ~2/(w+1) of the full positional window set (the measured shuffle cut vs
    dedup_substring_pairs is asserted in tests/test_plans.py).  Truncation
    happens AFTER the per-doc distinct so both engines see the same
    multiset (two 61-bit fingerprints may collide at 32 bits)."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    fp32 = _FP32.format(x="x")
    return (
        d.withColumn("th", F.expr(H.spark_token_hashes("text")))
        .withColumn(
            "g", F.expr(H.spark_ordered_shingle_hashes("th", SUBSTR_WINDOW))
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform({H.spark_winnow('g', SUBSTR_WINNOW_W)}, x -> {fp32})"
                )
            ).alias("fp"),
        )
    )


@query(
    "dedup_substring_winnow",
    oracle=f"""
    WITH gr AS (
        SELECT doc_id,
               UNNEST([{_FP32.format(x="x")} for x in {H.duckdb_winnow(
                   H.duckdb_ordered_shingle_hashes("th", SUBSTR_WINDOW),
                   SUBSTR_WINNOW_W)}]) AS fp
        FROM {_DUCK_TH_DOCS}
    ),
    elig AS (
        SELECT fp FROM gr GROUP BY fp
        HAVING COUNT(*) BETWEEN 2 AND {SUBSTR_DF_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared_fingerprints
    FROM gr a
    JOIN elig e ON a.fp = e.fp
    JOIN gr b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    ORDER BY doc_a, doc_b
    """,
)
def dedup_substring_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-based substring dedup — the 100 TB path.  Instead of
    shuffling every positional k-gram hash (~8 bytes per TOKEN, which
    exceeds the compressed text itself — see dedup_substring_pairs'
    audit entry), each doc keeps only the per-window minima of w=12
    consecutive hashes (Schleimer et al. 2003, the MOSS fingerprinter):
    ~2/(w+1) of the hashes, with the deterministic guarantee that any
    verbatim span of >= k+w-1 = 19 tokens still collides on >= 1
    fingerprint (see SUBSTR_WINNOW_W for why a 19-token floor is
    conservative vs the literature's 50-token standard).

    Round-6 shuffle restructure (verdict #2: the old df-gate + self-join
    shape moved the fingerprint set through THREE exchanges and measured
    2.74× the on-disk corpus): fingerprints are truncated to 4-byte INTs
    before the exchange (see ``_FP32``), and the df-gate + pair-generation
    ride ONE exchange on ``fp``.  Round-7 OOM hardening (ADVICE): the
    df-gate is a WINDOW count over the fp partitioning, applied BEFORE
    ``collect_list`` — a hot fingerprint (boilerplate 8-gram shared by
    millions of docs) is dropped while its rows sit in the window sorter,
    which SPILLS to disk, instead of materializing a multi-million-entry
    list in one aggregation buffer.  The groupBy that follows reuses the
    window's hash partitioning (no second exchange — asserted by the bench
    shuffle audit staying ≤ 1× disk input).  Lists that reach collection
    are ≤ SUBSTR_DF_CAP by construction; pairs are generated map-side by
    an array comprehension, with a strict ``doc_a < doc_b`` filter because
    _FP32 truncation can duplicate a doc_id WITHIN one bucket (two 61-bit
    fingerprints of the same doc colliding at 32 bits) and the oracle's
    ``a.doc_id < b.doc_id`` join never emits that self-pair.  The oracle
    mirrors the truncation, so CROSS-doc 32-bit collisions remain part of
    the checked contract, not drift."""
    from pyspark.sql.window import Window

    gr = _winnow_fingerprints(spark, sf_dir)
    w_fp = Window.partitionBy("fp")
    buckets = (
        gr.withColumn("df", F.count(F.lit(1)).over(w_fp))
        .filter((F.col("df") >= 2) & (F.col("df") <= SUBSTR_DF_CAP))
        .groupBy("fp")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
    )
    pairs = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (a, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "b -> struct(a AS doc_a, b AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fingerprints"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Inter-source contamination report: shingle overlap between corpus sources.
# --------------------------------------------------------------------------
# Before mixing sources into a training run, measure how much content they
# share: per source pair, the number of common distinct 3-token shingles and
# the shingle-set Jaccard (e6-quantized).  High overlap between a "web" and
# a "curated" source means the mixture double-counts content (and any
# dedup-by-source accounting is wrong).
#
# Scale (100 TB): the one corpus-sized exchange carries per-map-partition
# (shingle-hash, partial source set) rows — 8-byte hashes plus sets
# bounded by the SOURCE CARDINALITY S (a handful, never corpus-sized),
# no text.  The collect_set + in-row pair explosion is O(S²) per shingle
# worst-case, and both final aggregates are S- resp. S²-bounded.  No
# self-join of the corpus-sized stream: the oracle's pair join is
# re-expressed as one groupBy(h) + bounded pair expansion (the
# dedup_substring_pairs idiom).


@query(
    "dedup_source_overlap",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT source, u.h AS h
        FROM (SELECT source, {_DUCK_SHINGLES} AS sh
              FROM (SELECT *, {H.duckdb_token_hashes('text')} AS th
                    FROM documents WHERE source IS NOT NULL)),
             UNNEST(sh) AS u(h)
    ),
    sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY source
    ),
    pairs AS (
        SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT sa AS source_a, sb AS source_b,
           x.n AS n_a, y.n AS n_b, n_common,
           (1000000 * n_common) // (x.n + y.n - n_common) AS jaccard_e6
    FROM pairs JOIN sizes x ON x.source = sa JOIN sizes y ON y.source = sb
    ORDER BY source_a, source_b
    """,
)
@scoped
def dedup_source_overlap(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """Pairwise source contamination: distinct-shingle intersection size and
    Jaccard per source pair (pairs sharing zero shingles are omitted).

    ONE corpus-sized exchange: groupBy(h) with a partial collect_set runs
    the per-source dedup map-side (each partial set is bounded by the
    source cardinality S), so no separate distinct() exchange and no
    re-shuffle of the distinct set.  Both downstream consumers of the
    (h, source-set) table aggregate with algebraic partial aggregation —
    per-source sizes and per-pair counts each move only S resp. S² rows
    per map partition — and the table is scope-persisted so the one
    exchange isn't recomputed.  First cut measured 13.8x cold / 10.8x@mf
    disk ratio (distinct() + regroup, two token-level exchanges); this
    shape measures 8.9x cold (spread + the one per-token exchange, the
    substring-pairs class, linear in tokens) and 0.43@mf warm (the
    S²-bounded aggregates only)."""
    d = spread_small_scan(
        load_table(spark, sf_dir, "documents").filter(F.col("source").isNotNull())
    )
    sh = d.withColumn("th", F.expr(H.spark_token_hashes("text"))).select(
        "source", F.explode(F.expr(H.spark_hashed_shingles("th"))).alias("h")
    )
    byh = scope.persist(
        sh.groupBy("h").agg(F.sort_array(F.collect_set("source")).alias("ss"))
    )
    sizes = (
        byh.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    pairs = (
        byh.filter(F.size("ss") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "y -> struct(x AS sa, y AS sb))))"
                )
            ).alias("p")
        )
        .select("p.sa", "p.sb")
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    xs = sizes.withColumnRenamed("source", "sa").withColumnRenamed("n", "n_a")
    ys = sizes.withColumnRenamed("source", "sb").withColumnRenamed("n", "n_b")
    return (
        pairs.join(F.broadcast(xs), "sa")
        .join(F.broadcast(ys), "sb")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "n_a",
            "n_b",
            "n_common",
            F.expr("(1000000 * n_common) div (n_a + n_b - n_common)").alias(
                "jaccard_e6"
            ),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# LSH accuracy audit: banding recall/precision against exact ground truth.
# --------------------------------------------------------------------------
# The approx-sketch accuracy-contract family (Bloom emits its checked
# false-positive count, CMS its overestimates) extended to MinHash-LSH:
# on a deterministic ~12.5% hash sample of the corpus, compute the EXACT
# near-dup pairs (shingle Jaccard >= 0.3, integer cross-multiplied — no
# float ratio) and the pairs the 16-hash/8-band banding actually catches,
# then emit the confusion counts and e6-quantized recall/precision.  This
# is the "measure, don't guess" number that justifies the banding config
# in dedup_minhash_lsh at any corpus: band-collision probability depends
# only on pairwise Jaccard, so the sampled estimate is unbiased for the
# full corpus.
#
# Declared scale_safe=False: ground truth is a deliberate all-pairs over
# the bounded sample (the dedup_embedding_cosine precedent) — the
# SAMPLE is what you size to your cluster, the audited LSH path itself
# stays the linear scale path.
#
# Round-10 (VERDICT r09 #5): the sample is a fixed COUNT, not a fixed
# fraction.  The old md5-prefix < '20' cut sampled ~12.5% of the corpus,
# so the exact all-pairs truth grew O((N/8)²) — the audit stopped being
# runnable at exactly the scale where you'd want it.  Now the sample is
# the TARGET_DOCS documents with the smallest md5(doc_id) (same hash
# ordering, tie-free), so truth cost is O(K²) = CONSTANT at any corpus
# size.  TARGET_DOCS is set to the legacy cut's yield at the driver-gate
# SF, which makes the sampled set — and therefore the audited
# recall/precision row — bit-identical there (the K smallest md5 values
# ARE the prefix-cut set when K is its size); raise it with cluster
# budget for tighter confidence intervals.  The estimate is unbiased at
# any K: band-collision probability depends only on pairwise Jaccard.
_LSH_AUDIT_TARGET_DOCS = 78
_LSH_AUDIT_SALT = 8


def _lsh_audit_oracle() -> str:
    return f"""
    WITH keys AS MATERIALIZED (
        SELECT doc_id FROM documents
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        LIMIT {_LSH_AUDIT_TARGET_DOCS}
    ),
    samp AS MATERIALIZED (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh
        FROM (SELECT d.*, {H.duckdb_token_hashes('text')} AS th
              FROM documents d JOIN keys USING (doc_id))
    ),
    truth AS MATERIALIZED (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.sh, b.sh)) AS ni,
               len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS nu
        FROM samp a JOIN samp b ON a.doc_id < b.doc_id
    ),
    tp AS (SELECT doc_a, doc_b FROM truth WHERE nu > 0 AND ni * 10 >= 3 * nu),
    bands AS (
        SELECT doc_id, t.b AS b,
               sig[2 * t.b + 1] * {H.MOD} + sig[2 * t.b + 2] AS band_key
        FROM (SELECT doc_id, {H.duckdb_minhash_sig("sh", MINHASH_K)} AS sig
              FROM samp)
        CROSS JOIN UNNEST(range(0, {LSH_BANDS})) AS t(b)
    ),
    caught AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    agg AS (
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM samp) AS n_sample_docs,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM tp) AS n_true_pairs,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM caught) AS n_candidate_pairs,
            (SELECT CAST(COUNT(*) AS BIGINT)
             FROM tp JOIN caught USING (doc_a, doc_b)) AS n_caught_true
    )
    SELECT n_sample_docs, n_true_pairs, n_candidate_pairs, n_caught_true,
           CASE WHEN n_true_pairs > 0
                THEN (1000000 * n_caught_true) // n_true_pairs END AS recall_e6,
           CASE WHEN n_candidate_pairs > 0
                THEN (1000000 * n_caught_true) // n_candidate_pairs
           END AS precision_e6
    FROM agg
    """


@query("dedup_lsh_recall_audit", oracle=_lsh_audit_oracle(), scale_safe=False)
@scoped
def dedup_lsh_recall_audit(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """MinHash-LSH banding audit on a constant-count hash sample: exact
    near-dup pairs vs band-caught pairs, with e6 recall/precision.  See
    the module comment for why the sampled estimate transfers to the full
    corpus and why the sample is a fixed COUNT (constant truth cost).

    The key pick is ``skew.salted_top_k`` (never a global sort of the
    corpus).  The K keys then broadcast back onto the document scan
    BEFORE the CPU-heavy shingle/minhash compute, so the heavy stages only
    ever see K rows."""
    docs = load_table(spark, sf_dir, "documents")
    keys = salted_top_k(
        docs.select("doc_id"),
        _LSH_AUDIT_TARGET_DOCS,
        [F.md5(F.col("doc_id").cast("string")), "doc_id"],
        salt=F.col("doc_id") % _LSH_AUDIT_SALT,
    ).select("doc_id")
    samp = scope.persist(
        spread_small_scan(docs.join(F.broadcast(keys), "doc_id"))
        .withColumn("th", F.expr(H.spark_token_hashes("text")))
        .select("doc_id", F.expr(H.spark_hashed_shingles("th")).alias("sh"))
    )
    a = samp.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    b = samp.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    truth = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.expr("size(array_intersect(sha, shb))").alias("ni"),
            F.expr(
                "size(sha) + size(shb) - size(array_intersect(sha, shb))"
            ).alias("nu"),
        )
    )
    tp = truth.filter("nu > 0 AND ni * 10 >= 3 * nu").select("doc_a", "doc_b")
    bands = (
        samp.withColumn("sig", F.expr(H.spark_minhash_sig("sh", MINHASH_K)))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {LSH_BANDS - 1}), "
                    f"b -> struct(b AS b, "
                    f"sig[2 * b] * {H.MOD}L + sig[2 * b + 1] AS band_key))"
                )
            ).alias("t"),
        )
        .select("doc_id", "t.b", "t.band_key")
    )
    ba = bands.select("doc_id", "b", "band_key")
    bb = bands.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("b").alias("b2"),
        F.col("band_key").alias("band_key2"),
    )
    caught = (
        ba.join(
            bb,
            (ba.b == bb.b2)
            & (ba.band_key == bb.band_key2)
            & (ba.doc_id < bb.doc_id_b),
        )
        .select(
            F.col("doc_id").alias("doc_a"), F.col("doc_id_b").alias("doc_b")
        )
        .distinct()
    )
    n_samp = samp.agg(F.count(F.lit(1)).cast("bigint").alias("n_sample_docs"))
    n_true = tp.agg(F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"))
    n_cand = caught.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs")
    )
    n_hit = tp.join(caught, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_caught_true")
    )
    return (
        n_samp.crossJoin(n_true)
        .crossJoin(n_cand)
        .crossJoin(n_hit)
        .select(
            "n_sample_docs",
            "n_true_pairs",
            "n_candidate_pairs",
            "n_caught_true",
            F.expr(
                "CASE WHEN n_true_pairs > 0 THEN "
                "(1000000 * n_caught_true) div n_true_pairs END"
            ).alias("recall_e6"),
            F.expr(
                "CASE WHEN n_candidate_pairs > 0 THEN "
                "(1000000 * n_caught_true) div n_candidate_pairs END"
            ).alias("precision_e6"),
        )
    )


# --------------------------------------------------------------------------
# Prefix-cluster dedup — boilerplate-header detection (round-10).
# --------------------------------------------------------------------------
# Web-crawl corpora are full of documents that OPEN identically (mirrored
# templates, licence headers, scraper chrome) and then diverge, which
# whole-document exact dedup misses and MinHash under-weights.  The
# standard cheap detector: cluster on the hash of the first K tokens and
# keep one representative per cluster.  K = 16 — long enough that natural
# prose essentially never collides, short enough to catch header templates.
_PREFIX_K = 16


def _spark_prefix_hash(th: str, k: int) -> str:
    """The ordered-shingle combiner evaluated at position 1 ONLY — the
    full positional array is O(len·k) work per doc for one needed value."""
    combined = f"{th}[0]"
    for j in range(1, k):
        combined = f"(({combined}) * {H.SHINGLE_MULT} + {th}[{j}]) % {H.MOD}"
    return combined


def _duck_prefix_hash(th: str, k: int) -> str:
    combined = f"{th}[1]"
    for j in range(1, k):
        combined = f"(({combined}) * {H.SHINGLE_MULT} + {th}[{1 + j}]) % {H.MOD}"
    return combined


@query(
    "dedup_prefix_clusters",
    oracle=f"""
    WITH pfx AS (
        SELECT doc_id,
               {_duck_prefix_hash("th", _PREFIX_K)} AS pfx
        FROM {_DUCK_TH_DOCS}
        WHERE len(th) >= {_PREFIX_K}
    ),
    ag AS (
        SELECT pfx,
               MIN(doc_id) AS cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_members
        FROM pfx GROUP BY pfx HAVING COUNT(*) >= 2
    )
    SELECT p.doc_id AS doc_id,
           CAST(p.pfx AS BIGINT) AS prefix_hash,
           a.cluster_id,
           a.n_members,
           p.doc_id = a.cluster_id AS keep
    FROM pfx p JOIN ag a USING (pfx)
    ORDER BY cluster_id, doc_id
    """,
)
def dedup_prefix_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs sharing an identical first-{K}-token prefix, grouped into
    clusters with a deterministic MIN(doc_id) representative (``keep``) —
    the near-free boilerplate-header pass a pipeline runs before the
    heavier MinHash stage.  Docs shorter than K tokens have no prefix
    window and are not clustered.

    Scale: the prefix hash is ONE value per document computed map-side
    (the order-preserving shingle combiner over the token-hash array);
    the exchange carries (prefix_hash, doc_id) — constant width per doc,
    like dedup_exact — and the join-back moves only cluster members."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    pfx = (
        d.withColumn("th", F.expr(H.spark_token_hashes("text")))
        .filter(F.expr(f"size(th) >= {_PREFIX_K}"))
        .select(
            "doc_id",
            F.expr(_spark_prefix_hash("th", _PREFIX_K)).alias("pfx"),
        )
    )
    ag = (
        pfx.groupBy("pfx")
        .agg(
            F.min("doc_id").alias("cluster_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
        )
        .filter(F.col("n_members") >= 2)
    )
    return (
        pfx.join(ag, "pfx")
        .select(
            "doc_id",
            F.col("pfx").cast("bigint").alias("prefix_hash"),
            "cluster_id",
            "n_members",
            (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
        )
        .orderBy("cluster_id", "doc_id")
    )


# -- incremental ingest dedup (round-11) --------------------------------------
# The production ingestion shape: a new batch arrives and must dedup
# AGAINST the existing corpus index, not within itself.  Batch membership
# is deterministic here (doc_id % 10 == 0 ≈ a 10% daily delta); at scale
# the (band, band_key) index side is precomputed and stored, the incoming
# side is the small batch, and the candidate join is the same banded
# equi-join as dedup_minhash_lsh — the shuffle carries (doc_id, band_key)
# pairs, never text, and only candidates reach the exact-Jaccard verify.
_INC_MOD = 10  # doc_id % 10 == 0 → the incoming batch


@query(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM {_DUCK_TH_DOCS}
    ),
    sig AS (
        SELECT doc_id, sh, {H.duckdb_minhash_sig("sh", MINHASH_K)} AS sig FROM sh
    ),
    bands AS (
        SELECT doc_id, b,
               sig[2 * b + 1] * {H.MOD} + sig[2 * b + 2] AS band_key
        FROM sig CROSS JOIN UNNEST(range(0, {LSH_BANDS})) AS t(b)
    ),
    cand AS (
        SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
        FROM bands n JOIN bands o
          ON n.b = o.b AND n.band_key = o.band_key
        WHERE n.doc_id % {_INC_MOD} = 0 AND o.doc_id % {_INC_MOD} <> 0
    ),
    ver AS (
        SELECT c.new_id, c.old_id,
               len(list_intersect(x.sh, y.sh)) * 1.0
                 / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
        FROM cand c
        JOIN sh x ON x.doc_id = c.new_id
        JOIN sh y ON y.doc_id = c.old_id
    ),
    ranked AS (
        SELECT new_id, old_id, jaccard,
               COUNT(*) OVER (PARTITION BY new_id) AS n_candidates,
               ROW_NUMBER() OVER (PARTITION BY new_id
                                  ORDER BY jaccard DESC, old_id) AS rn
        FROM ver
    )
    SELECT d.doc_id AS doc_id,
           CAST(COALESCE(r.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(r.old_id, -1) AS BIGINT) AS best_match_id,
           ROUND(COALESCE(r.jaccard, 0.0), 4) AS best_jaccard,
           COALESCE(r.jaccard >= {JACCARD_VERIFY_THRESHOLD}, FALSE) AS is_dup
    FROM documents d
    LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r ON r.new_id = d.doc_id
    WHERE d.doc_id % {_INC_MOD} = 0
    ORDER BY d.doc_id
    """,
)
@scoped
def dedup_incremental_minhash(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """Incremental ingest dedup (section comment): every incoming-batch doc
    reports its banded-candidate count against the existing corpus index,
    its best verified match (max Jaccard, tie → lowest existing doc_id)
    and the is_dup decision at the pipeline threshold — docs with no band
    collision report (0, -1, 0.0, false) via the LEFT JOIN on both
    engines.  Same deterministic shingle→minhash→band pipeline as
    dedup_minhash_lsh, asymmetric new→existing join instead of the
    all-pairs self-join."""
    sh = scope.persist(_spark_shingle_hash_df(spark, sf_dir))
    sig = sh.withColumn("sig", F.expr(H.spark_minhash_sig("sh", MINHASH_K)))
    bands = sig.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {LSH_BANDS - 1}), "
                f"b -> struct(b AS b, sig[2*b] * {H.MOD}L + sig[2*b+1] AS band_key))"
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.b").alias("b"), F.col("bk.band_key").alias("band_key"))
    new_b = bands.filter(F.col("doc_id") % _INC_MOD == 0).select(
        F.col("doc_id").alias("new_id"), "b", "band_key"
    )
    old_b = bands.filter(F.col("doc_id") % _INC_MOD != 0).select(
        F.col("doc_id").alias("old_id"), "b", "band_key"
    )
    cand = new_b.join(old_b, ["b", "band_key"]).select("new_id", "old_id").distinct()
    x = sh.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_n"))
    y = sh.select(F.col("doc_id").alias("old_id"), F.col("sh").alias("sh_o"))
    inter = F.size(F.array_intersect("sh_n", "sh_o"))
    union = F.size("sh_n") + F.size("sh_o") - inter
    ver = (
        cand.join(x, "new_id")
        .join(y, "old_id")
        .select("new_id", "old_id", (inter * F.lit(1.0) / union).alias("jaccard"))
    )
    from pyspark.sql.window import Window as _W

    wc = _W.partitionBy("new_id")
    wr = _W.partitionBy("new_id").orderBy(F.col("jaccard").desc(), F.col("old_id"))
    best = (
        ver.withColumn("n_candidates", F.count(F.lit(1)).over(wc))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
    )
    incoming = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _INC_MOD == 0
    ).select("doc_id")
    return (
        incoming.join(best, incoming.doc_id == best.new_id, "left")
        .select(
            "doc_id",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            F.coalesce("old_id", F.lit(-1)).cast("long").alias("best_match_id"),
            F.round(F.coalesce("jaccard", F.lit(0.0)), 4).alias("best_jaccard"),
            F.coalesce(
                F.col("jaccard") >= JACCARD_VERIFY_THRESHOLD, F.lit(False)
            ).alias("is_dup"),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_span_novelty",
    oracle=f"""
    WITH {_DUCK_SUB_GRAMS},
    g32 AS (SELECT doc_id, gram & 4294967295 AS g FROM gr),
    firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM g32 GROUP BY g),
    nov AS (SELECT first_doc AS doc_id, COUNT(*) AS n_novel
            FROM firsts GROUP BY first_doc),
    nw AS (SELECT doc_id, COUNT(*) AS n_windows FROM g32 GROUP BY doc_id)
    SELECT d.doc_id AS doc_id,
           CAST(COALESCE(nw.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(nov.n_novel, 0) AS BIGINT) AS n_novel,
           ROUND(CASE WHEN COALESCE(nw.n_windows, 0) = 0 THEN 0.0
                      ELSE COALESCE(nov.n_novel, 0) * 1.0 / nw.n_windows END, 4)
               AS novelty_ratio
    FROM documents d
    LEFT JOIN nw ON nw.doc_id = d.doc_id
    LEFT JOIN nov ON nov.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
@scoped
def dedup_span_novelty(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """Per-document span NOVELTY in ingestion order (doc_id as arrival
    proxy): the fraction of a doc's k-token windows whose FIRST occurrence
    in the corpus is this doc.  The dedup-aware freshness signal a
    curation pipeline samples on (the dedup+diversify discipline — Tirumala
    2023 "D4", Abbas 2023 SemDeDup): a doc that mostly re-states earlier
    spans scores near 0, genuinely new material near 1.  Docs shorter than
    k tokens have no windows and score 0.  Fingerprints are the unsigned
    32-bit window hashes (collisions can only mark a window as seen
    earlier — the conservative direction for a drop-decision — and the
    oracle applies the identical mask).

    Shuffle shape: the packed-bucket transport proven on
    dedup_substring_stats, REUSED as a primitive — and here with NO
    join-back at all: (gram32 << 31 | doc_id) packs window and owner into
    one BIGINT, map-side collect_list buckets ship 8 B/window, the
    post-shuffle decode + groupBy(bkt, gram) MIN(doc_id) adds no second
    exchange (hashpartitioning(bkt) satisfies the clustering), and
    per-doc novel counts come from groupBy(first_doc) over the
    distinct-gram firsts — bounded by corpus docs, not windows.
    ``n_windows`` is the scan-side array size (zero shuffle)."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    base = scope.persist(
        d.withColumn("th", F.expr(H.spark_token_hashes("text")))
        .select(
            "doc_id",
            F.expr(H.spark_hashed_shingles("th", SUBSTR_WINDOW)).alias("sh"),
        )
    )
    # combined = unsigned-32-bit gram << 31 | doc_id.  The packing needs
    # 0 <= doc_id < 2^31 (max c is then exactly 2^63 - 1 — no int64
    # overflow); an id outside that range would silently bleed into the
    # gram bits and corrupt novelty counts on BOTH engines, so the plan
    # fails fast instead (round-11 ADVICE): assert_true raises mid-scan on
    # the first offending row, and the COALESCE folds its NULL into the
    # packed value so the guard cannot be pruned away.  Corpora with wider
    # ids must use the unpacked (gram, doc_id) row transport.
    guard = (
        "COALESCE(CAST(assert_true(doc_id >= 0 AND doc_id < 2147483648L, "
        "'dedup_span_novelty: doc_id outside [0, 2^31) overflows the packed "
        "(gram << 31 | doc_id) transport - use unpacked (gram, doc_id) rows') "
        "AS BIGINT), 0L)"
    )
    gr = base.select(
        "doc_id", F.explode("sh").alias("g")
    ).select(
        F.expr(f"(g & 4294967295L) * 2147483648L + doc_id + {guard}").alias("c")
    )
    nbuck = _pack_nbuck(sf_dir)
    packed = (
        gr.withColumn("bkt", F.pmod(F.expr("c div 2147483648L"), F.lit(nbuck)))
        .groupBy("bkt")
        .agg(F.collect_list("c").alias("cs"))
    )
    firsts = (
        packed.select("bkt", F.explode("cs").alias("c"))
        .select(
            "bkt",
            F.expr("c div 2147483648L").alias("g"),
            F.expr("c % 2147483648L").alias("doc_id"),
        )
        .groupBy("bkt", "g")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    nov = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    nw = base.select("doc_id", F.size("sh").cast("long").alias("n_windows"))
    n_novel = F.coalesce("n_novel", F.lit(0).cast("long"))
    return (
        nw.join(nov, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            n_novel.alias("n_novel"),
            F.round(
                F.when(F.col("n_windows") == 0, F.lit(0.0)).otherwise(
                    n_novel * F.lit(1.0) / F.col("n_windows")
                ),
                4,
            ).alias("novelty_ratio"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Ingestion-order duplicate-rate curve.
# --------------------------------------------------------------------------
RATE_DECILES = 10


@query(
    "dedup_rate_curve",
    oracle=f"""
    WITH mx AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
    h AS (
        SELECT doc_id, md5(text) AS ch FROM documents
    ),
    fs AS (SELECT ch, MIN(doc_id) AS first_id FROM h GROUP BY ch),
    fl AS (
        SELECT h.doc_id, (h.doc_id > f.first_id) AS is_dup
        FROM h JOIN fs f ON f.ch = h.ch
    )
    SELECT CAST((fl.doc_id * {RATE_DECILES}) // mx.n AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT)                            AS n_docs,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                                                               AS n_dups,
           CAST(SUM(CASE WHEN is_dup THEN fl.doc_id ELSE 0 END) AS BIGINT)
                                                               AS sum_dup_ids
    FROM fl CROSS JOIN mx
    GROUP BY decile
    ORDER BY decile
    """,
)
@scoped
def dedup_rate_curve(spark: SparkSession, sf_dir: str, scope: QueryScope) -> DataFrame:
    """Exact-duplicate rate as the corpus grows, per ingestion decile —
    the capacity-planning curve dedup pipelines publish (what fraction of
    NEWLY ingested documents were already in the corpus?), the doc-level
    companion to ``dedup_span_novelty``'s span-level freshness signal and
    the signal that decides when crawl recall stops paying (Tirumala 2023
    shows the dup rate climbing with corpus size is what makes dedup
    compulsory at LLM scale).

    Ingestion order is the doc_id order (the corpus convention, cf.
    text_heaps_law); a doc is a duplicate iff an EARLIER doc_id carries
    the identical text (md5 equality — exact dedup, the
    ``dedup_exact`` digest).  Deciles come from (doc_id · 10) div (max+1)
    against the 1-row broadcast max — no global row_number window, so no
    single-task total-order sort anywhere in the plan.

    Scale: one digest-keyed shuffle computes first-occurrence ids
    (map-side partial min), one broadcast-hash join flags duplicates, one
    decile aggregation — each linear, each key-distributed.  The digest
    exchange carries (16 B md5, doc_id) rows, never text."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    mx = d.agg((F.max("doc_id") + 1).alias("n"))
    h = scope.persist(d.select("doc_id", F.md5("text").alias("ch")))
    fs = h.groupBy("ch").agg(F.min("doc_id").alias("first_id"))
    fl = h.join(fs, "ch").select(
        "doc_id", (F.col("doc_id") > F.col("first_id")).alias("is_dup")
    )
    out = (
        fl.crossJoin(F.broadcast(mx))
        .groupBy(
            F.expr(f"CAST((doc_id * {RATE_DECILES}) div n AS BIGINT)").alias(
                "decile"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("n_dups"),
            F.sum(F.when(F.col("is_dup"), F.col("doc_id")).otherwise(0)).alias(
                "sum_dup_ids"
            ),
        )
        .orderBy("decile")
    )
    return out


# --------------------------------------------------------------------------
# Quality-based keeper selection over resolved near-dup groups (round-13).
# --------------------------------------------------------------------------


def _keep_best_oracle() -> str:
    from flink_net_spark.queries import ORACLES

    return f"""
    WITH g AS (
        SELECT doc_id, group_id FROM ({ORACLES["dedup_resolve_groups"]})
    ),
    m AS (
        SELECT g.group_id, d.doc_id, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY g.group_id
                                  ORDER BY d.n_chars DESC, d.doc_id) AS rn
        FROM g JOIN documents d USING (doc_id)
    )
    SELECT CAST(group_id AS BIGINT)  AS group_id,
           CAST(COUNT(*) AS BIGINT)  AS n_members,
           CAST(MIN(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
                                     AS keeper_doc_id,
           CAST(MIN(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
                                     AS keeper_chars,
           CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
                                     AS evicted_chars
    FROM m GROUP BY group_id ORDER BY group_id
    """


@query("dedup_keep_best", oracle=_keep_best_oracle())
@scoped
def dedup_keep_best(spark: SparkSession, sf_dir: str, scope: QueryScope) -> DataFrame:
    """KEEPER SELECTION over resolved near-dup groups — the step after
    group resolution that production dedup actually ships: instead of
    ``dedup_resolve_groups``' arbitrary min-id survivor, each group keeps
    its BEST member by a quality key (here longest text, ties to the
    lower doc_id — the "prefer the most complete variant" heuristic
    CCNet/RefinedWeb-style pipelines apply when near-dups differ by
    truncation or boilerplate), and the evicted mass is reported per
    group so the dedup's cost is visible, never silent.

    Composition, not duplication: the group labels come from the SAME
    ``dedup_resolve_groups`` pipeline (banded MinHash pairs → verified
    Jaccard → min-label components) on both engines — the oracle embeds
    that query's oracle verbatim, so any divergence in the upstream
    grouping fails here too.

    Scale: adds ONE doc_id equi-join (groups are pair-graph-sized, far
    smaller than the corpus) and one group-keyed window over group-sized
    partitions to the audited resolve pipeline."""
    from pyspark.sql.window import Window

    base = dedup_resolve_groups(spark, sf_dir)
    g = base.select("doc_id", "group_id")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("group_id").orderBy(F.desc("n_chars"), "doc_id")
    m = g.join(d, "doc_id").withColumn("rn", F.row_number().over(w))
    out = (
        m.groupBy(F.col("group_id").cast("long").alias("group_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(F.when(F.col("rn") == 1, F.col("doc_id")))
            .cast("long")
            .alias("keeper_doc_id"),
            F.min(F.when(F.col("rn") == 1, F.col("n_chars")))
            .cast("long")
            .alias("keeper_chars"),
            F.sum(F.when(F.col("rn") > 1, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("evicted_chars"),
        )
        .orderBy("group_id")
    )
    # the upstream result's checkpointed label RDDs back THIS plan too: the
    # scope keeps the upstream handle alive with this result and releases
    # it with this result (r13 ADVICE).  Contract: a consumer that derives
    # a new DataFrame from this result must keep THIS handle alive until
    # the derived job finishes — dropping it lets the GC backstop unpersist
    # lineage-truncated checkpoint blocks mid-collect.
    scope.on_release(functools.partial(release_persisted, base))
    return out
