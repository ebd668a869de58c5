"""Multimodal + custom-UDAF queries in the oracle gate.

``mm_*``: binary payload columns with typed metadata (the build brief's
multimodal surface).  The payload construction is pure column expressions
(byte-for-byte reproducible in DuckDB), and the fake decoder's arithmetic
is simple enough for SQL — so even the ``mapInPandas`` decode path gets a
REAL value-hash oracle, not just a smoke run.

``udaf_*``: holistic custom aggregate (applyInPandas ≙ IAggregateOperator,
Core.Abstractions/Operators/IAggregateOperator.cs:18-51) checked against
DuckDB's own MEDIAN.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_net_spark.operators.multimodal import (
    attach_payloads,
    fake_decode_stats,
    fake_frame_sample,
    payload_features,
)
from flink_net_spark.operators.udaf import apply_udaf, median_abs_deviation
from flink_net_spark.queries import query
from flink_net_spark.tables import QueryScope, load_table, scoped, spread_small_scan

# the payload string, DuckDB-side (same UTF-8 bytes as attach_payloads'
# binary cast; DuckDB's md5 takes VARCHAR and hashes its UTF-8 bytes)
_DUCK_PAYLOAD = (
    "('FNSB' || lpad(CAST(doc_id % 640 + 16 AS VARCHAR), 4, '0')"
    " || lpad(CAST(doc_id % 480 + 16 AS VARCHAR), 4, '0') || text)"
)


@query(
    "mm_payload_stats",
    oracle=f"""
    SELECT doc_id,
           md5({_DUCK_PAYLOAD}) AS payload_md5,
           octet_length(encode({_DUCK_PAYLOAD})) AS n_bytes,
           'image/x-fns' AS mime,
           CAST(doc_id % 640 + 16 AS BIGINT) AS width,
           CAST(doc_id % 480 + 16 AS BIGINT) AS height
    FROM documents
    ORDER BY doc_id
    """,
)
def mm_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal payload construction + metadata struct: binary column and
    typed metadata flow through column expressions; md5 proves the payload
    bytes are exactly what the oracle builds."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    mm = attach_payloads(d)
    return (
        mm.select(
            "doc_id",
            F.md5("payload").alias("payload_md5"),
            F.length("payload").cast("long").alias("n_bytes"),
            F.col("media_meta.mime").alias("mime"),
            F.col("media_meta.width").cast("long").alias("width"),
            F.col("media_meta.height").cast("long").alias("height"),
        )
        .orderBy("doc_id")
    )


@query(
    "mm_decode_stats",
    oracle="""
    SELECT doc_id,
           CAST(doc_id % 640 + 16 AS BIGINT) AS width,
           CAST(doc_id % 480 + 16 AS BIGINT) AS height,
           md5(text) AS body_md5,
           CAST(octet_length(encode(text)) AS BIGINT) AS body_bytes
    FROM documents
    ORDER BY doc_id
    """,
)
def mm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas 'decode' path under the oracle: parse the container
    header, digest the body bytes executor-side in Arrow batches.  A real
    image decoder swaps into exactly this plumbing (see
    operators/multimodal.py decode_image for the codec-gated stub).

    Contract is representation-independent by construction: Spark md5's the
    body OCTETS (= UTF-8 bytes of text), DuckDB's md5(VARCHAR) hashes the
    same UTF-8 bytes; body_bytes is octet_length on both sides.  The old
    character-code-point-sum oracle (`ascii(text[i:i])` list_sum) diverged
    on non-ASCII text and on empty bodies (list_sum([]) → NULL) — edge
    cases pinned in tests/test_multimodal.py::test_decode_stats_edge_bodies."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    return (
        fake_decode_stats(attach_payloads(d))
        .select("doc_id", "width", "height", "body_md5", "body_bytes")
        .orderBy("doc_id")
    )


@query(
    "mm_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(k AS BIGINT) AS frame_index,
           CAST(list_sum([ascii(substring(text, k * 32 + i, 1)) for i in range(1, 33)])
                AS BIGINT) AS checksum
    FROM (
        SELECT doc_id, text, UNNEST(range(0, length(text) // 32)) AS k
        FROM documents
    )
    WHERE k % 4 = 0
    ORDER BY doc_id, frame_index
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plumbing under the oracle: the payload body is read as
    32-byte frames, every 4th complete frame emits a (doc_id, frame_index,
    checksum) row — the 1→N explode shape of real video sampling, executed
    as Arrow-batched mapInPandas (operators/multimodal.py frame_sample is
    the codec-gated real path)."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    return fake_frame_sample(attach_payloads(d), every_n=4).orderBy("doc_id", "frame_index")


@query(
    "mm_payload_features",
    # The per-dim fold is pure code-point maths (running (acc+cp) % 4096 ==
    # total % 4096), so the whole feature vector is SQL-expressible: dim d
    # sums payload CODE POINTS at 0-based char positions ≡ d (mod 16) —
    # char-indexed substring/ascii on both engines, so multi-byte text
    # can't drift (round-7 edge-fixture lesson; substring() rather than
    # [i:i] slicing, whose semantics proved driver-env-sensitive).  Every
    # acc/4096 is a 12-bit dyadic rational — exact in float32 AND double —
    # so the 4-dp round matches bit-for-bit across engines.
    oracle="""
    WITH p AS (
        SELECT doc_id,
               'FNSB' || lpad(CAST(doc_id % 640 + 16 AS VARCHAR), 4, '0')
                      || lpad(CAST(doc_id % 480 + 16 AS VARCHAR), 4, '0')
                      || text AS payload
        FROM documents
    )
    SELECT doc_id,
           CAST(16 AS BIGINT) AS dim,
           ROUND(list_sum([
               (COALESCE(list_sum([ascii(substring(payload, i, 1))
                                   for i in range(d + 1, length(payload) + 1, 16)]), 0)
                % 4096) / 4096.0
               for d in range(0, 16)]), 4) AS feat_sum
    FROM p
    ORDER BY doc_id
    """,
)
def mm_payload_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction shape: payload bytes → fixed-dim array<float> via
    mapInPandas (the embedding-model plumbing, minus the model).  The
    payload is dropped in the output — at 100 TB media bytes must never
    enter a shuffle."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    feats = payload_features(attach_payloads(d), dim=16)
    return feats.select(
        "doc_id", F.size("features").cast("long").alias("dim"), F.round(F.expr("aggregate(features, 0.0D, (a, x) -> a + x)"), 4).alias("feat_sum")
    ).orderBy("doc_id")


@query(
    "udaf_value_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, MEDIAN(value) AS m FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           ROUND(MEDIAN(e.value), 4) AS median_value,
           ROUND(MEDIAN(ABS(e.value - med.m)), 4) AS mad
    FROM events e JOIN med ON e.event_type = med.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def udaf_value_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom holistic UDAF (median absolute deviation — no accumulator
    fold computes it) via applyInPandas, checked against DuckDB MEDIAN."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    out = apply_udaf(ev, ["event_type"], median_abs_deviation("value", "event_type"),
                     "event_type STRING, n BIGINT, median_value DOUBLE, mad DOUBLE")
    return out.select("event_type", "n", "median_value", "mad").orderBy("event_type")


# -- perceptual-hash image dedup (round-11, VERDICT r10 #5) -------------------
_PHASH_BANDS = 4  # 15-bit bands; pigeonhole: ≤3 differing bits touch ≤3 of 4
_PHASH_HAMMING_MAX = 3
# mm_phash_stats checksum moduli (round-12, VERDICT r11 #1): the positional
# weight w = doc_id % _PHASH_WMOD + 1 is in [1, _PHASH_WMOD] and the per-row
# term (band_val * w) % _PHASH_SUMMOD.  Both moduli prime; flipping bit j of
# any doc's phash shifts its band's term by ±2^(j%15)·w mod _PHASH_SUMMOD,
# which is provably nonzero (p prime, p ∤ 2^k, 0 < w < p) — so a single
# flipped fingerprint bit ALWAYS moves wsum (pinned in tests/test_multimodal
# .py::test_phash_stats_discriminates_bit_flips).  Terms < 1e6 keep the
# running SUM inside int64 to ~9e12 docs on both engines.
_PHASH_WMOD = 9973
_PHASH_SUMMOD = 1000003


def _phash_bands(ph: DataFrame) -> DataFrame:
    """Explode a (doc_id, phash, ...) frame into its {_PHASH_BANDS} 15-bit
    bands: one row per (doc, band) with ``b`` and ``band_val``; extra
    columns (e.g. ``codec``) pass through."""
    extra = [c for c in ph.columns if c not in ("doc_id", "phash")]
    return ph.select(
        "doc_id",
        "phash",
        *extra,
        F.explode(
            F.expr(
                f"transform(sequence(0, {_PHASH_BANDS - 1}), "
                f"b -> struct(b AS b, (phash div shiftleft(1L, 15 * b)) % 32768 AS band_val))"
            )
        ).alias("bv"),
    ).select(
        "doc_id", "phash", *extra,
        F.col("bv.b").alias("b"), F.col("bv.band_val").alias("band_val"),
    )


def phash_band_stats(ph: DataFrame) -> DataFrame:
    """Per-band fingerprint-population summary over a (doc_id, phash[,
    codec]) frame — the discriminating evidence row set behind
    ``mm_phash_stats``: 4 rows at ANY corpus size, every value an exact
    BIGINT, and any single flipped fingerprint bit provably moves its
    band's ``wsum`` (see the moduli comment above).  ``n_pil`` counts rows
    the real-PIL codec path produced — 0 under the deterministic contract,
    so a codec mix is a visible hash mismatch, not a silent divergence.

    Scale: explode is map-side (×{_PHASH_BANDS} rows), the distinct leg's
    partial agg dedupes on (band, band_val) ≤ 4·32768 keys map-side, and
    the one exchange carries bounded partial rows per task — reduce side is
    {_PHASH_BANDS} rows regardless of corpus size."""
    bands = _phash_bands(ph)
    n_pil = (
        F.sum(F.when(F.col("codec") == "pil", 1).otherwise(0))
        if "codec" in ph.columns
        else F.sum(F.lit(0))
    )
    return (
        bands.groupBy(F.col("b").cast("long").alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("band_val").alias("n_vals"),
            F.sum("band_val").alias("sum_val"),
            F.sum(
                (F.col("band_val") * (F.col("doc_id") % _PHASH_WMOD + 1))
                % _PHASH_SUMMOD
            ).alias("wsum"),
            F.sum(F.expr("CAST(bit_count(band_val) AS BIGINT)")).alias("pop_bits"),
            n_pil.cast("long").alias("n_pil"),
        )
        .orderBy("band")
    )


# the phash CTE chain, DuckDB-side (shared by mm_phash_dedup / mm_phash_stats):
# bit-for-bit the deterministic fns fingerprint perceptual_hash computes.
_DUCK_PHASH = f"""
    docs AS (
        SELECT doc_id, text, length(text) AS n FROM documents
        WHERE length(text) > 0
    ),
    bs AS (
        SELECT doc_id, n, (p * 60) // n AS b,
               SUM(ascii(substring(text, CAST(p AS INT) + 1, 1))) AS s,
               COUNT(*) AS nb
        FROM (SELECT doc_id, text, n, UNNEST(range(0, n)) AS p FROM docs)
        GROUP BY doc_id, n, (p * 60) // n
    ),
    tot AS (SELECT doc_id, SUM(s) AS total FROM bs GROUP BY doc_id),
    ph AS (
        SELECT bs.doc_id,
               CAST(SUM(CASE WHEN bs.s * bs.n > t.total * bs.nb
                        THEN (1::BIGINT << bs.b) ELSE 0 END) AS BIGINT) AS phash
        FROM bs JOIN tot t USING (doc_id) GROUP BY bs.doc_id
    ),
    bands AS (
        SELECT doc_id, phash, b, (phash >> (15 * b)) & 32767 AS band_val
        FROM ph CROSS JOIN UNNEST(range(0, {_PHASH_BANDS})) AS t(b)
    )"""


@query(
    "mm_phash_dedup",
    oracle=f"""
    WITH {_DUCK_PHASH},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.phash AS pa, b.phash AS pb
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(pa, pb)) <= {_PHASH_HAMMING_MAX}
    ORDER BY doc_a, doc_b
    """,
)
@scoped
def mm_phash_dedup(spark: SparkSession, sf_dir: str, scope: QueryScope) -> DataFrame:
    """Perceptual-hash image dedup: 60-bit aHash fingerprints over the
    decoded payload (operators/multimodal.py::perceptual_hash — real PIL
    aHash when the payload decodes, the deterministic code-point block
    maths otherwise), paired by the banded Hamming equi-join proven by
    dedup_simhash_pairs: a pair within Hamming ≤{_PHASH_HAMMING_MAX} must
    agree on ≥1 of the {_PHASH_BANDS} 15-bit bands (pigeonhole), so
    candidates come from an equi-join on (band, band_val) and the verify
    step is one bit_count(xor) per candidate.  At 100 TB the payloads
    never leave the decode stage — the shuffle carries (doc_id, phash,
    band_val) triples only.

    The fake-corpus fingerprint is oracle-exact: block means vs body mean
    in integer cross-multiplication over CODE POINTS (representation-
    independent; the round-7 edge-fixture lesson), mirrored bit-for-bit
    by the SQL oracle."""
    from flink_net_spark.operators.multimodal import perceptual_hash
    d = spread_small_scan(load_table(spark, sf_dir, "documents")).filter(
        F.length("text") > 0
    )
    # persist: the banded self-join reads the fingerprints twice; without
    # it the Arrow decode stage runs once per join side
    ph = scope.persist(perceptual_hash(attach_payloads(d)).select("doc_id", "phash"))
    bands = _phash_bands(ph)
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
            F.col("a.phash").alias("pa"),
            F.col("b.phash").alias("pb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("CAST(bit_count(pa ^ pb) AS BIGINT)"))
        .filter(F.col("hamming") <= _PHASH_HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


@query(
    "mm_phash_stats",
    oracle=f"""
    WITH {_DUCK_PHASH}
    SELECT CAST(b AS BIGINT) AS band,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT band_val) AS n_vals,
           CAST(SUM(band_val) AS BIGINT) AS sum_val,
           CAST(SUM((band_val * (doc_id % {_PHASH_WMOD} + 1)) % {_PHASH_SUMMOD})
                AS BIGINT) AS wsum,
           CAST(SUM(bit_count(band_val)) AS BIGINT) AS pop_bits,
           CAST(0 AS BIGINT) AS n_pil
    FROM bands GROUP BY b ORDER BY band
    """,
)
def mm_phash_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discriminating companion to mm_phash_dedup (round-12, VERDICT r11
    #1): the dedup query's pair set is legitimately EMPTY on a corpus with
    no near-duplicates, which made its driver CORRECTNESS row a vacuous
    0-row-vs-0-row match — green even with every fingerprint bit wrong.
    This query summarizes the SAME perceptual_hash stage per 15-bit band
    (population, distinct band values, value sum, a positional prime-
    modulus checksum ``wsum``, total popcount): non-empty at any SF, and a
    single flipped phash bit provably moves ``wsum`` (moduli proof at
    _PHASH_WMOD above; pinned by tests/test_multimodal.py).  ``n_pil``
    exposes the codec column — any row the real-PIL path produced breaks
    the hash match against the deterministic oracle instead of diverging
    silently (round-11 ADVICE: propagate codec so a mixed-codec run is
    detectable).

    Reference anchor: the binary-payload POCO surface
    (FlinkDotNet/FlinkDotNet.Core.Abstractions/Execution/
    SerializerRegistry.cs:20-28)."""
    from flink_net_spark.operators.multimodal import perceptual_hash

    d = spread_small_scan(load_table(spark, sf_dir, "documents")).filter(
        F.length("text") > 0
    )
    return phash_band_stats(perceptual_hash(attach_payloads(d)))


@query(
    "mm_audio_energy",
    oracle="""
    WITH frames AS (
        SELECT doc_id,
               UNNEST(range(0, length(text) // 32)) AS k,
               text
        FROM documents
    ),
    fe AS (
        SELECT doc_id, k,
               CAST(list_sum([ascii(substring(text, k * 32 + i, 1))
                              * ascii(substring(text, k * 32 + i, 1))
                              for i in range(1, 33)]) AS BIGINT) AS e
        FROM frames
    ),
    clip AS (
        SELECT doc_id, COUNT(*) AS n_frames, SUM(e) AS total_energy,
               MAX(e) AS max_energy
        FROM fe GROUP BY doc_id
    )
    SELECT d.doc_id AS doc_id,
           CAST(COALESCE(c.n_frames, 0) AS BIGINT) AS n_frames,
           CAST(COALESCE(c.total_energy, 0) AS BIGINT) AS total_energy,
           CAST(COALESCE((SELECT COUNT(*) FROM fe
                          WHERE fe.doc_id = d.doc_id
                            AND fe.e * c.n_frames > c.total_energy), 0)
                AS BIGINT) AS n_loud,
           CAST(COALESCE(c.max_energy, 0) AS BIGINT) AS max_energy
    FROM documents d
    LEFT JOIN clip c ON c.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style waveform features over the multimodal payload: the body
    frames into 32-unit windows, per-frame energy is the exact integer sum
    of squared code points, and the clip summary reports frame count,
    total/max energy and the count of frames whose energy strictly exceeds
    the clip mean (integer cross-multiplication — activity detection).
    Executor-side Arrow batches via operators/multimodal.py::audio_energy;
    a real PCM decoder swaps into the same schema.  Clips shorter than one
    frame report zeros (mirrored by the oracle's LEFT JOIN + COALESCE)."""
    from flink_net_spark.operators.multimodal import audio_energy

    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    return audio_energy(attach_payloads(d)).orderBy("doc_id")


@query(
    "mm_scene_cuts",
    oracle="""
    WITH fr AS (
        SELECT doc_id, k,
               CAST(list_sum([ascii(substring(text, k * 32 + i, 1))
                              for i in range(1, 33)]) AS BIGINT) AS cs
        FROM (
            SELECT doc_id, text, UNNEST(range(0, length(text) // 32)) AS k
            FROM documents
        )
    ),
    dd AS (
        SELECT doc_id, k,
               abs(cs - lag(cs) OVER (PARTITION BY doc_id ORDER BY k)) AS d
        FROM fr
    ),
    clip AS (
        SELECT doc_id,
               SUM(CASE WHEN d > 256 THEN 1 ELSE 0 END) AS n_cuts,
               MIN(CASE WHEN d > 256 THEN k END) AS first_cut,
               MAX(d) AS max_delta
        FROM dd WHERE d IS NOT NULL
        GROUP BY doc_id
    ),
    nf AS (SELECT doc_id, COUNT(*) AS n FROM fr GROUP BY doc_id)
    SELECT d.doc_id AS doc_id,
           CAST(COALESCE(nf.n, 0) AS BIGINT) AS n_frames,
           CAST(COALESCE(c.n_cuts, 0) AS BIGINT) AS n_cuts,
           CAST(COALESCE(c.first_cut, -1) AS BIGINT) AS first_cut,
           CAST(COALESCE(c.max_delta, 0) AS BIGINT) AS max_delta
    FROM documents d
    LEFT JOIN nf ON nf.doc_id = d.doc_id
    LEFT JOIN clip c ON c.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video shot segmentation over the multimodal payload: consecutive
    frame checksums (every frame, the fake_frame_sample stream at
    every_n=1) compare by exact integer |Δ|; a delta above 256 is a scene
    cut (~p99 of adjacent-frame deltas on this corpus).  Per clip: frame
    count, cut count, first cut index (-1 none) and max delta — all
    computed map-side inside the Arrow decode stage
    (operators/multimodal.py::scene_cuts), so nothing but the 5-BIGINT
    per-clip rows ever shuffles; a real decoder (PyAV + histogram
    distance) swaps into the same schema.  Sub-2-frame clips report
    (n, 0, -1, 0) on both engines."""
    from flink_net_spark.operators.multimodal import scene_cuts

    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    return scene_cuts(attach_payloads(d)).orderBy("doc_id")


@query(
    "mm_speech_segments",
    oracle="""
    WITH fe AS (
        SELECT doc_id, k,
               CAST(list_sum([ascii(substring(text, k * 32 + i, 1))
                              * ascii(substring(text, k * 32 + i, 1))
                              for i in range(1, 33)]) AS BIGINT) AS e
        FROM (
            SELECT doc_id, text, UNNEST(range(0, length(text) // 32)) AS k
            FROM documents
        )
    ),
    act AS (
        SELECT doc_id, k FROM (
            SELECT doc_id, k, e,
                   COUNT(*) OVER (PARTITION BY doc_id) AS n,
                   SUM(e)   OVER (PARTITION BY doc_id) AS t
            FROM fe
        ) WHERE e * n > t
    ),
    seg AS (
        SELECT doc_id, k,
               k - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY k) AS g
        FROM act
    ),
    segs AS (
        SELECT doc_id, g, COUNT(*) AS c, MIN(k) AS s
        FROM seg GROUP BY doc_id, g
    ),
    per AS (
        SELECT doc_id,
               COUNT(*)  AS n_segments,
               SUM(c)    AS n_active,
               MAX(c)    AS longest_seg,
               MIN(s)    AS first_active_k
        FROM segs GROUP BY doc_id
    )
    SELECT d.doc_id AS doc_id,
           CAST(COALESCE(p.n_segments, 0) AS BIGINT)      AS n_segments,
           CAST(COALESCE(p.n_active, 0) AS BIGINT)        AS n_active,
           CAST(COALESCE(p.longest_seg, 0) AS BIGINT)     AS longest_seg,
           CAST(COALESCE(p.first_active_k, -1) AS BIGINT) AS first_active_k
    FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def mm_speech_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation over the audio payload: active frames
    (energy strictly above the clip mean — mm_audio_energy's activity
    rule) merge into maximal consecutive runs via the gaps-and-islands
    idiom (segment id = k - row_number over active frames), and the clip
    reports segment count, active-frame total, longest run and first
    active frame — the VAD -> speech-turn summary audio-curation
    pipelines cut clips with (Silero/WebRTC-VAD shape, deterministic
    integer stand-in maths).

    Decode runs once in Arrow batches (operators/multimodal.py::
    audio_frames, same stage as audio_energy; a real PCM decoder swaps in
    under the same (doc_id, k, e) schema); everything after is JVM column
    work.  Clips with no frames or no active frames emit zeros
    (first_active_k = -1).

    Scale: frame stream is ~len/32 rows per clip, map-generated; the
    activity threshold and islands windows partition per clip (parallel
    across clips, never global); the per-clip rollup combines map-side.
    One doc_id-keyed exchange covers all three window stages — Spark
    reuses the partitioning across same-key windows."""
    from flink_net_spark.operators.multimodal import audio_frames

    from pyspark.sql.window import Window as W

    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    fe = audio_frames(attach_payloads(d))
    wc = W.partitionBy("doc_id")
    act = (
        fe.withColumn("n", F.count(F.lit(1)).over(wc))
        .withColumn("t", F.sum("e").over(wc))
        .filter(F.expr("e * n > t"))
    )
    seg = act.withColumn(
        "g", F.col("k") - F.row_number().over(W.partitionBy("doc_id").orderBy("k"))
    )
    segs = seg.groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).alias("c"), F.min("k").alias("s")
    )
    per = segs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("c").alias("n_active"),
        F.max("c").alias("longest_seg"),
        F.min("s").alias("first_active_k"),
    )
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.coalesce("n_segments", F.lit(0)).cast("long").alias("n_segments"),
            F.coalesce("n_active", F.lit(0)).cast("long").alias("n_active"),
            F.coalesce("longest_seg", F.lit(0)).cast("long").alias("longest_seg"),
            F.coalesce("first_active_k", F.lit(-1)).cast("long").alias("first_active_k"),
        )
        .orderBy("doc_id")
    )
