"""Registry queries: multimodal_substring (split from registry.py, round 14).

POSITION-CONTIGUOUS slice of the original registry.py — import
order of the registry_queries modules IS the driver-contract
registration order; do not reorder. Body lines are verbatim.
"""

from __future__ import annotations

from pyspark.sql import functions as F
import os

from trendmachine_spark.registry_core import (
    _docs,
    register,
)



def _phash_cte() -> str:
    """Closed-form per-image aHash/dHash CTE chain (round 10), shared by
    the three perceptual-hash oracles. Mirrors
    multimodal.image_perceptual_hash over the BMP generator formulas
    (multimodal._media_synth_one): integer luma
    (299R + 587G + 114B) // 1000 at the nearest-resampled coordinates
    (gx * w // 8 etc. — the resize_nearest index rule), aHash bit =
    gray > floor(mean of the 64 cells), dHash bit = gray[x] < gray[x+1]
    on the 9x8 grid, row-major bit p packed into 32-bit halves so both
    engines stay inside BIGINT. Exposes `phash(doc_id, width, height,
    ahash_hi, ahash_lo, dhash_hi, dhash_lo)`."""
    gray = """(  299 * ((s.sx * 7  + s.sy * 13 + d.doc_id) % 256)
          + 587 * ((s.sx * 11 + s.sy * 3  + d.doc_id) % 256)
          + 114 * ((s.sx * 5  + s.sy * 17 + d.doc_id) % 256)) // 1000"""
    return f"""ids AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
    acells AS (
      SELECT d.doc_id, gy.g * 8 + gx.g AS p, {gray} AS gray
      FROM ids d,
           generate_series(0, 7) AS gx(g), generate_series(0, 7) AS gy(g),
           LATERAL (SELECT (gx.g * (4 + d.doc_id % 13)) // 8 AS sx,
                           (gy.g * (3 + d.doc_id % 7)) // 8 AS sy) s
    ),
    ameans AS (SELECT doc_id, sum(gray) // 64 AS m FROM acells GROUP BY doc_id),
    abits AS (
      SELECT c.doc_id,
             CAST(sum(CASE WHEN c.gray > am.m AND c.p >= 32
                           THEN (1::BIGINT << (c.p - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi,
             CAST(sum(CASE WHEN c.gray > am.m AND c.p < 32
                           THEN (1::BIGINT << c.p) ELSE 0 END) AS BIGINT) AS ahash_lo
      FROM acells c JOIN ameans am USING (doc_id) GROUP BY c.doc_id
    ),
    dcells AS (
      SELECT d.doc_id, gx.g AS gx, gy.g AS gy, {gray} AS gray
      FROM ids d,
           generate_series(0, 8) AS gx(g), generate_series(0, 7) AS gy(g),
           LATERAL (SELECT (gx.g * (4 + d.doc_id % 13)) // 9 AS sx,
                           (gy.g * (3 + d.doc_id % 7)) // 8 AS sy) s
    ),
    dbits AS (
      SELECT l.doc_id,
             CAST(sum(CASE WHEN l.gray < r.gray AND (l.gy * 8 + l.gx) >= 32
                           THEN (1::BIGINT << (l.gy * 8 + l.gx - 32)) ELSE 0 END) AS BIGINT) AS dhash_hi,
             CAST(sum(CASE WHEN l.gray < r.gray AND (l.gy * 8 + l.gx) < 32
                           THEN (1::BIGINT << (l.gy * 8 + l.gx)) ELSE 0 END) AS BIGINT) AS dhash_lo
      FROM dcells l JOIN dcells r ON l.doc_id = r.doc_id AND l.gy = r.gy AND r.gx = l.gx + 1
      WHERE l.gx < 8 GROUP BY l.doc_id
    ),
    phash AS (
      SELECT a.doc_id,
             CAST(4 + a.doc_id % 13 AS INT) AS width,
             CAST(3 + a.doc_id % 7 AS INT) AS height,
             a.ahash_hi, a.ahash_lo, db.dhash_hi, db.dhash_lo
      FROM abits a JOIN dbits db USING (doc_id)
    )"""


def _bmp_assets(spark, sf_dir):
    """REAL BMP payloads for the perceptual-hash queries (even doc
    ids of the shared media generator)."""
    from trendmachine_spark.extensions.multimodal import synthetic_media_assets

    return synthetic_media_assets(_docs(spark, sf_dir)).filter(
        F.col("media_type") == "image/bmp"
    )


@register(
    "multimodal_image_hash",
    # Closed-form twin of the REAL decode->gray->resample->threshold->
    # pack chain: any codec, luma, resize-index, mean-rounding, or
    # bit-order mistake shifts a hash half. See _phash_cte.
    f"WITH {_phash_cte()}\n    SELECT * FROM phash",
)
def q_multimodal_image_hash(spark, sf_dir):
    """Per-image perceptual hashes (aHash + dHash, round 10) over REAL
    decoded BMP pixels — the image twin of text_fingerprints: a
    ~30-byte signature per image that downstream dedup joins touch
    instead of pixels. Integer-exact end to end (nearest resample +
    integer luma + floor mean), which is what lets the oracle verify
    the whole chain in closed form. Scale: per-asset Arrow-batched CPU,
    zero exchanges; the rebalanced id projection (see
    synthetic_media_assets) keeps codec fan-out at session parallelism."""
    from trendmachine_spark.extensions.multimodal import image_perceptual_hash

    return image_perceptual_hash(_bmp_assets(spark, sf_dir))


@register(
    "dedup_image_phash",
    # families keyed on the full 64-bit aHash; linear output (one row
    # per image), min-id keeper — the image analog of dedup_exact.
    f"""WITH {_phash_cte()}
    SELECT doc_id,
           min(doc_id) OVER w AS family_key,
           count(*) OVER w AS family_size,
           CAST(doc_id = min(doc_id) OVER w AS BIGINT) AS is_keeper
    FROM phash WINDOW w AS (PARTITION BY ahash_hi, ahash_lo)""",
)
def q_dedup_image_phash(spark, sf_dir):
    """Exact perceptual-dup image families (round 10): images sharing a
    64-bit aHash collapse to one family with a min-id keeper — the
    image analog of dedup_exact, over REAL decoded pixels (aHash's
    lossiness IS the dedup key: re-encoded/slightly-requantized copies
    land in one family). Scale: one hash exchange over the hash table
    (~30 bytes/image), linear output, never pairs."""
    from trendmachine_spark.extensions.multimodal import (
        image_perceptual_hash,
        phash_families,
    )

    return phash_families(image_perceptual_hash(_bmp_assets(spark, sf_dir)))


@register(
    "dedup_image_phash_near",
    # oracle verifies SEMANTICS (all pairs within hamming 2) directly;
    # the Spark side reaches the same set through the 4x16-bit band
    # join (pigeonhole-exact for hamming < 4). bit_count(xor()) is the
    # same builtin pair in both engines.
    f"""WITH {_phash_cte()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.ahash_hi, b.ahash_hi))
              + bit_count(xor(a.ahash_lo, b.ahash_lo)) AS BIGINT) AS hamming
    FROM phash a JOIN phash b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ahash_hi, b.ahash_hi))
        + bit_count(xor(a.ahash_lo, b.ahash_lo)) <= 2""",
)
def q_dedup_image_phash_near(spark, sf_dir):
    """Near-duplicate image pairs (round 10): aHash hamming <= 2 via a
    4x16-bit band join on DISTINCT hashes — by pigeonhole a pair within
    hamming < 4 agrees on at least one band verbatim, so band equality
    is a lossless candidate filter, and running it on distinct hashes
    (the r9 simhash collapse, applied up front: 25k images -> 2,033
    hashes at x10) keeps hot identical-hash families out of the join.
    Candidates verified with codegen bit_count(xor()); hamming-0
    families expand via a member self-join, cross pairs via broadcast
    member joins. The DuckDB twin states the SEMANTICS as a direct
    hamming join, so the value hash proves the collapsed banded plan
    reaches exactly the all-pairs answer."""
    from trendmachine_spark.extensions.multimodal import (
        image_perceptual_hash,
        phash_near_pairs,
    )

    return phash_near_pairs(image_perceptual_hash(_bmp_assets(spark, sf_dir)), 2)


@register(
    "multimodal_audio_features",
    # closed-form twin of the RIFF parse + PCM decode + feature pass:
    # sample values are (i*31 + id) % 65536 - 32768 — any header-walk,
    # sample-width, or sign bug shifts energy/zero_crossings/peak.
    """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1),
    smp AS (
      SELECT d.doc_id, i.i, (i.i * 31 + d.doc_id) % 65536 - 32768 AS v
      FROM ids d, generate_series(0, 148) AS i(i)
      WHERE i.i < 50 + d.doc_id % 100),
    lagged AS (SELECT doc_id, v,
                      lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
               FROM smp)
    SELECT doc_id,
      CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
      CAST(count(*) AS BIGINT) AS n_samples,
      CAST((count(*) * 1000) // (8000 + (doc_id % 4) * 4000) AS BIGINT) AS duration_ms,
      CAST(max(abs(v)) AS BIGINT) AS peak_abs,
      CAST(count(*) FILTER (WHERE pv IS NOT NULL AND (pv < 0) != (v < 0)) AS BIGINT)
        AS zero_crossings,
      CAST(sum(v * v) AS BIGINT) AS energy,
      CAST(sum(v) AS BIGINT) AS dc_sum
    FROM lagged GROUP BY doc_id""",
)
def q_multimodal_audio_features(spark, sf_dir):
    """Acoustic summary features (round 10) over REAL decoded PCM:
    peak amplitude, zero-crossing count, total energy, DC sum, integer
    duration — the stats an audio-corpus quality filter keys on
    (silence/clipping/DC-bias detection), integer-exact so the oracle
    verifies the full RIFF chunk walk + 16-bit sample decode. Completes
    the audio ANALYSIS layer next to decode (multimodal_decode_real)
    the way text_profile sits next to capture_normalize. Scale:
    per-asset Arrow-batched CPU, zero exchanges."""
    from trendmachine_spark.extensions.multimodal import audio_features

    return audio_features(
        synthetic_media_assets_audio(spark, sf_dir)
    )


def synthetic_media_assets_audio(spark, sf_dir):
    """REAL WAV payloads (odd doc ids of the shared media generator)."""
    from trendmachine_spark.extensions.multimodal import synthetic_media_assets

    return synthetic_media_assets(_docs(spark, sf_dir)).filter(
        F.col("media_type") == "audio/wav"
    )


@register(
    "dedup_audio_fingerprint",
    # closed-form twin of decode + balanced framing (sample i -> frame
    # i*16 // n) + integer frame energies + delta-sign bit pack; the
    # family window is the same exact-signature grouping as
    # dedup_image_phash/dedup_exact.
    """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1),
    smp AS (SELECT d.doc_id, i.i, (i.i * 31 + d.doc_id) % 65536 - 32768 AS v,
                   50 + d.doc_id % 100 AS n
            FROM ids d, generate_series(0, 148) AS i(i)
            WHERE i.i < 50 + d.doc_id % 100),
    fe AS (SELECT doc_id, (i * 16) // n AS k, CAST(sum(v * v) AS BIGINT) AS e
           FROM smp GROUP BY doc_id, (i * 16) // n),
    bits AS (SELECT a.doc_id,
                    CAST(sum(CASE WHEN a.e > b.e
                                  THEN (1::BIGINT << CAST(a.k AS INT))
                                  ELSE 0 END) AS BIGINT) AS fingerprint
             FROM fe a JOIN fe b ON a.doc_id = b.doc_id AND b.k = a.k + 1
             GROUP BY a.doc_id)
    SELECT doc_id, fingerprint,
           min(doc_id) OVER w AS family_key,
           count(*) OVER w AS family_size,
           CAST(doc_id = min(doc_id) OVER w AS BIGINT) AS is_keeper
    FROM bits WINDOW w AS (PARTITION BY fingerprint)""",
)
def q_dedup_audio_fingerprint(spark, sf_dir):
    """Audio dedup by acoustic fingerprint (round 10): clips sharing an
    energy-delta-sign profile (16 balanced frames, bit k =
    energy[k] > energy[k+1] over REAL decoded PCM) collapse to one
    family with a min-id keeper — completing the per-modality dedup
    set (text: dedup_exact/minhash/simhash; image: dedup_image_phash;
    audio: this). Integer-exact end to end, so the oracle verifies
    decode + framing + bit pack + grouping in one value hash. Scale:
    zero-exchange fingerprint pass, one hash exchange for the family
    window over one BIGINT per clip."""
    from trendmachine_spark.extensions.multimodal import (
        audio_fingerprint,
        family_report,
    )

    return family_report(
        audio_fingerprint(synthetic_media_assets_audio(spark, sf_dir)),
        "fingerprint",
    )


@register(
    "multimodal_video_decode",
    # closed-form twin of the MJPEG clip generator (multimodal.py
    # _video_synth_one / codecs.py encode_mjpeg): content key
    # c = doc_id % 251 (VIDEO_CONTENT_MOD), 3 + c%6 frames, frame f a
    # bw x bh grid (bw = 1+(c+f)%4, bh = 1+(c+f)%3) of constant 8x8
    # blocks at v = 2*((5bx + 11by + c + 17f) % 128) — even DC-only
    # values reconstruct BIT-EXACTLY through the Huffman/IDCT round
    # trip (the r9 JPEG-corpus trick), so the container walk, frame
    # order, and per-frame decode are all checked by exact values:
    # wsum weights each frame's pixel sum by (1 + f%7).
    """WITH v AS (SELECT doc_id, doc_id % 251 AS c
                  FROM documents WHERE doc_id % 3 = 2),
    fr AS (SELECT doc_id, c, unnest(range(3 + c % 6)) AS f FROM v),
    d AS (SELECT doc_id, c, f,
                 1 + (c + f) % 4 AS bw, 1 + (c + f) % 3 AS bh
          FROM fr),
    b AS (SELECT doc_id, f, bw, bh,
                 2 * (((bi % bw) * 5 + (bi // bw) * 11 + c + 17 * f)
                      % 128) AS bv
          FROM (SELECT *, unnest(range(bw * bh)) AS bi FROM d)),
    fs AS (SELECT doc_id, f, any_value(bw * bh) AS nb, sum(bv) AS bsum
           FROM b GROUP BY doc_id, f)
    SELECT doc_id,
           CAST(count(*) AS INT) AS n_frames,
           CAST(64 * sum(nb) AS BIGINT) AS total_pixels,
           CAST(64 * sum((1 + f % 7) * bsum) AS BIGINT) AS wsum
    FROM fs GROUP BY doc_id""",
)
def q_multimodal_video_decode(spark, sf_dir):
    """REAL video decode (round 11 — the mandate that retires video's
    stub status): synthesize MJPEG clips (length-prefixed baseline-JPEG
    frame concat — codecs.encode_mjpeg, the sandbox-honest analog of
    the documented ffmpeg slot), then walk the container and decode
    every frame through the real Huffman/IDCT path, emitting per-clip
    frame count, decoded pixel total, and a frame-order-weighted
    checksum. Completes the modality matrix: image (BMP/PNG/JPEG),
    audio (WAV), and now video all decode real bytes in-sandbox.
    Scale: zero exchanges — per-clip Arrow-batched CPU; ~30 bytes of
    metadata leave the worker per clip."""
    from trendmachine_spark.extensions.multimodal import (
        synthetic_video_assets,
        video_decode_real,
    )

    return video_decode_real(synthetic_video_assets(_docs(spark, sf_dir)))


@register(
    "dedup_video_frames",
    # r11: signatures now hash DECODED pixels (r10 hashed 32-char text
    # slices). Sampled frames (every 2nd, cap 8) of the MJPEG corpus
    # above; each frame's fingerprint is md5 of the comma-joined
    # raveled grayscale values — reconstructed here in closed form from
    # the generator (pi walks the 8bh x 8bw frame row-major:
    # x = pi % 8bw, y = pi // 8bw, block (x//8, y//8)); signature =
    # md5 of the ord-ordered fingerprint chain; family window as in
    # dedup_image_phash. Every clip has >= 3 frames, so every video id
    # emits exactly one row.
    """WITH v AS (SELECT doc_id, doc_id % 251 AS c
                  FROM documents WHERE doc_id % 3 = 2),
    fr AS (SELECT doc_id, c, unnest(range(3 + c % 6)) AS f FROM v),
    s AS (SELECT doc_id, c, f, f // 2 AS ord,
                 1 + (c + f) % 4 AS bw, 1 + (c + f) % 3 AS bh
          FROM fr WHERE f % 2 = 0 AND f < 16),
    px AS (SELECT doc_id, ord, pi,
                  2 * ((((pi % (8 * bw)) // 8) * 5
                        + ((pi // (8 * bw)) // 8) * 11
                        + c + 17 * f) % 128) AS pv
           FROM (SELECT *, unnest(range(64 * bw * bh)) AS pi FROM s)),
    fm AS (SELECT doc_id, ord,
                  md5(string_agg(CAST(pv AS VARCHAR), ',' ORDER BY pi))
                    AS fmd5
           FROM px GROUP BY doc_id, ord),
    sig AS (SELECT doc_id,
                   md5(string_agg(fmd5, '|' ORDER BY ord)) AS video_sig,
                   CAST(count(*) AS BIGINT) AS n_sampled
            FROM fm GROUP BY doc_id)
    SELECT doc_id, video_sig, n_sampled,
           min(doc_id) OVER w AS family_key,
           count(*) OVER w AS family_size,
           CAST(doc_id = min(doc_id) OVER w AS BIGINT) AS is_keeper
    FROM sig WINDOW w AS (PARTITION BY video_sig)""",
)
def q_dedup_video_frames(spark, sf_dir):
    """Video dedup by sampled-frame signature over REAL decoded pixels
    (re-pointed in round 11; the r10 version hashed the char-frame
    stub): the MJPEG container walk skips unsampled frames without
    entropy-decoding them (length-prefix arithmetic — the scale point
    of frame sampling: a 2-hour clip costs max_frames decodes), each
    sampled frame is fingerprinted from its decoded grayscale matrix,
    and two clips sharing the ordered fingerprint chain are duplicates.
    Signature = md5 of the ord-ordered chain, computed IN-WORKER
    (multimodal.video_clip_signature — a clip's frames all live in its
    own payload, so no grouped agg is needed and frames never
    materialize as rows; byte-identical to the agg form's
    '|'-joined-chain md5). Scale: bounded per-clip decode, ONE
    signature-window exchange over ~50 bytes per video."""
    from trendmachine_spark.extensions.multimodal import (
        family_report,
        synthetic_video_assets,
        video_clip_signature,
    )

    return family_report(
        video_clip_signature(synthetic_video_assets(_docs(spark, sf_dir))),
        "video_sig",
    )


@register(
    "dedup_video_near",
    # same decoded-pixel frame fingerprints as dedup_video_frames (the
    # fm CTE), relaxed from chain equality to >= 2 SHARED fingerprints
    # per unordered pair — the frame-containment near-dup form. r12:
    # the hot/fmg CTEs mirror multimodal.MAX_FRAME_FREQ=50 — candidate
    # postings drop fingerprints in > 50 distinct clips; cnt (n_a/n_b)
    # stays over the FULL fm sample sets.
    """WITH v AS (SELECT doc_id, doc_id % 251 AS c
                  FROM documents WHERE doc_id % 3 = 2),
    fr AS (SELECT doc_id, c, unnest(range(3 + c % 6)) AS f FROM v),
    s AS (SELECT doc_id, c, f, f // 2 AS ord,
                 1 + (c + f) % 4 AS bw, 1 + (c + f) % 3 AS bh
          FROM fr WHERE f % 2 = 0 AND f < 16),
    px AS (SELECT doc_id, ord, pi,
                  2 * ((((pi % (8 * bw)) // 8) * 5
                        + ((pi // (8 * bw)) // 8) * 11
                        + c + 17 * f) % 128) AS pv
           FROM (SELECT *, unnest(range(64 * bw * bh)) AS pi FROM s)),
    fm AS MATERIALIZED (
           SELECT doc_id, ord,
                  md5(string_agg(CAST(pv AS VARCHAR), ',' ORDER BY pi))
                    AS fmd5
           FROM px GROUP BY doc_id, ord),
    hot AS (SELECT fmd5 FROM fm GROUP BY fmd5
            HAVING count(DISTINCT doc_id) > 50),
    fmg AS MATERIALIZED (
            SELECT * FROM fm
            WHERE fmd5 NOT IN (SELECT fmd5 FROM hot)),
    pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(count(*) AS BIGINT) AS n_shared
              FROM fmg a JOIN fmg b
                ON a.fmd5 = b.fmd5 AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
              HAVING count(*) >= 2),
    cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
            FROM fm GROUP BY doc_id)
    SELECT id_a, id_b, n_shared, ca.n AS n_a, cb.n AS n_b
    FROM pairs
    JOIN cnt ca ON ca.doc_id = id_a
    JOIN cnt cb ON cb.doc_id = id_b""",
)
def q_dedup_video_near(spark, sf_dir):
    """Near-duplicate clip pairs by shared decoded-frame fingerprints
    (round 11): the frame-containment relaxation of
    ``dedup_video_frames`` — >= 2 identical sampled-frame fingerprints
    make a pair, catching the re-encode/trim class that exact chain
    signatures miss. Scale: inverted-index join on the fingerprint
    with hard bounds on BOTH axes — max_frames postings per clip and
    (round 12) max_frame_freq=50 clips per fingerprint, so a
    boilerplate frame can no longer square a hot join key — one
    fingerprint exchange + one pair agg; pair output is quadratic in
    family size by definition — keeper pipelines consume the linear
    dedup_video_frames families."""
    from trendmachine_spark.extensions.multimodal import (
        synthetic_video_assets,
        video_frame_signature,
        video_near_pairs,
    )

    return video_near_pairs(
        video_frame_signature(synthetic_video_assets(_docs(spark, sf_dir)))
    )


@register("video_dedup_streaming", None)  # streaming, keeper arrival-order
def q_video_dedup_streaming(spark, sf_dir):
    """Streaming video dedup (round 11 — the streaming twin of
    dedup_video_frames, completing the streaming matrix for the new
    modality): clip synthesis + container walk + sampled-frame decode +
    chain signature are ALL stateless mapInPandas (append-safe on a
    stream), so `dropDuplicatesWithinWatermark(video_sig)` gives
    first-arrival keepers with watermark-bounded state — the shape a
    live ingest pipeline runs. Signature-set equivalence with the
    batch family report is pinned in tests/test_streaming.py;
    rows-only here (keeper identity is arrival-order by design)."""
    from trendmachine_spark.extensions.multimodal import (
        synthetic_video_assets,
        video_clip_signature,
    )

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("pathGlobFilter", "documents*.parquet")
        .parquet(sf_dir)
    )
    sigs = video_clip_signature(synthetic_video_assets(stream)).withColumn(
        "event_time", F.lit("2020-01-01 00:00:00").cast("timestamp")
    )
    q = (
        sigs.withWatermark("event_time", "1 day")
        .dropDuplicatesWithinWatermark(["video_sig"])
        .writeStream.format("memory")
        .queryName("_video_dedup_stream_q")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql("SELECT * FROM _video_dedup_stream_q")


@register(
    "quality_score_trained",
    # Exact mirror of fit_quality_logit + apply: integer features and
    # label, hugeint training sums, the SAME symmetric-3x3 cofactor
    # formulas, cast-then-divide double weights, same score op order.
    """WITH feats AS (
      SELECT doc_id,
             (1000 * len(list_distinct(string_split(text, ' '))))
               // len(string_split(text, ' ')) AS f1,
             (1000 * len(string_split(text, ' ')))
               // (len(string_split(text, ' ')) + 100) AS f2,
             CASE WHEN len(string_split(text, ' ')) >= 20
                   AND 5 * len(list_distinct(string_split(text, ' ')))
                       >= len(string_split(text, ' '))
                  THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    sums AS (
      SELECT CAST(count(*) AS HUGEINT) AS m00,
             CAST(sum(f1) AS HUGEINT) AS m01,
             CAST(sum(f2) AS HUGEINT) AS m02,
             CAST(sum(f1 * f1) AS HUGEINT) AS m11,
             CAST(sum(f1 * f2) AS HUGEINT) AS m12,
             CAST(sum(f2 * f2) AS HUGEINT) AS m22,
             CAST(sum(2 * y - 1) AS HUGEINT) AS v0,
             CAST(sum(f1 * (2 * y - 1)) AS HUGEINT) AS v1,
             CAST(sum(f2 * (2 * y - 1)) AS HUGEINT) AS v2
      FROM feats
    ),
    cof AS (
      SELECT *,
             m11 * m22 - m12 * m12 AS a00,
             m12 * m02 - m01 * m22 AS a01,
             m01 * m12 - m11 * m02 AS a02,
             m00 * m22 - m02 * m02 AS a11,
             m01 * m02 - m00 * m12 AS a12,
             m00 * m11 - m01 * m01 AS a22
      FROM sums
    ),
    solve AS (
      SELECT m00 * a00 + m01 * a01 + m02 * a02 AS det,
             a00 * v0 + a01 * v1 + a02 * v2 AS n0,
             a01 * v0 + a11 * v1 + a12 * v2 AS n1,
             a02 * v0 + a12 * v1 + a22 * v2 AS n2
      FROM cof
    ),
    w AS (
      SELECT CASE WHEN det = 0 THEN 0.0
                  ELSE 2.0 * CAST(n0 AS DOUBLE) / CAST(det AS DOUBLE) END AS w0,
             CASE WHEN det = 0 THEN 0.0
                  ELSE 2.0 * CAST(n1 AS DOUBLE) / CAST(det AS DOUBLE) END AS w1,
             CASE WHEN det = 0 THEN 0.0
                  ELSE 2.0 * CAST(n2 AS DOUBLE) / CAST(det AS DOUBLE) END AS w2
      FROM solve
    )
    SELECT f.doc_id, f.f1, f.f2, CAST(f.y AS BIGINT) AS label_keep,
           w.w0 + w.w1 * f.f1 + w.w2 * f.f2 AS score_trained,
           CAST(w.w0 + w.w1 * f.f1 + w.w2 * f.f2 > 0 AS BIGINT)
             AS predicted_keep
    FROM feats f, w""",
)
def q_quality_score_trained(spark, sf_dir):
    """TRAINED quality score (round 7 — the fasttext/DSIR slot's
    train/apply split): one exp-free Fisher-scoring step distills the
    rule-based quality gate into a smooth logistic margin; training
    aggregates are exact int64 sums (one scalar-row collect), the 3x3
    solve is exact big-int Cramer, and the oracle re-runs the whole
    fit in hugeint — weights, scores, and predictions hash-exact."""
    from trendmachine_spark.extensions.text import quality_score_trained

    return quality_score_trained(_docs(spark, sf_dir))


@register("ingest_dedup_streaming", None)  # streaming foreachBatch: rows-only
def q_ingest_dedup_streaming(spark, sf_dir):
    """Streaming near-dup ingest twin driven end-to-end (round 4): the
    documents table is split into a seed corpus (doc_id%3==0) and two
    ingest micro-batches (%3==1, %3==2) fed through a file-source
    stream into the foreachBatch dedup sink — each batch vetted by
    incremental_dedup against the corpus-so-far, accepted docs growing
    the store. Returns every per-doc flag row. Vs-batch equivalence is
    pinned by tests/test_streaming_ingest.py."""
    import os
    import shutil
    import tempfile

    from trendmachine_spark.streaming.ingest_stream import (
        init_corpus,
        read_flags,
        run_ingest_stream,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="tm_ingest_stream_")
    corpus_dir, flags_dir = f"{tmp}/corpus", f"{tmp}/flags"
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    os.makedirs(src)
    init_corpus(docs.filter(F.pmod("doc_id", F.lit(3)) == 0), corpus_dir)
    for i, m in enumerate((1, 2)):
        bdir = f"{tmp}/b{i}"
        docs.filter(F.pmod("doc_id", F.lit(3)) == m).coalesce(1).write.mode(
            "overwrite"
        ).json(bdir)
        part = next(f for f in os.listdir(bdir) if f.startswith("part-"))
        dst = f"{src}/batch{i}.json"
        shutil.copy(f"{bdir}/{part}", dst)
        os.utime(dst, (1_700_000_000 + i * 1000,) * 2)  # batch order
    q = run_ingest_stream(spark, src, "doc_id long, text string",
                          corpus_dir, flags_dir, ckpt)
    if not q.awaitTermination(600):  # returns False on timeout, no raise
        q.stop()
        raise RuntimeError(
            "ingest stream did not drain in 600 s — refusing to return "
            "partial flags as a complete result"
        )
    return read_flags(spark, flags_dir)


#: shared CTEs for the exact-substring (bounded-window) dedup oracles
def _window_occ_sql(win: int = 10) -> str:
    return f"""
words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
occ AS (
  SELECT doc_id, i AS pos, array_to_string(w[i:i+{win - 1}], ' ') AS g
  FROM words, unnest(generate_series(1, greatest(len(w) - {win - 1}, 0))) AS t(i)
)"""


_WINDOW_OCC_SQL = _window_occ_sql(10)


def _substring_report_oracle(win: int) -> str:
    # window freq >= 2 marks win-token spans duplicated anywhere in the
    # corpus; overlapping/adjacent marked windows merge into islands
    # via the running-max interval union — mirrored window-for-window
    return f"""WITH {_window_occ_sql(win)},
    marked AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS f FROM occ
      ) WHERE f >= 2
    ),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos <= max(pos + {win - 1}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                  THEN 0 ELSE 1 END AS nw
      FROM marked
    ),
    isl2 AS (
      SELECT doc_id, pos,
             sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS iid
      FROM isl
    ),
    islands AS (
      SELECT doc_id, iid, max(pos) + {win - 1} - min(pos) + 1 AS len
      FROM isl2 GROUP BY doc_id, iid
    ),
    rep AS (
      SELECT doc_id, CAST(sum(len) AS BIGINT) AS dup_tokens,
             CAST(count(*) AS BIGINT) AS n_islands
      FROM islands GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           coalesce(r.dup_tokens, 0) AS dup_tokens,
           CAST(coalesce(r.dup_tokens, 0) AS DOUBLE)
             / len(string_split(d.text, ' ')) AS dup_fraction,
           coalesce(r.n_islands, 0) AS n_islands
    FROM documents d LEFT JOIN rep r USING (doc_id)"""


@register("substring_dup_report", _substring_report_oracle(10))
def q_substring_dup_report(spark, sf_dir):
    """Exact-substring duplication report (round 4): the bounded-window
    form of Lee et al.'s ExactSubstr — every duplicated span >= 10
    tokens is detected via fixed 10-token windows counted (never
    paired) on a gram window, then merged into maximal islands per
    doc. No self-join anywhere, so boilerplate cannot go quadratic."""
    from trendmachine_spark.extensions.dedup import duplicated_spans

    return duplicated_spans(_docs(spark, sf_dir), win=10)


@register("substring_dup_report_fine", _substring_report_oracle(5))
def q_substring_dup_report_fine(spark, sf_dir):
    """win=5 fine-grained duplication report (round 6): the natural-
    text sweep (SUBSTRING_WIN_SWEEP.json 'natural') measured win=5's
    chance-collision floor at ~0.1% of unique-family tokens (vs 52% at
    win=3 — THAT is the degenerate setting) while catching 58% of
    paraphrase-family duplicated mass and every planted quote >= 5
    tokens, where win=10 sees 1.7% and misses every sub-10 quote. The
    round-5 'win=5 is degenerate' reading was a replica-corpus
    artifact: there the marked 95% is genuinely duplicated text. Use
    this report (not the destructive strip) to AUDIT short-span
    duplication on natural corpora; same no-self-join shape and
    auto-salted mark-back join as the win=10 default."""
    from trendmachine_spark.extensions.dedup import duplicated_spans

    return duplicated_spans(_docs(spark, sf_dir), win=5)


def _suffix_match_sql(k: int = 5, bound: int = 32,
                      max_group: int = 100) -> str:
    """CTE chain mirroring dedup.suffix_match_lengths expression-for-
    expression: bounded suffixes grouped by their first k tokens, hot
    grams (freq > max_group) excluded, per-position match length =
    greatest(LCP(prev), LCP(next)) over the lexicographic suffix order
    — identical integers in both engines (the LCP value is independent
    of tie order among equal suffixes)."""
    def lcp(a: str, b: str) -> str:
        return (
            f"CASE WHEN {b} IS NULL THEN 0 ELSE CAST(coalesce("
            f"NULLIF(list_position(list_transform("
            f"generate_series(1, greatest(len({a}), len({b}))), "
            f"i -> {a}[i] IS NOT DISTINCT FROM {b}[i]), false), 0) - 1, "
            f"least(len({a}), len({b}))) AS INTEGER) END"
        )

    return f"""
words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
socc AS (
  SELECT doc_id, i AS pos,
         array_to_string(w[i:i+{k - 1}], ' ') AS g,
         w[i:i+{bound - 1}] AS sfx
  FROM words, unnest(generate_series(1, greatest(len(w) - {k - 1}, 0))) AS t(i)
),
hot AS (SELECT g FROM socc GROUP BY g HAVING count(*) > {max_group}),
nb AS (
  SELECT doc_id, pos, sfx,
         lag(sfx)  OVER (PARTITION BY g ORDER BY sfx) AS prv,
         lead(sfx) OVER (PARTITION BY g ORDER BY sfx) AS nxt
  FROM socc WHERE g NOT IN (SELECT g FROM hot)
),
matches AS (
  SELECT * FROM (
    SELECT doc_id, pos,
           greatest({lcp('sfx', 'prv')}, {lcp('sfx', 'nxt')}) AS match_len
    FROM nb
  ) WHERE match_len >= {k}
)"""


@register(
    "dup_span_profile",
    f"""WITH {_suffix_match_sql(5, 32, 100)},
    per_doc AS (
      SELECT doc_id, CAST(max(match_len) AS INTEGER) AS mx,
             CAST(count(*) AS BIGINT) AS np
      FROM matches GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           CAST(coalesce(p.mx, 0) AS INTEGER) AS max_dup_len,
           CAST(coalesce(p.np, 0) AS BIGINT) AS n_dup_positions
    FROM documents d LEFT JOIN per_doc p USING (doc_id)""",
)
def q_dup_span_profile(spark, sf_dir):
    """Bounded suffix-array pass (round 7 — Lee et al. ACL 2022 §4):
    per-doc EXACT longest-duplicated-span lengths for the 5-9-token
    memorization tail that fixed windows only cover in aggregate.
    Closes the round-6 'window-vs-suffix-array' open trade: see
    dedup.suffix_match_lengths for the SA-adjacency argument and the
    max_group skew stance."""
    from trendmachine_spark.extensions.dedup import dup_span_profile

    return dup_span_profile(_docs(spark, sf_dir), min_span=5, bound=32,
                            max_group=100)


@register(
    "dup_span_histogram",
    f"""WITH {_suffix_match_sql(5, 32, 100)}
    SELECT match_len, CAST(count(*) AS BIGINT) AS n_positions
    FROM matches GROUP BY match_len""",
)
def q_dup_span_histogram(spark, sf_dir):
    """Corpus duplicated-span length distribution in [5, 32] from the
    bounded suffix-array pass — the one-pass form of the evidence
    SUBSTRING_WIN_SWEEP.json collected run-by-run (round 7)."""
    from trendmachine_spark.extensions.dedup import dup_span_histogram

    return dup_span_histogram(_docs(spark, sf_dir), min_span=5, bound=32,
                              max_group=100)


@register(
    "suffix_group_stats",
    f"""WITH {_window_occ_sql(5)},
    sizes AS (SELECT g, count(*) AS f FROM occ GROUP BY g)
    SELECT CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f > 100 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hot_grams,
           CAST(sum(f) AS BIGINT) AS positions_total,
           CAST(sum(CASE WHEN f > 100 THEN f ELSE 0 END) AS BIGINT)
             AS positions_excluded
    FROM sizes""",
)
def q_suffix_group_stats(spark, sf_dir):
    """'No silent caps' companion to the suffix-array pass (round 7):
    whether/how much the max_group skew guard fired."""
    from trendmachine_spark.extensions.dedup import suffix_group_stats

    return suffix_group_stats(_docs(spark, sf_dir), min_span=5,
                              max_group=100)


@register(
    "substring_dedup",
    f"""WITH {_WINDOW_OCC_SQL},
    removable AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rk
        FROM occ
      ) WHERE rk > 1
    ),
    covered AS (
      SELECT DISTINCT doc_id, pos + j AS pos
      FROM removable, unnest(generate_series(0, 9)) AS t(j)
    ),
    toks AS (
      SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS tok
      FROM words
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM toks t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
      WHERE c.pos IS NULL
    ),
    rs AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(string_split(d.text, ' ')) - coalesce(rs.n_kept, 0) AS BIGINT)
             AS n_removed_tokens,
           coalesce(rs.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN rs USING (doc_id)""",
)
def q_substring_dedup(spark, sf_dir):
    """Destructive exact-substring dedup (round 4): every non-first
    occurrence (by (doc_id, pos)) of a duplicated 10-token window
    loses its covered tokens; the corpus keeps exactly one copy of
    each duplicated span. Surviving tokens are found by one per-doc
    scatter mask over the removable window starts, which is
    insensitive to collect_list arrival order."""
    from trendmachine_spark.extensions.dedup import strip_duplicated_spans

    return strip_duplicated_spans(_docs(spark, sf_dir), win=10)


@register(
    "training_corpus_clean",
    # compose: exact-substring strip -> drop emptied docs -> length
    # floor on the CLEAN text. CTEs are the substring_dedup oracle
    # verbatim plus the filter/projection.
    f"""WITH {_WINDOW_OCC_SQL},
    removable AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rk
        FROM occ
      ) WHERE rk > 1
    ),
    covered AS (
      SELECT DISTINCT doc_id, pos + j AS pos
      FROM removable, unnest(generate_series(0, 9)) AS t(j)
    ),
    toks AS (
      SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS tok
      FROM words
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM toks t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
      WHERE c.pos IS NULL
    ),
    rs AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           rs.n_kept AS n_tokens_clean,
           CAST(len(string_split(d.text, ' ')) - rs.n_kept AS BIGINT)
             AS n_removed_tokens
    FROM documents d JOIN rs USING (doc_id)
    WHERE rs.n_kept >= 20""",
)
def q_training_corpus_clean(spark, sf_dir):
    """Corpus funnel capstone on the round-4 substring dedup: strip
    every non-first duplicated-span occurrence, drop documents the
    strip emptied below a 20-token floor, report residual token
    counts. The length gate runs on the CLEAN text — a doc made of
    boilerplate passes raw length filters but fails here, which is the
    point of span-level dedup in a training-data funnel."""
    from trendmachine_spark.extensions.dedup import strip_duplicated_spans

    cleaned = strip_duplicated_spans(_docs(spark, sf_dir), win=10)
    kept = F.col("n_tokens") - F.col("n_removed_tokens")
    return (
        cleaned.filter(kept >= 20)
        .select(
            "doc_id",
            kept.cast("long").alias("n_tokens_clean"),
            "n_removed_tokens",
        )
    )
