"""Driver queries over ``functions/multimodal.py`` (media decode and features)."""

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions import multimodal
from png_from_pdf_extracter_spark.registry import query


@query(pin="tests/test_multimodal.py::test_features_deterministic")
def _q_media_features(spark, sf_dir):
    """Multimodal plumbing with the deterministic fake decoder (stub).
    ``feature`` is array<float> — serialized to JSON for the driver's
    row-sort canonicalizer (round-1 ERR fix)."""
    out = multimodal.extract_media_features(multimodal.synth_media(spark, 64))
    return out.select(
        "media_id",
        "kind",
        "n_bytes",
        "digest",
        F.to_json("feature").alias("feature_json"),
        "status",
        "error_class",
    )


@query(pin="tests/test_multimodal.py::test_frame_sampling_fanout")
def _q_media_frames(spark, sf_dir):
    """Video frame sampling: 1:N mapInPandas fan-out (stub frame decoder),
    rolled up per video — the per-page PNG enumeration analog."""
    media = multimodal.synth_media(spark, 64)
    frames = multimodal.sample_frames(media, every_ms=5000, max_frames=6)
    return frames.groupBy("media_id").agg(
        F.count("*").alias("n_frames"),
        F.max("ts_ms").alias("last_ts_ms"),
    )


@query(oracle="""
            WITH ids AS (SELECT i FROM generate_series(0, 59) t(i)),
            img AS (
              SELECT i,
                     8 + (i % 5) * 4 AS w,
                     8 + (i % 3) * 4 AS h,
                     CASE WHEN i % 4 = 0 THEN 1 ELSE 3 END AS ch
              FROM ids WHERE i % 3 = 0
            ),
            px AS (
              SELECT img.i, img.w, img.h, img.ch,
                     CASE
                       WHEN img.ch = 1 THEN (x * 13 + y * 7 + img.i * 29) % 256
                       WHEN c = 0 THEN (x * 11 + img.i * 17) % 256
                       WHEN c = 1 THEN (y * 19 + img.i * 5) % 256
                       ELSE (x + y + img.i) % 256
                     END AS v
              FROM img,
                   generate_series(0, 15) gy(y),
                   generate_series(0, 23) gx(x),
                   generate_series(0, 2) gc(c)
              WHERE y < img.h AND x < img.w AND c < img.ch
            ),
            stats AS (
              SELECT i::BIGINT AS media_id,
                     w::INTEGER AS width, h::INTEGER AS height,
                     ch::INTEGER AS channels,
                     (((SUM(v) * 10000) // COUNT(*)) / 10000.0)::DOUBLE
                       AS px_mean,
                     MIN(v)::INTEGER AS px_min, MAX(v)::INTEGER AS px_max,
                     'ok' AS status, '' AS error_class
              FROM px GROUP BY i, w, h, ch
            )
            SELECT * FROM stats
            UNION ALL
            SELECT i::BIGINT AS media_id,
                   NULL::INTEGER AS width, NULL::INTEGER AS height,
                   NULL::INTEGER AS channels, NULL::DOUBLE AS px_mean,
                   NULL::INTEGER AS px_min, NULL::INTEGER AS px_max,
                   'skipped' AS status, 'not_an_image' AS error_class
            FROM ids WHERE i % 3 <> 0
        """)
def _q_image_stats(spark, sf_dir):
    """REAL in-container image decode, value-checked: pure-stdlib PNG
    decode (zlib inflate + scanline unfilter, no PIL) of the synthetic
    gradient fixtures -> geometry + integer-exact pixel stats. The oracle
    recomputes the same stats in closed-form SQL because the fixture
    pixels are a pure function of (media_id, x, y) (``_synth_png``) — so
    what the value-hash pins is the DECODER itself. Reference analog: the
    real PNG production of pdf_converter.py:50-160."""
    out = multimodal.image_stats(multimodal.synth_media(spark, 60))
    return out.select(
        "media_id", "width", "height", "channels",
        "px_mean", "px_min", "px_max", "status", "error_class",
    )


@query(oracle="""
            WITH ids AS (SELECT i FROM generate_series(0, 59) t(i)),
            au AS (
              SELECT i,
                     1 + (i % 2) AS ch,
                     8000 * (1 + (i % 3)) AS rate,
                     (120 + (i * 17) % 180) * (1 + (i % 2)) AS n_total
              FROM ids WHERE i % 3 = 1
            ),
            sv AS (
              SELECT au.i, au.ch, au.rate, au.n_total,
                     ((au.i * 131 + t * 31 + (t * t) % 97) % 65536)
                       - 32768 AS s
              FROM au, generate_series(0, 599) g(t)
              WHERE t < au.n_total
            ),
            agg AS (
              SELECT i, ch, rate, n_total,
                     sum(s + 32768)::BIGINT AS shifted,
                     min(s)::INTEGER AS amp_min,
                     max(s)::INTEGER AS amp_max,
                     sum(s * s)::BIGINT AS energy
              FROM sv GROUP BY i, ch, rate, n_total
            )
            SELECT i::BIGINT AS media_id,
                   rate::INTEGER AS sample_rate,
                   ch::INTEGER AS channels,
                   (n_total // ch)::BIGINT AS n_frames,
                   ((n_total // ch) * 1000 // rate)::BIGINT
                     AS duration_ms,
                   ((shifted * 10000 // n_total)::DOUBLE / 10000)
                     - 32768 AS amp_mean,
                   amp_min, amp_max, energy,
                   'ok' AS status, '' AS error_class
            FROM agg
            UNION ALL
            SELECT i::BIGINT, NULL::INTEGER, NULL::INTEGER,
                   NULL::BIGINT, NULL::BIGINT, NULL::DOUBLE,
                   NULL::INTEGER, NULL::INTEGER, NULL::BIGINT,
                   'skipped', 'not_audio'
            FROM ids WHERE i % 3 <> 1
        """)
def _q_audio_stats(spark, sf_dir):
    """REAL in-container audio decode, value-checked: pure-stdlib WAV
    decode (functions/wavcodec.py — RIFF chunk walk + struct PCM
    unpack, no audio libs) of the synthetic waveform fixtures ->
    format + integer-exact amplitude stats. The oracle recomputes the
    same stats in closed-form SQL because the samples are a pure
    function of (media_id, t) (``_synth_wav``) — so the value-hash
    pins the DECODER itself, the q_image_stats move applied to the
    audio leg. Reference analog: the binary media transformation of
    pdf_converter.py:50-160."""
    return multimodal.audio_stats(multimodal.synth_media(spark, 60))


@query(oracle="""
            WITH ids AS (SELECT i FROM generate_series(0, 59) t(i)),
            vid AS (
              SELECT i,
                     8 + (i % 4) * 4 AS w,
                     8 + (i % 5) * 2 AS h,
                     2 + (i % 4) AS n_frames
              FROM ids WHERE i % 3 = 2
            ),
            px AS (
              SELECT vid.i, vid.w, vid.h, f,
                     (x * 7 + y * 13 + f * 29 + vid.i * 3) % 256 AS p
              FROM vid,
                   generate_series(0, 4) gf(f),
                   generate_series(0, 19) gx(x),
                   generate_series(0, 15) gy(y)
              WHERE f < vid.n_frames AND x < vid.w AND y < vid.h
            ),
            agg AS (
              SELECT i, w, h, f,
                     sum(p)::BIGINT AS s, count(*)::BIGINT AS npx,
                     min(p)::INTEGER AS px_min, max(p)::INTEGER AS px_max
              FROM px GROUP BY i, w, h, f
            )
            SELECT i::BIGINT AS media_id,
                   (f + 1)::INTEGER AS frame_idx,
                   w::INTEGER AS width, h::INTEGER AS height,
                   ((s * 10000 // npx)::DOUBLE / 10000) AS px_mean,
                   px_min, px_max,
                   'ok' AS status, '' AS error_class
            FROM agg
            UNION ALL
            SELECT i::BIGINT, NULL::INTEGER, NULL::INTEGER,
                   NULL::INTEGER, NULL::DOUBLE, NULL::INTEGER,
                   NULL::INTEGER, 'skipped', 'not_video'
            FROM ids WHERE i % 3 <> 2
        """)
def _q_video_stats(spark, sf_dir):
    """REAL in-container video decode, value-checked: pure-stdlib Y4M
    decode (functions/y4mcodec.py — header parse + raw luma planes) of
    the synthetic bitstream fixtures -> one row per frame with
    integer-exact luma stats. Frames are a pure function of
    (media_id, frame, x, y) (``_synth_y4m``), so the closed-form SQL
    oracle pins the DECODER — image (r3), audio (r4) and now video all
    run real decode in-container. Reference analog: the per-page PNG
    enumeration of pdf_converter.py:141-158."""
    return multimodal.video_stats(multimodal.synth_media(spark, 60))


@query(oracle="""
            WITH ids AS (SELECT i FROM generate_series(0, 59) t(i)),
            vid AS (
              SELECT i,
                     8 + (i % 4) * 4 AS w,
                     8 + (i % 5) * 2 AS h,
                     2 + (i % 4) AS n_frames
              FROM ids WHERE i % 3 = 2
            ),
            px AS (
              SELECT vid.i, vid.w, vid.h, f,
                     abs(((x * 7 + y * 13 + f * 29 + vid.i * 3) % 256)
                         - ((x * 7 + y * 13 + (f - 1) * 29 + vid.i * 3)
                            % 256)) AS d
              FROM vid,
                   generate_series(1, 4) gf(f),
                   generate_series(0, 19) gx(x),
                   generate_series(0, 15) gy(y)
              WHERE f < vid.n_frames AND x < vid.w AND y < vid.h
            ),
            agg AS (
              SELECT i, w, h, f,
                     sum(d)::BIGINT AS s, count(*)::BIGINT AS npx
              FROM px GROUP BY i, w, h, f
            )
            SELECT i::BIGINT AS media_id,
                   (f + 1)::INTEGER AS frame_idx,
                   w::INTEGER AS width, h::INTEGER AS height,
                   ((s * 10000 // npx)::DOUBLE / 10000) AS mad,
                   (((s * 10000 // npx)::DOUBLE / 10000) > 52.0
                     )::INTEGER AS is_cut,
                   'ok' AS status, '' AS error_class
            FROM agg
            UNION ALL
            SELECT i::BIGINT, NULL::INTEGER, NULL::INTEGER,
                   NULL::INTEGER, NULL::DOUBLE, NULL::INTEGER,
                   'skipped', 'not_video'
            FROM ids WHERE i % 3 <> 2
        """)
def _q_scene_cuts(spark, sf_dir):
    """Shot-boundary detection over REAL decoded Y4M video
    (multimodal.scene_cuts): per consecutive-frame mean absolute luma
    difference with the integer-exact floor-4dp quantization, cut flag
    at MAD > 52. The synthetic frames are a pure function of
    (media_id, frame, x, y), so the consecutive-frame diff — and thus
    the DECODER feeding it — is pinned by a closed-form SQL oracle,
    like q_video_stats. is_cut rides as INT 0/1: a NULLABLE BOOLEAN
    canonicalizes as None on the Spark side but NaN on the DuckDB side
    (numeric nulls collapse to NaN on both)."""
    return multimodal.scene_cuts(multimodal.synth_media(spark, 60)).withColumn(
        "is_cut", F.col("is_cut").cast("int")
    )


@query(
    pin="tests/test_multimodal.py::test_dhash_distinct_images_diverge_and_pairs_found"
)
def _q_image_phash(spark, sf_dir):
    """Perceptual-hash image dedup on REAL decoded pixels
    (multimodal.image_dhash + image_near_dup_pairs over the stdlib PNG
    codec): synthetic media corpus with PLANTED duplicates (each image
    re-encoded byte-identically under a shifted id), dHash per image,
    pigeonhole band join for pairs, per-image near-dup degree. Rows-
    only by design (no image decode in a SQL oracle); the collide /
    diverge / error-channel behaviors are pinned in
    tests/test_multimodal.py."""
    media = multimodal.synth_media(spark, 48).filter(
        F.col("kind") == "image"
    )
    dupes = media.select(
        (F.col("media_id") + 1000).alias("media_id"),
        "kind",
        "mime",
        "payload",
        "meta_width",
        "meta_height",
        "meta_duration_ms",
    )
    corpus = media.unionByName(dupes)
    hashes = multimodal.image_dhash(corpus)
    pairs = multimodal.image_near_dup_pairs(hashes, max_hamming=4)
    degree = (
        pairs.select(F.col("id1").alias("media_id"))
        .unionByName(pairs.select(F.col("id2").alias("media_id")))
        .groupBy("media_id")
        .agg(F.count("*").cast("long").alias("n_neardups"))
    )
    return (
        hashes.join(degree, "media_id", "left")
        .select(
            "media_id",
            "status",
            "dhash",
            F.coalesce("n_neardups", F.lit(0)).alias("n_neardups"),
        )
        .orderBy("media_id")
    )
