"""Multimodal queries over the derived asset table (north-star).

The asset table derives deterministically from ``documents``
(multimodal/assets.py), so every byte-level feature the Pandas UDFs
compute is restatable in SQL over the original text — which is what
makes these mapInPandas paths oracle-checkable: DuckDB's md5(varchar)
hashes the same UTF-8 bytes Spark's md5(binary) sees.

The pixel/audio queries go further: ``encode_media_payloads`` turns
each image/audio payload into a REAL PNG/WAV container (pixels/samples
= the md5-tiled deterministic arrays), and the featurize paths decode
them with the real stdlib codecs — so the graded dataflow is
parse-container → inflate → unfilter → pool on actual media, while the
decoded values remain an exact SQL function of md5(text). The
``*_digest`` twins keep the no-codec fallback path graded too.

``mean_byte`` (no tractable SQL restatement) is covered by
tests/test_multimodal.py instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparktrends_spark.multimodal.assets import (
    documents_to_assets,
    encode_media_payloads,
)
from sparktrends_spark.multimodal.featurize import extract_features, sample_frames
from sparktrends_spark.plans.registry import query
from sparktrends_spark.sources.tables import load_table, scan_parallel

_MODALITY_SQL = """
CASE WHEN doc_id % 3 = 0 THEN 'image'
     WHEN doc_id % 3 = 1 THEN 'audio'
     ELSE 'video' END
"""

_MIME_SQL = """
CASE WHEN doc_id % 3 = 0 THEN 'image/png'
     WHEN doc_id % 3 = 1 THEN 'audio/wav'
     ELSE 'video/mp4' END
"""


def _assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hashing/frame fan-out is CPU-bound: make sure the scan fans out.
    return documents_to_assets(
        scan_parallel(load_table(spark, sf_dir, "documents"))
    )


def _media_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asset table with real PNG/WAV payloads (encode is CPU-bound and
    chains into the decode pass — one fused mapInPandas stage, no
    shuffle between encode and featurize)."""
    return encode_media_payloads(_assets(spark, sf_dir))


@query(
    "asset_features",
    oracle=f"""
SELECT doc_id AS asset_id,
       {_MODALITY_SQL.strip()} AS modality,
       {_MIME_SQL.strip()} AS mime_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5,
       'byte_level' AS decode_status
FROM documents
""",
)
def q_asset_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction through Arrow-batched
    mapInPandas (decode stubbed -> byte-level features)."""
    feats = extract_features(_assets(spark, sf_dir))
    return feats.select(
        "asset_id", "modality", "mime_type", "n_bytes", "payload_md5", "decode_status"
    )


@query(
    "asset_frame_sample",
    oracle="""
SELECT asset_id,
       CAST(i AS INTEGER) AS frame_idx,
       CAST(i * 400 AS BIGINT) AS frame_ts_ms,
       md5(text || '#' || CAST(i AS VARCHAR)) AS frame_md5
FROM (
  SELECT doc_id AS asset_id, text,
         unnest(range(0, greatest(1, (1000 * (1 + doc_id % 10)) // 400))) AS i
  FROM documents WHERE doc_id % 3 = 2
)
""",
)
def q_asset_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame fan-out: 1 asset row -> N frame rows inside the
    Pandas batch (UDTF shape). Frame count = duration_ms // 400."""
    return sample_frames(_assets(spark, sf_dir), every_ms=400)


_PIXEL_ORACLE_BODY = """
SELECT doc_id AS asset_id,
       CAST(32 * (1 + doc_id % 8) AS INTEGER) AS width,
       CAST(32 * (1 + doc_id % 5) AS INTEGER) AS height,
       round(list_sum([CAST(concat('0x', substr(md5(text), i*2+1, 2)) AS BIGINT)
                       for i in range(0, 16)]) / 16.0, 6) AS mean_brightness,
       '{status}' AS decode_status
FROM documents WHERE doc_id % 3 = 0
"""


@query("asset_pixel_stats", oracle=_PIXEL_ORACLE_BODY.format(status="decoded"))
def q_asset_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel statistics per image through the REAL codec dataflow:
    encode_media_payloads writes each image as an actual PNG, and
    image_pixel_features decodes it back with the stdlib decoder
    (zlib inflate + scanline unfilter), then pools — container parse,
    decompression, filter reconstruction and array math all real,
    ``decode_status='decoded'``. Width/height come from the PNG
    header, not the metadata columns.

    Still value-oracle-able because the encoded pixels are the
    md5-tiled digest array (PNG is lossless, so decode returns it
    exactly): both dims are multiples of 32 so the tiling has no
    remainder and mean brightness collapses to digest_sum/16, which
    the SQL recomputes from md5(text) hex. Reference intent: the
    multimodal north star (BASELINE.json)."""
    from sparktrends_spark.multimodal.featurize import image_pixel_features

    feats = image_pixel_features(_media_assets(spark, sf_dir), grid=4)
    return feats.select(
        "asset_id",
        "width",
        "height",
        F.round("mean_brightness", 6).alias("mean_brightness"),
        "decode_status",
    )


@query(
    "asset_pixel_stats_digest",
    oracle=_PIXEL_ORACLE_BODY.format(status="fake_decode"),
)
def q_asset_pixel_stats_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-codec twin of asset_pixel_stats: same pooling dataflow over
    the deterministic fake decoder (md5-tiled pseudo-pixels straight
    from the text payload) — the degradation path an environment
    without even stdlib codecs would take, kept graded."""
    from sparktrends_spark.multimodal.featurize import image_pixel_features

    feats = image_pixel_features(_assets(spark, sf_dir), grid=4, use_codec=False)
    return feats.select(
        "asset_id",
        "width",
        "height",
        F.round("mean_brightness", 6).alias("mean_brightness"),
        "decode_status",
    )


@query(
    "asset_jpeg_stats",
    oracle="""
SELECT doc_id AS asset_id,
       CAST(32 * (1 + doc_id % 8) AS INTEGER) AS width,
       CAST(32 * (1 + doc_id % 5) AS INTEGER) AS height,
       round(CAST(CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS DOUBLE),
             6) AS mean_brightness,
       'decoded' AS decode_status
FROM documents WHERE doc_id % 3 = 0
""",
)
def q_asset_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel statistics through the REAL JPEG codec end-to-end:
    encode_media_payloads(image_codec='jpeg') writes each image as an
    actual baseline JFIF (markers, Annex-K tables, Huffman entropy
    coding, DCT), and image_pixel_features decodes it back with the
    pure-numpy baseline decoder (multimodal/jpeg.py) — huffman decode,
    dequantize, un-zigzag, IDCT, YCbCr→RGB. Width/height come from the
    SOF0 header.

    Value-oracle-able despite JPEG being lossy: the encoded pixels are
    the CONSTANT color v = first md5(text) byte, a constant block has
    DC = 8·(v−128) and zero AC, and the quality-75 luma DC quantizer
    is exactly 8 — so the full chain round-trips bit-exactly and mean
    brightness collapses to v, which the SQL recomputes from md5(text)
    hex. The general lossy path is PSNR-tested in
    tests/test_multimodal_codecs.py."""
    from sparktrends_spark.multimodal.featurize import image_pixel_features

    media = encode_media_payloads(_assets(spark, sf_dir), image_codec="jpeg")
    feats = image_pixel_features(media, grid=4)
    return feats.select(
        "asset_id",
        "width",
        "height",
        F.round("mean_brightness", 6).alias("mean_brightness"),
        "decode_status",
    )


@query(
    "asset_mp4_frames",
    oracle="""
SELECT asset_id,
       CAST(i AS INTEGER) AS frame_idx,
       CAST(i * 400 AS BIGINT) AS frame_ts_ms,
       md5(text || '#' || CAST(i AS VARCHAR)) AS frame_md5
FROM (
  SELECT doc_id AS asset_id, text,
         unnest(range(0, greatest(1, (1000 * (1 + doc_id % 10)) // 400))) AS i
  FROM documents WHERE doc_id % 3 = 2
)
""",
)
def q_asset_mp4_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame fan-out through the REAL MP4 container end-to-end:
    encode_media_payloads(video_codec='mp4') muxes each video's frame
    digests into an actual ISO-BMFF file (ftyp/mdat/moov with
    stts/stsc/stsz/stco sample tables), and demux_frames walks the box
    tree and slices every sample back out of mdat with its stts
    timestamp (multimodal/mp4.py). Frame count, timestamps and bytes
    all come from the container — the oracle restates them from the
    generator function (sample i = md5(text#i), ts = i·400 ms).
    ``asset_frame_sample`` remains the metadata-math twin."""
    from sparktrends_spark.multimodal.featurize import demux_frames

    media = encode_media_payloads(_assets(spark, sf_dir), video_codec="mp4")
    return demux_frames(media)


@query(
    "asset_jpeg_progressive_stats",
    oracle="""
SELECT doc_id AS asset_id,
       CAST(32 * (1 + doc_id % 8) AS INTEGER) AS width,
       CAST(32 * (1 + doc_id % 5) AS INTEGER) AS height,
       round(CAST(CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS DOUBLE),
             6) AS mean_brightness,
       'decoded' AS decode_status
FROM documents WHERE doc_id % 3 = 0
""",
)
def q_asset_jpeg_progressive_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same pixel statistics through PROGRESSIVE JPEG (SOF2):
    encode_media_payloads(image_codec='jpeg_progressive') writes each
    image with the 10-scan spectral-selection + successive-
    approximation script (multimodal/jpeg.py:encode_jpeg_progressive)
    and the multi-scan decoder reconstructs coefficients across DC
    first/refine and banded AC first/refine scans before one IDCT
    pass. Shares `asset_jpeg_stats`' oracle: progressive restructures
    only the entropy-coded scans, so the decoded pixels are
    bit-identical to baseline — the graded pair proves it on real
    data (and a property test proves it on random images)."""
    from sparktrends_spark.multimodal.featurize import image_pixel_features

    media = encode_media_payloads(
        _assets(spark, sf_dir), image_codec="jpeg_progressive"
    )
    feats = image_pixel_features(media, grid=4)
    return feats.select(
        "asset_id",
        "width",
        "height",
        F.round("mean_brightness", 6).alias("mean_brightness"),
        "decode_status",
    )


@query(
    "asset_exif_stats",
    oracle="""
SELECT doc_id AS asset_id,
       CAST(1 + doc_id % 8 AS INTEGER) AS orientation,
       CAST(100 * (1 + doc_id % 16) AS INTEGER) AS iso,
       CAST(125 * (1 + doc_id % 4) AS BIGINT) AS exposure_den,
       'SparkTrends CamSim' AS camera,
       concat('2026:01:', lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0'),
              ' 12:00:00') AS shot_at,
       TRUE AS has_exif
FROM documents WHERE doc_id % 3 = 0
""",
)
def q_asset_exif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exif metadata mining through the REAL APP1/TIFF structure:
    embed_exif_payloads splices a deterministic Exif segment (IFD0 +
    Exif sub-IFD, big-endian TIFF) into each real JPEG, and
    image_exif_features parses it back tag by tag
    (multimodal/exif.py) — orientation, ISO, exposure denominator,
    camera make+model, capture time. The oracle restates every field
    from doc_id, so the graded row proves the writer AND parser agree
    on the wire format. The scrub direction (strip_exif) is
    unit-tested; pixels are untouched either way."""
    from sparktrends_spark.multimodal.assets import embed_exif_payloads
    from sparktrends_spark.multimodal.featurize import image_exif_features

    media = embed_exif_payloads(
        encode_media_payloads(_assets(spark, sf_dir), image_codec="jpeg")
    )
    return image_exif_features(media)


@query(
    "asset_exif_scrubbed",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_images,
       CAST(0 AS BIGINT) AS n_with_exif,
       round(avg(CAST(CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT)
                 AS DOUBLE)), 6) AS mean_brightness_all
FROM documents WHERE doc_id % 3 = 0
""",
)
def q_asset_exif_scrubbed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PII-scrub direction graded end-to-end: embed Exif into every
    real JPEG, STRIP it (`exif.strip_exif` — APP1 removed, entropy data
    untouched), then prove with the parser that zero images still carry
    metadata AND with the pixel decoder that brightness is unchanged
    (the scrub may not touch image content). Oracle: exact image count,
    literal zero Exif survivors, and the constant-color mean restated
    from md5(text) — averaging per-image integers, deterministic.

    Dataflow: encode + ONE fused embed→strip→reparse→decode stage
    (featurize.exif_scrub_verify) — 2 MapInPandas total, plan-asserted;
    the earlier 4-pass formulation (separate embed/strip/parse/decode)
    shipped every payload through Arrow four times and ran ~2x slower."""
    from sparktrends_spark.multimodal.featurize import exif_scrub_verify

    media = encode_media_payloads(_assets(spark, sf_dir), image_codec="jpeg")
    verified = exif_scrub_verify(media)
    return verified.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_images"),
        F.coalesce(
            F.sum(F.when(F.col("has_exif"), 1)), F.lit(0)
        ).cast("bigint").alias("n_with_exif"),
        F.round(F.avg("mean_brightness"), 6).alias("mean_brightness_all"),
    )


@query(
    "asset_fmp4_frames",
    oracle="""
SELECT asset_id,
       CAST(i AS INTEGER) AS frame_idx,
       CAST(i * 400 AS BIGINT) AS frame_ts_ms,
       md5(text || '#' || CAST(i AS VARCHAR)) AS frame_md5
FROM (
  SELECT doc_id AS asset_id, text,
         unnest(range(0, greatest(1, (1000 * (1 + doc_id % 10)) // 400))) AS i
  FROM documents WHERE doc_id % 3 = 2
)
""",
)
def q_asset_fmp4_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same frame fan-out through FRAGMENTED MP4 (fMP4 — the
    DASH/HLS/live layout: moov/mvex declaration + per-fragment
    moof(tfhd/tfdt/trun) + mdat): encode_media_payloads muxes each
    video's digests with encode_fmp4 (4 frames per fragment) and
    demux_frames walks every fragment's trun sample runs
    (multimodal/mp4.py:_decode_fragments). Identical oracle to
    `asset_mp4_frames` because the demuxed sample list is defined to
    be layout-independent — the graded pair proves it on real data."""
    from sparktrends_spark.multimodal.featurize import demux_frames

    media = encode_media_payloads(_assets(spark, sf_dir), video_codec="fmp4")
    return demux_frames(media)


_AUDIO_ORACLE_BODY = """
WITH aud AS (
  SELECT doc_id AS asset_id, md5(text) AS hx,
         CAST(8000 * (1 + doc_id % 10) AS BIGINT) AS n_samples
  FROM documents WHERE doc_id % 3 = 1
),
s AS (
  SELECT asset_id, n_samples,
         [CAST(concat('0x', substr(hx, i*4+1, 2)) AS BIGINT)
          + 256 * CAST(concat('0x', substr(hx, i*4+3, 2)) AS BIGINT)
          for i in range(0, 8)] AS raw
  FROM aud
),
v AS (
  SELECT asset_id, n_samples,
         list_transform(raw, x -> CASE WHEN x >= 32768 THEN x - 65536 ELSE x END) AS smp
  FROM s
)
SELECT asset_id, n_samples,
       round(sqrt(list_sum(list_transform(smp, x -> CAST(x*x AS DOUBLE))) / 8.0), 6) AS rms,
       CAST(list_max(list_transform(smp, x -> abs(x))) AS INTEGER) AS peak,
       '{status}' AS decode_status
FROM v
"""


@query("asset_audio_stats", oracle=_AUDIO_ORACLE_BODY.format(status="decoded"))
def q_asset_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample statistics per audio asset through the REAL codec
    dataflow: encode_media_payloads writes each payload as an actual
    PCM16 WAV, audio_sample_features decodes it back with the stdlib
    ``wave`` reader (``decode_status='decoded'``; n_samples from the
    decoded array, not metadata).

    Oracle-able because WAV PCM is lossless and the encoded samples
    are the md5-tiled int16 array: sample counts are multiples of the
    8 int16 values one digest tiles into, so RMS/peak collapse to
    exact statistics of those 8 values, recomputed in SQL from
    md5(text) hex (little-endian int16 pairs)."""
    from sparktrends_spark.multimodal.featurize import audio_sample_features

    feats = audio_sample_features(_media_assets(spark, sf_dir))
    return feats.select(
        "asset_id",
        "n_samples",
        F.round("rms", 6).alias("rms"),
        "peak",
        "decode_status",
    )


@query(
    "asset_audio_stats_digest",
    oracle=_AUDIO_ORACLE_BODY.format(status="fake_decode"),
)
def q_asset_audio_stats_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-codec twin of asset_audio_stats: the same signal-stats
    dataflow over the deterministic fake decoder, kept graded as the
    fallback path."""
    from sparktrends_spark.multimodal.featurize import audio_sample_features

    feats = audio_sample_features(_assets(spark, sf_dir), use_codec=False)
    return feats.select(
        "asset_id",
        "n_samples",
        F.round("rms", 6).alias("rms"),
        "peak",
        "decode_status",
    )


@query(
    "modality_stats",
    oracle=f"""
SELECT {_MODALITY_SQL.strip()} AS modality,
       count(*) AS n_assets,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       round(avg(octet_length(encode(text))), 4) AS avg_bytes
FROM documents
GROUP BY 1
""",
)
def q_modality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage accounting per modality straight off the binary column —
    no UDF: length(binary) is JVM-side."""
    a = _assets(spark, sf_dir)
    return a.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.length("payload")).cast("bigint").alias("total_bytes"),
        F.round(F.avg(F.length("payload")), 4).alias("avg_bytes"),
    )


@query(
    "asset_extra_map",
    oracle=f"""
SELECT source, {_MODALITY_SQL.strip()} AS modality, count(*) AS n
FROM documents
GROUP BY source, 2
""",
)
def q_asset_extra_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType metadata access (SURVEY §1.2 'not used anywhere — engine
    should still expose'): group by a key pulled from the extra map."""
    a = _assets(spark, sf_dir)
    return a.groupBy(
        F.col("extra")["source"].alias("source"), "modality"
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "asset_quality_filter",
    oracle="""
WITH img AS (
  SELECT doc_id AS asset_id, 'image' AS modality,
         list_sum([CAST(concat('0x', substr(md5(text), i*2+1, 2)) AS BIGINT)
                   for i in range(0, 16)]) / 16.0 AS brightness,
         CAST(NULL AS DOUBLE) AS rms, CAST(NULL AS INTEGER) AS peak
  FROM documents WHERE doc_id % 3 = 0
),
aud0 AS (
  SELECT doc_id AS asset_id, md5(text) AS hx FROM documents WHERE doc_id % 3 = 1
),
aud1 AS (
  SELECT asset_id,
         [CAST(concat('0x', substr(hx, i*4+1, 2)) AS BIGINT)
          + 256 * CAST(concat('0x', substr(hx, i*4+3, 2)) AS BIGINT)
          for i in range(0, 8)] AS raw
  FROM aud0
),
aud AS (
  SELECT asset_id, 'audio' AS modality, CAST(NULL AS DOUBLE) AS brightness,
         sqrt(list_sum(list_transform(smp, x -> CAST(x*x AS DOUBLE))) / 8.0) AS rms,
         CAST(list_max(list_transform(smp, x -> abs(x))) AS INTEGER) AS peak
  FROM (SELECT asset_id,
               list_transform(raw, x -> CASE WHEN x >= 32768 THEN x - 65536 ELSE x END) AS smp
        FROM aud1)
)
SELECT asset_id, modality,
       CASE WHEN modality = 'image' THEN brightness >= 16.0 AND brightness <= 240.0
            ELSE rms >= 1000.0 AND peak <= 32600 END AS keep,
       CASE WHEN modality = 'image' AND (brightness < 16.0 OR brightness > 240.0)
              THEN 'brightness_out_of_range'
            WHEN modality = 'audio' AND rms < 1000.0 THEN 'too_quiet'
            WHEN modality = 'audio' AND peak > 32600 THEN 'clipping'
            ELSE 'ok' END AS reason
FROM (SELECT * FROM img UNION ALL SELECT * FROM aud)
""",
)
def q_asset_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media curation verdicts off the REAL codec outputs — the
    decode→stats→filter composite a training-data pipeline runs before
    admitting media: images dropped outside a brightness band (near-
    black/near-white = likely junk), audio dropped for silence or
    clipping. Thresholds are JVM expressions over the decoded-feature
    frames (one mapInPandas pass each, union, no shuffle); the oracle
    restates the decoded statistics from md5(text) exactly as the
    asset_pixel_stats / asset_audio_stats oracles do.

    Each union branch filters its modality BEFORE the encode pass, so
    no asset is ever encoded (or scanned) for a branch that would
    discard it — at 100 TB that halves the codec CPU of the fused
    encode->decode stage."""
    from sparktrends_spark.multimodal.featurize import (
        audio_sample_features,
        image_pixel_features,
    )

    assets = _assets(spark, sf_dir)
    img_media = encode_media_payloads(assets.filter(F.col("modality") == "image"))
    aud_media = encode_media_payloads(assets.filter(F.col("modality") == "audio"))
    img = image_pixel_features(img_media, grid=4).select(
        "asset_id",
        F.lit("image").alias("modality"),
        F.col("mean_brightness").alias("brightness"),
        F.lit(None).cast("double").alias("rms"),
        F.lit(None).cast("int").alias("peak"),
    )
    aud = audio_sample_features(aud_media).select(
        "asset_id",
        F.lit("audio").alias("modality"),
        F.lit(None).cast("double").alias("brightness"),
        "rms",
        "peak",
    )
    u = img.unionByName(aud)
    keep = F.when(
        F.col("modality") == "image",
        (F.col("brightness") >= 16.0) & (F.col("brightness") <= 240.0),
    ).otherwise((F.col("rms") >= 1000.0) & (F.col("peak") <= 32600))
    reason = (
        F.when(
            (F.col("modality") == "image")
            & ((F.col("brightness") < 16.0) | (F.col("brightness") > 240.0)),
            F.lit("brightness_out_of_range"),
        )
        .when(
            (F.col("modality") == "audio") & (F.col("rms") < 1000.0),
            F.lit("too_quiet"),
        )
        .when(
            (F.col("modality") == "audio") & (F.col("peak") > 32600),
            F.lit("clipping"),
        )
        .otherwise(F.lit("ok"))
    )
    return u.select(
        "asset_id", "modality", keep.alias("keep"), reason.alias("reason")
    )


@query(
    "asset_mp4_pixel_frames",
    oracle="""
SELECT asset_id,
       CAST(i AS INTEGER) AS frame_idx,
       CAST(i * 400 AS BIGINT) AS frame_ts_ms,
       CAST(16 AS INTEGER) AS width,
       CAST(16 AS INTEGER) AS height,
       round(list_sum([CAST(concat('0x', substr(md5(text || '#' || CAST(i AS VARCHAR)), j*2+1, 2)) AS BIGINT)
                       for j in range(0, 16)]) / 16.0, 6) AS mean_brightness
FROM (
  SELECT doc_id AS asset_id, text,
         unnest(range(0, greatest(1, (1000 * (1 + doc_id % 10)) // 400))) AS i
  FROM documents WHERE doc_id % 3 = 2
)
""",
)
def q_asset_mp4_pixel_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NESTED two-codec dataflow graded end-to-end: each video is a
    real MP4 whose samples are real 16x16 PNG frames
    (video_codec='mp4_png'); demux_frame_pixels walks the box tree,
    slices each sample out of mdat, PNG-decodes it (inflate +
    unfilter) and pools pixels — exactly the clip → sample → decode →
    per-frame-features chain a video training pipeline runs.

    Oracle-able because frame i's pixels are the md5-tiled array of
    ``text#i`` (16x16x3 = 768 bytes = 48 digests, no tiling
    remainder), so per-frame mean brightness collapses to
    digest_sum/16 of ``md5(text || '#' || i)``, and PNG is lossless."""
    from sparktrends_spark.multimodal.featurize import demux_frame_pixels

    media = encode_media_payloads(_assets(spark, sf_dir), video_codec="mp4_png")
    feats = demux_frame_pixels(media)
    return feats.select(
        "asset_id",
        "frame_idx",
        "frame_ts_ms",
        "width",
        "height",
        F.round("mean_brightness", 6).alias("mean_brightness"),
    )


@query(
    "asset_decode_health",
    oracle=f"""
SELECT doc_id AS asset_id,
       {_MODALITY_SQL.strip()} AS modality,
       CASE WHEN doc_id % 5 = 0 THEN 'corrupt' ELSE 'decoded' END AS decode_status
FROM documents
""",
)
def q_asset_decode_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode ERROR path graded end-to-end: every payload becomes a
    real container (PNG/WAV/MP4), every 5th asset is then torn in half
    (corrupt_payloads — a pure-JVM binary substr), and decode_health
    probes each object with the real decoders, quarantining torn ones
    as 'corrupt' instead of failing the task. A 100 TB media lake
    always contains torn objects; this certifies the engine's
    ValueError-only decoder contract under real corruption, per
    container format. The oracle restates the injected corruption set
    (and implicitly that every intact container fully decodes)."""
    from sparktrends_spark.multimodal.assets import corrupt_payloads
    from sparktrends_spark.multimodal.featurize import decode_health

    media = encode_media_payloads(_assets(spark, sf_dir), video_codec="mp4")
    return decode_health(corrupt_payloads(media, mod=5))


@query(
    "asset_features_arrow",
    oracle=f"""
SELECT doc_id AS asset_id,
       {_MODALITY_SQL.strip()} AS modality,
       {_MIME_SQL.strip()} AS mime_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5,
       'byte_level' AS decode_status
FROM documents
""",
)
def q_asset_features_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asset_features through ``mapInArrow`` — the zero-copy Arrow
    variant of the Pandas-batched surface, pinned to the identical
    oracle so the two §2.11 execution paths must hash the same."""
    from sparktrends_spark.multimodal.featurize import extract_features_arrow

    feats = extract_features_arrow(_assets(spark, sf_dir))
    return feats.select(
        "asset_id", "modality", "mime_type", "n_bytes", "payload_md5", "decode_status"
    )
