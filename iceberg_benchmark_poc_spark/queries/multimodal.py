"""Multimodal-column queries: real encoded images through Arrow-batched UDFs.

Image/audio/video columns at 100 TB are opaque BINARY payloads with typed
metadata; decode/resize/frame-sample run as mapInPandas stages over a REAL
dependency-free decoder (operators/multimodal.py — P6/P5 Netpbm, 24-bit
BMP, and zlib-compressed PNG). Here every document's text is encoded into a
genuine image payload, container cycled per doc_id across all four formats
(square-ish raster, tail padded by repeating the last byte), the pipeline
decodes it back executor-side, and every feature is computed from the
DECODED pixels. Because the encoding geometry is closed-form (width
ceil(sqrt(n)), clamp padding), the DuckDB oracle reconstructs the exact
raster with substr/repeat and the whole decode path — header parsing, RGB
-> luminance, Arrow binary transport — is hash-gated like every scalar
operator.

The shared oracle CTE: gray == text || repeat(last_char, in_w*in_h - n),
i.e. raster[i] == text[min(i, n-1)].
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.io import load_table, spread_narrow
from ..core.registry import register
from ..operators.multimodal import (
    AUDIO_RATE,
    AUDIO_SAMPLES_PER_CHAR,
    AUDIO_WIN,
    EMBED_DIM,
    FRAME_BYTES,
    RESIZE_H,
    RESIZE_W,
    VIDEO_CHARS_PER_FRAME,
    VIDEO_H,
    VIDEO_MAX_FRAMES,
    VIDEO_W,
    audio_features,
    media_embedding,
    media_features,
    resize_media,
    sample_frames,
    text_to_image,
    text_to_ppm,
    text_to_wav,
    text_to_avi,
    video_features,
)

#: the oracle's reconstruction of the decoded raster (documents are ASCII,
#: so byte slices == char slices; greatest(..., 1) mirrors square_grid's
#: 1x1 floor for empty payloads — the fixture has none, but both sides
#: stay defined)
_GRAY_CTE = """
        dims AS (
          SELECT doc_id, text, length(text) AS n,
                 GREATEST(CAST(ceil(sqrt(length(text))) AS BIGINT), 1) AS in_w
          FROM documents
        ),
        d2 AS (
          SELECT *, GREATEST(CAST(ceil(CAST(n AS DOUBLE) / in_w) AS BIGINT), 1) AS in_h
          FROM dims
        ),
        raster AS (
          SELECT doc_id, n, in_w, in_h,
                 text || repeat(substr(text, CAST(n AS INTEGER), 1),
                                CAST(in_w * in_h - n AS INTEGER)) AS gray
          FROM d2
        )
"""


def _ppm_payloads(d: DataFrame) -> DataFrame:
    """Encode each document's text as a real binary image payload, the
    container chosen by ``doc_id % 4``: P6 PPM, P5 PGM, 24-bit BMP, or PNG
    (compressed — zlib IDAT, cycled row filters).

    All four containers decode to the identical grayscale raster, so every
    image oracle stays container-independent while every decoder — including
    the PNG inflate/unfilter path — runs inside the hash-gated pipeline.
    An Arrow-batched pandas UDF — the encode half of the codec round-trip
    the queries then decode executor-side. In production the binary column
    arrives already encoded; this stage is the fixture writer.

    The scan is spread before the encode UDF: encode + decode + features are
    all per-doc map work, so a single-row-group local scan would otherwise
    run the whole codec band in ONE task (r12 A/B: q_video_features 1.75x,
    q_media_embed 1.34x, q_frame_sample 1.23x — commit e9022f9).
    """
    d = spread_narrow(d, "doc_id")
    enc = F.pandas_udf(
        lambda doc_id, s: pd.Series(
            [
                text_to_image(t.encode("utf-8"), int(i) % 4)
                for i, t in zip(doc_id, s)
            ]
        ),
        "binary",
    )
    return d.select("doc_id", enc(F.col("doc_id"), F.col("text")).alias("payload"))


@register(
    "q_media_features",
    oracle=f"""
        WITH {_GRAY_CTE}
        SELECT doc_id,
               CAST(in_w AS INTEGER)                              AS width,
               CAST(in_h AS INTEGER)                              AS height,
               in_w * in_h                                        AS n_pixels,
               CAST(ascii(substr(gray, 1, 1)) AS INTEGER)         AS first_pixel,
               in_w * in_h // {FRAME_BYTES} + 1                   AS n_frames
        FROM raster
        """,
    tags=("multimodal", "pandas-udf"),
)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature extraction via Arrow-batched mapInPandas.

    The payload is a real image (PPM/PGM/BMP/PNG by doc_id); the operator
    dispatches on magic bytes, reduces RGB to luminance (PNG additionally
    inflates + unfilters), and reports the TRUE decoded geometry. The
    oracle recomputes the encoding geometry in closed form — a header
    parsing or luminance bug breaks width/height/first_pixel immediately.
    """
    d = load_table(spark, sf_dir, "documents")
    return media_features(_ppm_payloads(d))


@register(
    "q_frame_sample",
    oracle=f"""
        WITH {_GRAY_CTE},
        frames AS (
          SELECT doc_id, gray,
                 CAST(unnest(generate_series(0, in_w * in_h // {FRAME_BYTES})) AS INTEGER)
                   AS frame_idx
          FROM raster
        )
        SELECT doc_id,
               frame_idx,
               CAST(length(substr(gray, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES})) AS INTEGER)
                 AS frame_len,
               md5(substr(gray, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES})) AS frame_md5
        FROM frames
        """,
    tags=("multimodal", "pandas-udf", "frames"),
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the decoded raster: row-expanding mapInPandas.

    Each payload decodes to w*h pixels and fans out to w*h//256+1 frames
    executor-side (the video -> frames / audio -> windows shape); the
    oracle reconstructs every frame of the padded raster with substr and
    must agree on both length and md5 — any decode, batching or slicing
    error in the Arrow path breaks the hash.
    """
    d = load_table(spark, sf_dir, "documents")
    frames = sample_frames(_ppm_payloads(d))
    return frames.select(
        "doc_id",
        "frame_idx",
        F.length("frame").alias("frame_len"),
        F.md5("frame").alias("frame_md5"),
    )


@register(
    "q_media_embed",
    oracle=f"""
        WITH {_GRAY_CTE},
        chars AS (
          SELECT doc_id, ascii(c) * {EMBED_DIM} // 256 AS bucket
          FROM (SELECT doc_id, unnest(string_split_regex(gray, '')) AS c FROM raster)
          WHERE c <> ''
        ),
        counts AS (SELECT doc_id, bucket, count(*) AS n FROM chars GROUP BY 1, 2),
        grid AS (
          SELECT d.doc_id, r.range AS bucket FROM documents d, range({EMBED_DIM}) r
        )
        SELECT g.doc_id,
               string_agg(CAST(COALESCE(c.n, 0) AS VARCHAR), ',' ORDER BY g.bucket) AS embedding_csv
        FROM grid g LEFT JOIN counts c ON c.doc_id = g.doc_id AND c.bucket = g.bucket
        GROUP BY g.doc_id
        """,
    tags=("multimodal", "pandas-udf", "embeddings"),
)
def q_media_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media -> vector bridge: luminance-histogram embeddings of decoded pixels.

    The handoff from the binary column to the similarity stack: payloads
    decode executor-side, the UDF emits an ARRAY column (a real model would
    emit float activations), and the result joins/kNNs like the embeddings
    table. Serialized to CSV for the oracle comparison only — downstream
    consumers use the array column.
    """
    d = load_table(spark, sf_dir, "documents")
    emb = media_embedding(_ppm_payloads(d))
    return emb.select(
        "doc_id", F.array_join("embedding", ",").alias("embedding_csv")
    )


@register(
    "q_media_resize",
    oracle=f"""
        WITH {_GRAY_CTE},
        px AS (
          SELECT doc_id, gray, p.range AS pix,
                 ((p.range // {RESIZE_W}) * in_h // {RESIZE_H}) * in_w
                   + ((p.range % {RESIZE_W}) * in_w // {RESIZE_W}) AS idx
          FROM raster, range({RESIZE_W * RESIZE_H}) p
        )
        SELECT doc_id,
               CAST({RESIZE_W} AS INTEGER) AS width,
               CAST({RESIZE_H} AS INTEGER) AS height,
               md5(string_agg(substr(gray, CAST(idx + 1 AS INTEGER), 1), '' ORDER BY pix))
                 AS pixels_md5
        FROM px
        GROUP BY doc_id
        """,
    tags=("multimodal", "pandas-udf", "resize"),
)
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor resize over the image's true decoded geometry.

    Completes the decode/feature/resize/frame-sample stage set: every
    output pixel picks source (x * in_w // 8, y * in_h // 8) of the decoded
    raster, and the oracle recomputes each source index with integer
    arithmetic over the reconstructed padded raster — any off-by-one in
    the header parse, resampling, or Arrow binary round-trip breaks the md5.
    """
    d = load_table(spark, sf_dir, "documents")
    thumbs = resize_media(_ppm_payloads(d))
    return thumbs.select("doc_id", "width", "height", F.md5("pixels").alias("pixels_md5"))


# ---------------------------------------------------------------------------
# audio: WAV payloads through the decode-first feature pipeline
# ---------------------------------------------------------------------------

#: oracle-side sample bound: fixture texts top out under 600 chars (x4
#: samples/char), so 4096 covers them with 40% headroom at every SF (the
#: scale-up duplicates texts, never lengthens them)
_AUDIO_MAX_SAMPLES = 4096


def _wav_payloads(d: DataFrame) -> DataFrame:
    """Synthesize each document's deterministic PCM16 waveform and encode it
    as a real RIFF/WAVE payload (the audio twin of ``_ppm_payloads``,
    including the pre-encode spread of a narrow scan)."""
    d = spread_narrow(d, "doc_id")
    enc = F.pandas_udf(lambda s: s.map(lambda t: text_to_wav(t.encode("utf-8"))), "binary")
    return d.select("doc_id", enc(F.col("text")).alias("payload"))


@register(
    "q_audio_features",
    oracle=f"""
        WITH chars AS (
          SELECT doc_id, text, length(text) AS n,
                 length(text) * {AUDIO_SAMPLES_PER_CHAR} AS total
          FROM documents
        ),
        samples AS (
          -- DuckDB's range() cannot take a lateral column bound, so cross
          -- with a constant range and filter (the q_dv_apply pattern).
          -- {_AUDIO_MAX_SAMPLES} comfortably bounds the fixture's longest
          -- text x {AUDIO_SAMPLES_PER_CHAR}; a longer text would truncate
          -- the oracle and the hash gate would flag it immediately.
          SELECT c.doc_id, c.total, i.range AS i,
                 ((ascii(substr(c.text, CAST(i.range % c.n AS INTEGER) + 1, 1)) * 523
                   + i.range * 7919) % 65536) - 32768 AS s
          FROM chars c, range({_AUDIO_MAX_SAMPLES}) i
          WHERE i.range < c.total
        ),
        wins AS (
          SELECT doc_id, i // {AUDIO_WIN} AS w, SUM(s * s) AS we
          FROM samples GROUP BY doc_id, w
        ),
        loudest AS (
          SELECT doc_id, w FROM (
            SELECT doc_id, w,
                   row_number() OVER (PARTITION BY doc_id ORDER BY we DESC, w ASC) AS rk
            FROM wins
          ) WHERE rk = 1
        ),
        lagged AS (
          SELECT doc_id, s,
                 lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
          FROM samples
        ),
        per_doc AS (
          SELECT doc_id,
                 CAST(SUM(s * s) AS BIGINT) AS energy_sq,
                 CAST(MAX(ABS(s)) AS INTEGER) AS max_abs
          FROM samples GROUP BY doc_id
        ),
        zc AS (
          SELECT doc_id,
                 count(*) FILTER (WHERE prev IS NOT NULL AND (s >= 0) != (prev >= 0))
                   AS zero_crossings
          FROM lagged GROUP BY doc_id
        )
        SELECT c.doc_id,
               CAST({AUDIO_RATE} AS INTEGER)                      AS sample_rate,
               CAST(c.total AS BIGINT)                            AS n_samples,
               p.energy_sq,
               p.max_abs,
               CAST(z.zero_crossings AS BIGINT)                   AS zero_crossings,
               CAST(l.w AS BIGINT)                                AS loudest_win,
               (c.total + {AUDIO_WIN} - 1) // {AUDIO_WIN}         AS n_windows
        FROM chars c
        JOIN per_doc p USING (doc_id)
        JOIN zc z USING (doc_id)
        JOIN loudest l USING (doc_id)
        """,
    tags=("multimodal", "audio", "pandas-udf"),
)
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio features from real RIFF/WAVE payloads.

    Extends the multimodal band from images to audio: the payload is a
    genuine WAV file (RIFF header, fmt/data chunks) whose PCM16 samples
    derive from the document text by pure integer arithmetic; the operator
    walks the chunks with a real parser (operators/multimodal.py decode_wav
    — skips unknown chunks, validates PCM16 mono) and computes energy,
    peak, zero crossings, and the loudest 256-sample window from the
    DECODED frames. The oracle replays the synthesis formula sample by
    sample in SQL — a header, chunk-walk, or endianness bug breaks every
    column immediately. All-integer features, so the gate is hash-exact.

    Scale: one Arrow-batched mapInPandas pass, no shuffle; at 100 TB the
    payload column streams through executors exactly like the image band.
    """
    d = load_table(spark, sf_dir, "documents")
    return audio_features(_wav_payloads(d))


# ---------------------------------------------------------------------------
# video: AVI payloads through the decode-first feature pipeline
# ---------------------------------------------------------------------------


def _avi_payloads(d: DataFrame) -> DataFrame:
    """Synthesize each document's deterministic multi-frame video and encode
    it as a real uncompressed AVI container (the video twin of
    ``_ppm_payloads`` / ``_wav_payloads``, including the pre-encode spread
    of a narrow scan)."""
    d = spread_narrow(d, "doc_id")
    enc = F.pandas_udf(lambda s: s.map(lambda t: text_to_avi(t.encode("utf-8"))), "binary")
    return d.select("doc_id", enc(F.col("text")).alias("payload"))


_VIDEO_PX = VIDEO_W * VIDEO_H
#: frame f, pixel i of a video synthesized from ``text`` (1-based substr)
_VID_SAMPLE = "ascii(substr(text, CAST((i.range * 3 + {f} * 7) % n AS INTEGER) + 1, 1))"


@register(
    "q_video_features",
    oracle=f"""
        WITH docs AS (
          SELECT doc_id, text, length(text) AS n,
                 LEAST(1 + length(text) // {VIDEO_CHARS_PER_FRAME}, {VIDEO_MAX_FRAMES})
                   AS n_frames
          FROM documents
        ),
        px AS (
          SELECT d.doc_id, d.n_frames, f.range AS f, i.range AS i,
                 {_VID_SAMPLE.format(f="f.range")} AS s,
                 CASE WHEN f.range > 0
                      AND {_VID_SAMPLE.format(f="f.range")}
                        != {_VID_SAMPLE.format(f="(f.range - 1)")}
                      THEN 1 ELSE 0 END AS moved
          FROM docs d, range({VIDEO_MAX_FRAMES}) f, range({_VIDEO_PX}) i
          WHERE f.range < d.n_frames
        )
        SELECT p.doc_id,
               CAST({VIDEO_W} AS INTEGER)             AS width,
               CAST({VIDEO_H} AS INTEGER)             AS height,
               CAST(p.n_frames AS BIGINT)             AS n_frames,
               CAST(SUM(p.s) AS BIGINT)               AS total_luma,
               CAST(MIN(CASE WHEN p.f = 0 AND p.i = 0 THEN p.s END) AS INTEGER)
                                                      AS first_pixel,
               CAST(SUM(p.moved) AS BIGINT)           AS moving_pixels
        FROM px p
        GROUP BY p.doc_id, p.n_frames
        """,
    tags=("multimodal", "video", "pandas-udf"),
)
def q_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motion features from real AVI containers — the video leg of the band.

    The payload is a genuine uncompressed AVI (RIFF form, hdrl/strl
    headers, movi frame list, bottom-up padded DIB frames); the operator
    parses the container with a real recursive chunk walker
    (operators/multimodal.py decode_avi — geometry from strf, frame-count
    cross-check against avih), reduces frames to luminance, and computes
    total luminance mass plus the frame-over-frame motion count from the
    DECODED pixels. The oracle replays the synthesis formula per (frame,
    pixel) in SQL — a header, stride-padding, frame-order, or bottom-up
    bug breaks the hash immediately. All-integer features.

    Scale: one Arrow-batched mapInPandas pass, no shuffle — frame sampling
    and per-frame work parallelize over the same input partitions.
    """
    d = load_table(spark, sf_dir, "documents")
    return video_features(_avi_payloads(d))
