"""Multimodal queries: the m family (images, audio and video frames
decoded and transformed inside the engine).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Window, functions as F

from finporter_spark.operators.audio import (
    _MP3_SAMPLE_RATES,
    extract_mp3_metadata,
    extract_wav_features,
    mp3_mux,
    wav_decode,
    wav_encode,
)
from finporter_spark.operators.gif import gif_encode
from finporter_spark.operators.jpeg import jpeg_decode, jpeg_encode
from finporter_spark.operators.multimodal import (
    attach_image_meta,
    dhash_image,
    png_decode,
    png_encode,
    resize_image,
    sample_frames,
)
from finporter_spark.queries.catalog import CATALOG, _t, query
from finporter_spark.queries.staging import stage_media as _stage_media


# =====================================================================
# M — multimodal pipeline (L5): binary media columns + metadata. Staged
# media is REAL and deterministically derived from table columns: fully
# decodable PNG/JPEG/GIF images, MP4/MKV/AVI/MJPEG containers, and
# WAV/MP3 audio (m2+), so every decode/resize/frame-sample output is
# SQL-predictable and the oracle checks the whole
# encode->Spark-pipeline->decode path. The one exception is m1's
# header-only PNG fixture below — a real signature + IHDR with a padded
# payload, exercising metadata parse without a pixel path (and labeled
# as such).
# =====================================================================

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_header_frame(scale: int, mod: int):
    """mapInPandas stage building a header-only PNG binary column: a REAL
    signature + IHDR (what m1's metadata parse reads) over a padded
    payload of length ``24 + (n_chars*scale) % mod`` — a metadata-parse
    fixture, not a decodable image (pixel-path queries m2/m4/m7 stage
    fully decodable media instead)."""
    import struct

    def _map(batches):
        for pdf in batches:
            content = [
                (
                    _PNG_SIG
                    + b"\x00\x00\x00\x0dIHDR"
                    + struct.pack(
                        ">II", int(i) % 512 + 16, int(i) % 384 + 16
                    )
                ).ljust(24 + (int(n) * scale) % mod, b"\x00")
                for i, n in zip(pdf["doc_id"], pdf["n_chars"])
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": content})

    return _map


def _media(spark, sf_dir, scale: int, mod: int):
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return d.mapInPandas(
        _png_header_frame(scale, mod), "doc_id bigint, content binary"
    )


@query(
    "m1_image_metadata",
    """
    SELECT doc_id, 'png' AS format,
           CAST(doc_id % 512 + 16 AS INT) AS width,
           CAST(doc_id % 384 + 16 AS INT) AS height,
           CAST(24 + n_chars % 100 AS BIGINT) AS content_len
    FROM documents
    """,
)
def m1_image_metadata(spark, sf_dir):
    """M1: binary image column -> header decode (real PNG IHDR parse,
    pure Python, Arrow-batched). Oracle predicts the metadata from the
    deterministic encoder, so encode+decode must both be right."""
    media = _media(spark, sf_dir, scale=1, mod=100)
    return attach_image_meta(media, "content").select(
        "doc_id",
        "format",
        "width",
        "height",
        F.length("content").cast("bigint").alias("content_len"),
    )


def _resized_png_stats(spark, sf_dir, name, make):
    """Stage ``make``'s images under ``name``, resize them to 16x16 and
    decode each resized PNG back to its width, height and pixel sum:
    the row the m2/m4/m7 oracles predict."""
    media = _stage_media(spark, sf_dir, name, make)
    resized = resize_image(media, "content", size=(16, 16))

    def _verify(batches):
        for pdf in batches:
            ws, hs, sums = [], [], []
            for b in pdf["resized"]:
                arr = png_decode(bytes(b))
                hs.append(arr.shape[0])
                ws.append(arr.shape[1])
                sums.append(int(arr.sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": ws,
                    "height": hs,
                    "pixel_sum": sums,
                }
            )

    return resized.mapInPandas(
        _verify, "doc_id bigint, width int, height int, pixel_sum bigint"
    )


@query(
    "m2_image_resize",
    """
    WITH dims AS (
      SELECT doc_id, doc_id % 24 + 8 AS w_in, doc_id % 16 + 8 AS h_in
      FROM documents
    ), grid AS (
      SELECT doc_id, w_in, h_in, y.g AS y, x.g AS x
      FROM dims,
           (SELECT unnest(generate_series(0, 15)) AS g) y,
           (SELECT unnest(generate_series(0, 15)) AS g) x
    )
    SELECT doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
           CAST(SUM(((y * h_in) // 16 * w_in + (x * w_in) // 16 + doc_id)
                    % 256) AS BIGINT) AS pixel_sum
    FROM grid GROUP BY doc_id
    """,
)
def m2_image_resize(spark, sf_dir):
    """M2: REAL image resize. Each doc becomes a genuine gray PNG
    (w = id%24+8, h = id%16+8, pixel(y,x) = (y*w + x + id) % 256),
    resized to 16x16 through the stdlib codec (png_decode ->
    nearest_resize -> png_encode), then the resized PNG is decoded
    AGAIN and summed. The oracle predicts the exact pixel sum from the
    nearest-neighbor index map (src = (dst*extent_in)//16), so encode,
    decode, resample, and re-encode must all be pixel-correct."""
    def _make(batches):
        for pdf in batches:
            content = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h = i % 24 + 8, i % 16 + 8
                px = (
                    (np.arange(h)[:, None] * w + np.arange(w)[None, :] + i)
                    % 256
                ).astype(np.uint8)
                content.append(png_encode(px[:, :, None]))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": content})

    return _resized_png_stats(spark, sf_dir, "m2_media", _make)


def _frame_means(
    spark, sf_dir, name, level, n_frames, mux, every_n_frames=1
):
    """The m3/m6/m8/m9/m10 pipeline: stage one container per doc
    holding ``n_frames(doc_id)`` block-constant 16x16 JPEG frames,
    frame ``f`` at gray ``level(doc_id, f)``, packed by ``mux(frames)``;
    demux it with ``sample_frames`` (keeping every ``every_n_frames``-th
    frame) and decode each kept frame's mean. Levels are even, so they
    survive the DCT quantizer round-trip exactly."""

    def _make(batches):
        for pdf in batches:
            content = [
                mux(
                    [
                        jpeg_encode(
                            np.full((16, 16, 1), level(i, f), np.uint8)
                        )
                        for f in range(n_frames(i))
                    ]
                )
                for i in map(int, pdf["doc_id"])
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": content})

    def _mean(batches):
        for pdf in batches:
            means = [int(jpeg_decode(bytes(b)).mean()) for b in pdf["frame"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "frame_idx": pdf["frame_idx"],
                    "frame_mean": pd.array(means, dtype="int64"),
                }
            )

    media = _stage_media(spark, sf_dir, name, _make)
    frames = sample_frames(media, "content", every_n_frames=every_n_frames)
    return frames.mapInPandas(
        _mean, "doc_id bigint, frame_idx int, frame_mean bigint"
    )


@query(
    "m3_frame_sample",
    """
    WITH f AS (
      SELECT doc_id, unnest(generate_series(0, (doc_id % 6 + 2) // 2)) AS i
      FROM documents
    )
    SELECT doc_id, CAST(i * 2 AS INT) AS frame_idx,
           CAST(((doc_id * 5 + i * 2 * 7) % 128) * 2 AS BIGINT)
             AS frame_mean
    FROM f
    """,
)
def m3_frame_sample(spark, sf_dir):
    """M3: every-Nth frame sampling over a REAL MJPEG stream — the
    generic 1-row-in -> k-frames-out fan-out, plus the
    ``every_n_frames`` subsample path m8/m9/m10 (which keep every
    frame) don't exercise. Each doc becomes a concatenated-JPEG stream
    of doc_id%6+3 frames; jpeg.split_mjpeg walks the actual SOI/EOI
    marker structure, sample_frames keeps frames 0,2,4,... and each
    kept frame Huffman-decodes to a block-constant image whose mean the
    oracle predicts exactly (even values survive the DCT quantizer
    round-trip, as in m8)."""
    return _frame_means(
        spark, sf_dir, "m3_media",
        level=lambda i, f: ((i * 5 + f * 7) % 128) * 2,
        n_frames=lambda i: i % 6 + 3,
        mux=b"".join,
        every_n_frames=2,
    )


@query(
    "m4_jpeg_resize",
    """
    WITH dims AS (
      SELECT doc_id, (doc_id % 3 + 2) * 8 AS w_in, (doc_id % 2 + 2) * 8 AS h_in
      FROM documents
    ), grid AS (
      SELECT doc_id, w_in, h_in, y.g AS y, x.g AS x
      FROM dims,
           (SELECT unnest(generate_series(0, 15)) AS g) y,
           (SELECT unnest(generate_series(0, 15)) AS g) x
    )
    SELECT doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
           CAST(SUM(
             (((((y * h_in) // 16) // 8) * (w_in // 8)
                + ((x * w_in) // 16) // 8 + doc_id) * 2) % 256
           ) AS BIGINT) AS pixel_sum
    FROM grid GROUP BY doc_id
    """,
)
def m4_jpeg_resize(spark, sf_dir):
    """M4: REAL baseline-JPEG decode inside the resize pipeline
    (operators/jpeg.py — Annex-K Huffman + DCT, numpy). Each doc becomes
    a genuine gray JPEG that is CONSTANT per 8x8 block with even values
    (bv = ((by*nbx + bx + id) * 2) % 256): such blocks quantize to a
    DC-only coefficient that dequantizes exactly (see jpeg.py module
    docstring), so the lossy pipeline is losslessly SQL-predictable.
    The JPEG is Huffman-decoded + IDCT'd by resize_image, resampled to
    16x16, PNG-encoded, decoded AGAIN, and pixel-summed — the oracle
    predicts the exact sum, so entropy coding, DCT/IDCT, resampling,
    and both codecs must all be bit-correct."""
    def _make(batches):
        for pdf in batches:
            content = []
            for i in pdf["doc_id"]:
                i = int(i)
                nbx, nby = i % 3 + 2, i % 2 + 2
                bv = (
                    (np.arange(nby)[:, None] * nbx + np.arange(nbx)[None, :]
                     + i) * 2
                ) % 256
                px = np.kron(bv.astype(np.uint8), np.ones((8, 8), np.uint8))
                content.append(jpeg_encode(px[:, :, None]))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": content})

    return _resized_png_stats(spark, sf_dir, "m4_media", _make)


@query(
    "m5_wav_features",
    """
    WITH d AS (
      SELECT doc_id, 512 + (doc_id % 3) * 256 AS n FROM documents
    ), f AS (
      SELECT doc_id, n, unnest(generate_series(0, n // 256 - 1)) AS frame_idx
      FROM d
    ), s AS (
      SELECT doc_id, frame_idx, unnest(generate_series(0, 255)) AS j FROM f
    ), v AS (
      SELECT doc_id, frame_idx,
             ((frame_idx * 256 + j + doc_id) % 201) - 100 AS x
      FROM s
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(256 AS INT) AS n_samples,
           CAST(SUM(x * x) AS BIGINT) AS energy,
           CAST(SUM(x) AS BIGINT) AS amp_sum
    FROM v GROUP BY doc_id, frame_idx
    """,
)
def m5_wav_features(spark, sf_dir):
    """M5: REAL audio decode — WAV/PCM is a container stdlib can parse,
    so the feature extractor is genuine (operators/audio.py: RIFF parse
    -> int16 samples -> exact integer numpy reductions per 256-sample
    window). Each doc becomes a 16-bit PCM WAV whose samples are
    s(i) = ((i + doc_id) % 201) - 100; the oracle recomputes per-frame
    energy and amplitude sums exactly."""
    def _make(batches):
        for pdf in batches:
            content = []
            for i in pdf["doc_id"]:
                i = int(i)
                n = 512 + (i % 3) * 256
                s = ((np.arange(n) + i) % 201) - 100
                content.append(wav_encode(s, 16000))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": content})

    media = _stage_media(spark, sf_dir, "m5_media", _make)
    return extract_wav_features(media, "content", frame_samples=256).select(
        "doc_id", "frame_idx", "n_samples", "energy", "amp_sum"
    )


@query(
    "m6_mjpeg_frames",
    """
    WITH f AS (
      SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS frame_idx
      FROM documents
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(((doc_id + frame_idx) * 2) % 256 AS BIGINT) AS frame_mean
    FROM f
    """,
)
def m6_mjpeg_frames(spark, sf_dir):
    """M6: REAL video-style frame extraction — an MJPEG stream (doc_id%3
    + 1 concatenated JPEGs per doc) is demuxed by walking the actual
    marker structure (jpeg.split_mjpeg), then each extracted frame is
    Huffman-decoded and averaged. Frames are block-constant at even
    value ((doc_id + f) * 2) % 256, so decode is exact and the oracle
    predicts every frame mean."""
    return _frame_means(
        spark, sf_dir, "m6_media",
        level=lambda i, f: ((i + f) * 2) % 256,
        n_frames=lambda i: i % 3 + 1,
        mux=b"".join,
    )


@query(
    "m7_gif_resize",
    """
    WITH dims AS (
      SELECT doc_id, doc_id % 17 + 8 AS w_in, doc_id % 13 + 8 AS h_in
      FROM documents
    ), grid AS (
      SELECT doc_id, w_in, h_in, y.g AS y, x.g AS x
      FROM dims,
           (SELECT unnest(generate_series(0, 15)) AS g) y,
           (SELECT unnest(generate_series(0, 15)) AS g) x
    )
    SELECT doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
           CAST(SUM(3 * ((((y * h_in) // 16) + ((x * w_in) // 16) + doc_id)
                         % 16) * 17) AS BIGINT) AS pixel_sum
    FROM grid GROUP BY doc_id
    """,
)
def m7_gif_resize(spark, sf_dir):
    """M7: REAL GIF decode in the resize pipeline (operators/gif.py —
    variable-width LSB-first LZW, palette mapping). GIF is lossless, so
    no quantization trick is needed: indices idx(y,x) = (x+y+id) % 16
    over a 16-gray palette (c -> c*17 per channel) make every decoded
    pixel SQL-predictable; the oracle sums the nearest-neighbor-sampled
    values across all three identical channels."""
    def _make(batches):
        pal = (np.arange(16, dtype=np.uint8)[:, None] * 17).repeat(3, axis=1)
        for pdf in batches:
            content = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h = i % 17 + 8, i % 13 + 8
                idx = (
                    np.arange(h)[:, None] + np.arange(w)[None, :] + i
                ) % 16
                content.append(gif_encode(idx.astype(np.int64), pal))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": content})

    return _resized_png_stats(spark, sf_dir, "m7_media", _make)


@query(
    "m8_mp4_frames",
    """
    WITH f AS (
      SELECT doc_id, unnest(generate_series(0, doc_id % 4 + 1)) AS frame_idx
      FROM documents
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(((doc_id * 3 + frame_idx * 5) % 128) * 2 AS BIGINT)
             AS frame_mean
    FROM f
    """,
)
def m8_mp4_frames(spark, sf_dir):
    """M8: REAL MP4 container demux — each doc becomes an ISO BMFF file
    (operators/mp4.mp4_mux: ftyp + mdat + moov with stsc/stsz/stco
    sample tables) holding doc_id%4+2 JPEG frames packed 2-per-chunk
    (odd counts leave a remainder chunk => the stsc table has two runs,
    so demux exercises the run mapping, not just fixed chunking).
    sample_frames walks the box tree and slices mdat at the table
    offsets; each frame then Huffman-decodes to a block-constant image
    whose mean the oracle predicts exactly (even values survive the
    DCT quantizer round-trip)."""
    from finporter_spark.operators.mp4 import mp4_mux

    return _frame_means(
        spark, sf_dir, "m8_media",
        level=lambda i, f: ((i * 3 + f * 5) % 128) * 2,
        n_frames=lambda i: i % 4 + 2,
        mux=lambda frames: mp4_mux(frames, samples_per_chunk=2),
    )


@query(
    "m9_mkv_frames",
    """
    WITH f AS (
      SELECT doc_id, unnest(generate_series(0, doc_id % 5 + 1)) AS frame_idx
      FROM documents
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(((doc_id * 7 + frame_idx * 11) % 128) * 2 AS BIGINT)
             AS frame_mean
    FROM f
    """,
)
def m9_mkv_frames(spark, sf_dir):
    """M9: REAL Matroska (EBML) container demux — each doc becomes an
    MKV file (operators/mkv.mkv_mux: EBML header + Segment{Info, Tracks,
    Cluster*}) holding doc_id%5+2 JPEG frames packed 2-per-SimpleBlock
    under Xiph lacing (odd counts leave an un-laced remainder block, so
    demux exercises both lace paths — the stsc two-run trick from m8
    transplanted to EBML). sample_frames parses the element tree to the
    video TrackEntry and un-laces the Clusters' blocks; each frame then
    Huffman-decodes to a block-constant image whose mean the oracle
    predicts exactly (even values survive the DCT quantizer
    round-trip)."""
    from finporter_spark.operators.mkv import mkv_mux

    return _frame_means(
        spark, sf_dir, "m9_media",
        level=lambda i, f: ((i * 7 + f * 11) % 128) * 2,
        n_frames=lambda i: i % 5 + 2,
        mux=lambda frames: mkv_mux(frames, frames_per_block=2),
    )


@query(
    "m5b_mp3_metadata",
    """
    WITH d AS (
      SELECT doc_id,
             ([44100, 48000, 32000])[(doc_id % 3) + 1] AS sr,
             doc_id % 4 + 2 AS nf
      FROM documents
    ), f AS (
      SELECT doc_id, sr, nf, unnest(generate_series(0, nf - 1)) AS fi FROM d
    ), b AS (
      SELECT doc_id, sr, nf,
             ([32, 40, 48, 56, 64])[((doc_id + fi * (doc_id % 2)) % 5) + 1]
               AS kbps
      FROM f
    )
    SELECT doc_id,
           CAST(nf AS INT) AS n_frames,
           CAST(sr AS INT) AS sample_rate,
           CAST(SUM(kbps) // nf AS BIGINT) AS avg_bitrate_kbps,
           CAST(nf * 1152 AS BIGINT) AS total_samples,
           CAST(nf * 1152 * 1000 // sr AS BIGINT) AS duration_ms,
           (doc_id % 2 = 1) AS vbr
    FROM b GROUP BY doc_id, nf, sr
    """,
)
def m5b_mp3_metadata(spark, sf_dir):
    """M5b: compressed-audio METADATA walk — real corpora ship MP3/AAC,
    and what ingest needs from them is duration/rate/frame metadata,
    which the MPEG frame-header structure yields with ~4 bytes read per
    frame and no entropy decode (operators/audio.mp3_metadata; tables
    from the public ISO 11172-3 spec). Each doc becomes a structurally
    real MP3 (ID3v2 tag to skip, doc_id%4+2 Layer III frames, padding
    bits alternating, CBR for even docs / VBR for odd, ID3v1 trailer on
    even docs); the oracle recomputes every field exactly — including
    the floor-division duration and average-bitrate math the walk uses."""
    def _make(batches):
        for pdf in batches:
            content = []
            for i in pdf["doc_id"]:
                i = int(i)
                n = i % 4 + 2
                brs = [
                    (32, 40, 48, 56, 64)[(i + f * (i % 2)) % 5]
                    for f in range(n)
                ]
                content.append(
                    mp3_mux(
                        brs,
                        _MP3_SAMPLE_RATES[i % 3],
                        id3v2_size=i % 50 + 10,
                        id3v1=(i % 2 == 0),
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": content})

    media = _stage_media(spark, sf_dir, "m5b_media", _make)
    return extract_mp3_metadata(media, "content")


@query(
    "m10_avi_frames",
    """
    WITH f AS (
      SELECT doc_id, unnest(generate_series(0, doc_id % 3 + 1)) AS frame_idx
      FROM documents
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(((doc_id * 5 + frame_idx * 3) % 128) * 2 AS BIGINT)
             AS frame_mean
    FROM f
    """,
)
def m10_avi_frames(spark, sf_dir):
    """M10: REAL AVI (RIFF) container demux — each doc becomes an AVI
    (operators/avi.avi_mux: hdrl stream headers + movi 00dc chunks +
    idx1) holding doc_id%3+2 JPEG frames; odd-length frames exercise
    RIFF word alignment, and the walked chunk offsets are validated
    against idx1. sample_frames emits the video stream's chunks; each
    frame Huffman-decodes to a block-constant image whose mean the
    oracle predicts exactly."""
    from finporter_spark.operators.avi import avi_mux

    return _frame_means(
        spark, sf_dir, "m10_media",
        level=lambda i, f: ((i * 5 + f * 3) % 128) * 2,
        n_frames=lambda i: i % 3 + 2,
        mux=avi_mux,
    )


@query(
    "m11_image_dhash_dedup",
    """
    WITH dims AS (
      SELECT doc_id, doc_id % 40 AS g,
             (doc_id % 40) % 24 + 8 AS w_in,
             (doc_id % 40) % 16 + 8 AS h_in
      FROM documents
    ), grid AS (
      SELECT doc_id, g, w_in, h_in, y.v AS y, x.v AS x
      FROM dims,
           (SELECT unnest(generate_series(0, 7)) AS v) y,
           (SELECT unnest(generate_series(0, 7)) AS v) x
    ), bits AS (
      SELECT doc_id, y, x,
             CASE WHEN
               (3 * ((y * h_in) // 8) * ((y * h_in) // 8)
                + 5 * (((x + 1) * w_in) // 9) * (((x + 1) * w_in) // 9)
                + 11 * g) % 256
               >
               (3 * ((y * h_in) // 8) * ((y * h_in) // 8)
                + 5 * ((x * w_in) // 9) * ((x * w_in) // 9)
                + 11 * g) % 256
             THEN '1' ELSE '0' END AS bit
      FROM grid
    ), hashes AS (
      SELECT doc_id, string_agg(bit, '' ORDER BY y, x) AS dhash
      FROM bits GROUP BY doc_id
    )
    SELECT doc_id, dhash,
           CAST(MIN(doc_id) OVER (PARTITION BY dhash) AS BIGINT)
             AS group_min,
           CAST(COUNT(*) OVER (PARTITION BY dhash) AS BIGINT)
             AS group_size
    FROM hashes
    """,
)
def m11_image_dhash_dedup(spark, sf_dir):
    """M11: perceptual-hash image dedup — every document carries a REAL
    gray PNG (pattern keyed by doc_id % 40, so ~12-13 docs share each
    exact image); the pipeline decodes, nearest-resamples to 9×8, takes
    horizontal-difference bits (dHash), and groups on the hash. The
    oracle re-derives the EXACT 64-bit string from the encoder's pixel
    formula through the resample index map — decode, resample, and
    comparison order must all be bit-correct, and the dedup groups must
    land exactly on the planted doc_id%40 classes (modulo honest
    cross-class hash collisions, which both engines reproduce
    identically by construction).

    Plan: map-only Arrow decode+hash, ONE shuffle (window keyed on the
    hash) for group stats — the image twin of l1's exact text dedup."""
    def _make(batches):
        for pdf in batches:
            content = []
            for i in pdf["doc_id"]:
                g = int(i) % 40
                w, h = g % 24 + 8, g % 16 + 8
                y = np.arange(h)[:, None]
                x = np.arange(w)[None, :]
                px = ((3 * y * y + 5 * x * x + 11 * g) % 256).astype(
                    np.uint8
                )
                content.append(png_encode(px[:, :, None]))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": content}
            )

    media = _stage_media(spark, sf_dir, "m11_media", _make)
    hashed = dhash_image(media, "content").select("doc_id", "dhash")
    w = Window.partitionBy("dhash")
    return hashed.select(
        "doc_id",
        "dhash",
        F.min("doc_id").over(w).cast("bigint").alias("group_min"),
        F.count("*").over(w).cast("bigint").alias("group_size"),
    )


# =====================================================================
# M12 — scene-cut detection over demuxed video frames
# =====================================================================


@query(
    "m12_scene_cut",
    """
    WITH f AS (
      SELECT doc_id, unnest(generate_series(0, doc_id % 4 + 1)) AS frame_idx
      FROM documents
    ), m AS (
      SELECT doc_id, frame_idx,
             ((doc_id * 3 + frame_idx * 5) % 128) * 2 AS fmean
      FROM f
    ), d AS (
      SELECT doc_id, frame_idx,
             fmean - lag(fmean) OVER (PARTITION BY doc_id
                                      ORDER BY frame_idx) AS delta
      FROM m
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(delta AS BIGINT) AS delta
    FROM d WHERE abs(delta) > 100
    """,
)
def m12_scene_cut(spark, sf_dir):
    """M12: scene-cut detection — consecutive-frame luminance jumps
    over REAL MP4 demux+decode (composes m8's pipeline: ISO BMFF box
    walk, JPEG Huffman decode, per-frame mean via Arrow-batched
    mapInPandas), then a lag window per video flags frames whose mean
    moved by more than the cut threshold. The decode stays map-only
    Python; the temporal differencing is a JVM window keyed on the
    video id — the division of labor that scales: Python touches each
    frame once, the shuffle moves only (id, idx, mean) triples, never
    pixels. Oracle predicts the flagged cuts exactly from the staged
    fixture's generation formula."""
    frames = CATALOG["m8_mp4_frames"][0](spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    delta = F.col("frame_mean") - F.lag("frame_mean").over(w)
    return (
        frames.withColumn("delta", delta)
        .filter(F.abs("delta") > 100)
        .select("doc_id", "frame_idx", F.col("delta").cast("bigint").alias("delta"))
    )


# =====================================================================
# M13 — FFT spectral peak over real WAV audio (numpy rfft, Arrow-batched)
# =====================================================================


@query(
    "m13_spectral_peak",
    """
    WITH w AS (
      SELECT doc_id,
             unnest(generate_series(0, 1 + doc_id % 2)) AS window_idx
      FROM documents
    )
    SELECT doc_id, CAST(window_idx AS INT) AS window_idx,
           CAST(3 + doc_id % 13 AS INT) AS peak_bin
    FROM w
    """,
)
def m13_spectral_peak(spark, sf_dir):
    """M13: REAL spectral analysis — each doc stages as a 16-bit PCM
    WAV holding a pure sine tone whose frequency sits EXACTLY on FFT
    bin k = 3 + doc_id % 13 of a 256-sample window (f = k·rate/256),
    for 256·(2 + doc_id % 2)... trimmed to full windows. The operator
    (numpy ``rfft`` over every 256-sample window, vectorized across
    windows inside Arrow-batched ``mapInPandas`` — pixels^Wsamples
    never shuffle, only (doc_id, window_idx, peak_bin) triples) must
    recover the synthesis bin as the magnitude argmax in EVERY window:
    an on-bin sinusoid concentrates all energy in bin k, int16
    quantization spreads only ~1e-4 of it elsewhere. The oracle
    predicts the full (doc, window) grid analytically. Window count =
    2 + doc_id % 2 (docs get 2 or 3 windows -> the UNION ALL shape)."""
    def _make(batches):
        for pdf in batches:
            content = []
            for i in pdf["doc_id"]:
                i = int(i)
                k = 3 + i % 13
                n = 256 * (2 + i % 2)
                t = np.arange(n)
                s = np.round(
                    12000.0 * np.sin(2 * np.pi * k * t / 256.0)
                ).astype(np.int64)
                content.append(wav_encode(s, 16000))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": content}
            )

    media = _stage_media(spark, sf_dir, "m13_media", _make)

    def _peaks(batches):
        for pdf in batches:
            ids, widx, bins = [], [], []
            for i, b in zip(pdf["doc_id"], pdf["content"]):
                _rate, samples = wav_decode(bytes(b))
                x = samples[:, 0].astype(np.float64)
                nw = len(x) // 256
                if nw == 0:
                    continue
                frames = x[: nw * 256].reshape(nw, 256)
                mag = np.abs(np.fft.rfft(frames, axis=1))
                mag[:, 0] = 0.0  # DC is quantization residue, not tone
                pk = mag.argmax(axis=1)
                ids.extend([int(i)] * nw)
                widx.extend(range(nw))
                bins.extend(int(p) for p in pk)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "window_idx": pd.array(widx, dtype="int32"),
                    "peak_bin": pd.array(bins, dtype="int32"),
                }
            )

    return media.mapInPandas(
        _peaks, "doc_id bigint, window_idx int, peak_bin int"
    )


# =====================================================================
# M14 — windowed RMS loudness over staged PCM WAV
# =====================================================================


def _window_rms(x, win: int):
    """RMS per complete length-``win`` window of 1-D samples ``x``;
    a trailing partial window is DROPPED (the m13 full-windows-only
    contract). Vectorized: one reshape, one mean, one sqrt."""
    x = np.asarray(x, dtype=np.float64)
    nw = len(x) // win
    if nw == 0:
        return np.empty(0, dtype=np.float64)
    frames = x[: nw * win].reshape(nw, win)
    return np.sqrt(np.mean(frames * frames, axis=1))


@query(
    "m14_rms_loudness",
    """
    WITH w AS (
      SELECT doc_id,
             unnest(generate_series(0, 1 + doc_id % 3)) AS window_idx
      FROM documents
    )
    SELECT doc_id, CAST(window_idx AS INT) AS window_idx,
           CAST(500 * (1 + (doc_id + window_idx) % 8) AS DOUBLE) AS rms
    FROM w
    """,
)
def m14_rms_loudness(spark, sf_dir):
    """M14: windowed RMS loudness over real 16-bit PCM WAV — the
    feature a speech-data pipeline computes to trim silence and gate
    clipped/quiet clips before transcription. Each doc stages as a
    square wave whose amplitude changes per 256-sample window
    (A = 500·(1 + (doc_id + w) % 8), 2 + doc_id % 3 windows): every
    sample in window w is ±A, so the window RMS is EXACTLY A — sqrt of
    a perfect square of an exactly-representable integer is exact in
    IEEE double, making the analytic oracle grid hash-exact, not
    approximate.

    The operator is the real path: `wav_decode` + vectorized numpy
    square/mean/sqrt over all windows at once inside Arrow-batched
    `mapInPandas` — samples never shuffle, only (doc_id, window_idx,
    rms) triples leave the executor. Cites the m13 staging discipline
    (32-part fixture layout so the Python decode parallelizes like a
    production multi-file media table)."""
    def _make(batches):
        for pdf in batches:
            content = []
            for i in pdf["doc_id"]:
                i = int(i)
                nw = 2 + i % 3
                parts = []
                for w in range(nw):
                    amp = 500 * (1 + (i + w) % 8)
                    blk = np.full(256, amp, dtype=np.int64)
                    blk[1::2] = -amp
                    parts.append(blk)
                content.append(
                    wav_encode(np.concatenate(parts), 16000)
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": content}
            )

    media = _stage_media(spark, sf_dir, "m14_media", _make)

    def _rms(batches):
        for pdf in batches:
            ids, widx, vals = [], [], []
            for i, b in zip(pdf["doc_id"], pdf["content"]):
                _rate, samples = wav_decode(bytes(b))
                r = _window_rms(samples[:, 0], 256)
                nw = len(r)
                if nw == 0:
                    continue
                ids.extend([int(i)] * nw)
                widx.extend(range(nw))
                vals.extend(float(v) for v in r)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "window_idx": pd.array(widx, dtype="int32"),
                    "rms": pd.array(vals, dtype="float64"),
                }
            )

    return media.mapInPandas(
        _rms, "doc_id bigint, window_idx int, rms double"
    )


# =====================================================================
# M15 — per-channel 16-bin image histograms over staged PNG
# =====================================================================


@query(
    "m15_image_histogram",
    """
    WITH ch AS (
      SELECT doc_id, unnest([0, 1, 2]) AS channel FROM documents
    ), b AS (
      SELECT doc_id, CAST(channel AS INT) AS channel,
             (doc_id + channel) % 16 AS ba,
             (doc_id + 7 * channel + 5) % 16 AS bb
      FROM ch
    )
    SELECT doc_id, channel, CAST(ba AS INT) AS bin,
           CAST(CASE WHEN ba = bb THEN 256 ELSE 128 END AS BIGINT) AS n
    FROM b
    UNION ALL
    SELECT doc_id, channel, CAST(bb AS INT), CAST(128 AS BIGINT)
    FROM b WHERE ba <> bb
    """,
)
def m15_image_histogram(spark, sf_dir):
    """M15: per-channel 16-bin luminance histograms over REAL PNG —
    the image-quality gate feature (flat/blown-out/bimodal exposure
    shows up directly in the bins; a curation pipeline thresholds on
    them before spending decode budget downstream). Each doc stages as
    a 16x16 RGB PNG whose top half is solid tone A(doc, channel) and
    bottom half solid tone B — the analytic oracle enumerates exactly
    which two bins (or one, when A and B collide) hold 128 (or 256)
    pixels.

    The operator is the real path: full `png_decode` (zlib inflate +
    unfilter) + ONE vectorized `np.bincount` per image over
    `pixels >> 4`, inside Arrow-batched `mapInPandas`; pixels never
    shuffle — only (doc_id, channel, bin, n) rows leave the executor,
    and zero bins are omitted (sparse histogram contract, matching
    the oracle's inner shape)."""
    def _make(batches):
        for pdf in batches:
            content = []
            for i in pdf["doc_id"]:
                i = int(i)
                px = np.zeros((16, 16, 3), dtype=np.uint8)
                for c in range(3):
                    px[:8, :, c] = ((i + c) % 16) * 16 + 8
                    px[8:, :, c] = ((i + 7 * c + 5) % 16) * 16 + 3
                content.append(png_encode(px))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": content}
            )

    media = _stage_media(spark, sf_dir, "m15_media", _make)

    def _hist(batches):
        for pdf in batches:
            ids, chans, bins, ns = [], [], [], []
            for i, b in zip(pdf["doc_id"], pdf["content"]):
                px = png_decode(bytes(b))
                for c in range(px.shape[2]):
                    counts = np.bincount(
                        (px[:, :, c] >> 4).ravel(), minlength=16
                    )
                    nz = np.nonzero(counts)[0]
                    ids.extend([int(i)] * len(nz))
                    chans.extend([c] * len(nz))
                    bins.extend(int(x) for x in nz)
                    ns.extend(int(counts[x]) for x in nz)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "channel": pd.array(chans, dtype="int32"),
                    "bin": pd.array(bins, dtype="int32"),
                    "n": pd.array(ns, dtype="int64"),
                }
            )

    return media.mapInPandas(
        _hist, "doc_id bigint, channel int, bin int, n bigint"
    )


# =====================================================================
# M16 — silence-bound trimming over staged PCM WAV
# =====================================================================


@query(
    "m16_silence_bounds",
    """
    WITH w AS (
      SELECT doc_id,
             unnest(generate_series(0, 3 + doc_id % 3)) AS wi
      FROM documents
    ), loud AS (
      SELECT doc_id, wi FROM w WHERE (doc_id + wi) % 4 <> 0
    )
    SELECT doc_id,
           CAST(MIN(wi) AS INT) AS first_loud,
           CAST(MAX(wi) AS INT) AS last_loud,
           CAST(COUNT(*) AS BIGINT) AS n_loud
    FROM loud GROUP BY doc_id
    """,
)
def m16_silence_bounds(spark, sf_dir):
    """M16: silence-bound detection — the trim step a speech pipeline
    runs after m14's RMS pass (leading/trailing silence wastes decode
    and tokenizer budget downstream). Each doc stages as 4 + doc_id%3
    windows of 256 samples where window w is SILENT (all zeros) when
    (doc_id + w) % 4 == 0 and a ±800 square wave otherwise — so
    first/last loud window and the loud count are analytic. Docs whose
    windows are ALL silent would be absent (inner grouping); the
    staging always leaves a loud window, and the operator's contract
    (absent = fully silent clip) matches the oracle's.

    Operator: `wav_decode` + the m14 `_window_rms` helper + one
    threshold scan per clip in Arrow-batched `mapInPandas` — samples
    never shuffle; (doc_id, first, last, count) is all that leaves."""
    def _make(batches):
        for pdf in batches:
            content = []
            for i in pdf["doc_id"]:
                i = int(i)
                nw = 4 + i % 3
                parts = []
                for w in range(nw):
                    if (i + w) % 4 == 0:
                        parts.append(np.zeros(256, dtype=np.int64))
                    else:
                        blk = np.full(256, 800, dtype=np.int64)
                        blk[1::2] = -800
                        parts.append(blk)
                content.append(wav_encode(np.concatenate(parts), 16000))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": content}
            )

    media = _stage_media(spark, sf_dir, "m16_media", _make)

    def _bounds(batches):
        for pdf in batches:
            ids, firsts, lasts, ns = [], [], [], []
            for i, b in zip(pdf["doc_id"], pdf["content"]):
                _rate, samples = wav_decode(bytes(b))
                r = _window_rms(samples[:, 0], 256)
                loud = np.nonzero(r > 1.0)[0]
                if len(loud) == 0:
                    continue  # fully silent clip: absent by contract
                ids.append(int(i))
                firsts.append(int(loud[0]))
                lasts.append(int(loud[-1]))
                ns.append(int(len(loud)))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "first_loud": pd.array(firsts, dtype="int32"),
                    "last_loud": pd.array(lasts, dtype="int32"),
                    "n_loud": pd.array(ns, dtype="int64"),
                }
            )

    return media.mapInPandas(
        _bounds,
        "doc_id bigint, first_loud int, last_loud int, n_loud bigint",
    )
