"""Multimodal-pipeline queries: binary payload decode / frame sampling via
Arrow-batched ``mapInPandas`` (operators.multimodal), differentially tested.

The fake decode is deliberately SQL-expressible (byte length, md5, modular
pseudo-dimensions), so these queries verify the *plumbing* that matters at
scale — explicit mapInPandas schemas, Arrow batch transfer, fan-out row
emission — against DuckDB computing the same features relationally.  The
fixture ``documents.text`` is pure ASCII (verified), so byte offsets and
character offsets coincide in the oracle.
"""

from __future__ import annotations

import io
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import multimodal as mm
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.sources.tables import load_table


@query(
    "multimodal_image_decode",
    oracle="""
    SELECT doc_id AS id,
           OCTET_LENGTH(ENCODE(text)) AS payload_bytes,
           MD5(text) AS payload_md5,
           CAST(OCTET_LENGTH(ENCODE(text)) % 509 AS INTEGER) AS pseudo_width,
           CAST(OCTET_LENGTH(ENCODE(text)) % 293 AS INTEGER) AS pseudo_height
    FROM documents
    """,
)
def multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-decode stub over binary payloads: one mapInPandas pass,
    vectorized per Arrow batch.  ``mean_byte`` (the pandas-only feature) is
    covered by unit tests; the oracle checks the SQL-expressible features,
    i.e. that every byte made it across the Arrow boundary intact."""
    d = load_table(spark, sf_dir, "documents")
    feats = mm.decode_image_features(mm.with_payload(d))
    return feats.select("id", "payload_bytes", "payload_md5", "pseudo_width", "pseudo_height")


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH frames AS (
      SELECT doc_id AS id,
             UNNEST(RANGE(0, LEAST(CAST(CEIL(LENGTH(text) / 256.0) AS BIGINT), 8))) AS frame_idx
      FROM documents
      WHERE LENGTH(text) > 0
    )
    SELECT f.id,
           CAST(f.frame_idx AS INTEGER) AS frame_idx,
           OCTET_LENGTH(ENCODE(SUBSTRING(d.text, CAST(f.frame_idx * 256 + 1 AS BIGINT), 256)))
               AS frame_bytes,
           MD5(SUBSTRING(d.text, CAST(f.frame_idx * 256 + 1 AS BIGINT), 256)) AS frame_md5
    FROM frames f JOIN documents d ON d.doc_id = f.id
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-frame-sampling stub: fan-out one row per 256-byte frame (max 8)
    of each payload, emitted incrementally per Arrow batch — the shape a
    real frame sampler has (bounded memory under fan-out)."""
    d = load_table(spark, sf_dir, "documents")
    return mm.sample_frames(mm.with_payload(d), frame_size=256, max_frames=8)


#: Synth sample rate for the WAV round-trip certificate below.
_WAV_RATE = 16000

#: Synth image width (pixels) for the PPM round-trip certificate below.
_PPM_W = 16


@query(
    "multimodal_ppm_decode_real",
    oracle=f"""
    SELECT doc_id AS id,
           CAST({_PPM_W} AS INTEGER) AS width,
           CAST((OCTET_LENGTH(ENCODE(text)) + {3 * _PPM_W} - 1)
                // {3 * _PPM_W} AS INTEGER) AS height,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(CAST(LENGTH(text) AS BIGINT)),
                i -> CASE WHEN i % 3 = 0
                     THEN UNICODE(text[CAST(i + 1 AS INTEGER)]) ELSE 0 END))
               AS BIGINT) AS sum_r,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(CAST(LENGTH(text) AS BIGINT)),
                i -> CASE WHEN i % 3 = 1
                     THEN UNICODE(text[CAST(i + 1 AS INTEGER)]) ELSE 0 END))
               AS BIGINT) AS sum_g,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(CAST(LENGTH(text) AS BIGINT)),
                i -> CASE WHEN i % 3 = 2
                     THEN UNICODE(text[CAST(i + 1 AS INTEGER)]) ELSE 0 END))
               AS BIGINT) AS sum_b
    FROM documents
    WHERE LENGTH(text) > 0 AND REGEXP_MATCHES(text, '^[\\x01-\\x7F]*$')
    """,
)
def multimodal_ppm_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-codec certificate — the netpbm twin of
    `multimodal_wav_decode_real`: synthesize a genuine binary P6 PPM per
    document (16 px wide, text bytes as RGB samples zero-padded to the
    last row), decode it with the pure-byte-arithmetic netpbm path
    (`operators.multimodal.parse_netpbm`), and emit integer-exact
    per-channel sums DuckDB recomputes straight from the text (byte i
    feeds channel i mod 3; zero padding adds nothing).  A hash-green row
    proves the image decode reproduces every pixel byte cross-engine.
    ASCII-filtered like the WAV twin.  Scale shape: one map-only
    mapInPandas pass, no shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    docs = d.filter(
        (F.length("text") > 0) & F.col("text").rlike("^[\\x01-\\x7F]*$")
    ).select(F.col("doc_id").alias("id"), "text")

    def synth_and_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "id": [], "width": [], "height": [],
                "sum_r": [], "sum_g": [], "sum_b": [],
            }
            row_bytes = 3 * _PPM_W
            for vid, text in zip(pdf["id"], pdf["text"]):
                data = text.encode("utf-8")
                h = (len(data) + row_bytes - 1) // row_bytes
                data += b"\x00" * (h * row_bytes - len(data))
                payload = b"P6\n%d %d\n255\n" % (_PPM_W, h) + data
                w, got_h, px = mm.parse_netpbm(payload)
                sums = px.reshape(-1, 3).astype(np.int64).sum(axis=0)
                out["id"].append(vid)
                out["width"].append(w)
                out["height"].append(got_h)
                out["sum_r"].append(int(sums[0]))
                out["sum_g"].append(int(sums[1]))
                out["sum_b"].append(int(sums[2]))
            yield pd.DataFrame(out)

    schema = (
        "id BIGINT, width INT, height INT, "
        "sum_r BIGINT, sum_g BIGINT, sum_b BIGINT"
    )
    return docs.mapInPandas(synth_and_decode, schema)


@query(
    "multimodal_wav_decode_real",
    oracle=f"""
    SELECT doc_id AS id,
           CAST({_WAV_RATE} AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS n_channels,
           CAST((OCTET_LENGTH(ENCODE(text)) + 1) // 2 AS BIGINT) AS n_samples,
           CAST((OCTET_LENGTH(ENCODE(text)) + 1) // 2 AS BIGINT)
               / {_WAV_RATE}.0 AS duration_s,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(CAST(LENGTH(text) AS BIGINT)),
                i -> UNICODE(text[CAST(i + 1 AS INTEGER)]) *
                     CASE WHEN i % 2 = 0 THEN 1 ELSE 256 END))
               AS BIGINT) AS sum_samples
    FROM documents
    WHERE LENGTH(text) > 0 AND REGEXP_MATCHES(text, '^[\\x01-\\x7F]*$')
    """,
)
def multimodal_wav_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-codec certificate: synthesize a
    genuine RIFF/WAV container per document (PCM16 mono @16 kHz, samples =
    the text's byte pairs, zero-padded to even length), decode it with the
    stdlib ``wave``-module path (`operators.multimodal.parse_wav`), and
    emit integer-exact features DuckDB recomputes directly from the text:
    per-sample little-endian reassembly ``s_i = b_{2i} + 256*b_{2i+1}``
    summed exactly.  A hash-green row proves the real decode reproduces
    the synthesized PCM bit-for-bit cross-engine — no fake featurizer in
    the loop.  Restricted to ASCII docs so byte and character offsets
    coincide in the oracle (the whole fixture qualifies; the filter guards
    fuzzed corpora).  Scale shape: one map-only mapInPandas pass, no
    shuffle; ``duration_s`` is a single IEEE division per row.
    """
    d = load_table(spark, sf_dir, "documents")
    docs = d.filter(
        (F.length("text") > 0) & F.col("text").rlike("^[\\x01-\\x7F]*$")
    ).select(F.col("doc_id").alias("id"), "text")

    def synth_and_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "id": [], "sample_rate": [], "n_channels": [],
                "n_samples": [], "duration_s": [], "sum_samples": [],
            }
            for vid, text in zip(pdf["id"], pdf["text"]):
                data = text.encode("utf-8")
                if len(data) % 2:
                    data += b"\x00"
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(_WAV_RATE)
                    w.writeframes(data)
                rate, ch, n, vals = mm.parse_wav(buf.getvalue())
                out["id"].append(vid)
                out["sample_rate"].append(rate)
                out["n_channels"].append(ch)
                out["n_samples"].append(n)
                out["duration_s"].append(n / rate)
                # exact: int16 samples summed in int64, never float
                out["sum_samples"].append(int(vals.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    schema = (
        "id BIGINT, sample_rate INT, n_channels INT, n_samples BIGINT, "
        "duration_s DOUBLE, sum_samples BIGINT"
    )
    return docs.mapInPandas(synth_and_decode, schema)


#: Synth video geometry for the Y4M certificate below: 8x4 luma (32 bytes
#: per frame), 4:2:0 chroma (4x2 per plane), NTSC rational frame rate.
_Y4M_W, _Y4M_H = 8, 4
_Y4M_YBYTES = _Y4M_W * _Y4M_H


@query(
    "multimodal_y4m_frames_real",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id AS id, text, CAST(LENGTH(text) AS BIGINT) AS n
      FROM documents
      WHERE LENGTH(text) > 0 AND REGEXP_MATCHES(text, '^[\\x01-\\x7F]*$')
    ),
    frames AS (
      SELECT id, text, n,
             UNNEST(RANGE(0, (n + {_Y4M_YBYTES - 1}) // {_Y4M_YBYTES})) AS fi
      FROM docs
    )
    SELECT id,
           CAST(fi AS INTEGER) AS frame_idx,
           CAST({_Y4M_W} AS INTEGER) AS width,
           CAST({_Y4M_H} AS INTEGER) AS height,
           CAST(30000 AS INTEGER) AS fps_num,
           CAST(1001 AS INTEGER) AS fps_den,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE({_Y4M_YBYTES}),
                j -> CASE WHEN fi * {_Y4M_YBYTES} + j < n
                     THEN UNICODE(text[CAST(fi * {_Y4M_YBYTES} + j + 1 AS INTEGER)])
                     ELSE 0 END)) AS BIGINT) AS y_sum,
           CAST(2048 AS BIGINT) AS uv_sum
    FROM frames
    WHERE fi % 2 = 0 AND fi < 8
    """,
)
def multimodal_y4m_frames_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-codec certificate — closes the LAST codec
    seam: synthesize a genuine YUV4MPEG2 stream per document (8x4 luma
    C420jpeg at NTSC 30000/1001 fps; each frame's Y plane carries the next
    32 text bytes zero-padded, chroma planes pinned at 0x80), decode it
    with the pure-byte-arithmetic Y4M path (`operators.multimodal.
    parse_y4m` — rational-fps header parse, FRAME-marker walk, planar
    offset arithmetic), then STRIDED frame sampling (every 2nd frame, max
    4) — the shape real video frame-sampling has.  DuckDB recomputes the
    exact per-frame luma sums straight from the text; ``uv_sum`` pins the
    chroma planes (2*8 samples * 0x80 = 2048) so any off-by-one in the
    plane offsets bleeds Y bytes into chroma and reddens the row.  ASCII-
    filtered like the WAV/PPM twins.  Scale shape: one map-only
    mapInPandas pass, fan-out emitted incrementally per Arrow batch, no
    shuffle; ``max_frames`` stops the parse before the tail of long
    streams.
    """
    d = load_table(spark, sf_dir, "documents")
    docs = d.filter(
        (F.length("text") > 0) & F.col("text").rlike("^[\\x01-\\x7F]*$")
    ).select(F.col("doc_id").alias("id"), "text")

    def synth_and_sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        uv_shape = (_Y4M_H // 2, _Y4M_W // 2)
        uv = np.full(uv_shape, 0x80, dtype=np.uint8)
        for pdf in batches:
            out: dict[str, list] = {
                "id": [], "frame_idx": [], "width": [], "height": [],
                "fps_num": [], "fps_den": [], "y_sum": [], "uv_sum": [],
            }
            for vid, text in zip(pdf["id"], pdf["text"]):
                data = text.encode("utf-8")
                n_frames = (len(data) + _Y4M_YBYTES - 1) // _Y4M_YBYTES
                data += b"\x00" * (n_frames * _Y4M_YBYTES - len(data))
                planes = [
                    (
                        np.frombuffer(
                            data[i * _Y4M_YBYTES : (i + 1) * _Y4M_YBYTES], np.uint8
                        ).reshape(_Y4M_H, _Y4M_W),
                        uv,
                        uv,
                    )
                    for i in range(n_frames)
                ]
                payload = mm.encode_y4m(planes, _Y4M_W, _Y4M_H)
                # strided sampling: parse only the prefix we sample from
                parsed = mm.parse_y4m(payload, max_frames=8)
                w, h, fn, fd, _, frames = parsed
                for fi in range(0, len(frames), 2):
                    y, u, v = frames[fi]
                    out["id"].append(vid)
                    out["frame_idx"].append(fi)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["fps_num"].append(fn)
                    out["fps_den"].append(fd)
                    out["y_sum"].append(int(y.astype(np.int64).sum()))
                    out["uv_sum"].append(
                        int(u.astype(np.int64).sum()) + int(v.astype(np.int64).sum())
                    )
            yield pd.DataFrame(out)

    schema = (
        "id BIGINT, frame_idx INT, width INT, height INT, "
        "fps_num INT, fps_den INT, y_sum BIGINT, uv_sum BIGINT"
    )
    return docs.mapInPandas(synth_and_sample, schema)


@query(
    "multimodal_audio_decode",
    oracle="""
    SELECT doc_id AS id,
           OCTET_LENGTH(ENCODE(text)) AS payload_bytes,
           OCTET_LENGTH(ENCODE(text)) / 32000.0 AS pseudo_duration_s
    FROM documents
    """,
)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-decode stub: duration from byte length at a pretend sample
    rate.  ``rms_byte`` (pandas-only) is unit-tested."""
    d = load_table(spark, sf_dir, "documents")
    feats = mm.decode_audio_features(mm.with_payload(d))
    return feats.select("id", "payload_bytes", "pseudo_duration_s")
