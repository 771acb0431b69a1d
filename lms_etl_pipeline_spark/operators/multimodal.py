"""Multimodal column operators: opaque binary payloads + typed metadata,
processed with Arrow-batched ``mapInPandas`` (SURVEY.md §2.12 last row).

Each *decode* step ships two paths, per the build contract:

- ``decode=\"real\"`` decodes genuine container formats with
  what the sandbox actually has: WAV/PCM via the stdlib ``wave`` module
  (8/16/32-bit, any channel count) and PPM/PGM (P6/P5 binary netpbm) via
  pure byte arithmetic + numpy — including a real nearest-neighbor image
  resize.  No PIL/librosa needed.  A payload that fails to parse yields a
  NULL-featured row, never a task failure — at 100 TB some payloads WILL
  be corrupt, and one bad blob must not kill a 1000-executor stage.
  VIDEO is real too: ``parse_y4m`` decodes uncompressed YUV4MPEG2
  streams (rational fps, 420/422/444/mono plane layouts) by pure byte
  arithmetic — no codec seam remains; COMPRESSED codecs (H.264 etc.)
  would still need ffmpeg, but the container/plane/sampling plumbing is
  exercised end-to-end on a genuine video format.
- ``decode=\"fake\"`` (default) derives deterministic pseudo-features from
  the bytes themselves (length, md5, byte-histogram stats).  Deliberately
  SQL-expressible so the whole mapInPandas pipeline — schema handling,
  Arrow batch transfer, per-batch vectorized compute — is differentially
  testable against DuckDB (see ``plans.multimodal``).

Everything Spark-side is real and scale-shaped: explicit output schemas,
bounded Arrow batches (``spark.sql.execution.arrow.maxRecordsPerBatch``),
per-partition streaming iteration (never a full-partition materialization),
and fan-out (frame sampling) emitted incrementally per batch.
"""

from __future__ import annotations

import hashlib
import io
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _segment_stat(payloads: pd.Series, lengths: pd.Series, stat: str) -> pd.Series:
    """Vectorized per-payload byte statistic for one Arrow batch.

    Concatenates the batch's payloads into ONE uint8 array and reduces
    each payload's segment with ``np.add.reduceat`` — no per-byte Python
    loop, so the fake featurizer's cost profile matches the module's
    batch-compute story (a real codec would likewise crunch the whole
    batch in native code).  Empty payloads yield NaN (NULL after Arrow).
    """
    n = lengths.to_numpy()
    if len(n) == 0:
        return pd.Series([], dtype="float64")
    arr = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    vals = arr.astype(np.float64)
    if stat == "rms":
        vals = vals * vals
    # reduceat needs each segment's start offset; an empty segment at
    # offset i would wrongly grab the next segment's first element, so
    # compute on the nonempty subset and scatter back.
    nonempty = n > 0
    starts = np.concatenate(([0], np.cumsum(n)[:-1]))[nonempty]
    out = np.full(len(n), np.nan)
    if starts.size:
        sums = np.add.reduceat(vals, starts)
        means = sums / n[nonempty]
        out[nonempty] = np.sqrt(means) if stat == "rms" else means
    return pd.Series(out)

# ---------------------------------------------------------------------------
# Real codecs (stdlib + numpy only — no PIL/librosa in the sandbox)

_WAV_DTYPES = {1: np.uint8, 2: "<i2", 4: "<i4"}


def parse_wav(payload: bytes):
    """Decode a RIFF/WAV payload with the stdlib ``wave`` module.

    Returns ``(sample_rate, n_channels, n_samples_per_channel, samples)``
    where ``samples`` is a float64 array of the interleaved PCM values
    CENTERED at zero (8-bit WAV is unsigned by spec — shifted by -128), or
    ``None`` if the payload is not a parseable 8/16/32-bit PCM WAV.
    """
    try:
        with wave.open(io.BytesIO(payload)) as w:
            sw = w.getsampwidth()
            dtype = _WAV_DTYPES.get(sw)
            if dtype is None:
                return None
            rate, ch, n = w.getframerate(), w.getnchannels(), w.getnframes()
            raw = w.readframes(n)
    except (wave.Error, EOFError, OSError):
        return None
    if rate <= 0 or ch <= 0:
        return None
    vals = np.frombuffer(raw, dtype=dtype).astype(np.float64)
    if sw == 1:
        vals -= 128.0
    return rate, ch, len(vals) // ch, vals


_PNM_WS = b" \t\r\n\x0b\x0c"


def parse_netpbm(payload: bytes):
    """Decode a BINARY netpbm payload (P6 RGB / P5 grayscale) by pure byte
    arithmetic: whitespace-and-comment header parse, then one frombuffer.

    Returns ``(width, height, pixels)`` with ``pixels`` uint8 shaped
    (h, w, 3) — grayscale broadcast to 3 channels — or ``None`` when
    unparseable.  Only maxval <= 255 (1 byte per sample) is supported.
    """
    magic = payload[:2]
    if magic not in (b"P6", b"P5"):
        return None
    fields: list[int] = []
    i = 2
    try:
        while len(fields) < 3:
            while payload[i] in _PNM_WS:
                i += 1
            if payload[i : i + 1] == b"#":
                while payload[i] not in b"\r\n":
                    i += 1
                continue
            j = i
            while payload[j] not in _PNM_WS:
                j += 1
            fields.append(int(payload[i:j]))
            i = j
        i += 1  # exactly ONE whitespace byte after maxval, per spec
    except (IndexError, ValueError):
        return None
    w, h, maxval = fields
    ch = 3 if magic == b"P6" else 1
    if not (0 < maxval <= 255 and w > 0 and h > 0):
        return None
    need = w * h * ch
    data = payload[i : i + need]
    if len(data) < need:
        return None
    px = np.frombuffer(data, dtype=np.uint8).reshape(h, w, ch)
    if ch == 1:
        px = np.repeat(px, 3, axis=2)
    return w, h, px


def encode_ppm(px: np.ndarray) -> bytes:
    """Re-encode an (h, w, 3) uint8 array as a binary P6 PPM payload."""
    h, w, _ = px.shape
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(px, dtype=np.uint8).tobytes()


#: Chroma-plane size as a fraction of the Y plane, per Y4M colorspace tag.
#: ``None`` marks a mono stream (no chroma planes).  All 4:2:0 siting
#: variants (jpeg/mpeg2/paldv) share one plane layout — siting only moves
#: the *sampling point*, not the bytes.
_Y4M_CHROMA = {
    b"420": (2, 2),
    b"420jpeg": (2, 2),
    b"420mpeg2": (2, 2),
    b"420paldv": (2, 2),
    b"422": (2, 1),
    b"444": (1, 1),
    b"mono": None,
}


def parse_y4m(payload: bytes, max_frames: int | None = None):
    """Decode an uncompressed YUV4MPEG2 (.y4m) video stream by pure byte
    arithmetic — the real-codec seam-closer for VIDEO (stdlib + numpy; the
    format mpv/ffmpeg/x264 use for raw interchange, so this is a genuine
    container parse, not a fake).

    Stream layout (public spec, as implemented by mjpegtools/ffmpeg):
    ``YUV4MPEG2`` then space-separated tagged params terminated by ``\\n``
    — ``W<int>`` ``H<int>`` ``F<num>:<den>`` (rational frame rate)
    ``I<char>`` ``A<num>:<den>`` ``C<colorspace>`` ``X<comment>`` — then
    per frame a ``FRAME[ params]\\n`` marker followed by raw planar data:
    Y (w*h bytes) and, except for mono, Cb + Cr at the colorspace's
    subsampling.

    Returns ``(width, height, fps_num, fps_den, colorspace, frames)``
    where ``frames`` is a list of ``(y, u, v)`` uint8 arrays — ``y``
    shaped (h, w), chroma shaped per subsampling, ``None`` for mono — or
    ``None`` when the payload is not parseable Y4M (magic/params/frame
    truncation).  ``max_frames`` stops parsing early so sampling a prefix
    of a long stream never scans the tail.
    """
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(b"YUV4MPEG2"):
        return None
    w = h = fps_num = fps_den = 0
    cspace = b"420jpeg"  # spec default when no C tag is present
    try:
        for tag in payload[9:nl].split(b" "):
            if not tag:
                continue
            key, val = tag[:1], tag[1:]
            if key == b"W":
                w = int(val)
            elif key == b"H":
                h = int(val)
            elif key == b"F":
                num, den = val.split(b":")
                fps_num, fps_den = int(num), int(den)
            elif key == b"C":
                cspace = val
            # I (interlacing), A (aspect), X (comment): legal, ignored
    except ValueError:
        return None
    if w <= 0 or h <= 0 or fps_num <= 0 or fps_den <= 0:
        return None
    sub = _Y4M_CHROMA.get(cspace, -1)
    if sub == -1:
        return None
    if sub is not None and (w % sub[0] or h % sub[1]):
        return None
    y_size = w * h
    c_shape = None if sub is None else (h // sub[1], w // sub[0])
    c_size = 0 if c_shape is None else c_shape[0] * c_shape[1]
    frames: list[tuple] = []
    i = nl + 1
    while i < len(payload):
        if max_frames is not None and len(frames) >= max_frames:
            break
        # spec: frame params (if any) are space-prefixed — 'FRAME' must be
        # followed by '\n' or ' ', else a corrupt marker (b"FRAMExyz\n")
        # would silently parse as a frame header
        if payload[i : i + 5] != b"FRAME" or payload[i + 5 : i + 6] not in (
            b"\n",
            b" ",
        ):
            return None
        fnl = payload.find(b"\n", i + 5)
        if fnl < 0:
            return None
        i = fnl + 1
        if i + y_size + 2 * c_size > len(payload):
            return None
        y = np.frombuffer(payload[i : i + y_size], dtype=np.uint8).reshape(h, w)
        i += y_size
        u = v = None
        if c_size:
            u = np.frombuffer(payload[i : i + c_size], dtype=np.uint8).reshape(c_shape)
            v = np.frombuffer(
                payload[i + c_size : i + 2 * c_size], dtype=np.uint8
            ).reshape(c_shape)
            i += 2 * c_size
        frames.append((y, u, v))
    return w, h, fps_num, fps_den, cspace.decode("ascii"), frames


def encode_y4m(
    frames: list[tuple], width: int, height: int, fps: tuple[int, int] = (30000, 1001)
) -> bytes:
    """Re-encode ``(y, u, v)`` planes as a YUV4MPEG2 stream (C420jpeg when
    chroma planes are present, Cmono otherwise)."""
    mono = frames and frames[0][1] is None
    head = b"YUV4MPEG2 W%d H%d F%d:%d Ip A1:1 C%s\n" % (
        width, height, fps[0], fps[1], b"mono" if mono else b"420jpeg",
    )
    parts = [head]
    for y, u, v in frames:
        parts.append(b"FRAME\n")
        parts.append(np.ascontiguousarray(y, dtype=np.uint8).tobytes())
        if u is not None:
            parts.append(np.ascontiguousarray(u, dtype=np.uint8).tobytes())
            parts.append(np.ascontiguousarray(v, dtype=np.uint8).tobytes())
    return b"".join(parts)


def resize_nearest(px: np.ndarray, tw: int, th: int) -> np.ndarray:
    """Nearest-neighbor resample to (th, tw, 3) with the floor index map
    ``src = (dst * src_len) // dst_len`` — deterministic, pure integer."""
    h, w, _ = px.shape
    rows = (np.arange(th, dtype=np.int64) * h) // th
    cols = (np.arange(tw, dtype=np.int64) * w) // tw
    return px[rows[:, None], cols[None, :]]


#: Output schema of ``decode_image_features``.
IMAGE_FEATURES_SCHEMA = (
    "id BIGINT, payload_bytes BIGINT, payload_md5 STRING, "
    "pseudo_width INT, pseudo_height INT, mean_byte DOUBLE"
)

#: Output schema of ``decode_image_features(decode="real")`` — NULL feature
#: fields (not a task failure) when a payload is not parseable netpbm.
IMAGE_REAL_SCHEMA = (
    "id BIGINT, width INT, height INT, "
    "mean_r DOUBLE, mean_g DOUBLE, mean_b DOUBLE"
)

#: Output schema of ``decode_audio_features(decode="real")``.
AUDIO_REAL_SCHEMA = (
    "id BIGINT, sample_rate INT, n_channels INT, n_samples BIGINT, "
    "duration_s DOUBLE, rms DOUBLE"
)

#: Output schema of ``sample_frames`` (fan-out: one row per sampled frame).
FRAME_SAMPLE_SCHEMA = "id BIGINT, frame_idx INT, frame_bytes BIGINT, frame_md5 STRING"


def with_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Adapter: treat a text column as an opaque binary payload column —
    the fixture stand-in for real image/audio bytes.

    No forced repartition: mapInPandas parallelism follows the source's
    splits, which is right at scale (a 100 TB table arrives well-split) —
    and measured locally, shuffling a small input to 32 Python workers
    costs more in worker spin-up than the parallelism buys.
    """
    return df.select(
        F.col(id_col).alias("id"), F.encode(F.col(text_col), "UTF-8").alias("payload")
    )


def decode_image_features(df: DataFrame, decode: str = "fake") -> DataFrame:
    """Per-image feature extraction over a binary column via mapInPandas.

    ``fake`` decode derives: payload size, content md5, a deterministic
    pseudo width/height (bytes mod 509 / mod 293 — coprime so the pair
    varies), and the mean byte value (the vectorized-batch-compute part).

    ``real`` decode parses binary netpbm (P6 PPM / P5 PGM) by
    pure byte arithmetic and emits true dimensions + per-channel means;
    a payload that is not parseable netpbm yields a NULL-featured row.
    """
    if decode == "real":

        def extract_real(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out: dict[str, list] = {
                    "id": [], "width": [], "height": [],
                    "mean_r": [], "mean_g": [], "mean_b": [],
                }
                for vid, payload in zip(pdf["id"], pdf["payload"]):
                    parsed = parse_netpbm(bytes(payload))
                    out["id"].append(vid)
                    if parsed is None:
                        for k in ("width", "height", "mean_r", "mean_g", "mean_b"):
                            out[k].append(None)
                        continue
                    w, h, px = parsed
                    means = px.reshape(-1, 3).mean(axis=0, dtype=np.float64)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["mean_r"].append(float(means[0]))
                    out["mean_g"].append(float(means[1]))
                    out["mean_b"].append(float(means[2]))
                yield pd.DataFrame(out)

        return df.mapInPandas(extract_real, IMAGE_REAL_SCHEMA)
    if decode != "fake":
        raise ValueError(f"decode must be 'fake' or 'real', got {decode!r}")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            n = payloads.str.len().astype("int64")
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "payload_bytes": n,
                    "payload_md5": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
                    "pseudo_width": (n % 509).astype("int32"),
                    "pseudo_height": (n % 293).astype("int32"),
                    "mean_byte": _segment_stat(payloads, n, "mean"),
                }
            )

    return df.mapInPandas(extract, IMAGE_FEATURES_SCHEMA)


def sample_frames(df: DataFrame, frame_size: int = 256, max_frames: int = 8) -> DataFrame:
    """Frame sampling for video-like payloads: split the byte stream into
    fixed-size frames, keep the first ``max_frames``, one output row each.

    The mapInPandas generator emits each input batch's frames incrementally
    — fan-out never materializes more than one Arrow batch of output, which
    is what makes this safe when one 'video' is large.
    """

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"id": [], "frame_idx": [], "frame_bytes": [], "frame_md5": []}
            for vid, payload in zip(pdf["id"], pdf["payload"]):
                n_frames = min((len(payload) + frame_size - 1) // frame_size, max_frames)
                for i in range(n_frames):
                    chunk = payload[i * frame_size : (i + 1) * frame_size]
                    out["id"].append(vid)
                    out["frame_idx"].append(i)
                    out["frame_bytes"].append(len(chunk))
                    out["frame_md5"].append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(out)

    return df.mapInPandas(frames, FRAME_SAMPLE_SCHEMA)


def resize_images(
    df: DataFrame,
    target_bytes: int = 1024,
    decode: str = "fake",
    target_wh: tuple[int, int] = (32, 32),
) -> DataFrame:
    """Image resize over a binary column (binary in, smaller binary out,
    per-batch vectorized).

    ``fake`` 'resizes' by deterministic stride subsampling of the byte
    stream to ``target_bytes``.  ``real`` decodes binary netpbm
    and performs a TRUE nearest-neighbor resample to ``target_wh``,
    re-encoding as P6 PPM — pure integer index arithmetic, no PIL; a
    non-netpbm payload yields a NULL payload row.
    """
    schema = "id BIGINT, payload BINARY, orig_bytes BIGINT, resized_bytes BIGINT"
    if decode == "real":
        tw, th = target_wh
        if tw <= 0 or th <= 0:
            raise ValueError(f"target_wh must be positive, got {target_wh!r}")

        def resize_real(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out: dict[str, list] = {
                    "id": [], "payload": [], "orig_bytes": [], "resized_bytes": [],
                }
                for vid, payload in zip(pdf["id"], pdf["payload"]):
                    raw = bytes(payload)
                    parsed = parse_netpbm(raw)
                    out["id"].append(vid)
                    out["orig_bytes"].append(len(raw))
                    if parsed is None:
                        out["payload"].append(None)
                        out["resized_bytes"].append(None)
                        continue
                    _, _, px = parsed
                    small = encode_ppm(resize_nearest(px, tw, th))
                    out["payload"].append(small)
                    out["resized_bytes"].append(len(small))
                yield pd.DataFrame(out)

        return df.mapInPandas(resize_real, schema)
    if decode != "fake":
        raise ValueError(f"decode must be 'fake' or 'real', got {decode!r}")

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"id": [], "payload": [], "orig_bytes": [], "resized_bytes": []}
            for vid, payload in zip(pdf["id"], pdf["payload"]):
                n = len(payload)
                stride = max(n // target_bytes, 1)
                small = payload[::stride][:target_bytes]
                out["id"].append(vid)
                out["payload"].append(small)
                out["orig_bytes"].append(n)
                out["resized_bytes"].append(len(small))
            yield pd.DataFrame(out)

    return df.mapInPandas(resize, schema)


def decode_audio_features(df: DataFrame, decode: str = "fake") -> DataFrame:
    """Audio feature extraction over a binary column.

    ``fake`` derives pseudo-features from the raw bytes (differentially
    testable against DuckDB).  ``real`` decodes RIFF/WAV PCM
    with the stdlib ``wave`` module — true sample rate, channel count,
    per-channel sample count, duration, and RMS amplitude over the
    zero-centered interleaved samples; an unparseable payload yields a
    NULL-featured row.
    """
    if decode == "real":

        def extract_wav(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out: dict[str, list] = {
                    "id": [], "sample_rate": [], "n_channels": [],
                    "n_samples": [], "duration_s": [], "rms": [],
                }
                for vid, payload in zip(pdf["id"], pdf["payload"]):
                    parsed = parse_wav(bytes(payload))
                    out["id"].append(vid)
                    if parsed is None:
                        for k in ("sample_rate", "n_channels", "n_samples",
                                  "duration_s", "rms"):
                            out[k].append(None)
                        continue
                    rate, ch, n, vals = parsed
                    out["sample_rate"].append(rate)
                    out["n_channels"].append(ch)
                    out["n_samples"].append(n)
                    out["duration_s"].append(n / rate)
                    out["rms"].append(
                        float(np.sqrt(np.mean(vals * vals))) if vals.size else None
                    )
                yield pd.DataFrame(out)

        return df.mapInPandas(extract_wav, AUDIO_REAL_SCHEMA)
    if decode != "fake":
        raise ValueError(f"decode must be 'fake' or 'real', got {decode!r}")
    schema = "id BIGINT, payload_bytes BIGINT, pseudo_duration_s DOUBLE, rms_byte DOUBLE"

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["payload"].str.len().astype("int64")
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "payload_bytes": n,
                    # pretend 16 kHz 16-bit mono
                    "pseudo_duration_s": n / 32000.0,
                    "rms_byte": _segment_stat(pdf["payload"], n, "rms"),
                }
            )

    return df.mapInPandas(extract, schema)
