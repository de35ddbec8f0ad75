"""Multimodal columns: opaque binary payloads + typed metadata.

Training-data pipelines carry images/audio/video as ``binary`` columns with
a metadata struct; the engine's job is the Spark-side plumbing — schema,
Arrow batch shape, UDF signatures — while the actual codec calls are
pluggable. The heavy media libraries (PIL/torchaudio/ffmpeg) are not
package dependencies, so the plug point ships stdlib-only REAL codecs for
one common format per kind plus two stub modes:

* ``decode_stub="deterministic"`` — a seeded fake decoder (payload bytes →
  stable pseudo-features) so the full plumbing is testable end-to-end;
* ``decode_stub="raise"`` — ``NotImplementedError`` marking exactly where
  PIL/torchaudio/ffmpeg plug in;
* ``decode_stub="wav"`` — a REAL codec for ``kind=audio``: payloads are
  parsed as RIFF/WAVE with the stdlib ``wave`` module and featurized from
  the actual PCM samples (per-window RMS); other kinds keep the
  deterministic fake;
* ``decode_stub="png"`` — a REAL codec for ``kind=image``: stdlib-only
  PNG decode (chunk parse, zlib-inflate IDAT, full scanline unfiltering
  incl. Paeth) featurized as per-tile luminance means;
* ``decode_stub="avi"`` — a REAL codec for ``kind=video``: stdlib-only
  RIFF/AVI parse (avih + BITMAPINFOHEADER validation, uncompressed 24bpp
  ``##db`` DIB frames) featurized as per-sampled-frame luminance means;
* ``decode_stub="codecs"`` — all three real codecs at once (audio=WAV,
  image=PNG, video=AVI). Malformed payloads in any real mode yield
  features=NULL per row, never a failed job.

Every output row carries a ``decode_status`` column — ``"ok"``,
``"unsupported"`` (legitimate payload in a shape this stdlib decoder
deliberately does not handle: compressed AVI, 16-bit/palette PNG, float
WAV), or ``"malformed"`` (corrupt/truncated/hostile bytes) — so a
90%-NULL ``features`` column at pipeline scale is diagnosable: it either
means garbage data or means "plug in PIL/ffmpeg", and the status says
which without re-decoding anything.

Everything around the stub is real: ``mapInPandas`` with Arrow-batched
binary columns, fixed output schemas and per-batch (not per-row)
iteration. ``extract_media_features`` is the module's one Spark operator
(q35 runs it).
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterator, Literal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                    T.StructField("mime", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16

#: pixel budget for the stdlib PNG/AVI decoders: a corrupt or hostile
#: header can claim dimensions up to 2^32 (and a PNG IDAT can be a
#: decompression bomb) — allocating width*height buffers before any
#: sanity check would OOM the executor python worker, which per-row
#: exception containment cannot catch. 64 MPix ≈ a 256 MB RGBA frame.
MAX_DECODE_PIXELS = 64 * 1024 * 1024

#: CPU budget for the two PNG filters whose left-neighbor dependency
#: forces a per-byte Python pass (Average/Paeth). None/Sub/Up unfilter
#: fully vectorized in numpy, so MAX_DECODE_PIXELS alone bounds them; a
#: 64 MPix Paeth-filtered image would still cost hundreds of millions of
#: Python-level iterations — minutes of one executor worker. Past this
#: many sequential-filtered bytes the payload is "unsupported" (a real
#: image a production deployment decodes with PIL in the same slot), not
#: decoded slowly.
MAX_SEQ_FILTER_BYTES = 8 * 1024 * 1024


class UnsupportedMediaError(ValueError):
    """A syntactically-plausible payload in a shape the stdlib codecs
    deliberately do not handle (compressed AVI, 16-bit/palette/interlaced
    PNG, 24-bit/float WAV, over-budget dimensions). Distinguished from
    plain ValueError (malformed bytes) so ``decode_status`` can tell a
    user whether NULL features mean garbage data or a missing codec."""


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("content_hash", T.StringType(), False),
        # nullable: a malformed payload yields features=NULL (the decode
        # error is contained per row — one bad payload must not fail the
        # whole batch job)
        T.StructField("features", T.ArrayType(T.FloatType()), True),
        # ok | unsupported | malformed — why features is (not) NULL
        T.StructField("decode_status", T.StringType(), False),
    ]
)


def _fake_decode(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for decode + feature extraction: md5-seeded
    pseudo-features in [0, 1). Replace with the real codec:

        img = PIL.Image.open(io.BytesIO(payload))      # <- real decode
        feats = model(preprocess(img))                  # <- real features
    """
    digest = hashlib.md5(payload or b"").digest()
    out = []
    for i in range(dim):
        h = hashlib.md5(digest + i.to_bytes(2, "big")).digest()
        out.append(int.from_bytes(h[:4], "big") / 2**32)
    return out


def decode_wav_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Real audio decode + featurize, stdlib-only: parse the RIFF/WAVE
    container with ``wave``, convert PCM to float64 full-scale [-1, 1)
    (8/16/32-bit widths), and emit ``dim`` per-window RMS features over
    the interleaved sample stream. This is the un-stubbed proof of the
    codec plug point — an image/video codec lands in the same slot."""
    import io
    import wave

    with wave.open(io.BytesIO(payload or b""), "rb") as w:
        width = w.getsampwidth()
        raw = w.readframes(w.getnframes())
    if width == 2:
        samples = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 2**15
    elif width == 1:  # 8-bit WAV PCM is unsigned
        samples = (
            np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0
        ) / 128.0
    elif width == 4:
        samples = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2**31
    else:
        raise UnsupportedMediaError(f"unsupported WAV sample width: {width}")
    if samples.size == 0:
        return [0.0] * dim
    return [
        float(np.sqrt(np.mean(np.square(win)))) if win.size else 0.0
        for win in np.array_split(samples, dim)
    ]


def decode_png_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Real image decode + featurize, stdlib-only: parse the PNG container
    (8-byte signature, length-type-data-CRC chunks), zlib-inflate the
    concatenated IDAT stream, reverse the per-scanline filters (None/Sub/
    Up/Average/Paeth — the full RFC 2083 §6 set), convert to luminance and
    emit per-tile means over a √dim×√dim grid, normalized to [0, 1].

    Supported: 8-bit depth, color types 0 (gray), 2 (RGB), 4 (gray+alpha),
    6 (RGBA), non-interlaced — the shapes real training corpora store.
    Palette/16-bit/interlaced raise ValueError (contained per row by
    :func:`_decode_png_safe`). This is the second REAL codec at the plug
    point (beside WAV) — PIL lands in the same slot with more formats."""
    import struct
    import zlib

    data = payload or b""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    width = height = None
    color_type = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        if len(chunk) < length:
            raise ValueError("truncated PNG chunk")
        pos += 12 + length  # skip CRC
        if ctype == b"IHDR":
            (width, height, bit_depth, color_type, _comp, _filt,
             interlace) = struct.unpack(">IIBBBBB", chunk)
            if bit_depth != 8:
                raise UnsupportedMediaError(
                    f"unsupported PNG bit depth: {bit_depth}"
                )
            if color_type not in (0, 2, 4, 6):
                raise UnsupportedMediaError(
                    f"unsupported PNG color type: {color_type}"
                )
            if interlace != 0:
                raise UnsupportedMediaError("interlaced PNG unsupported")
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
    if width is None or height is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    if not width or not height:
        raise ValueError("zero PNG dimensions")
    if width * height > MAX_DECODE_PIXELS:
        raise UnsupportedMediaError(
            f"PNG dimensions out of budget: {width}x{height}"
        )
    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride = width * channels
    # bounded inflate: a decompression-bomb IDAT must not allocate past
    # the size the (already-validated) dimensions call for
    expected_raw = height * (stride + 1)
    raw = zlib.decompressobj().decompress(bytes(idat), expected_raw + 1)
    if len(raw) < expected_raw:
        raise ValueError("truncated PNG pixel data")

    # reverse scanline filters (RFC 2083 §6.2-6.6). None/Sub/Up vectorize
    # fully (Sub is a per-channel-lane cumulative sum — mod 256 distributes
    # over addition; Up is uint8 wraparound addition with the previous
    # reconstructed row). Average/Paeth read the LEFT neighbor of the row
    # being built, an inherently sequential dependency — those rows run a
    # per-byte Python pass bounded by MAX_SEQ_FILTER_BYTES so a hostile
    # all-Paeth 64 MPix image cannot stall an executor worker for minutes.
    raw_rows = np.frombuffer(
        raw[: height * (stride + 1)], dtype=np.uint8
    ).reshape(height, stride + 1)
    filters = raw_rows[:, 0]
    lines = raw_rows[:, 1:]
    if np.any(filters > 4):
        raise ValueError(
            f"unknown PNG filter type: {int(filters[filters > 4][0])}"
        )
    seq_rows = int(np.count_nonzero((filters == 3) | (filters == 4)))
    if seq_rows * stride > MAX_SEQ_FILTER_BYTES:
        raise UnsupportedMediaError(
            f"PNG Average/Paeth filter workload ({seq_rows} rows x "
            f"{stride} B) exceeds the stdlib decoder's sequential budget"
        )

    recon = np.zeros((height, stride), dtype=np.uint8)
    zero_row = [0] * stride
    for y in range(height):
        f = int(filters[y])
        line = lines[y]
        if f == 0:  # None
            recon[y] = line
        elif f == 1:  # Sub: cumsum along each channel lane, mod 256
            recon[y] = (
                line.astype(np.int64).reshape(width, channels).cumsum(axis=0)
                & 0xFF
            ).astype(np.uint8).reshape(stride)
        elif f == 2:  # Up: uint8 addition wraps mod 256
            recon[y] = line + recon[y - 1] if y else line
        elif f == 3:  # Average (sequential: left neighbor of current row)
            ln = line.tolist()
            pv = recon[y - 1].tolist() if y else zero_row
            out = [0] * stride
            for i in range(stride):
                a = out[i - channels] if i >= channels else 0
                out[i] = (ln[i] + (a + pv[i]) // 2) & 0xFF
            recon[y] = out
        else:  # Paeth (sequential: left + upper-left of current row)
            ln = line.tolist()
            pv = recon[y - 1].tolist() if y else zero_row
            out = [0] * stride
            for i in range(stride):
                a = out[i - channels] if i >= channels else 0
                b = pv[i]
                c = pv[i - channels] if i >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                out[i] = (ln[i] + pred) & 0xFF
            recon[y] = out

    px = recon.reshape(height, width, channels)
    if channels >= 3:
        gray = (
            0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
        )
    else:
        gray = px[:, :, 0].astype(np.float64)
    grid = max(1, int(math.isqrt(dim)))
    feats = []
    for ty in range(grid):
        for tx in range(grid):
            tile = gray[
                ty * height // grid : max((ty + 1) * height // grid, ty * height // grid + 1),
                tx * width // grid : max((tx + 1) * width // grid, tx * width // grid + 1),
            ]
            feats.append(float(tile.mean() / 255.0) if tile.size else 0.0)
    feats += [0.0] * (dim - len(feats))
    return feats[:dim]


def decode_avi_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Real video decode + featurize, stdlib-only: parse the RIFF/AVI
    container (hdrl: `avih` main header + `strl`/`strf` BITMAPINFOHEADER;
    movi: `##db` uncompressed DIB frames — 24bpp BI_RGB, BGR bottom-up
    rows padded to 4 bytes, exactly BMP pixel data without the BMP
    header). Emits ``dim`` per-sampled-frame mean-luminance features over
    evenly spaced frames, normalized to [0, 1] (zero-padded past the
    frame count).

    Compressed streams (biCompression != 0) and non-24bpp raise
    ValueError — contained per row by :func:`_decode_avi_safe`; ffmpeg
    lands in the same slot with real codecs. Completes the real-codec
    triple (WAV audio, PNG image, AVI video) at the plug point."""
    import struct

    data = payload or b""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")

    width = height = None
    bit_count = compression = None
    frames: list[tuple[int, int]] = []
    last_stream_type = None  # fccType of the most recent strh chunk

    # Iterative in-order RIFF walk with an explicit stack: a crafted
    # payload of ~24 KB of nested LISTs would blow Python's recursion
    # limit on a recursive scan, and RecursionError escaping per-row
    # containment fails the whole Spark job. Each descent suspends the
    # remaining siblings as a (resume_pos, end) frame, so traversal order
    # is exactly the recursive DFS; stack depth is bounded by nesting
    # depth <= len(data)/8 tuples of two ints.
    stack: list[tuple[int, int]] = [(12, len(data))]
    while stack:
        pos, end = stack.pop()
        while pos + 8 <= end:
            fourcc = data[pos : pos + 4]
            (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            s = pos + 8
            e = min(s + size, end)
            next_pos = s + size + (size & 1)  # chunks are word-aligned
            if fourcc in (b"LIST", b"RIFF"):
                stack.append((next_pos, end))  # siblings resume later
                pos, end = s + 4, e  # descend past the 4-byte list type
                continue
            if fourcc == b"avih":
                if e - s >= 40:
                    width = struct.unpack("<I", data[s + 32 : s + 36])[0]
                    height = struct.unpack("<I", data[s + 36 : s + 40])[0]
            elif fourcc == b"strh" and e - s >= 4:
                last_stream_type = data[s : s + 4]
            elif fourcc == b"strf" and bit_count is None and e - s >= 20:
                # take ONLY the VIDEO stream's format block: stream order
                # in hdrl is arbitrary, and an audio strl first would put
                # a WAVEFORMATEX here whose bytes misparse as
                # biBitCount/biCompression (the preceding strh's fccType
                # says which stream this strf describes)
                if last_stream_type == b"vids":
                    # BITMAPINFOHEADER: biSize, biWidth, biHeight,
                    # biPlanes, biBitCount(14), biCompression(16)
                    bit_count = struct.unpack("<H", data[s + 14 : s + 16])[0]
                    compression = struct.unpack(
                        "<I", data[s + 16 : s + 20]
                    )[0]
            elif fourcc[2:4] in (b"db", b"dc") and fourcc[:2].isdigit():
                frames.append((s, e))
            pos = next_pos
    if not width or not height:
        raise ValueError("missing AVI avih header")
    if width * height > MAX_DECODE_PIXELS:
        raise UnsupportedMediaError(
            f"AVI dimensions out of budget: {width}x{height}"
        )
    if compression not in (None, 0) or (
        bit_count is not None and bit_count != 24
    ):
        raise UnsupportedMediaError(
            f"unsupported AVI stream (biBitCount={bit_count}, "
            f"biCompression={compression}) — only uncompressed 24bpp BI_RGB"
        )
    if not frames:
        raise ValueError("no video frames in movi list")

    row_stride = (width * 3 + 3) & ~3  # rows padded to 4 bytes
    expected = row_stride * height
    # evenly sample up to dim frames
    n = len(frames)
    take = [frames[(i * n) // min(n, dim)] for i in range(min(n, dim))]
    feats = []
    for s, e in take:
        if e - s < expected:
            raise ValueError("truncated AVI frame (or compressed stream)")
        buf = np.frombuffer(data[s : s + expected], dtype=np.uint8).reshape(
            height, row_stride
        )[:, : width * 3].reshape(height, width, 3)
        # DIB rows are bottom-up BGR; means are order-invariant so only the
        # channel order matters for luminance
        lum = (
            0.114 * buf[:, :, 0] + 0.587 * buf[:, :, 1] + 0.299 * buf[:, :, 2]
        )
        feats.append(float(lum.mean() / 255.0))
    feats += [0.0] * (dim - len(feats))
    return feats[:dim]


def _decode_avi_safe(payload: bytes) -> tuple[list[float] | None, str]:
    """Per-row containment for the AVI codec (same contract as the WAV/PNG
    arms): (features, "ok") on success; (None, "unsupported") for
    compressed/non-24bpp/over-budget streams; (None, "malformed") for
    corrupt bytes. RecursionError stays in the caught tuple as defense in
    depth even though the RIFF walk is iterative now."""
    import struct

    try:
        return decode_avi_features(payload), "ok"
    except UnsupportedMediaError:
        return None, "unsupported"
    except (ValueError, struct.error, IndexError, OSError, RecursionError):
        return None, "malformed"


def _decode_png_safe(payload: bytes) -> tuple[list[float] | None, str]:
    """Per-row containment for the PNG codec (same contract as
    :func:`_decode_wav_safe`): malformed/unsupported payloads yield
    features=NULL + a status instead of failing the batch job."""
    import struct
    import zlib

    try:
        return decode_png_features(payload), "ok"
    except UnsupportedMediaError:
        return None, "unsupported"
    except (ValueError, zlib.error, struct.error, IndexError, OSError):
        return None, "malformed"


def _decode_wav_safe(payload: bytes) -> tuple[list[float] | None, str]:
    """Per-row containment for the real codec: a corrupt RIFF header or a
    truncated stream yields (None, "malformed"); an unsupported PCM width
    (24-bit/float) yields (None, "unsupported") — the other stub modes
    tolerate arbitrary bytes, and the real decoder must too."""
    import wave

    try:
        return decode_wav_features(payload), "ok"
    except UnsupportedMediaError:
        return None, "unsupported"
    except (wave.Error, ValueError, EOFError, OSError):
        return None, "malformed"


def extract_media_features(
    media: DataFrame,
    decode_stub: Literal[
        "deterministic", "raise", "wav", "png", "avi", "codecs"
    ] = "deterministic",
    batch_size_hint: int = 256,
) -> DataFrame:
    """Decode + featurize media rows via ``mapInPandas``.

    The UDF iterates Arrow batches (``batch_size_hint`` rows of binary each —
    set spark.sql.execution.arrow.maxRecordsPerBatch down for large
    payloads); inside a batch the codec loop is per-payload by necessity,
    but no Spark-level per-row Python exists.
    """

    def _featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode_stub == "raise":
                raise NotImplementedError(
                    "media decode requires PIL/torchaudio/ffmpeg — not in "
                    "this container; plug the codec into _fake_decode's slot"
                )
            payloads = pdf["payload"]
            if decode_stub in ("wav", "png", "avi", "codecs"):
                real_audio = decode_stub in ("wav", "codecs")
                real_image = decode_stub in ("png", "codecs")
                real_video = decode_stub in ("avi", "codecs")
                pairs = [
                    _decode_wav_safe(b)
                    if (k == "audio" and real_audio)
                    else _decode_png_safe(b)
                    if (k == "image" and real_image)
                    else _decode_avi_safe(b)
                    if (k == "video" and real_video)
                    else (_fake_decode(b), "ok")
                    for b, k in zip(payloads, pdf["kind"])
                ]
                feats = [p[0] for p in pairs]
                status = [p[1] for p in pairs]
            else:
                feats = [_fake_decode(b) for b in payloads]
                status = ["ok"] * len(feats)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": payloads.map(lambda b: len(b or b"")).astype("int32"),
                    "content_hash": payloads.map(
                        lambda b: hashlib.md5(b or b"").hexdigest()
                    ),
                    "features": pd.Series(feats, index=pdf.index),
                    "decode_status": pd.Series(status, index=pdf.index),
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        _featurize, FEATURES_SCHEMA
    )
