"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with decode / feature-extraction as Arrow-batched pandas stages.

The pattern for image/audio/video at 100 TB: the payload is an opaque
``binary`` column (or an object-store URI for large blobs) carried next to
typed metadata; decode/resize/frame-sample run inside ``mapInPandas`` so
bytes move driver-free, Arrow-batched, one Python worker per input split —
the *only* sane Python boundary at scale. Partitioning, schema, and batch
shape here are the real production plumbing. Codecs: ``decode_image``
prefers PIL when importable and otherwise uses builtin real decoders
(PNG 8-bit RGB/RGBA with full filter reconstruction, binary PPM);
``decode_wav`` is a real RIFF/PCM parser. The default feature mode stays
the deterministic md5 fake so every stage also has an exact SQL oracle;
``real_decode=True`` / ``real_codec=True`` run the genuine paths
(tests/test_multimodal_codec.py exercises both on in-process-encoded
fixtures).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, content_md5 string, "
    "pseudo_width int, pseudo_height int"
)


def attach_binary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a multimodal table: payload = utf-8 bytes of the text
    (stand-in for image bytes) + typed metadata struct."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        F.encode(t, "utf-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(t).alias("n_bytes"),
        ).alias("meta"),
    )


def _png_decode(payload: bytes):
    """Minimal real PNG decoder (8-bit RGB/RGBA, no interlace): IHDR
    parse, zlib-inflate IDAT, undo per-row filters. Pure stdlib + numpy —
    exercises a genuine decode (headers, entropy coding, filter
    reconstruction) without PIL in the container."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, width, height, channels, idat = 8, None, None, None, b""
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            width, height, depth, color = struct.unpack(">IIBB", data[:10])
            if depth != 8 or color not in (2, 6) or data[12] != 0:
                raise NotImplementedError(
                    "builtin decoder handles 8-bit RGB/RGBA non-interlaced"
                )
            channels = 3 if color == 2 else 4
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    raw = zlib.decompress(idat)
    stride = width * channels
    img = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)], dtype=np.uint8
        ).astype(np.int32)
        if ftype == 0:
            rec = row
        elif ftype == 2:  # Up
            rec = (row + prev) % 256
        elif ftype == 1:  # Sub
            rec = row.copy()
            for x in range(channels, stride):
                rec[x] = (rec[x] + rec[x - channels]) % 256
        elif ftype == 3:  # Average
            rec = row.copy()
            for x in range(stride):
                left = rec[x - channels] if x >= channels else 0
                rec[x] = (rec[x] + (left + int(prev[x])) // 2) % 256
        elif ftype == 4:  # Paeth
            rec = row.copy()
            for x in range(stride):
                a = int(rec[x - channels]) if x >= channels else 0
                b = int(prev[x])
                c = int(prev[x - channels]) if x >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (rec[x] + pred) % 256
        else:
            raise NotImplementedError(f"PNG filter {ftype}")
        img[y] = rec.astype(np.uint8)
        prev = img[y]
    return width, height, channels, img.reshape(height, width, channels)


def _ppm_decode(payload: bytes):
    """Binary PPM (P6) decoder — header tokens then raw RGB."""
    import numpy as np

    tokens, pos = [], 2
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos] in b" \t\r\n":
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while payload[pos] not in b"\r\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and payload[pos] not in b" \t\r\n":
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, _maxval = tokens
    arr = np.frombuffer(
        payload[pos : pos + width * height * 3], dtype=np.uint8
    ).reshape(height, width, 3)
    return width, height, 3, arr


def decode_image(payload: bytes):
    """Real decode path. Prefers PIL when importable (full codec
    coverage); otherwise uses the built-in pure-python decoders (PNG
    8-bit RGB/RGBA, binary PPM). Returns (width, height, channels,
    ndarray[h, w, c]). Raises NotImplementedError for formats neither
    path handles — the Arrow plumbing around this call is identical
    either way.

    Both paths normalize to 3-channel RGB (alpha dropped, matching
    PIL's convert('RGB') semantics for unassociated alpha) so resize
    bytes / md5 / feature sums are identical whether or not PIL is
    installed — an RGBA input must not change shape with the codec."""
    try:
        from PIL import Image  # noqa: F401 - optional full codec

        import io

        import numpy as np

        img = Image.open(io.BytesIO(payload))
        arr = np.asarray(img.convert("RGB"))
        return img.width, img.height, arr.shape[2], arr
    except ImportError:
        pass
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        w, h, c, arr = _png_decode(payload)
        if c == 4:
            arr, c = arr[:, :, :3], 3
        return w, h, c, arr
    if payload[:2] == b"P6":
        return _ppm_decode(payload)
    raise NotImplementedError(
        "builtin decoder: PNG (8-bit RGB/RGBA) and PPM only; install PIL "
        "for full coverage"
    )


def resize_nearest(arr, out_w: int, out_h: int):
    """Nearest-neighbor resize of an (h, w, c) array — the real kernel
    behind resize_images(real_codec=True); numpy fancy-indexing, no loops."""
    import numpy as np

    h, w = arr.shape[0], arr.shape[1]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return arr[ys][:, xs]


def extract_features(binary_df: DataFrame, real_decode: bool = False) -> DataFrame:
    """Arrow-batched feature extraction over the payload column.
    Default is the deterministic fake 'decode' (content hash + md5-seeded
    pseudo dimensions) that the SQL oracle replays exactly.
    ``real_decode=True`` routes through decode_image — a real decoder
    (PIL when importable, builtin PNG/PPM otherwise) — and reports the
    image's actual width/height in the same schema."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                h = hashlib.md5(raw).hexdigest()
                if real_decode:
                    width, height, _c, _arr = decode_image(raw)
                else:
                    width, height = 64 + int(h[0], 16), 64 + int(h[1], 16)
                out.append((int(doc_id), len(raw), h, width, height))
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "n_bytes", "content_md5",
                    "pseudo_width", "pseudo_height",
                ],
            )

    return binary_df.mapInPandas(run, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, out_w int, out_h int, "
    "out_bytes bigint, resized_md5 string"
)


def resize_images(
    binary_df: DataFrame,
    out_w: int = 224,
    out_h: int = 224,
    real_codec: bool = False,
) -> DataFrame:
    """Arrow-batched resize stage. Default is the deterministic fake —
    it keeps the byte-budget arithmetic a real resize has (output capped
    at out_w*out_h*3 RGB bytes) and derives the output digest from
    (input digest, target dims) so the stage is oracle-checkable.
    ``real_codec=True`` decodes the payload (decode_image) and runs a
    real nearest-neighbor resize; out_bytes/resized_md5 then describe
    the actual resized RGB buffer. Batch shape/schema/partitioning are
    identical in both modes: one row in, one row out, bytes never leave
    the executor."""
    w, h = int(out_w), int(out_h)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                n = len(raw)
                if real_codec:
                    _w0, _h0, _c, arr = decode_image(raw)
                    buf = resize_nearest(arr, w, h).tobytes()
                    out.append(
                        (
                            int(doc_id), n, w, h, len(buf),
                            hashlib.md5(buf).hexdigest(),
                        )
                    )
                    continue
                digest = hashlib.md5(raw).hexdigest()
                resized = hashlib.md5(
                    (digest + f"|{w}x{h}").encode()
                ).hexdigest()
                out.append((int(doc_id), n, w, h, min(n, w * h * 3), resized))
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "n_bytes", "out_w", "out_h",
                    "out_bytes", "resized_md5",
                ],
            )

    return binary_df.mapInPandas(run, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = (
    "doc_id bigint, frame_idx bigint, ts_ms bigint, frame_md5 string"
)


def frame_sample(
    video_df: DataFrame, every_n: int = 24
) -> DataFrame:
    """Frame sampling over synthetic video rows (payload + fps +
    duration_s metadata): emit one row per sampled frame — frame index,
    millisecond offset, per-frame digest. One input row fans out to
    n_frames/every_n output rows INSIDE the Arrow batch (the 1→N shape a
    real ffmpeg frame extractor has); no shuffle, no driver involvement,
    output size is bounded by duration*fps/every_n per video. The frame
    'decode' is the deterministic digest fake (no ffmpeg in container);
    everything else is the production plumbing."""
    step = int(every_n)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload, fps, dur in zip(
                pdf["doc_id"], pdf["payload"], pdf["fps"], pdf["duration_s"]
            ):
                digest = hashlib.md5(bytes(payload)).hexdigest()
                total = int(fps) * int(dur)
                for frame in range(0, total, step):
                    out.append(
                        (
                            int(doc_id),
                            frame,
                            frame * 1000 // int(fps),
                            hashlib.md5(
                                (digest + f"#{frame}").encode()
                            ).hexdigest(),
                        )
                    )
            yield pd.DataFrame(
                out, columns=["doc_id", "frame_idx", "ts_ms", "frame_md5"]
            )

    return video_df.mapInPandas(run, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Audio: real RIFF/WAV decode + windowed features

AUDIO_FEATURE_SCHEMA = (
    "doc_id bigint, win_idx int, n_samples int, sum_sq bigint, rms double"
)


def make_wav(samples, sample_rate: int = 16000) -> bytes:
    """Minimal mono 16-bit PCM WAV encoder (RIFF + fmt + data chunks)."""
    import struct

    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    byte_rate = sample_rate * 2
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, byte_rate, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def decode_wav(payload: bytes):
    """Real RIFF/WAV parser: walks the chunk list, reads the fmt chunk
    (PCM 16-bit only), returns (sample_rate, n_channels, int16 ndarray).
    Pure stdlib + numpy — the audio analog of the builtin PNG decoder."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + length]
        if cid == b"fmt ":
            fmt_code, channels, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if fmt_code != 1 or bits != 16:
                raise NotImplementedError("builtin WAV decoder: 16-bit PCM only")
        elif cid == b"data":
            data = body
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return rate, channels, np.frombuffer(data, dtype="<i2")


def synth_audio(docs: DataFrame, sample_rate: int = 16000) -> DataFrame:
    """Deterministic synthetic audio table: one WAV payload per doc_id,
    samples s_i = ((doc_id*31 + i*17) % 65536) - 32768 over
    n = 256 + (doc_id % 7) * 128 samples. The formula is the point: the
    SQL oracle regenerates the same samples symbolically, so the REAL
    decode path (RIFF parse + PCM extraction) is verifiable end to end
    without audio files in the testdata."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 256 + (d % 7) * 128
                i = np.arange(n, dtype=np.int64)
                samples = ((d * 31 + i * 17) % 65536 - 32768).astype("<i2")
                out.append((d, bytearray(make_wav(samples, sample_rate))))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return docs.select("doc_id").mapInPandas(
        run, schema="doc_id bigint, payload binary"
    )


def audio_features(audio_df: DataFrame, window: int = 128) -> DataFrame:
    """Windowed audio features over WAV payloads: per window of `window`
    samples, the exact integer sum of squares and the RMS
    (sqrt(sum_sq / n), reproducible: integer sum -> one double division
    -> one correctly-rounded sqrt). 1->N fan-out inside the Arrow batch,
    driver never sees bytes — same scale shape as frame_sample."""
    import math

    w = int(window)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _rate, _ch, samples = decode_wav(bytes(payload))
                for wi in range(0, len(samples), w):
                    chunk = samples[wi : wi + w].astype("int64")
                    ssq = int((chunk * chunk).sum())
                    n = len(chunk)
                    out.append(
                        (
                            int(doc_id),
                            wi // w,
                            n,
                            ssq,
                            round(math.sqrt(ssq / n), 6),
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "win_idx", "n_samples", "sum_sq", "rms"],
            )

    return audio_df.mapInPandas(run, schema=AUDIO_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Video: real YUV4MPEG2 (y4m) decode + per-frame features

VIDEO_FEATURE_SCHEMA = (
    "doc_id bigint, frame_idx int, sum_luma bigint, poly_hash bigint, "
    "mean_luma double"
)


def make_y4m(frames, width: int, height: int, fps: int = 25) -> bytes:
    """Minimal YUV4MPEG2 encoder, mono (Y-plane-only) frames."""
    import numpy as np

    head = f"YUV4MPEG2 W{width} H{height} F{fps}:1 Ip A1:1 Cmono\n".encode()
    body = b"".join(
        b"FRAME\n" + np.asarray(f, dtype=np.uint8).tobytes() for f in frames
    )
    return head + body


def decode_y4m(payload: bytes):
    """Real YUV4MPEG2 parser: stream header (W/H/F/C tags), FRAME
    markers, fixed-size planes. Supports mono and C420 (Y plane
    returned). Returns (width, height, fps_num, fps_den, [Y ndarray])."""
    import numpy as np

    nl = payload.index(b"\n")
    head = payload[:nl].split(b" ")
    if head[0] != b"YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 payload")
    width = height = None
    fps_num, fps_den, colorspace = 25, 1, b"C420"
    for tag in head[1:]:
        if tag[:1] == b"W":
            width = int(tag[1:])
        elif tag[:1] == b"H":
            height = int(tag[1:])
        elif tag[:1] == b"F":
            fps_num, fps_den = (int(x) for x in tag[1:].split(b":"))
        elif tag[:1] == b"C":
            colorspace = tag
    if colorspace.startswith(b"Cmono"):
        frame_bytes = width * height
    elif colorspace.startswith(b"C420"):
        frame_bytes = width * height * 3 // 2
    else:
        raise NotImplementedError(f"y4m colorspace {colorspace!r}")
    frames, pos = [], nl + 1
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError("missing FRAME marker")
        y = np.frombuffer(
            payload[fnl + 1 : fnl + 1 + width * height], dtype=np.uint8
        ).reshape(height, width)
        frames.append(y)
        pos = fnl + 1 + frame_bytes
    return width, height, fps_num, fps_den, frames


def synth_video(docs: DataFrame, width: int = 8, height: int = 8) -> DataFrame:
    """Deterministic synthetic video table: one mono y4m payload per doc,
    n = 5 + doc_id % 25 frames, Y[f][i] = (doc_id*7 + f*13 + i*3) % 256.
    As with synth_audio, the formula lets the SQL oracle regenerate the
    pixels symbolically, so the REAL container parse + plane extraction
    is verifiable end to end without video files in the testdata."""
    import numpy as np

    n_px = width * height

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 5 + d % 25
                i = np.arange(n_px, dtype=np.int64)
                frames = [
                    ((d * 7 + f * 13 + i * 3) % 256).astype(np.uint8).reshape(
                        height, width
                    )
                    for f in range(n)
                ]
                out.append((d, bytearray(make_y4m(frames, width, height))))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return docs.select("doc_id").mapInPandas(
        run, schema="doc_id bigint, payload binary"
    )


def video_features(video_df: DataFrame, every_n: int = 6) -> DataFrame:
    """Per-sampled-frame luma features over y4m payloads: REAL container
    decode (decode_y4m), every `every_n`-th frame, exact integer
    sum/polynomial-hash plus the derived mean. Same 1->N Arrow fan-out
    shape as frame_sample/audio_features; bytes never reach the driver."""
    step = int(every_n)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _w, _h, _fn, _fd, frames = decode_y4m(bytes(payload))
                for fi in range(0, len(frames), step):
                    y = frames[fi].astype(np.int64).reshape(-1)
                    s = int(y.sum())
                    ph = int((y * (np.arange(len(y)) + 1)).sum())
                    out.append(
                        (
                            int(doc_id), fi, s, ph,
                            round(s / len(y), 6),
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "frame_idx", "sum_luma", "poly_hash",
                    "mean_luma",
                ],
            )

    return video_df.mapInPandas(run, schema=VIDEO_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Image: real PNG round-trip (encode in synth, decode in features)

IMAGE_FEATURE_SCHEMA = (
    "doc_id bigint, width int, height int, sum_rgb bigint, poly_hash bigint, "
    "mean_rgb double"
)


def make_png(arr) -> bytes:
    """Minimal real PNG encoder: 8-bit RGB, filter 0 per row, one zlib
    IDAT — decodable by any PNG reader (and by _png_decode)."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(arr, dtype=np.uint8)
    h, w, c = arr.shape
    assert c == 3

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def synth_images(docs: DataFrame, width: int = 8, height: int = 6) -> DataFrame:
    """Deterministic synthetic image table: one real PNG per doc,
    RGB[i] = (doc_id*5 + i*11) % 256 over width*height*3 bytes. The
    formula is SQL-replayable, so q83 hash-verifies the genuine
    compress->inflate->unfilter round-trip end to end."""
    import numpy as np

    n_b = width * height * 3

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                i = np.arange(n_b, dtype=np.int64)
                arr = ((d * 5 + i * 11) % 256).astype(np.uint8).reshape(
                    height, width, 3
                )
                out.append((d, bytearray(make_png(arr))))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return docs.select("doc_id").mapInPandas(
        run, schema="doc_id bigint, payload binary"
    )


def image_features_real(image_df: DataFrame) -> DataFrame:
    """REAL image decode features: decode_image (PIL or builtin PNG),
    exact integer sum / polynomial hash over the RGB bytes plus the
    derived mean — the image twin of audio_features/video_features."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, _c, arr = decode_image(bytes(payload))
                flat = arr.astype(np.int64).reshape(-1)
                s = int(flat.sum())
                ph = int((flat * (np.arange(len(flat)) + 1)).sum())
                out.append(
                    (int(doc_id), w, h, s, ph, round(s / len(flat), 6))
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "width", "height", "sum_rgb", "poly_hash",
                    "mean_rgb",
                ],
            )

    return image_df.mapInPandas(run, schema=IMAGE_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual image hashing (average-hash): embedding-free image
# near-dup — the visual analog of SimHash. Brightness-threshold bits
# are invariant to uniform exposure shifts, which is exactly what
# byte-level md5 dedup cannot see.


def image_ahash(image_df: DataFrame, grid: int = 8) -> DataFrame:
    """64-bit average-hash per image: decode (real codec), grayscale,
    mean-pool onto a grid x grid lattice, threshold each cell at the
    image mean; bit = cell >= mean. Returns (doc_id, hi, lo) — the same
    two-int32 signature layout as the embedding RP-LSH, so the block-
    pigeonhole pair machinery applies unchanged.

    Arrow-batched mapInPandas over the binary column; per-image work is
    one decode + one pooled mean — the cheap screening pass a multimodal
    pipeline runs before any embedding model. Deterministic integer
    arithmetic end to end (sum-compare, no float thresholds), so
    signatures are partition- and engine-independent."""
    assert grid * grid == 64, "ahash uses a 64-bit signature (grid=8)"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, _c, arr = decode_image(bytes(payload))
                # integer grayscale: sum of channels (scale-free for the
                # threshold compare; avoids float rounding entirely)
                g = arr.astype(np.int64).sum(axis=2)
                ys = (np.arange(grid) * h) // grid
                xs = (np.arange(grid) * w) // grid
                ye = np.append(ys[1:], h)
                xe = np.append(xs[1:], w)
                cells = np.empty((grid, grid), dtype=np.int64)
                areas = np.empty((grid, grid), dtype=np.int64)
                for yi in range(grid):
                    for xi in range(grid):
                        blk = g[ys[yi]:ye[yi], xs[xi]:xe[xi]]
                        cells[yi, xi] = int(blk.sum())
                        areas[yi, xi] = blk.size
                # bit = cell_mean >= image_mean, as a cross-multiplied
                # integer compare: cell_sum * total_area >= total_sum * cell_area
                total_sum = int(g.sum())
                total_area = int(g.size)
                bits = (cells * total_area) >= (total_sum * areas)
                flat = bits.reshape(-1)
                lo = hi = 0
                for b in range(32):
                    lo |= int(flat[b]) << b
                for b in range(32, 64):
                    hi |= int(flat[b]) << (b - 32)
                out.append((int(doc_id), hi, lo))
            yield pd.DataFrame(out, columns=["doc_id", "hi", "lo"])

    return image_df.mapInPandas(run, schema="doc_id bigint, hi bigint, lo bigint")


def image_ahash_pairs(
    image_df: DataFrame, max_hamming: int = 7, n_blocks: int = 8
) -> DataFrame:
    """Visually-near-duplicate image pairs: ahash signatures joined by
    the 64/n_blocks-bit block pigeonhole (hamming <= n_blocks - 1
    guarantees a shared block — identical argument to the embedding
    RP-LSH pairs, dedup.py), hamming verified with xor + bit_count.
    Equi-join on (block, value): never all-pairs. Returns (id1, id2,
    hamming)."""
    assert 64 % n_blocks == 0 and max_hamming < n_blocks
    from unifydb_spark.resources import tracked_persist

    width = 64 // n_blocks
    mask = (1 << width) - 1
    sig = tracked_persist(image_ahash(image_df))
    blocks = []
    for i in range(n_blocks):
        off = i * width
        src = F.col("lo") if off < 32 else F.col("hi")
        blocks.append(
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftright(src, off % 32).bitwiseAND(F.lit(mask)).alias("v"),
            )
        )
    expl = sig.select(
        "doc_id", "hi", "lo", F.explode(F.array(*blocks)).alias("b")
    ).select("doc_id", "hi", "lo", "b.blk", "b.v")
    a, b = expl.alias("a"), expl.alias("b")
    ham = F.bit_count(F.col("a.hi").bitwiseXOR(F.col("b.hi"))) + F.bit_count(
        F.col("a.lo").bitwiseXOR(F.col("b.lo"))
    )
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def image_ahash_dedup(image_df: DataFrame) -> DataFrame:
    """Perceptual dedup groups: images with IDENTICAL ahash signatures
    cluster under the min doc_id (the visual analog of exact_dedup's
    md5 grouping — robust to uniform brightness shifts that change
    every byte). One hash groupBy; output one row per image. Returns
    (doc_id, ahash_hi, ahash_lo, canonical_id, cluster_size)."""
    from pyspark.sql import Window

    sig = image_ahash(image_df)
    w = Window.partitionBy("hi", "lo")
    return sig.select(
        "doc_id",
        F.col("hi").alias("ahash_hi"),
        F.col("lo").alias("ahash_lo"),
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
    )


def audio_fingerprint(audio_df: DataFrame, window: int = 64) -> DataFrame:
    """Energy-difference audio fingerprint (the Haitsma-Kalker
    'Philips' scheme reduced to its integer core): per window of
    `window` samples, the exact energy (sum of squares); bit j =
    energy(j+1) > energy(j); bits pack into one BIGINT. Robust to
    uniform gain changes in sign (the compare survives scaling) and
    cheap enough to run as the screening pass before any content
    match. Returns (doc_id, n_windows, fingerprint).

    Real RIFF/WAV decode (decode_wav) inside Arrow-batched mapInPandas;
    all arithmetic integer, so the fingerprint is engine- and
    partition-exact and the SQL oracle regenerates it symbolically from
    the synthetic sample formula — certifying the decode path the same
    way r19 certifies the PNG path."""
    w = int(window)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _rate, _ch, samples = decode_wav(bytes(payload))
                n_w = len(samples) // w
                s = samples[: n_w * w].astype(np.int64).reshape(n_w, w)
                energy = (s * s).sum(axis=1)
                fp = 0
                for j in range(1, n_w):
                    if energy[j] > energy[j - 1]:
                        fp |= 1 << (j - 1)
                out.append((int(doc_id), int(n_w), fp))
            yield pd.DataFrame(
                out, columns=["doc_id", "n_windows", "fingerprint"]
            )

    return audio_df.mapInPandas(
        run, schema="doc_id bigint, n_windows bigint, fingerprint bigint"
    )


def scene_changes(video_df: DataFrame, threshold_num: int = 1, threshold_den: int = 8) -> DataFrame:
    """Scene-change (cut) detection over video payloads: per frame, the
    exact integer Y-plane sum; a cut is flagged when the absolute
    frame-to-frame delta exceeds (threshold_num/threshold_den) of the
    full-scale plane sum (255 * n_pixels) — the integer-rational
    compare avoids float thresholds entirely (the q92 trick). The first
    frame is never a cut. Returns (doc_id, frame_idx, luma_sum, delta,
    is_cut).

    Real YUV4MPEG2 parse (decode_y4m) in Arrow-batched mapInPandas;
    1->n_frames fan-out inside the batch — the driver never sees a
    byte, and per-video state is one previous-frame sum."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, _fn, _fd, frames = decode_y4m(bytes(payload))
                full = 255 * w * h
                prev = None
                for fi, y in enumerate(frames):
                    s = int(y.astype(np.int64).sum())
                    delta = 0 if prev is None else abs(s - prev)
                    is_cut = (
                        prev is not None
                        and delta * threshold_den > full * threshold_num
                    )
                    out.append((int(doc_id), fi, s, delta, bool(is_cut)))
                    prev = s
            yield pd.DataFrame(
                out,
                columns=["doc_id", "frame_idx", "luma_sum", "delta", "is_cut"],
            )

    return video_df.mapInPandas(
        run,
        schema=(
            "doc_id bigint, frame_idx bigint, luma_sum bigint,"
            " delta bigint, is_cut boolean"
        ),
    )


def image_gray_hist(image_df: DataFrame) -> DataFrame:
    """Integer grayscale histogram per image over the REAL decode path
    (decode_image): grayscale = per-pixel channel sum (0..765, scale-
    free integers — no float rounding), one (doc_id, gray, cnt) row
    per occupied level. The Arrow-batched mapInPandas emits ONLY
    integers; every float statistic is computed downstream in engine
    expressions, so the codec boundary stays bit-exact."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, _c, arr = decode_image(bytes(payload))
                g = arr.astype(np.int64).sum(axis=2).reshape(-1)
                vals, cnts = np.unique(g, return_counts=True)
                for v, c in zip(vals, cnts):
                    out.append((int(doc_id), int(v), int(c)))
            yield pd.DataFrame(out, columns=["doc_id", "gray", "cnt"])

    return image_df.mapInPandas(
        run, schema="doc_id bigint, gray int, cnt bigint"
    )


def image_stats(image_df: DataFrame) -> DataFrame:
    """Per-image luminance-distribution quality stats — the blank/flat
    image filter a multimodal pretraining pipeline runs before any
    embedding model (public recipe: low-entropy or low-contrast
    screens): entropy of the grayscale histogram, type-1 p05/p95
    order statistics, contrast = p95 - p05, distinct level count.
    Returns (doc_id, n_pixels, n_distinct, p05, p95, contrast,
    entropy).

    Shape: the codec boundary emits only integers (image_gray_hist);
    the per-doc cumulative window runs over the histogram relation
    (<= 766 rows per doc, bounded by the gray domain); entropy terms
    follow the -p ln p DECIMAL(30,15) parity contract. The oracle
    replays the synthetic pixel formula symbolically, so the REAL
    PNG decode is hash-verified end to end (the r19/q83 move)."""
    from pyspark.sql import Window

    hist = image_gray_hist(image_df)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("gray")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("doc_id")
    h = hist.select(
        "doc_id",
        "gray",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(tot).alias("n"),
    )
    k05 = F.ceil(F.col("n") * F.lit(5) / F.lit(100))
    k95 = F.ceil(F.col("n") * F.lit(95) / F.lit(100))
    term = (
        -(F.col("cnt").cast("double") / F.col("n").cast("double"))
        * F.log(F.col("cnt").cast("double") / F.col("n").cast("double"))
    ).cast("decimal(30,15)")
    return h.groupBy("doc_id").agg(
        F.max("n").cast("bigint").alias("n_pixels"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.min(F.when(F.col("cum") >= k05, F.col("gray"))).cast("int")
        .alias("p05"),
        F.min(F.when(F.col("cum") >= k95, F.col("gray"))).cast("int")
        .alias("p95"),
        (
            F.min(F.when(F.col("cum") >= k95, F.col("gray")))
            - F.min(F.when(F.col("cum") >= k05, F.col("gray")))
        ).cast("int").alias("contrast"),
        F.round(
            F.sum(term).cast("string").cast("double"), 6
        ).alias("entropy"),
    )
