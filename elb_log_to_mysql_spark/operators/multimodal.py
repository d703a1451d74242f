"""Multimodal column handling: opaque binary payloads + typed metadata.

Contract (driver north-star): image/audio/video travel as `binary`
columns with typed metadata alongside; decode / feature-extract /
resize / frame-sample run as Arrow-batched pandas iterators
(`mapInPandas`), which stream record batches through Python without
materializing partitions.

The actual media codecs are NOT in this container, so `decode_image`
is a clearly-marked deterministic stub: it "decodes" a fake header
(magic bytes -> format, next 4 bytes -> width/height) so the
Spark-side plumbing — schema, batch iteration, partition sizing — is
real and tested end-to-end. Swapping the stub body for PIL/ffmpeg is
a one-function change.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

_MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"RIFF": "riff",
    b"fLaC": "flac",
}


def binary_metadata(documents: DataFrame) -> DataFrame:
    """Treat each document's text bytes as an opaque payload and attach
    typed metadata — all JVM expressions (no Python): byte length,
    sha2 digest, magic-byte format sniff. This is the scan-side
    profile pass a 100 TB media lake runs before any decode."""
    payload = F.encode(F.col("text"), "UTF-8")
    sniff = F.substring(F.col("text"), 1, 4)
    return documents.select(
        "doc_id",
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("byte_len"),
        F.sha2(payload, 256).alias("sha"),
        F.when(sniff.startswith("the"), "text/en-start")
        .otherwise("text/other")
        .alias("sniffed_format"),
    )


def media_metadata(media: DataFrame) -> DataFrame:
    """Metadata profile over a (doc_id, payload) `binaryFile` ingest
    (sources/formats.py:read_media_dir): byte length and sha2 digest
    of the raw content — all JVM expressions, content never leaves the
    executor. The dir-scan twin of `binary_metadata`."""
    return media.select(
        "doc_id",
        F.octet_length(F.col("payload")).cast("long").alias("byte_len"),
        F.sha2(F.col("payload"), 256).alias("sha"),
    )


def decode_image_stub(payload: bytes) -> tuple[str, int, int]:
    """STUB decode — deterministic fake in place of a real codec.

    Real implementation would be e.g. PIL.Image.open(BytesIO(payload));
    the container has no media libraries, so formats are sniffed from
    magic bytes and "dimensions" derived from the payload length, which
    keeps every downstream assertion reproducible.
    """
    fmt = "unknown"
    for magic, name in _MAGIC.items():
        if payload[: len(magic)] == magic:
            fmt = name
            break
    n = len(payload)
    return (fmt, (n % 640) + 1, (n % 480) + 1)


def decode_media(media: DataFrame) -> DataFrame:
    """Arrow-batched decode over mapInPandas.

    Batches stream through Python as pandas frames (Arrow transfer);
    partition size — not file size — bounds memory, so repartition the
    input by payload-size budget before calling at scale.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = pdf["payload"].map(decode_image_stub)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "fmt": decoded.map(lambda t: t[0]),
                    "width": decoded.map(lambda t: t[1]).astype("int32"),
                    "height": decoded.map(lambda t: t[2]).astype("int32"),
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        decode_batches, DECODED_SCHEMA
    )


DECODED_REAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_channels", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
    ]
)


def _decode_real_one(payload: bytes) -> tuple:
    """REAL (not stub) container parsing for the two formats decodable
    with the standard library alone: RIFF/WAVE audio (stdlib `wave`
    reads the fmt chunk: rate/channels/frame count) and BMP images
    (BITMAPINFOHEADER: width/height at fixed little-endian offsets).
    Compressed formats have their own real paths now — PNG via
    stdlib zlib (png_decode_pixels), JPEG via the vendored baseline
    codec (jpegcodec.py / decode_jpeg_media_vendored) — so only
    genuinely-external formats stay stubbed. Malformed payloads
    degrade to
    kind='unknown' — the error-absorbing row policy (reference
    etl:129-131), never a task failure."""
    import io
    import struct
    import wave

    try:
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            with wave.open(io.BytesIO(payload)) as w:
                return (
                    "wav", w.getframerate(), w.getnchannels(),
                    w.getnframes(), None, None,
                )
        if payload[:2] == b"BM" and len(payload) >= 26:
            width, height = struct.unpack_from("<ii", payload, 18)
            return ("bmp", None, None, None, width, abs(height))
    except Exception:
        pass
    return ("unknown", None, None, None, None, None)


def make_wav_bytes(
    sample_rate: int, n_channels: int, n_frames: int, amplitude: int = 0
) -> bytes:
    """Well-formed 16-bit PCM WAV container — the deterministic
    fixture generator for the real-decode path. `amplitude` fills
    every sample with that constant int16 value (0 = silence), giving
    sample-level features an exactly predictable ground truth."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(
            struct.pack("<h", amplitude) * (n_channels * n_frames)
        )
    return buf.getvalue()


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("rms", T.LongType()),
    ]
)


def audio_features_real(media: DataFrame) -> DataFrame:
    """REAL audio feature extraction: the PCM frames are decoded out
    of the actual WAV container (stdlib `wave` + numpy int16 view) and
    reduced to sample-level statistics — total sample count, peak
    |amplitude|, and integer-rounded RMS. This exercises the payload
    bytes end-to-end, not just the header fields; malformed payloads
    emit a null row (error-absorbing policy)."""

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        import numpy as np

        def one(doc_id: int, payload: bytes) -> tuple:
            try:
                with wave.open(io.BytesIO(payload)) as w:
                    raw = w.readframes(w.getnframes())
                x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
                if x.size == 0:
                    return (doc_id, 0, 0, 0)
                rms = int(round(float(np.sqrt(np.mean(x * x)))))
                return (doc_id, x.size, int(np.abs(x).max()), rms)
            except Exception:
                return (doc_id, None, None, None)

        for pdf in batches:
            rows = [one(d, p) for d, p in zip(pdf["doc_id"], pdf["payload"])]
            cols = list(zip(*rows)) or [[]] * 4
            yield pd.DataFrame(
                {
                    "doc_id": cols[0],
                    "n_samples": pd.array(cols[1], dtype="Int64"),
                    "peak": pd.array(cols[2], dtype="Int64"),
                    "rms": pd.array(cols[3], dtype="Int64"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        feature_batches, AUDIO_FEATURES_SCHEMA
    )


def make_bmp_bytes(width: int, height: int, fill: int = 0x7F) -> bytes:
    """Well-formed uncompressed 24-bit BMP (BITMAPINFOHEADER, rows
    padded to 4 bytes) — the image fixture for the real-decode path."""
    import numpy as np

    return _bmp_encode_pixels(
        np.full((height, width, 3), fill, dtype=np.uint8)
    )


def _bmp_encode_pixels(arr) -> bytes:
    """(h, w, 3) uint8 pixel array -> uncompressed 24-bit BMP bytes
    (positive height = bottom-up row order, rows padded to 4 bytes)."""
    import struct

    import numpy as np

    h, w = arr.shape[:2]
    pad = (4 - (3 * w) % 4) % 4
    padded = np.zeros((h, 3 * w + pad), dtype=np.uint8)
    padded[:, : 3 * w] = arr[::-1].reshape(h, 3 * w)
    pixels = padded.tobytes()
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + len(info) + len(pixels), 0, 0, 14 + len(info)
    )
    return header + info + pixels


def _bmp_decode_pixels(payload: bytes):
    """Uncompressed 24-bit BMP bytes -> (h, w, 3) uint8 array, row
    order normalized top-down regardless of stored orientation."""
    import struct

    import numpy as np

    w, h = struct.unpack_from("<ii", payload, 18)
    offset = struct.unpack_from("<I", payload, 10)[0]
    h_abs = abs(h)
    row_sz = 3 * w + (4 - (3 * w) % 4) % 4
    arr = np.frombuffer(
        payload, dtype=np.uint8, count=row_sz * h_abs, offset=offset
    ).reshape(h_abs, row_sz)[:, : 3 * w].reshape(h_abs, w, 3)
    return arr[::-1] if h > 0 else arr


RESIZED_REAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("out_width", T.LongType()),
        T.StructField("out_height", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("redecodes", T.BooleanType()),
    ]
)


def resize_images_real(media: DataFrame, max_side: int = 16) -> DataFrame:
    """REAL image resize for uncompressed BMP payloads: the pixel
    array is parsed out of the actual container, downscaled with
    integer nearest-neighbor indexing (no float scale factors, so the
    output dimensions are exactly `dim·max_side // max(w,h)` — the
    same arithmetic an oracle can replay), re-encoded as a valid BMP,
    and re-decoded in-operator to prove the output parses. Non-BMP /
    malformed payloads emit a null row with redecodes=false (the
    error-absorbing policy)."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def one(doc_id: int, payload: bytes) -> tuple:
            try:
                arr = _bmp_decode_pixels(payload)
                h0, w0 = arr.shape[:2]
                m = max(w0, h0)
                if m > max_side:
                    ow = max(1, w0 * max_side // m)
                    oh = max(1, h0 * max_side // m)
                else:
                    ow, oh = w0, h0
                out = arr[(np.arange(oh) * h0) // oh][
                    :, (np.arange(ow) * w0) // ow
                ]
                encoded = _bmp_encode_pixels(out)
                redec = _decode_real_one(encoded)
                ok = redec[0] == "bmp" and (redec[4], redec[5]) == (ow, oh)
                return (doc_id, ow, oh, len(encoded), ok)
            except Exception:
                return (doc_id, None, None, None, False)

        for pdf in batches:
            rows = [one(d, p) for d, p in zip(pdf["doc_id"], pdf["payload"])]
            cols = list(zip(*rows)) or [[]] * 5
            yield pd.DataFrame(
                {
                    "doc_id": cols[0],
                    "out_width": pd.array(cols[1], dtype="Int64"),
                    "out_height": pd.array(cols[2], dtype="Int64"),
                    "n_bytes": pd.array(cols[3], dtype="Int64"),
                    "redecodes": cols[4],
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        resize_batches, RESIZED_REAL_SCHEMA
    )


def decode_media_real(media: DataFrame) -> DataFrame:
    """Real-codec decode over mapInPandas for stdlib-decodable formats
    (WAV/BMP); same Arrow batch plumbing as `decode_media`, but the
    emitted values are parsed out of the actual container bytes —
    the upgrade path a PIL/ffmpeg-backed decoder would slot into."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = pdf["payload"].map(_decode_real_one)
            cols = list(zip(*decoded)) or [[]] * 6
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": cols[0],
                    "sample_rate": pd.array(cols[1], dtype="Int64"),
                    "n_channels": pd.array(cols[2], dtype="Int64"),
                    "n_frames": pd.array(cols[3], dtype="Int64"),
                    "width": pd.array(cols[4], dtype="Int64"),
                    "height": pd.array(cols[5], dtype="Int64"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        decode_batches, DECODED_REAL_SCHEMA
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
        T.StructField("frame_len", T.LongType()),
    ]
)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling: 1 payload row -> up to `n_frames` evenly-spaced
    chunk rows (the video-keyframe access pattern). mapInPandas is the
    right operator because the fan-out is row-generating: each Arrow
    batch yields a longer frame batch without a driver round-trip.
    Real codecs would seek to keyframes; the stub slices the payload
    into equal spans, which exercises identical plumbing (binary
    slicing, row explosion, schema typing).
    """

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "frame_idx": [], "frame_bytes": [], "frame_len": []
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                k = min(n_frames, n) or 1
                span = max(n // k, 1)
                for i in range(k):
                    chunk = payload[i * span : (i + 1) * span] or payload[:1]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_bytes"].append(chunk)
                    out["frame_len"].append(len(chunk))
            yield pd.DataFrame(out)

    return media.select("doc_id", "payload").mapInPandas(
        frame_batches, FRAME_SCHEMA
    )


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Feature extraction stub: payload -> fixed-width float vector.

    A real extractor would run an image/audio encoder over the decoded
    media; the stub derives a deterministic pseudo-embedding from a
    rolling byte histogram, normalized to unit length — same schema
    (`array<float>`), same batch shape, same downstream compatibility
    with the similarity operators (the extracted vectors feed
    `similarity_topk_*` unchanged).
    """
    import numpy as np

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = []
            for payload in pdf["payload"]:
                arr = np.frombuffer(payload, dtype=np.uint8)
                hist = np.bincount(arr % dim, minlength=dim).astype(np.float64)
                norm = np.linalg.norm(hist)
                vecs.append((hist / norm if norm else hist).astype(np.float32))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "feature": vecs})

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("feature", T.ArrayType(T.FloatType())),
        ]
    )
    return media.select("doc_id", "payload").mapInPandas(feature_batches, schema)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("resized_payload", T.BinaryType()),
        T.StructField("resized_len", T.LongType()),
    ]
)


def resize_images(media: DataFrame, max_side: int = 64) -> DataFrame:
    """Resize-to-budget over mapInPandas: decode (stub), scale the
    claimed dimensions to fit `max_side` preserving aspect ratio, and
    emit a deterministic downsampled payload (real impl: PIL
    `img.resize(...).tobytes()`; stub: proportional byte slice, so
    output sizes track the area ratio exactly and every assertion is
    reproducible). Plumbing — schema, Arrow batching, partition-bound
    memory — is the real operator; only the codec call is fake."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = pdf["payload"].map(decode_image_stub)
            w = decoded.map(lambda t: t[1])
            h = decoded.map(lambda t: t[2])
            scale = (max_side / pd.concat([w, h], axis=1).max(axis=1)).clip(upper=1.0)
            new_w = (w * scale).astype("int32").clip(lower=1)
            new_h = (h * scale).astype("int32").clip(lower=1)
            area_ratio = (new_w * new_h) / (w * h)
            payloads = pdf["payload"]
            resized = [
                p[: max(1, int(len(p) * r))] for p, r in zip(payloads, area_ratio)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "fmt": decoded.map(lambda t: t[0]),
                    "width": new_w,
                    "height": new_h,
                    "resized_payload": resized,
                    "resized_len": [len(p) for p in resized],
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        resize_batches, RESIZED_SCHEMA
    )


# --- PNG (stdlib zlib: real DEFLATE + real unfiltering) -------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib as _z

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", _z.crc32(tag + body) & 0xFFFFFFFF)
    )


def make_png_bytes(width: int, height: int, row_base: int) -> bytes:
    """Well-formed 8-bit RGB PNG with a vertical gradient (every pixel
    of row r = (row_base + r) % 256 in all channels) and the scanline
    filter type CYCLING 0..4 — so a decoder must implement none/sub/
    up/average/paeth correctly, not just pass-through. Compression is
    real DEFLATE (stdlib zlib), not a stored stub."""
    import struct
    import zlib as _z

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = bytearray()
    prev = bytes(width * 3)
    for r in range(height):
        v = (row_base + r) % 256
        row = bytes([v]) * (width * 3)
        ftype = r % 5
        raw.append(ftype)
        if ftype == 0:
            raw += row
        elif ftype == 1:  # sub
            raw += bytes(
                (row[i] - (row[i - 3] if i >= 3 else 0)) & 0xFF
                for i in range(len(row))
            )
        elif ftype == 2:  # up
            raw += bytes((row[i] - prev[i]) & 0xFF for i in range(len(row)))
        elif ftype == 3:  # average
            raw += bytes(
                (row[i] - ((row[i - 3] if i >= 3 else 0) + prev[i]) // 2) & 0xFF
                for i in range(len(row))
            )
        else:  # paeth
            raw += bytes(
                (row[i] - _paeth(
                    row[i - 3] if i >= 3 else 0,
                    prev[i],
                    prev[i - 3] if i >= 3 else 0,
                )) & 0xFF
                for i in range(len(row))
            )
        prev = row
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_decode_pixels(payload: bytes) -> tuple:
    """Parse a PNG (8-bit RGB, non-interlaced): walk the chunk stream,
    inflate the concatenated IDATs with stdlib zlib, undo all five
    scanline filters, and return (width, height, pixel_sum, n_bytes) —
    enough to prove the decode is real (a wrong predictor or a skipped
    chunk shifts pixel_sum)."""
    import struct
    import zlib as _z

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    idat = bytearray()
    while pos < len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            width, height, depth, ctype = struct.unpack(">IIBB", body[:10])
            if depth != 8 or ctype != 2:
                raise ValueError("only 8-bit RGB supported")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + ln
    raw = _z.decompress(bytes(idat))
    stride = width * 3
    out = bytearray()
    prev = bytes(stride)
    p = 0
    for _ in range(height):
        ftype = raw[p]
        p += 1
        line = bytearray(raw[p : p + stride])
        p += stride
        if ftype == 1:
            for i in range(3, stride):
                line[i] = (line[i] + line[i - 3]) & 0xFF
        elif ftype == 2:
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:
            for i in range(stride):
                left = line[i - 3] if i >= 3 else 0
                line[i] = (line[i] + (left + prev[i]) // 2) & 0xFF
        elif ftype == 4:
            for i in range(stride):
                left = line[i - 3] if i >= 3 else 0
                ul = prev[i - 3] if i >= 3 else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        out += line
        prev = bytes(line)
    return width, height, sum(out), len(out)


def decode_png_media(media: DataFrame) -> DataFrame:
    """REAL PNG decode over Arrow batches: inflate + unfilter every
    payload (png_decode_pixels) and emit header fields plus the pixel
    mean computed from the ACTUAL decompressed bytes — the statistic a
    wrong predictor, skipped chunk, or mis-stitched IDAT stream cannot
    fake. mapInPandas: the codec runs vectorized per batch, the plan
    stays a scan -> project with no shuffle."""
    from typing import Iterator

    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, psum, nbytes = png_decode_pixels(bytes(payload))
                rows.append(
                    (int(doc_id), w, h, round(psum / nbytes, 6))
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "mean_pixel"]
            )

    return media.mapInPandas(
        batches, "doc_id long, width int, height int, mean_pixel double"
    )


def have_pil() -> bool:
    """True when Pillow is importable (it is NOT in this sandbox).
    Since r8 the DEFAULT JPEG path no longer needs it: the vendored
    codec (operators/jpegcodec.py — real Huffman entropy decode,
    dequant, inverse DCT, per the public T.81 spec) decodes actual
    bytes in every environment (decode_jpeg_media_vendored), covering
    baseline sequential at any integer-ratio subsampling (4:4:4,
    4:2:2, 4:2:0) AND progressive (SOF2) streams. Pillow remains the
    optional wide-coverage path (arithmetic-coded, 12-bit, CMYK
    streams the vendored codec rejects loudly)."""
    import importlib.util

    return importlib.util.find_spec("PIL") is not None


def make_baseline_jpeg_bytes(width: int, height: int, block_base: int) -> bytes:
    """Deterministic grayscale baseline-JFIF fixture via the vendored
    encoder (jpegcodec.make_block_jpeg_bytes): 8x8-constant blocks at
    even levels, so encode→decode is integer-exact and a SQL oracle
    can replay decoded means from (width, height, block_base)."""
    from elb_log_to_mysql_spark.operators import jpegcodec

    return jpegcodec.make_block_jpeg_bytes(width, height, block_base)


def make_baseline_jpeg_color_bytes(
    width: int, height: int, block_base: int
) -> bytes:
    """Deterministic COLOR (3-component 4:4:4) baseline-JFIF fixture:
    gray-valued RGB blocks (r=g=b=even level v per 8x8 block). The
    T.871 conversion then yields Y=v, Cb=Cr=128 exactly (the chroma
    coefficients sum to zero), so all three encoded planes are
    block-constant at even levels and the interleaved encode→decode
    round trip stays integer-exact — the same oracle-replayable
    property as the grayscale fixture, now exercising the color MCU
    entropy decode and the YCbCr→RGB reconstruction end to end."""
    import numpy as np

    from elb_log_to_mysql_spark.operators import jpegcodec

    bw = (width + 7) // 8
    img = np.empty((height, width, 3), dtype=np.uint8)
    for by in range((height + 7) // 8):
        for bx in range(bw):
            v = (2 * (block_base + by * bw + bx)) % 256
            img[
                by * 8 : min(by * 8 + 8, height),
                bx * 8 : min(bx * 8 + 8, width),
                :,
            ] = v
    return jpegcodec.encode_rgb444(img)


def make_baseline_jpeg_420_bytes(
    width: int, height: int, block_base: int
) -> bytes:
    """Deterministic 4:2:0 chroma-subsampled baseline-JFIF fixture
    (jpegcodec.encode_rgb420): the same gray-valued RGB 8x8-constant
    blocks as the 4:4:4 color fixture (Y=even level, Cb=Cr=128
    exactly), but encoded as interleaved 16x16-pixel MCUs of 4 Y +
    1 Cb + 1 Cr data units — the dominant wild-JPEG layout. The 2x2
    box downsample of a constant-128 chroma plane is exactly 128 and
    sample-replication upsampling restores it exactly, so the
    encode→decode round trip stays integer-exact and the oracle
    replays decoded means from (width, height, block_base). The four
    Y blocks inside an MCU carry DIFFERENT levels, so a wrong MCU
    interleave walk (block order, DC predictor routing, partial-MCU
    padding) shifts the mean and hash-mismatches."""
    import numpy as np

    from elb_log_to_mysql_spark.operators import jpegcodec

    bw = (width + 7) // 8
    img = np.empty((height, width, 3), dtype=np.uint8)
    for by in range((height + 7) // 8):
        for bx in range(bw):
            v = (2 * (block_base + by * bw + bx)) % 256
            img[
                by * 8 : min(by * 8 + 8, height),
                bx * 8 : min(bx * 8 + 8, width),
                :,
            ] = v
    return jpegcodec.encode_rgb420(img)


def make_progressive_jpeg_bytes(
    width: int, height: int, block_base: int
) -> bytes:
    """Deterministic PROGRESSIVE (SOF2) grayscale JFIF fixture
    (jpegcodec.make_block_jpeg_bytes_progressive): the same
    block-constant integer-exact image as the baseline fixture, but
    transmitted as a multi-scan progressive stream — DC first pass at
    Al=1, DC refinement, spectral-selection AC bands, AC refinement.
    The quantized coefficients are identical to the baseline
    encoding, so decode is bit-exact and the SQL oracle replays
    decoded means from (width, height, block_base); what the fixture
    pins is the progressive ENTROPY path (successive-approximation
    bit assembly, EOB runs spanning blocks, per-scan Huffman state)."""
    from elb_log_to_mysql_spark.operators import jpegcodec

    return jpegcodec.make_block_jpeg_bytes_progressive(
        width, height, block_base
    )


def decode_jpeg_media_vendored(media: DataFrame) -> DataFrame:
    """REAL JPEG decode with the VENDORED baseline codec over Arrow
    batches — the same contract and evidence pattern as
    decode_png_media: header fields plus the pixel mean computed from
    the ACTUALLY entropy-decoded, dequantized, inverse-DCT'd samples
    (jpegcodec.decode_pixels). No external codec; works in every
    environment. mapInPandas keeps the plan a scan -> project with no
    shuffle; per-payload work is CPU-bound python/numpy, which is the
    honest cost of a pure-python codec (swap decode_jpeg_media's
    Pillow path in when the cluster ships a native codec)."""
    from typing import Iterator

    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from elb_log_to_mysql_spark.operators import jpegcodec

        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, _nc, psum, n = jpegcodec.decode_pixels(bytes(payload))
                rows.append((int(doc_id), w, h, round(psum / n, 6)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "mean_pixel"]
            )

    return media.mapInPandas(
        batches, "doc_id long, width int, height int, mean_pixel double"
    )


def make_jpeg_bytes(width: int, height: int, fill: int = 0x7F) -> bytes:
    """Solid-fill RGB JPEG via Pillow (guarded; raises ImportError
    without it). Quality 95 keeps a solid fill's decoded mean within
    ~1/255 of `fill`, which is what the guarded test asserts."""
    if not have_pil():
        raise ImportError("Pillow not installed; JPEG encode unavailable")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (width, height), (fill, fill, fill)).save(
        buf, format="JPEG", quality=95
    )
    return buf.getvalue()


def decode_jpeg_media(media: DataFrame) -> DataFrame:
    """REAL JPEG decode (Pillow) over Arrow batches — same contract
    and evidence pattern as decode_png_media: header fields plus the
    pixel mean computed from the ACTUAL decoded samples. The import
    guard fails at PLAN time with a clear error when Pillow is
    absent (never inside executor tasks); environments with Pillow
    upgrade the JPEG family from stub to real bytes by construction
    (tests/test_multimodal_real.py::test_jpeg_real_guarded)."""
    if not have_pil():
        raise ImportError(
            "Pillow not installed; JPEG decode unavailable (guarded path — "
            "see decode_media for the stub fallback)"
        )
    from typing import Iterator

    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        from PIL import Image

        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = Image.open(io.BytesIO(bytes(payload))).convert("RGB")
                px = list(img.getdata())
                n = len(px) * 3
                psum = sum(r + g + b for r, g, b in px)
                rows.append(
                    (int(doc_id), img.width, img.height, round(psum / n, 6))
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "mean_pixel"]
            )

    return media.mapInPandas(
        batches, "doc_id long, width int, height int, mean_pixel double"
    )


def binary_metadata_arrow(documents: DataFrame) -> DataFrame:
    """Arrow-NATIVE metadata extraction via mapInArrow — the
    zero-copy sibling of binary_metadata's mapInPandas path. Each
    RecordBatch is transformed with pyarrow.compute kernels only
    (no pandas materialization, no per-row Python): byte length via
    binary_length over the utf8-encoded payload and the format sniff
    via starts_with. For wide binary columns this skips the
    Arrow->pandas->Arrow round trip entirely, which is the point of
    the API; the values are bit-identical to the pandas path and the
    oracle recomputes them in SQL."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def _meta(batches):
        for batch in batches:
            t = pa.Table.from_batches([batch])
            payload = pc.cast(t.column("text"), pa.binary())
            yield pa.RecordBatch.from_arrays(
                [
                    t.column("doc_id").combine_chunks(),
                    pc.binary_length(payload).cast(pa.int64()).combine_chunks(),
                    pc.starts_with(t.column("text"), "the").combine_chunks(),
                ],
                names=["doc_id", "byte_len", "starts_the"],
            )

    return documents.select("doc_id", "text").mapInArrow(
        _meta, "doc_id long, byte_len long, starts_the boolean"
    )
