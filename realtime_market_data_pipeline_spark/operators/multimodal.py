"""Multimodal column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata, processed in Arrow-batched pandas over ``mapInPandas``.

These formats decode for real with no codec library: BMP (BI_RGB
24/32bpp) and binary PPM via ``struct``, WAV PCM at 8/16/24/32-bit
widths via ``wave`` (r6, widths late r7), PNG — zlib inflate, the five
scanline filters incl. Paeth, 8/16-bit depths, PLTE palettes, Adam7
de-interlace — via ``zlib`` (r7), baseline AND progressive JPEG — canonical Huffman
entropy decode across SOF2 multi-scan scripts + dequantize + IDCT — via
``operators.jpeg`` (r7), and uncompressed RIFF/AVI video via the chunk
walker (r7), and FLAC — full native-format decode incl. LPC and rice
entropy coding — via ``operators.flac`` (late r7). See
``decode_image``/``decode_png``/``jpeg.decode_jpeg``/``decode_audio``/
``decode_avi``/``flac.decode_flac``.
JPEG sampling factors up to 2x2 (4:4:4/4:2:0/4:2:2) decode natively.
Formats still needing codec libraries (mp3/ogg,
compressed video) require PIL/libsndfile/ffmpeg, which are NOT in this
container, and raise ``NotImplementedError`` behind the same tested
plumbing: schema contract, partition-preserving mapInPandas, Arrow
batch iteration, and binary-column handling all match what the full
decoder UDF needs. An ffmpeg-gated twin (``decode_audio_ffmpeg`` /
``decode_media_perceptual``, r8) wires mp3/ogg decode through that
plumbing whenever a cluster image ships the binary — stub-injection
tested here, real-binary test skips.

Scale notes: binary payloads ride in parquet as-is; mapInPandas streams
Arrow batches (bounded memory per task, set
``spark.sql.execution.arrow.maxRecordsPerBatch`` to cap batch bytes for
multi-MB blobs); decode is embarrassingly parallel — no shuffle at all.
"""

from __future__ import annotations

import functools as _functools
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from realtime_market_data_pipeline_spark.io import ensure_parallelism as _par

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("n_bytes", T.LongType(), False),
                    T.StructField("declared_format", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, n_bytes long, width int, height int, "
    "first_byte int, checksum_mod int"
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat documents.text bytes as a fake media payload so the
    binary plumbing is exercised against real parquet data."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("fake/image").alias("media_type"),
        F.struct(
            F.length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
            F.lit("raw").alias("declared_format"),
        ).alias("meta"),
    )


def make_bmp(doc_id: int, width: int, height: int) -> bytes:
    """Deterministic 24bpp BMP payload for ``doc_id`` — a REAL, spec-valid
    BMP (BITMAPFILEHEADER + BITMAPINFOHEADER + bottom-up padded pixel
    rows) built with stdlib ``struct`` only. Every channel of every pixel
    in image row y (top-down) is ``(doc_id + y) % 256``, so an oracle can
    predict the decoded pixel sum by byte arithmetic:
    pixel_sum = 3 · width · Σ_y (doc_id + y) % 256."""
    import struct

    row_bytes = width * 3
    pad = (-row_bytes) % 4
    rows = []
    # BMP stores rows bottom-up: image row y lands at file row height-1-y
    for y in reversed(range(height)):
        v = (doc_id + y) % 256
        rows.append(bytes([v]) * row_bytes + b"\x00" * pad)
    pixel_data = b"".join(rows)
    data_offset = 14 + 40
    file_size = data_offset + len(pixel_data)
    file_header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_offset)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_data),
        2835, 2835, 0, 0,
    )
    return file_header + info_header + pixel_data


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """PaethPredictor per PNG spec §9.4 (exact tie-break order matters)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def make_png(doc_id: int, width: int, height: int) -> bytes:
    """Deterministic 8-bit RGB PNG payload for ``doc_id`` — a REAL,
    spec-valid PNG (signature, IHDR, one zlib IDAT, IEND, correct CRCs)
    built with stdlib ``struct``/``zlib`` only (r6 verdict #3 — no PIL
    needed for inflate + the five scanline filters). Every channel of
    pixel (x, y) is ``(doc_id + x + 7·y) % 256`` — varying along BOTH
    axes so no filter trivializes to zeros — and row y is filtered with
    type ``y % 5``, so any image taller than 4 rows round-trips through
    all of None/Sub/Up/Average/Paeth. An oracle predicts
    pixel_sum = 3 · Σ_y Σ_x (doc_id + x + 7y) % 256 by integer
    arithmetic."""
    import struct
    import zlib

    bpp = 3
    prev = bytes(width * bpp)
    out = bytearray()
    for y in range(height):
        raw = bytes(
            (doc_id + x + 7 * y) % 256 for x in range(width) for _ in range(bpp)
        )
        ft = y % 5
        filt = bytearray(len(raw))
        for i in range(len(raw)):
            a = raw[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) >> 1
            else:
                pred = _paeth(a, b, c)
            filt[i] = (raw[i] - pred) % 256
        out.append(ft)
        out += filt
        prev = raw
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def _png_defiltered_rows(payload: bytes) -> tuple[int, int, int, int, list]:
    """Shared single-pass PNG core: chunk walk with CRC verification, IHDR
    parse, IDAT concatenation (the stream may be split across chunks),
    inflate, per-scanline de-filtering per spec §9 (None/Sub/Up/Average/
    Paeth, byte-wise with the sample-size bpp offset), Adam7 de-interlace
    (seven independently-filtered passes scattered onto the pass grid),
    and PLTE palette expansion. Returns
    (width, height, channels, depth, rows) with rows in top-down order
    and palette/indexed images pre-expanded to 8-bit RGB. Supported:
    8/16-bit gray/RGB/GA/RGBA + 8-bit indexed, interlace 0 or Adam7;
    sub-byte depths raise. Both ``decode_png`` (stats) and
    ``decode_image_pixels`` (raster) wrap this, so the de-filter work
    runs ONCE per payload."""
    import struct
    import zlib

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, ihdr, idat, palette = 8, None, [], None
    try:
        while pos < len(payload):
            (length,) = struct.unpack_from(">I", payload, pos)
            tag = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + length]
            (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
            if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
                raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
            if tag == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif tag == b"PLTE":
                palette = bytes(data)
            elif tag == b"IDAT":
                idat.append(data)
            elif tag == b"IEND":
                break
            pos += 12 + length
    except (struct.error, zlib.error) as e:
        # corrupted chunk structure — normalize to the two-exception
        # contract for untrusted bytes (r7 fuzz finding)
        raise ValueError(f"malformed PNG ({type(e).__name__}: {e})") from e
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    width, height, depth, ctype, comp, filt_m, interlace = ihdr
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if (
        channels is None
        or comp != 0
        or filt_m != 0
        or depth not in (8, 16)
        or (ctype == 3 and depth != 8)
    ):
        raise NotImplementedError(
            f"PNG depth={depth} color_type={ctype} not supported "
            "(8/16-bit gray/RGB/GA/RGBA + 8-bit indexed only)"
        )
    if ctype == 3 and palette is None:
        raise ValueError("indexed PNG missing PLTE")
    try:
        stream = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"malformed PNG deflate stream: {e}") from e
    bpp = channels * (depth // 8)

    def defilter(off: int, w_px: int, n_rows: int) -> tuple[list, int]:
        """De-filter n_rows scanlines of w_px pixels starting at stream
        offset off; prev-row context is local to the call (each Adam7
        pass filters independently)."""
        row_bytes = w_px * bpp
        need = n_rows * (1 + row_bytes)
        if off + need > len(stream):
            raise ValueError("PNG pixel stream length mismatch")
        prev = bytearray(row_bytes)
        out = []
        for y in range(n_rows):
            base = off + y * (1 + row_bytes)
            ft = stream[base]
            if ft > 4:
                raise ValueError(f"PNG filter type {ft} invalid")
            row = bytearray(stream[base + 1 : base + 1 + row_bytes])
            for i in range(row_bytes):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if ft == 1:
                    pred = a
                elif ft == 2:
                    pred = b
                elif ft == 3:
                    pred = (a + b) >> 1
                elif ft == 4:
                    pred = _paeth(a, b, c)
                else:
                    pred = 0
                row[i] = (row[i] + pred) % 256
            out.append(row)
            prev = row
        return out, off + need

    if interlace == 0:
        rows, end = defilter(0, width, height)
    elif interlace == 1:
        # Adam7: seven independently-filtered sub-images scattered onto
        # the pass grid (PNG spec 8.2); pass rows each reset prev.
        full = [bytearray(width * bpp) for _ in range(height)]
        off = 0
        for x0, y0, dx, dy in (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ):
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            pass_rows, off = defilter(off, pw, ph)
            for py in range(ph):
                dst = full[y0 + py * dy]
                src = pass_rows[py]
                for px in range(pw):
                    d0 = (x0 + px * dx) * bpp
                    dst[d0 : d0 + bpp] = src[px * bpp : px * bpp + bpp]
        rows, end = full, off
    else:
        raise NotImplementedError(f"PNG interlace method {interlace}")
    if end != len(stream):
        raise ValueError("PNG pixel stream length mismatch")
    if ctype == 3:
        # expand palette indices to RGB triples
        rows = [
            bytearray(
                b for idx in row for b in palette[3 * idx : 3 * idx + 3]
            )
            for row in rows
        ]
        channels = 3
        if any(len(r) != width * 3 for r in rows):
            raise ValueError("PLTE index out of range")
    return width, height, channels, depth, rows


def decode_png(payload: bytes) -> dict:
    """Pure-Python PNG decode (r6 verdict #3) — stats over the shared
    single-pass de-filter core ``_png_defiltered_rows`` (8/16-bit,
    indexed, Adam7 — late r7). For 16-bit images pixel_sum sums the
    16-bit SAMPLE values (big-endian pairs), not raw bytes."""
    width, height, channels, depth, rows = _png_defiltered_rows(payload)
    if depth == 16:
        pixel_sum = sum(
            int.from_bytes(r[i : i + 2], "big")
            for r in rows
            for i in range(0, len(r), 2)
        )
    else:
        pixel_sum = sum(sum(r) for r in rows)
    return {
        "format": "png",
        "width": width,
        "height": height,
        "bpp": depth * channels,
        "pixel_sum": pixel_sum,
        "n_px": width * height,
    }


def decode_image(payload: bytes) -> dict:
    """Pure-Python image decode, stdlib only: BMP (BI_RGB 24/32bpp,
    bottom-up or top-down) and binary PPM via ``struct`` (r5 verdict #4),
    PNG (8-bit gray/RGB/GA/RGBA, all five scanline filters) via ``zlib``
    (r6 verdict #3), and baseline-sequential OR progressive JPEG
    (canonical Huffman + IDCT, spectral selection + successive
    approximation, gray or 4:4:4 color — operators.jpeg, r7).
    Subsampled JPEG still requires PIL/opencv — absent from this
    container — and raises.

    Returns {"format", "width", "height", "bpp", "pixel_sum", "n_px"}
    where pixel_sum is the sum of all pixel channel bytes EXCLUDING row
    padding (getting padding wrong is the classic hand-rolled-BMP bug;
    the oracle check would catch it)."""
    import struct

    if payload[:2] == b"BM":
        if len(payload) < 34:
            # short header must be ValueError per the two-exception
            # contract, not a raw struct.error escaping the task (r9)
            raise ValueError("BMP header truncated")
        data_offset = struct.unpack_from("<I", payload, 10)[0]
        hdr_size = struct.unpack_from("<I", payload, 14)[0]
        if hdr_size < 40:
            raise NotImplementedError("BITMAPCOREHEADER BMP not supported")
        width, height_raw = struct.unpack_from("<ii", payload, 18)
        planes, bpp = struct.unpack_from("<HH", payload, 26)
        compression = struct.unpack_from("<I", payload, 30)[0]
        if compression != 0:
            raise NotImplementedError(
                f"compressed BMP (BI_ compression={compression}) requires "
                "PIL; only BI_RGB is decoded here"
            )
        if bpp not in (24, 32):
            raise NotImplementedError(f"{bpp}bpp BMP not supported")
        height = abs(height_raw)  # negative = top-down; sum is order-free
        ch = bpp // 8
        row_bytes = width * ch
        stride = row_bytes + ((-row_bytes) % 4)
        if width < 0 or data_offset + height * stride > len(payload):
            # a corrupted height field must fail loudly, not spin for
            # 2^31 empty-slice iterations (r7 fuzz finding)
            raise ValueError("BMP pixel data truncated vs declared dims")
        pixel_sum = 0
        for r in range(height):
            start = data_offset + r * stride
            pixel_sum += sum(payload[start : start + row_bytes])
        return {
            "format": "bmp",
            "width": width,
            "height": height,
            "bpp": bpp,
            "pixel_sum": pixel_sum,
            "n_px": width * height,
        }
    if payload[:2] == b"P6":
        # binary PPM: "P6\n<w> <h>\n<maxval>\n" then raw RGB triples
        parts = []
        i = 2
        while len(parts) < 3:
            while i < len(payload) and payload[i : i + 1].isspace():
                i += 1
            if payload[i : i + 1] == b"#":  # comment line
                while i < len(payload) and payload[i] != 0x0A:
                    i += 1
                continue
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            parts.append(int(payload[i:j]))
            i = j
        i += 1  # single whitespace after maxval
        width, height, _maxval = parts
        raster = payload[i : i + width * height * 3]
        if len(raster) != width * height * 3:
            raise ValueError("PPM raster truncated vs declared dims")
        return {
            "format": "ppm",
            "width": width,
            "height": height,
            "bpp": 24,
            "pixel_sum": sum(raster),
            "n_px": width * height,
        }
    if payload[:8] == PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from realtime_market_data_pipeline_spark.operators import jpeg

        return jpeg.decode_jpeg(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    raise NotImplementedError(
        "only uncompressed BMP (BI_RGB 24/32bpp), binary PPM, 8-bit PNG, "
        "GIF (LZW), and baseline/progressive JPEG decode without "
        "PIL/opencv; wire the real decoder here on a cluster image that "
        "ships them"
    )


def decode_image_pixels(payload: bytes):
    """Decode a supported image payload to its pixel array (numpy uint8,
    shape HxWxC) — the raster-returning twin of ``decode_image`` (which
    returns stats only), needed by the real resize operator. BMP rows are
    returned in image (top-down) order with file channel order preserved
    (BGR for BMP — summing/resizing is order-agnostic, and re-encoding
    writes the same order back)."""
    import struct

    import numpy as np

    if payload[:2] == b"BM":
        data_offset = struct.unpack_from("<I", payload, 10)[0]
        width, height_raw = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        compression = struct.unpack_from("<I", payload, 30)[0]
        if compression != 0 or bpp not in (24, 32):
            raise NotImplementedError("only BI_RGB 24/32bpp BMP pixels")
        height = abs(height_raw)
        ch = bpp // 8
        row_bytes = width * ch
        stride = row_bytes + ((-row_bytes) % 4)
        if width < 0 or data_offset + height * stride > len(payload):
            raise ValueError("BMP pixel data truncated vs declared dims")
        rows = [
            np.frombuffer(
                payload, dtype=np.uint8, count=row_bytes,
                offset=data_offset + r * stride,
            ).reshape(width, ch)
            for r in range(height)
        ]
        if height_raw > 0:
            rows.reverse()  # bottom-up file order -> top-down image order
        return np.stack(rows)
    if payload[:2] == b"P6":
        d = decode_image(payload)  # reuse header parse for dims
        raster = payload[len(payload) - d["width"] * d["height"] * 3 :]
        return np.frombuffer(raster, dtype=np.uint8).reshape(
            d["height"], d["width"], 3
        )
    if payload[:8] == PNG_SIG:
        return _decode_png_pixels(payload)
    if payload[:2] == b"\xff\xd8":
        from realtime_market_data_pipeline_spark.operators import jpeg

        pix = jpeg.decode_pixels(payload)
        return pix[:, :, None] if pix.ndim == 2 else pix
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif_pixels(payload)
    raise NotImplementedError("no pixel decoder for this format")


def _decode_png_pixels(payload: bytes):
    """Raster-returning PNG decode over the shared single-pass core;
    16-bit images return uint16 arrays (big-endian samples)."""
    import numpy as np

    width, height, channels, depth, rows = _png_defiltered_rows(payload)
    buf = b"".join(rows)
    if depth == 16:
        return (
            np.frombuffer(buf, dtype=">u2")
            .astype(np.uint16)
            .reshape(height, width, channels)
        )
    return np.frombuffer(buf, dtype=np.uint8).reshape(
        height, width, channels
    )


def encode_bmp_pixels(arr) -> bytes:
    """Encode an HxWx3 uint8 raster as a 24bpp bottom-up BI_RGB BMP (the
    re-encode half of the real resize operator). Channel order is written
    as given (callers resizing a decoded BMP keep its BGR order)."""
    import struct

    import numpy as np

    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(
            f"encode_bmp_pixels needs an HxWx3 raster, got shape {arr.shape}"
        )
    height, width = arr.shape[:2]
    row_bytes = width * 3
    pad = (-row_bytes) % 4
    rows = [
        arr[y].tobytes() + b"\x00" * pad for y in reversed(range(height))
    ]
    pixel_data = b"".join(rows)
    data_offset = 14 + 40
    file_header = struct.pack(
        "<2sIHHI", b"BM", data_offset + len(pixel_data), 0, 0, data_offset
    )
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_data),
        2835, 2835, 0, 0,
    )
    return file_header + info_header + pixel_data


def resize_nn(arr, width: int, height: int):
    """Nearest-neighbor resample to (height, width): target pixel (x, y)
    takes source pixel (floor(x*sw/tw), floor(y*sh/th)) — the convention
    the resize oracle replays in integer SQL arithmetic."""
    import numpy as np

    arr = np.asarray(arr)
    sh, sw = arr.shape[:2]
    ys = (np.arange(height) * sh) // height
    xs = (np.arange(width) * sw) // width
    return arr[np.ix_(ys, xs)]


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL image resize (replaces resize_stub): decode each payload to
    pixels (any supported format — BMP/PPM/PNG/JPEG), nearest-neighbor
    resample to (width, height), re-encode as 24bpp BMP, and emit the
    resized payload — the decode→transform→re-encode shape a training
    pipeline runs to normalize image dimensions. Shuffle-free Arrow
    mapInPandas; payload bytes never cross an exchange. Grayscale
    sources are channel-replicated to 3 for the BMP target."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                pix = decode_image_pixels(bytes(payload))
                if pix.dtype != np.uint8:  # 16-bit PNG -> high byte
                    pix = (pix >> 8).astype(np.uint8)
                if pix.shape[2] == 1:
                    pix = np.repeat(pix, 3, axis=2)
                elif pix.shape[2] == 2:  # PNG gray+alpha: drop alpha
                    pix = np.repeat(pix[:, :, :1], 3, axis=2)
                elif pix.shape[2] == 4:
                    pix = pix[:, :, :3]
                ids.append(int(mid))
                payloads.append(
                    encode_bmp_pixels(resize_nn(pix, width, height))
                )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "payload": payloads,
                    "media_type": "image/bmp",
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        run, "media_id long, payload binary, media_type string"
    )


def _fake_decode_features(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic fake 'decode': derive pseudo width/height/pixel stats
    from the payload bytes. Stands in for the real decoder while keeping the
    whole pipeline testable + oracle-checkable."""
    payload = pdf["payload"]
    n_bytes = payload.map(len).astype("int64")
    first_byte = payload.map(lambda b: b[0] if len(b) else -1).astype("int32")
    checksum = payload.map(lambda b: sum(b[:64]) % 251).astype("int32")
    return pd.DataFrame(
        {
            "media_id": pdf["media_id"],
            "n_bytes": n_bytes,
            "width": (n_bytes % 640).astype("int32"),
            "height": (n_bytes % 480).astype("int32"),
            "first_byte": first_byte,
            "checksum_mod": checksum,
        }
    )


def extract_features(media: DataFrame, batch_size_hint: int | None = None) -> DataFrame:
    """mapInPandas feature extraction over binary payloads — the canonical
    multimodal operator shape: Iterator[pd.DataFrame] → Iterator[pd.DataFrame],
    partition-preserving, Arrow-batched."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _fake_decode_features(pdf)

    return media.select("media_id", "payload").mapInPandas(run, FEATURE_SCHEMA)


def make_wav(
    doc_id: int, n_frames: int, sample_rate: int
) -> bytes:
    """Deterministic mono 16-bit PCM WAV payload for ``doc_id`` via stdlib
    ``wave`` — a real RIFF/WAVE file. Sample i is
    ``((doc_id·31 + i·17) % 65536) − 32768``, so an oracle predicts the
    decoded sample sum/peak by integer arithmetic."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        frames = struct.pack(
            f"<{n_frames}h",
            *(
                ((doc_id * 31 + i * 17) % 65536) - 32768
                for i in range(n_frames)
            ),
        )
        w.writeframes(frames)
    return buf.getvalue()


def _pcm_samples(frames: bytes, width: int, n: int, ch: int) -> list[int]:
    """Interleaved PCM frame bytes -> signed sample ints for sample
    widths 1-4 (late r7): 8-bit WAV is unsigned-biased (value-128 yields
    the signed convention the other widths use); 16/32-bit are signed
    little-endian; 24-bit is packed signed little-endian."""
    import struct

    if width == 2:
        return list(struct.unpack(f"<{n * ch}h", frames))
    if width == 1:
        return [b - 128 for b in frames]
    if width == 4:
        return list(struct.unpack(f"<{n * ch}i", frames))
    if width == 3:
        return [
            int.from_bytes(frames[i : i + 3], "little", signed=True)
            for i in range(0, n * ch * 3, 3)
        ]
    raise NotImplementedError(f"{width * 8}-bit PCM not supported")


def decode_audio(payload: bytes) -> dict:
    """Pure-Python audio decode for WAV/PCM (r5 verdict #4) via stdlib
    ``wave`` + ``struct`` — no libsndfile needed for uncompressed PCM at
    any common width (8-bit unsigned, 16/24/32-bit signed, late r7).
    Compressed codecs (mp3/ogg/flac) still require external libs and
    raise. Returns {"format", "sample_rate", "n_channels", "n_samples",
    "sample_sum", "sample_peak"} over signed sample values."""
    import io
    import struct
    import wave

    if payload[:4] == b"fLaC":
        from realtime_market_data_pipeline_spark.operators import flac

        d = flac.decode_flac(payload)
        return {
            "format": "flac",
            "sample_rate": d["sample_rate"],
            "n_channels": d["n_channels"],
            "n_samples": d["n_samples"],
            "sample_sum": d["sample_sum"],
            "sample_peak": d["sample_peak"],
        }
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(
            "only RIFF/WAVE PCM and native FLAC decode without "
            "libsndfile; wire the real decoder here on a cluster image "
            "that ships it"
        )
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            n = w.getnframes()
            ch = w.getnchannels()
            rate = w.getframerate()
            samples = _pcm_samples(
                w.readframes(n), w.getsampwidth(), n, ch
            )
    except (wave.Error, struct.error, EOFError, RuntimeError) as e:
        # corrupted RIFF/fmt structure or truncated frames — normalize to
        # the two-exception contract for untrusted bytes (r7 fuzz finding;
        # stdlib wave raises bare RuntimeError on some malformed sizes)
        raise ValueError(f"malformed WAV ({type(e).__name__}: {e})") from e
    return {
        "format": "wav",
        "sample_rate": rate,
        "n_channels": ch,
        "n_samples": n,
        "sample_sum": sum(samples),
        "sample_peak": max(abs(s) for s in samples) if samples else 0,
    }


# Deterministic media-planting contract (the PII-planting pattern): derive
# real BMP/WAV payloads from doc_id alone, so a DuckDB oracle can predict
# every DECODED value by integer arithmetic while the decode path genuinely
# parses bytes. Even doc_id → image, odd → audio.
BMP_WIDTH = "(doc_id % 13) + 4"
BMP_HEIGHT = "(doc_id % 11) + 4"
WAV_FRAMES = "(doc_id % 23) + 8"
WAV_RATE = "8000 + (doc_id % 5) * 1000"

DECODED_SCHEMA = (
    "media_id long, media_type string, width int, height int, "
    "pixel_sum long, sample_rate int, n_samples int, sample_sum long, "
    "sample_peak int"
)


def plant_media(docs: DataFrame) -> DataFrame:
    """Plant deterministic doc_id-derived media payloads over the documents
    spine: even doc_id → 24bpp BMP (dims per BMP_WIDTH/BMP_HEIGHT), odd →
    mono 16-bit WAV (frames/rate per WAV_FRAMES/WAV_RATE). Payload bytes
    are built row-batch-wise in Arrow-batched mapInPandas — the same shape
    real ingestion (fetch/transcode) runs — and are REAL files: any
    conformant BMP/WAV reader decodes them."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            payloads, types = [], []
            for did in ids:
                did = int(did)
                if did % 2 == 0:
                    payloads.append(
                        make_bmp(did, (did % 13) + 4, (did % 11) + 4)
                    )
                    types.append("image/bmp")
                else:
                    payloads.append(
                        make_wav(
                            did, (did % 23) + 8, 8000 + (did % 5) * 1000
                        )
                    )
                    types.append("audio/wav")
            yield pd.DataFrame(
                {"media_id": ids, "payload": payloads, "media_type": types}
            )

    # NOT _par-wrapped (r15, r14 verdict #6): tiny per-row payloads —
    # the round-robin's 32-task stage overhead exceeded the 1-core
    # decode it parallelized (A/B receipts in OPTIMIZATION_r15.md §2)
    return docs.select("doc_id").mapInPandas(
        run, "media_id long, payload binary, media_type string"
    )


def plant_png(docs: DataFrame) -> DataFrame:
    """Plant deterministic doc_id-derived PNGs over the documents spine
    (the ``plant_media`` pattern, compressed-format edition): every doc
    gets an 8-bit RGB PNG with dims per BMP_WIDTH/BMP_HEIGHT, pixel
    channels ``(doc_id + x + 7y) % 256``, row filters cycling through all
    five types. Real deflate-compressed files — any conformant PNG reader
    decodes them."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            payloads = [
                make_png(int(d), (int(d) % 13) + 4, (int(d) % 11) + 4)
                for d in ids
            ]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "media_type": "image/png",
                }
            )

    return _par(docs.select("doc_id")).mapInPandas(
        run, "media_id long, payload binary, media_type string"
    )


def make_jpeg(doc_id: int) -> bytes:
    """Deterministic block-constant grayscale JPEG payload for ``doc_id``
    — a REAL JPEG (Annex K Huffman tables, unit quantization, full
    FDCT->entropy-code pipeline; operators.jpeg): baseline sequential
    for even doc_ids, PROGRESSIVE (SOF2, spectral selection +
    successive approximation DC/AC scans) for odd ones, so one planted
    corpus certifies both coding processes under the same oracle.
    Image is ((doc_id % 3) + 1) x ((doc_id % 2) + 1) blocks of 8x8; every
    pixel of block (bx, by) is ``(doc_id + 5*bx + 11*by) % 256``. An
    8x8-constant block is DC-only under the DCT, so with the unit quant
    table the decode is BIT-EXACT in both processes and an oracle
    predicts pixel_sum = 64 * sum_blocks value by integer arithmetic —
    while the decoder genuinely runs Huffman decode + dequantize + IDCT
    (and, for odd ids, multi-scan coefficient accumulation)."""
    import numpy as np

    from realtime_market_data_pipeline_spark.operators import jpeg

    bx_n = (doc_id % 3) + 1
    by_n = (doc_id % 2) + 1
    img = np.zeros((by_n * 8, bx_n * 8), dtype=np.uint8)
    for by in range(by_n):
        for bx in range(bx_n):
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                doc_id + 5 * bx + 11 * by
            ) % 256
    return jpeg.encode_jpeg(
        img, quant=jpeg.UNIT_QT, progressive=bool(doc_id % 2)
    )


def plant_jpeg(docs: DataFrame) -> DataFrame:
    """Plant deterministic doc_id-derived baseline JPEGs over the documents
    spine (the ``plant_media`` pattern, DCT-compressed edition): every doc
    gets a block-constant grayscale JPEG per ``make_jpeg``. Real
    entropy-coded DCT streams — any conformant JPEG reader decodes them
    to the same constants (DC-only blocks + unit quantization are exactly
    reconstructible)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            payloads = [make_jpeg(int(d)) for d in ids]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "media_type": "image/jpeg",
                }
            )

    return _par(docs.select("doc_id")).mapInPandas(
        run, "media_id long, payload binary, media_type string"
    )


def plant_flac(docs: DataFrame) -> DataFrame:
    """Plant deterministic doc_id-derived FLAC payloads over the
    documents spine (the plant_media pattern, compressed-audio edition):
    every doc gets a mono 16-bit native-FLAC stream of
    ``(doc_id % 23) + 8`` samples at ``8000 + (doc_id % 5) * 1000`` Hz,
    sample i = ``((doc_id*31 + i*17) % 65536) - 32768`` — the same
    arithmetic as the planted WAVs, so the oracle is a mirror — encoded
    with blocksize 8 so most payloads span multiple rice-coded frames.
    FLAC is lossless, so decoded sums/peaks are EXACT despite the real
    fixed-predictor + rice entropy coding in between."""
    from realtime_market_data_pipeline_spark.operators import flac

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for d in ids:
                d = int(d)
                n = (d % 23) + 8
                samples = [
                    ((d * 31 + i * 17) % 65536) - 32768 for i in range(n)
                ]
                payloads.append(
                    flac.encode_flac(
                        [samples],
                        sample_rate=8000 + (d % 5) * 1000,
                        bps=16,
                        block_size=8,
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "media_type": "audio/flac",
                }
            )

    return _par(docs.select("doc_id")).mapInPandas(
        run, "media_id long, payload binary, media_type string"
    )


# MPEG-1 Layer III bitrate (kbps) and sample-rate tables (header indices).
_MP3_BITRATES = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                 224, 256, 320, 0]
_MP3_RATES = [44100, 48000, 32000, 0]


def make_mp3_frames(doc_id: int, n_frames: int) -> bytes:
    """Deterministic MPEG-1 Layer III FRAME SEQUENCE for ``doc_id`` —
    structurally valid mp3 framing (ID3v2 tag, sync words, version/
    layer/bitrate/samplerate header fields, correct frame lengths) with
    deterministic filler in place of the perceptual audio payload. The
    header-level prober parses it exactly like a real file; only the
    psychoacoustic DECODE needs ffmpeg. 128 kbps at 32 kHz, so
    frame_len = 144*128000/32000 = 576 bytes and each frame spans
    exactly 1152/32000 s = 36 ms — integer-exact for oracles."""
    import struct

    tag_body = b"\x00" * 17
    out = bytearray(
        b"ID3" + bytes([4, 0, 0]) + struct.pack(">I", len(tag_body))
    )  # syncsafe-safe: body < 128 bytes
    out += tag_body
    # header: sync FFF, MPEG1 (11), Layer III (01), no CRC (1) -> 0xFFFB
    # bitrate idx 9 (128 kbps), samplerate idx 2 (32 kHz), no padding
    hdr = bytes([0xFF, 0xFB, (9 << 4) | (2 << 2), 0x00])
    frame_len = 144 * 128000 // 32000  # 576 bytes incl. header
    for f in range(n_frames):
        out += hdr
        body = bytes(
            (doc_id + f + i) % 256 for i in range(frame_len - 4)
        )
        out += body
    return bytes(out)


_OGG_CRC_TABLE: list[int] | None = None


def _ogg_crc(data: bytes) -> int:
    """Ogg page CRC32 (RFC 3533 §6): poly 0x04C11DB7, init 0, no bit
    reflection, no final xor — NOT zlib's crc32."""
    global _OGG_CRC_TABLE
    if _OGG_CRC_TABLE is None:
        tab = []
        for b in range(256):
            r = b << 24
            for _ in range(8):
                r = ((r << 1) ^ 0x04C11DB7 if r & 0x80000000 else r << 1)
                r &= 0xFFFFFFFF
            tab.append(r)
        _OGG_CRC_TABLE = tab
    crc = 0
    for byte in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[
            ((crc >> 24) & 0xFF) ^ byte
        ]
    return crc


def _ogg_page(
    serial: int, seqno: int, granule: int, header_type: int, body: bytes
) -> bytes:
    """One spec-valid Ogg page (RFC 3533 §6): 27-byte header, lacing
    segment table, real CRC over the whole page with the CRC field
    zeroed."""
    segs = []
    n = len(body)
    while n >= 255:
        segs.append(255)
        n -= 255
    segs.append(n)  # final lacing value < 255 terminates the packet
    hdr = (
        b"OggS"
        + bytes([0, header_type])
        + granule.to_bytes(8, "little", signed=True)
        + (serial & 0xFFFFFFFF).to_bytes(4, "little")
        + seqno.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + bytes([len(segs)])
        + bytes(segs)
    )
    page = hdr + body
    crc = _ogg_crc(page)
    return page[:22] + crc.to_bytes(4, "little") + page[26:]


def make_ogg(doc_id: int, n_pages: int) -> bytes:
    """Deterministic Ogg/Vorbis CONTAINER for ``doc_id`` — a BOS page
    carrying a real Vorbis identification header (type-1 packet:
    channels, sample rate, blocksizes, framing bit) followed by
    ``n_pages`` audio pages with monotone granule positions and correct
    page CRCs. The header-level prober walks it exactly like a real
    file; only the MDCT audio DECODE needs ffmpeg. Planting arithmetic
    (oracle-replayable): rate = 8000 + (doc_id%3)*4000, samples/page =
    960 + (doc_id%5)*64, so the final granule is n_pages*spp exactly."""
    rate = 8000 + (doc_id % 3) * 4000
    spp = 960 + (doc_id % 5) * 64
    serial = (doc_id * 2654435761) & 0xFFFFFFFF
    ident = (
        b"\x01vorbis"
        + (0).to_bytes(4, "little")  # vorbis_version
        + bytes([1])  # channels
        + rate.to_bytes(4, "little")
        + (0).to_bytes(4, "little") * 3  # bitrate max/nominal/min
        + bytes([0xB8])  # blocksizes 2^8 / 2^11
        + bytes([1])  # framing flag
    )
    out = bytearray(_ogg_page(serial, 0, 0, 0x02, ident))  # BOS
    for p in range(1, n_pages + 1):
        body = bytes((doc_id + p + i) % 256 for i in range(20 + doc_id % 10))
        htype = 0x04 if p == n_pages else 0x00  # EOS on the last page
        out += _ogg_page(serial, p, p * spp, htype, body)
    return bytes(out)


def probe_media(payload: bytes) -> dict:
    """Header-only media inventory (late r7, ogg + hardening r8): the
    cheap first-pass operator a 100 TB corpus runs BEFORE any decode —
    classify the container and read dimensions/rates/frame counts from
    headers alone, no pixel or sample work. Covers every container this
    engine decodes (BMP/PPM/PNG/JPEG/WAV/FLAC/AVI) plus mp3 framing
    (ID3v2 skip, frame-header walk over the MPEG-1 Layer III length
    formula, duration from frame count x 1152 samples) and Ogg framing
    (capture-pattern page walk, Vorbis/Opus time base from the BOS
    packet, duration from the final granule position) — the perceptual
    AUDIO of both stays NotImplementedError pending ffmpeg, but their
    structure is plain integer parsing. Returns {"container", "width",
    "height", "n_frames", "sample_rate", "duration_ms"} with
    NULL-semantics None for fields a format lacks. Untrusted-bytes
    contract (shared with the decoders): malformed payloads raise
    ValueError, unsupported containers NotImplementedError — never raw
    struct.error/IndexError."""
    import struct

    try:
        return _probe_media_impl(payload)
    except (struct.error, IndexError) as e:
        raise ValueError(f"malformed media payload: {e}") from e


def _probe_media_impl(payload: bytes) -> dict:
    import struct

    out = {
        "container": None, "width": None, "height": None,
        "n_frames": None, "sample_rate": None, "duration_ms": None,
    }
    if payload[:2] == b"BM":
        w, h_raw = struct.unpack_from("<ii", payload, 18)
        out.update(container="bmp", width=w, height=abs(h_raw))
        return out
    if payload[:2] == b"P6":
        d = decode_image(payload)  # header parse dominates; tiny files
        out.update(container="ppm", width=d["width"], height=d["height"])
        return out
    if payload[:8] == PNG_SIG:
        w, h = struct.unpack_from(">II", payload, 16)  # IHDR is first
        out.update(container="png", width=w, height=h)
        return out
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        # header-only: LSD dims + block walk counting image descriptors
        # and summing GCE delays — no LZW decode (r9)
        try:
            w, h, packed = struct.unpack_from("<HHB", payload, 6)
            pos = 13
            if packed & 0x80:
                pos += 3 * (2 << (packed & 0x07))
            frames, delay_cs = 0, 0
            while pos < len(payload):
                block = payload[pos]
                pos += 1
                if block == 0x3B:
                    break
                if block == 0x21:
                    label = payload[pos]
                    pos += 1
                    first = True
                    while True:
                        n = payload[pos]
                        pos += 1
                        if n == 0:
                            break
                        if label == 0xF9 and first and n >= 4:
                            (d,) = struct.unpack_from(
                                "<H", payload, pos + 1
                            )
                            delay_cs += d
                        first = False
                        pos += n
                    continue
                if block == 0x2C:
                    ip = payload[pos + 8]
                    pos += 9
                    if ip & 0x80:
                        pos += 3 * (2 << (ip & 0x07))
                    pos += 1  # LZW min code size
                    while True:
                        n = payload[pos]
                        pos += 1
                        if n == 0:
                            break
                        pos += n
                    frames += 1
                    continue
                raise ValueError(f"unknown GIF block 0x{block:02x}")
            if frames == 0:
                raise ValueError("GIF contains no image data")
        except (IndexError, struct.error) as e:
            raise ValueError(f"malformed GIF ({type(e).__name__})") from e
        out.update(
            container="gif", width=w, height=h, n_frames=frames,
            duration_ms=delay_cs * 10 if delay_cs else None,
        )
        return out
    if payload[:2] == b"\xff\xd8":
        pos = 2
        while pos < len(payload) - 1:
            if payload[pos] != 0xFF:
                raise ValueError(f"JPEG marker sync lost at {pos}")
            # T.81 B.1.1.2: any number of 0xFF fill bytes may pad the
            # space before a marker — skip them (r9, advisor)
            while pos + 1 < len(payload) - 1 and payload[pos + 1] == 0xFF:
                pos += 1
            marker = payload[pos + 1]
            pos += 2
            if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
                continue
            if marker == 0xDA:  # SOS: entropy bytes follow — stop walking
                break
            (seglen,) = struct.unpack_from(">H", payload, pos)
            if marker in (0xC0, 0xC1, 0xC2):
                h, w = struct.unpack_from(">HH", payload, pos + 3)
                out.update(container="jpeg", width=w, height=h)
                return out
            pos += seglen
        raise ValueError("JPEG missing SOF")
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        d = decode_audio(payload)
        out.update(
            container="wav", sample_rate=d["sample_rate"],
            n_frames=d["n_samples"],
            duration_ms=d["n_samples"] * 1000 // d["sample_rate"],
        )
        return out
    if payload[:4] == b"fLaC":
        # STREAMINFO is the mandatory first block: 4 marker + 4 block
        # header + 10 bytes of block/frame sizes, then the packed
        # 20-bit rate / 3-bit channels / 5-bit bps / 36-bit total.
        hi = int.from_bytes(payload[18:26], "big")
        rate = hi >> 44
        total = hi & ((1 << 36) - 1)
        out.update(
            container="flac", sample_rate=rate, n_frames=total,
            duration_ms=total * 1000 // rate if rate else None,
        )
        return out
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        d = decode_avi(payload, frame_stats=False)  # header-only: no decode
        uspf = d["usec_per_frame"]
        out.update(
            container="avi", width=d["width"], height=d["height"],
            n_frames=d["n_frames"],
            duration_ms=(d["n_frames"] * uspf // 1000) if uspf else None,
        )
        return out
    if payload[:3] == b"ID3" or payload[:2] in (b"\xff\xfb", b"\xff\xfa"):
        pos = 0
        if payload[:3] == b"ID3":
            size = 0
            for b in payload[6:10]:  # syncsafe 7-bit bytes
                size = (size << 7) | (b & 0x7F)
            pos = 10 + size
        frames = 0
        rate = None
        while pos + 4 <= len(payload):
            h = payload[pos : pos + 4]
            if h[0] != 0xFF or (h[1] & 0xE0) != 0xE0:
                raise ValueError(f"mp3 frame sync lost at {pos}")
            version = (h[1] >> 3) & 3
            layer = (h[1] >> 1) & 3
            if version != 3 or layer != 1:
                raise NotImplementedError(
                    "only MPEG-1 Layer III framing is probed"
                )
            bitrate = _MP3_BITRATES[h[2] >> 4] * 1000
            rate = _MP3_RATES[(h[2] >> 2) & 3]
            if not bitrate or not rate:
                raise ValueError("free-format/invalid mp3 header")
            pad = (h[2] >> 1) & 1
            frames += 1
            pos += 144 * bitrate // rate + pad
            if pos > len(payload):
                raise ValueError("mp3 final frame truncated")
        if frames == 0:
            # r9 (advisor): sync bytes alone, or an ID3 skip landing
            # past the end, must not pass the router as a healthy
            # all-null inventory — no complete frame header was parsed
            raise ValueError("mp3 payload contains no complete frame")
        out.update(
            container="mp3", sample_rate=rate, n_frames=frames,
            duration_ms=frames * 1152 * 1000 // rate if rate else None,
        )
        return out
    if payload[:4] == b"OggS":
        # Page walk (RFC 3533): capture pattern -> granule -> lacing
        # table -> body length. The BOS body names the codec, which
        # fixes the granule time base (Vorbis: PCM samples at the ID
        # header's rate; Opus: always 48 kHz).
        pos = 0
        rate = None
        n_pages = 0
        granule = 0
        first = True
        while pos < len(payload):
            if payload[pos : pos + 4] != b"OggS":
                raise ValueError(f"ogg capture pattern lost at {pos}")
            if payload[pos + 4] != 0:
                raise NotImplementedError("only ogg stream version 0")
            g = int.from_bytes(
                payload[pos + 6 : pos + 14], "little", signed=True
            )
            nseg = payload[pos + 26]
            seg_table = payload[pos + 27 : pos + 27 + nseg]
            if len(seg_table) != nseg:
                raise ValueError("ogg segment table truncated")
            body_len = sum(seg_table)
            body = payload[pos + 27 + nseg : pos + 27 + nseg + body_len]
            if len(body) != body_len:
                raise ValueError("ogg page body truncated")
            if first:
                if body[:7] == b"\x01vorbis":
                    rate = int.from_bytes(body[12:16], "little")
                elif body[:8] == b"OpusHead":
                    rate = 48000  # opus granules tick at 48 kHz always
                first = False
            else:
                n_pages += 1
                if g >= 0:  # -1 marks a page with no finished packet
                    granule = g
            pos += 27 + nseg + body_len
        out.update(
            container="ogg", sample_rate=rate, n_frames=n_pages,
            duration_ms=granule * 1000 // rate if rate else None,
        )
        return out
    raise NotImplementedError("unknown media container")


def probe_media_df(media: DataFrame) -> DataFrame:
    """Distributed header-only inventory: mapInPandas over payloads,
    shuffle-free — the classification pass that routes a mixed 100 TB
    corpus to the right decoder (or to quarantine) without paying for
    a single pixel or sample decode."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                d = probe_media(bytes(payload))
                d["media_id"] = int(mid)
                rows.append(d)
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(
        run,
        "media_id long, container string, width int, height int, "
        "n_frames long, sample_rate int, duration_ms long",
    )


def probe_media_routed(media: DataFrame) -> DataFrame:
    """Router WITH QUARANTINE (r8): a 100 TB corpus always contains some
    corrupt or unknown payloads, and a prober that throws kills the whole
    scan stage — so the production router must classify failures as data,
    not exceptions. Each payload is probed under the two-exception
    contract; good rows carry their header inventory, bad rows land with
    ``error_class`` ('ValueError' = malformed bytes, quarantine;
    'NotImplementedError' = recognized-but-unsupported or unknown
    container, route to a codec-equipped pool) and NULL inventory. The
    split is exactly the ingest-vs-quarantine fork every media pipeline
    runs first. Shuffle-free Arrow mapInPandas, payloads never cross an
    exchange."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                # r9 (advisor): NULL ids/payloads are data, not crashes —
                # a TypeError escaping the handlers would kill the scan
                # stage, exactly what this router exists to prevent.
                base = {
                    "media_id": None if pd.isna(mid) else int(mid),
                    "container": None, "width": None,
                    "height": None, "n_frames": None, "sample_rate": None,
                    "duration_ms": None, "error_class": None,
                }
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    base.update(probe_media(bytes(payload)))
                except ValueError:
                    base["error_class"] = "ValueError"
                except NotImplementedError:
                    base["error_class"] = "NotImplementedError"
                rows.append(base)
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(
        run,
        "media_id long, container string, width int, height int, "
        "n_frames long, sample_rate int, duration_ms long, "
        "error_class string",
    )


def truncate_subset(
    media: DataFrame,
    keep_bytes: int = 2,
    modulus: int = 7,
    residue: int = 3,
) -> DataFrame:
    """Deterministically truncate the payloads of ``media_id % modulus
    == residue`` to ``keep_bytes`` bytes — the planted-fault generator
    for quarantine tests/oracles (a 2-byte prefix keeps the magic's
    first bytes so the corruption exercises each prober branch's
    untrusted-bytes path, not just the unknown-container fallthrough)."""
    return media.withColumn(
        "payload",
        F.when(
            F.col("media_id") % modulus == residue,
            F.expr(f"substring(payload, 1, {keep_bytes})"),
        ).otherwise(F.col("payload")),
    )


def plant_mixed_media(docs: DataFrame) -> DataFrame:
    """Plant a MIXED seven-format corpus over the documents spine
    (doc_id % 7 -> BMP / WAV / JPEG / AVI / mp3-framing / Ogg-Vorbis
    framing / GIF — the GIF stripe is the r11 staged extension, so the
    header-only prober's driver oracle covers every container the
    decoders gate on; odd GIF doc_ids are interlaced), the input shape
    the inventory prober is for."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            payloads, types = [], []
            for d in ids:
                d = int(d)
                k = d % 7
                if k == 0:
                    payloads.append(make_bmp(d, (d % 13) + 4, (d % 11) + 4))
                    types.append("image/bmp")
                elif k == 1:
                    payloads.append(
                        make_wav(d, (d % 23) + 8, 8000 + (d % 5) * 1000)
                    )
                    types.append("audio/wav")
                elif k == 2:
                    payloads.append(make_jpeg(d))
                    types.append("image/jpeg")
                elif k == 3:
                    payloads.append(
                        make_avi(d, (d % 6) + 2, (d % 4) + 2, (d % 7) + 2)
                    )
                    types.append("video/x-msvideo")
                elif k == 4:
                    payloads.append(make_mp3_frames(d, (d % 7) + 2))
                    types.append("audio/mpeg")
                elif k == 5:
                    payloads.append(make_ogg(d, (d % 7) + 2))
                    types.append("audio/ogg")
                else:
                    payloads.append(
                        make_gif(
                            d,
                            (d % 13) + 4,
                            (d % 11) + 4,
                            interlaced=bool(d % 2),
                        )
                    )
                    types.append("image/gif")
            yield pd.DataFrame(
                {"media_id": ids, "payload": payloads, "media_type": types}
            )

    return _par(docs.select("doc_id")).mapInPandas(
        run, "media_id long, payload binary, media_type string"
    )


def decode_media(media: DataFrame) -> DataFrame:
    """Decode binary media payloads into typed feature rows — the REAL
    decode step (stdlib BMP/WAV parsers above), dispatched on media_type
    inside Arrow-batched mapInPandas. Image columns are NULL on audio rows
    and vice versa. Shuffle-free and embarrassingly parallel; payload
    bytes never leave the task that read them."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload, mtype in zip(
                pdf["media_id"], pdf["payload"], pdf["media_type"]
            ):
                row = {
                    "media_id": int(mid),
                    "media_type": mtype,
                    "width": None,
                    "height": None,
                    "pixel_sum": None,
                    "sample_rate": None,
                    "n_samples": None,
                    "sample_sum": None,
                    "sample_peak": None,
                }
                if mtype.startswith("image/"):
                    d = decode_image(bytes(payload))
                    row.update(
                        width=d["width"],
                        height=d["height"],
                        pixel_sum=d["pixel_sum"],
                    )
                elif mtype.startswith("audio/"):
                    d = decode_audio(bytes(payload))
                    row.update(
                        sample_rate=d["sample_rate"],
                        n_samples=d["n_samples"],
                        sample_sum=d["sample_sum"],
                        sample_peak=d["sample_peak"],
                    )
                else:
                    raise NotImplementedError(
                        f"no decoder for media_type={mtype!r}"
                    )
                rows.append(row)
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload", "media_type").mapInPandas(
        run, DECODED_SCHEMA
    )


def decode_image_full(media: DataFrame) -> DataFrame:
    """One-pass image decode through BOTH twins (r10): the stats
    decoder (``decode_image``) and the raster decoder
    (``decode_image_pixels``) run on every payload in the same Arrow
    task, their total sums are cross-checked against each other, and
    the raster additionally yields ``row_weighted_sum`` =
    Σ_y (y+1)·(sum of row y's channel bytes) — a checksum that is NOT
    permutation-invariant, so it certifies ROW ORDER (GIF interlace
    de-permutation, BMP bottom-up flips) which ``pixel_sum`` alone
    cannot. Same 100 TB shape as decode_media: shuffle-free, payloads
    never cross an exchange."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload, mtype in zip(
                pdf["media_id"], pdf["payload"], pdf["media_type"]
            ):
                b = bytes(payload)
                d = decode_image(b)
                arr = decode_image_pixels(b).astype(np.int64)
                raster_sum = int(arr.sum())
                if raster_sum != d["pixel_sum"]:
                    raise ValueError(
                        f"decode twins diverged on media_id={mid}: "
                        f"stats={d['pixel_sum']} raster={raster_sum}"
                    )
                h = arr.shape[0]
                rws = int(
                    (
                        arr.reshape(h, -1).sum(axis=1)
                        * (np.arange(h, dtype=np.int64) + 1)
                    ).sum()
                )
                rows.append(
                    {
                        "media_id": int(mid),
                        "media_type": mtype,
                        "width": d["width"],
                        "height": d["height"],
                        "pixel_sum": d["pixel_sum"],
                        "row_weighted_sum": rws,
                    }
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload", "media_type").mapInPandas(
        run,
        "media_id long, media_type string, width int, height int, "
        "pixel_sum long, row_weighted_sum long",
    )


def decode_audio_mono(payload: bytes):
    """Mono twin of ``decode_audio_samples``: the decoded MONO sample
    array (numpy int64; multi-channel audio integer-mean-mixed per
    frame) plus the sample rate — what the fingerprint and any DSP
    stage consume. Same format coverage and two-exception contract as
    decode_audio (decode_audio_samples returns the flat interleaved
    list; this one mixes down and carries the rate)."""
    import io
    import struct
    import wave

    import numpy as np

    if payload[:4] == b"fLaC":
        from realtime_market_data_pipeline_spark.operators import flac

        # one decode pass for samples AND rate (the fingerprint hot path)
        chans, rate = flac.decode_flac_samples_rate(payload)
        a = np.array(chans, dtype=np.int64)
        return a.sum(axis=0) // a.shape[0], rate
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(
            "only RIFF/WAVE PCM and native FLAC decode without libsndfile"
        )
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            n = w.getnframes()
            ch = w.getnchannels()
            rate = w.getframerate()
            flat = _pcm_samples(w.readframes(n), w.getsampwidth(), n, ch)
    except (wave.Error, struct.error, EOFError, RuntimeError) as e:
        raise ValueError(f"malformed WAV ({type(e).__name__}: {e})") from e
    a = np.array(flat, dtype=np.int64).reshape(n, ch)
    return a.sum(axis=1) // ch, rate


def _pack_hash_words(bits) -> list[int]:
    """Pack a bit sequence (first bit = most significant) into
    little-endian signed 64-bit words — element 0 carries bits 0..63 of
    the value, each word two's-complemented into a signed BIGINT. For a
    64-bit sequence, word 0 IS the single-long pack ``image_dhash`` /
    ``audio_fingerprint`` emit."""
    h = 0
    for b in bits:
        h = (h << 1) | int(b)
    n_words = (len(bits) + 63) // 64
    words = []
    for k in range(n_words):
        w = (h >> (64 * k)) & ((1 << 64) - 1)
        if w >= 1 << 63:
            w -= 1 << 64
        words.append(w)
    return words


def _audio_fp_bits(payload: bytes, hash_size: int):
    """Shared fingerprint core: decode to mono, window the |sample|
    envelope into hash_size²+1 equal windows, integer-mean each, one
    bit per consecutive-window comparison. Returns (rate, n_samples,
    bits). Raises ValueError for clips shorter than hash_size²+1
    samples (too short to fingerprint) and the decoders' two-exception
    contract otherwise."""
    import numpy as np

    n_win = hash_size * hash_size + 1
    s, rate = decode_audio_mono(payload)
    n = len(s)
    if n < n_win:
        raise ValueError(f"clip too short to fingerprint: {n} < {n_win}")
    mag = np.abs(s)
    b = (np.arange(n_win + 1) * n) // n_win
    # one reduceat call instead of n_win Python slice-sums (r11): the
    # boundaries are strictly increasing (n >= n_win guarantees every
    # window >= 1 sample) and b[-1] == n, so segment j sums exactly
    # mag[b[j]:b[j+1]] — integer arithmetic, value-identical
    sums = np.add.reduceat(mag, b[:-1])
    e = (sums // (b[1:] - b[:-1])).astype(np.int64)
    return rate, n, e[1:] > e[:-1]


def audio_fingerprint(media: DataFrame, hash_size: int = 8) -> DataFrame:
    """Perceptual AUDIO fingerprint (late r10) — the audio member of
    the dedup-hash family: decode payload to mono samples, cut the
    |sample| sequence into hash_size²+1 equal windows (boundaries
    j·n // (hash_size²+1), the NN-index convention), integer-mean the
    energy per window, one bit per consecutive-window comparison
    e[j+1] > e[j] — a 64-bit envelope dHash at the default size,
    packed into a signed BIGINT exactly like ``image_dhash``, so
    ``hash_hamming_pairs`` gives banded near-dup search unchanged.
    The envelope comparison is EXACTLY invariant under positive
    amplitude scaling without clipping (order-preserving) and under
    sample-rate relabeling (windows are relative). Clips shorter than
    hash_size²+1 samples raise ValueError MID-TASK (callers must
    pre-filter; for an untrusted feed use ``audio_fingerprint_routed``,
    which quarantines them instead of poisoning the stage). Shuffle-
    free Arrow mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rate, n, bits = _audio_fp_bits(bytes(payload), hash_size)
                rows.append(
                    {
                        "media_id": int(mid),
                        "sample_rate": int(rate),
                        "n_samples": int(n),
                        "fp": _pack_hash_words(bits)[0],
                    }
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(
        run, "media_id long, sample_rate int, n_samples int, fp long"
    )


def audio_fingerprint_routed(media: DataFrame, hash_size: int = 8) -> DataFrame:
    """Quarantine-routed twin of ``audio_fingerprint`` (r11, advice
    item): at 100 TB the fingerprint stage is fed untrusted clips, and
    one too-short/undecodable payload must become an ``error_class``
    row, not a failed Spark job — the same router contract as
    ``decode_media_routed``. Good rows carry the fingerprint; bad rows
    carry 'ValueError' (malformed/too short — quarantine) or
    'NotImplementedError' (no decoder for the container — route to a
    codec-equipped pool) with NULL fingerprint columns."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                row = {
                    "media_id": None if pd.isna(mid) else int(mid),
                    "sample_rate": None,
                    "n_samples": None,
                    "fp": None,
                    "error_class": None,
                }
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    rate, n, bits = _audio_fp_bits(
                        bytes(payload), hash_size
                    )
                    row.update(
                        sample_rate=int(rate),
                        n_samples=int(n),
                        fp=_pack_hash_words(bits)[0],
                    )
                except ValueError:
                    row["error_class"] = "ValueError"
                except NotImplementedError:
                    row["error_class"] = "NotImplementedError"
                rows.append(row)
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(
        run,
        "media_id long, sample_rate int, n_samples int, fp long, "
        "error_class string",
    )


def audio_fingerprint_wide(media: DataFrame, hash_size: int = 16) -> DataFrame:
    """WIDE envelope fingerprint (r11): hash_size²-bit fingerprint as
    little-endian array<bigint> words — the 100 TB form for
    ``hash_hamming_pairs``, where the 64-bit pack's bands collapse to
    5-7 bits at real hamming budgets (see the scale bound there). The
    default 16 gives 256 bits: budget 12 keeps every band >= 19 bits.
    Same envelope arithmetic as ``audio_fingerprint`` at its
    hash_size, not a different algorithm."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rate, n, bits = _audio_fp_bits(bytes(payload), hash_size)
                rows.append(
                    {
                        "media_id": int(mid),
                        "sample_rate": int(rate),
                        "n_samples": int(n),
                        "fp": _pack_hash_words(bits),
                    }
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(
        run,
        "media_id long, sample_rate int, n_samples int, fp array<long>",
    )


def make_envelope_wav(doc_id: int) -> bytes:
    """Deterministic 130-sample mono 16-bit WAV for the audio-dedup
    oracle corpus: window j of the 65-window fingerprint covers samples
    2j and 2j+1, both set to the envelope value
    E(g,j) = (11 + (2g+3)*(j+5)^3) % 251 with g = doc_id % 5 (positive,
    so |s| = s and the per-window integer mean is E itself); ODD
    doc_ids REFLECT windows 24..31 (E -> 250-E). Ten distinct
    fingerprints corpus-wide: within-group hamming 7-9 (the reflected
    region's internal + boundary comparisons), min cross-group hamming
    26 — an exact-replay oracle predicts every fingerprint BIT from
    this arithmetic."""
    import io
    import struct
    import wave

    g = doc_id % 5
    env = [(11 + (2 * g + 3) * (j + 5) ** 3) % 251 for j in range(65)]
    if doc_id % 2:
        env[24:32] = [250 - e for e in env[24:32]]
    samples = [e for e in env for _ in (0, 1)]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000 + (doc_id % 3) * 4000)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def plant_audio_fp(docs: DataFrame) -> DataFrame:
    """Plant the audio-dedup corpus over the documents spine (the
    ``plant_media`` pattern): one ``make_envelope_wav`` per doc."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [make_envelope_wav(int(d)) for d in ids],
                    "media_type": "audio/wav",
                }
            )

    return _par(docs.select("doc_id")).mapInPandas(
        run, "media_id long, payload binary, media_type string"
    )


def make_phash_bmp(doc_id: int) -> bytes:
    """Deterministic 9x8 grayscale BMP for the perceptual-dedup oracle
    corpus. Pattern: v(g,x,y) = (11 + (2g+3)*(x+9y+5)^3) % 256 with
    g = doc_id % 5 — five base patterns whose dHashes are pairwise far
    apart (min cross-group hamming 19 of 64). ODD doc_ids REFLECT row 3
    (v -> 255-v): reflection strictly inverts every horizontal
    comparison in that row and no adjacent row-3 values ever tie
    (the cubic difference is never ≡ 0 mod 256 at these multipliers),
    so each odd image sits at hamming EXACTLY 8 from its group's base —
    a planted near-duplicate the banding must find and the oracle can
    predict. Width 9 = dhash_size+1, so the NN resample inside
    ``image_dhash`` is the identity and the hash is pure planted
    arithmetic."""
    import numpy as np

    g = doc_id % 5
    x = np.arange(9, dtype=np.int64)[None, :]
    y = np.arange(8, dtype=np.int64)[:, None]
    v = (11 + (2 * g + 3) * (x + 9 * y + 5) ** 3) % 256
    if doc_id % 2:
        v = v.copy()
        v[3, :] = 255 - v[3, :]
    arr = np.repeat(v.astype(np.uint8)[:, :, None], 3, axis=2)
    return encode_bmp_pixels(arr)


def make_phash_bmp_wide(doc_id: int) -> bytes:
    """Deterministic 17x16 grayscale BMP for the WIDE perceptual-dedup
    oracle corpus (r12, the driver-certification row the r11 verdict
    staged): the ``make_phash_bmp`` construction at
    ``image_dhash_wide``'s native 256-bit geometry. Pattern:
    v(g,x,y) = (11 + (2g+3)*(x + 17y + 5)^3) % 256 with g = doc_id % 5;
    ODD doc_ids reflect row 3 columns 2..13 (v -> 255-v), which
    strictly inverts the 11 fully-internal horizontal comparisons and
    perturbs the two boundary ones — measured within-group hamming
    11-12 of 256, min cross-group 84, so a banding threshold of 15
    (16 bands x 16 bits — past the ``min_band_bits`` floor the 64-bit
    pack can never reach) surfaces EXACTLY the five base<->variant
    pairs. Width 17 = hash_size+1 and height 16 = hash_size, so the
    NN resample inside ``image_dhash_wide`` is the identity and every
    hash bit is pure planted arithmetic an integer-SQL oracle
    replays — including the two's-complement little-endian word pack."""
    import numpy as np

    g = doc_id % 5
    x = np.arange(17, dtype=np.int64)[None, :]
    y = np.arange(16, dtype=np.int64)[:, None]
    v = (11 + (2 * g + 3) * (x + 17 * y + 5) ** 3) % 256
    if doc_id % 2:
        v = v.copy()
        v[3, 2:14] = 255 - v[3, 2:14]
    arr = np.repeat(v.astype(np.uint8)[:, :, None], 3, axis=2)
    return encode_bmp_pixels(arr)


def plant_phash_wide(docs: DataFrame) -> DataFrame:
    """Plant the wide perceptual-dedup corpus over the documents spine
    (the ``plant_media`` pattern): one ``make_phash_bmp_wide`` per doc."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [make_phash_bmp_wide(int(d)) for d in ids],
                    "media_type": "image/bmp",
                }
            )

    return _par(docs.select("doc_id")).mapInPandas(
        run, "media_id long, payload binary, media_type string"
    )


def plant_phash(docs: DataFrame) -> DataFrame:
    """Plant the perceptual-dedup corpus over the documents spine (the
    ``plant_media`` pattern): one ``make_phash_bmp`` payload per doc."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [make_phash_bmp(int(d)) for d in ids],
                    "media_type": "image/bmp",
                }
            )

    return _par(docs.select("doc_id")).mapInPandas(
        run, "media_id long, payload binary, media_type string"
    )


def image_dhash(media: DataFrame, hash_size: int = 8) -> DataFrame:
    """Perceptual difference hash (late r10) — the image twin of the
    text dedup family: decode each payload to pixels, integer-mean
    grayscale, nearest-neighbor resample to (hash_size+1) x hash_size
    (the ``resize_nn`` convention, so the sampling arithmetic is the
    one the resize oracle already replays), then one bit per horizontal
    neighbor comparison gray[y][x+1] > gray[y][x] — a 64-bit dHash at
    the default size, packed MSB-first row-major into a signed BIGINT.
    dHash is EXACTLY invariant under integer-factor NN upscaling
    (floor(floor(a/b)/c) == floor(a/(b*c))) and robust to brightness
    offsets that don't cross neighbor ordering — the property that
    makes it the standard re-encode/resize-duplicate catcher. Shuffle-
    free Arrow mapInPandas; payloads never cross an exchange."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                arr = decode_image_pixels(bytes(payload))
                if arr.dtype != np.uint8:  # 16-bit PNG -> high byte
                    arr = (arr >> 8).astype(np.uint8)
                a = arr.astype(np.int64)
                gray = a.sum(axis=2) // a.shape[2]
                g = resize_nn(gray, hash_size + 1, hash_size)
                bits = (g[:, 1:] > g[:, :-1]).reshape(-1)
                h = 0
                for b in bits:
                    h = (h << 1) | int(b)
                n_bits = hash_size * hash_size
                if h >= 1 << (n_bits - 1) and n_bits == 64:
                    h -= 1 << 64  # two's-complement into signed BIGINT
                rows.append(
                    {
                        "media_id": int(mid),
                        "width": int(arr.shape[1]),
                        "height": int(arr.shape[0]),
                        "dhash": h,
                    }
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(
        run, "media_id long, width int, height int, dhash long"
    )


def image_dhash_wide(media: DataFrame, hash_size: int = 16) -> DataFrame:
    """WIDE difference hash (r11): hash_size²-bit dHash packed as
    little-endian array<bigint> words — the 100 TB form for
    ``hash_hamming_pairs``, where the 64-bit pack's bands collapse to
    5-7 bits at real hamming budgets (see the scale bound there). The
    default 16 gives a 256-bit hash: budget 12 keeps every band
    >= 19 bits (>= 524288 buckets per band). Same decode / grayscale /
    NN-resample / neighbor-comparison arithmetic as ``image_dhash`` at
    its hash_size — a wider sample of the same signal, not a different
    algorithm."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                arr = decode_image_pixels(bytes(payload))
                if arr.dtype != np.uint8:  # 16-bit PNG -> high byte
                    arr = (arr >> 8).astype(np.uint8)
                a = arr.astype(np.int64)
                gray = a.sum(axis=2) // a.shape[2]
                g = resize_nn(gray, hash_size + 1, hash_size)
                bits = (g[:, 1:] > g[:, :-1]).reshape(-1)
                rows.append(
                    {
                        "media_id": int(mid),
                        "width": int(arr.shape[1]),
                        "height": int(arr.shape[0]),
                        "dhash": _pack_hash_words(bits),
                    }
                )
            yield pd.DataFrame(rows)

    # NOT _par-wrapped (r15, r14-advice fix): every batch caller plants
    # via a _par-wrapped doc_id planter, so parallelism is ensured
    # upstream of planting and the payload-carrying relation itself
    # never crosses an exchange — wrapping HERE would round-robin the
    # payload bytes on an exchange-free input (e.g. the streaming
    # image_dedup_writer's micro-batch), violating that invariant.
    return media.select("media_id", "payload").mapInPandas(
        run, "media_id long, width int, height int, dhash array<long>"
    )


def hash_hamming_sql(a: str, b: str, n_bits: int = 64) -> str:
    """SQL text of the hamming distance between two ``n_bits``-bit
    hashes: ``bit_count(a ^ b)`` on a BIGINT, per-word bit_count(xor)
    summed JVM-side (zip_with + aggregate) on little-endian
    array<bigint> words — no Python in the verify path."""
    if n_bits <= 64:
        return f"bit_count({a} ^ {b})"
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> bit_count(x ^ y)), 0,"
        " (acc, x) -> acc + x)"
    )


def hash_band_structs_sql(
    max_hamming: int,
    hash_col: str = "dhash",
    n_bits: int = 64,
    min_band_bits: int = 0,
) -> tuple[str, list[str]]:
    """The pigeonhole band rows of an ``n_bits``-bit hash, as SQL text:
    the ``array<struct<band_id, p0, ...>>`` that cuts the hash into
    ``max_hamming + 1`` disjoint bit bands (explode it with
    ``inline(...)``), and the band key columns to equi-join on. Any
    pair within the hamming budget agrees EXACTLY on at least one band,
    so a join on the keys misses no pair (``hash_hamming_pairs`` and
    the streaming image dedup writer both band this way).

    Band bits are non-negative long parts. array<bigint> hashes are
    LITTLE-ENDIAN (element 1 carries bits 0..63); a band spanning a
    word boundary emits one masked part per word touched, so the key
    stays sign-free and >= 64-bit bands never overflow a long. Bands
    straddle different numbers of word boundaries, so part lists are
    ZERO-PADDED to the widest band's arity: band_id keeps bands
    disjoint and padded equality is exactly bitwise band equality.

    SCALE BOUND: with D distinct hashes roughly uniform over band
    values, the band equi-join produces about n_bands * D^2 / 2^width
    candidate pairs — QUADRATIC in D with constant 1/2^width. At
    n_bits=64 and the budgets this engine plants (8-12), bands are only
    5-7 bits wide (32-128 buckets per band): exact and fine at any
    plausible single-table scale, but a billion-distinct-hash corpus
    would see ~10^7-row band buckets. The 100 TB path is a WIDER hash
    at the same budget: pass the hash as array<bigint>
    (``image_dhash_wide`` / ``audio_fingerprint_wide``) with the
    matching ``n_bits`` — a 256-bit hash at budget 12 keeps every band
    >= 19 bits (>= 524288 buckets), and the pigeonhole guarantee is
    unchanged. ``min_band_bits`` turns that floor into a hard guard: a
    call whose bands would be narrower raises instead of silently
    running a small-constant quadratic."""
    n_bands = max_hamming + 1
    width = n_bits // n_bands
    if min_band_bits and width < min_band_bits:
        raise ValueError(
            f"band width {width} < min_band_bits {min_band_bits}: "
            f"{n_bits}-bit hashes over {n_bands} bands cannot bound the "
            "candidate join at this budget — widen the hash (e.g. "
            "image_dhash_wide / audio_fingerprint_wide) or lower "
            "max_hamming"
        )
    rem = n_bits % n_bands
    h = "`" + hash_col.replace("`", "``") + "`"

    def _parts(off: int, wdt: int) -> list[str]:
        if n_bits <= 64:
            part = f"shiftrightunsigned({h}, {off})"
            return [f"({part} & {(1 << wdt) - 1})" if wdt < 64 else part]
        parts = []
        while wdt > 0:
            lo_word, lo_bit = off // 64, off % 64
            take = min(wdt, 64 - lo_bit)
            word = f"element_at({h}, {lo_word + 1})"
            if lo_bit:
                word = f"shiftrightunsigned({word}, {lo_bit})"
            if take < 64:
                word = f"({word} & {(1 << take) - 1})"
            parts.append(word)
            off += take
            wdt -= take
        return parts

    band_parts = []
    off = 0
    for i in range(n_bands):
        wdt = width + (1 if i < rem else 0)
        band_parts.append(_parts(off, wdt))
        off += wdt
    n_parts = max(len(p) for p in band_parts)
    structs = ", ".join(
        f"struct({i} AS band_id, "
        + ", ".join(
            f"{p[j] if j < len(p) else 'CAST(0 AS BIGINT)'} AS p{j}"
            for j in range(n_parts)
        )
        + ")"
        for i, p in enumerate(band_parts)
    )
    return f"array({structs})", ["band_id", *(f"p{j}" for j in range(n_parts))]


def hash_hamming_pairs(
    hashes: DataFrame,
    max_hamming: int,
    hash_col: str = "dhash",
    id_col: str = "media_id",
    n_bits: int = 64,
    min_band_bits: int = 0,
) -> DataFrame:
    """All id pairs whose ``n_bits``-bit hashes differ in at most
    ``max_hamming`` bits — WITHOUT the all-pairs join: the band rows of
    ``hash_band_structs_sql`` (pigeonhole: a pair within the budget
    agrees exactly on at least one band, so no false negatives), one
    self-join on the band keys, then the exact ``hash_hamming_sql``
    verify. The same band-then-verify shape as the MinHash-LSH dedup,
    with the sketch replaced by the perceptual hash; see
    ``hash_band_structs_sql`` for the scale bound and ``min_band_bits``.
    Returns (id_a, id_b, hamming), id_a < id_b."""
    bands, keys = hash_band_structs_sql(
        max_hamming, hash_col, n_bits, min_band_bits
    )
    h = hashes.selectExpr(
        f"`{id_col}` AS id", f"`{hash_col}` AS h", f"inline({bands})"
    )
    return (
        h.selectExpr("id AS id_a", "h AS h_a", *keys)
        .join(h.selectExpr("id AS id_b", "h AS h_b", *keys), keys)
        .filter("id_a < id_b")
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()  # a pair can agree on several bands
        .selectExpr(
            "id_a",
            "id_b",
            f"CAST({hash_hamming_sql('h_a', 'h_b', n_bits)} AS INT) AS hamming",
        )
        .filter(f"hamming <= {max_hamming}")
    )


def decode_media_routed(media: DataFrame) -> DataFrame:
    """Decode WITH QUARANTINE (r9, closes the r8 verdict's decode-stage
    gap): ``probe_media_routed`` stopped one corrupt payload from
    killing the INVENTORY pass, but at 100 TB the second pass — the
    actual decode — has the same exposure, so it gets the same router.
    Each payload decodes under the decoders' two-exception contract;
    good rows carry the full ``decode_media`` stats, bad rows land with
    ``error_class`` ('ValueError' = malformed bytes past the magic —
    quarantine; 'NotImplementedError' = unknown container or no decoder
    for the media_type — route to a codec-equipped pool) and NULL
    stats. NULL payloads / media_types / media_ids are data, not
    crashes. Same shuffle-free Arrow mapInPandas shape as
    ``decode_media``; payloads never cross an exchange."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload, mtype in zip(
                pdf["media_id"], pdf["payload"], pdf["media_type"]
            ):
                row = {
                    "media_id": None if pd.isna(mid) else int(mid),
                    "media_type": None if mtype is None else str(mtype),
                    "width": None, "height": None, "pixel_sum": None,
                    "sample_rate": None, "n_samples": None,
                    "sample_sum": None, "sample_peak": None,
                    "error_class": None,
                }
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    if mtype is None:
                        raise NotImplementedError("null media_type")
                    if mtype.startswith("image/"):
                        d = decode_image(bytes(payload))
                        row.update(
                            width=d["width"], height=d["height"],
                            pixel_sum=d["pixel_sum"],
                        )
                    elif mtype.startswith("audio/"):
                        d = decode_audio(bytes(payload))
                        row.update(
                            sample_rate=d["sample_rate"],
                            n_samples=d["n_samples"],
                            sample_sum=d["sample_sum"],
                            sample_peak=d["sample_peak"],
                        )
                    else:
                        raise NotImplementedError(
                            f"no decoder for media_type={mtype!r}"
                        )
                except ValueError:
                    row["error_class"] = "ValueError"
                except NotImplementedError:
                    row["error_class"] = "NotImplementedError"
                rows.append(row)
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload", "media_type").mapInPandas(
        run, DECODED_SCHEMA + ", error_class string"
    )


def fault_stripe(media: DataFrame, modulus: int = 11) -> DataFrame:
    """Planted-fault generator for the DECODE quarantine oracles (r9) —
    three deterministic corruption stripes over ``media_id``, each
    exercising a different failure surface of the codecs' untrusted-byte
    paths (``truncate_subset`` only cuts at the magic; the r8 verdict
    asked for mid-structure coverage so the error paths INSIDE each
    parser are exercised too):

    - ``% modulus == 3``: payload NULLed — the ingest-gap case;
    - ``% modulus == 5``: cut to the 2-byte magic — container either
      half-recognized (ValueError) or unknown (NotImplementedError);
    - ``% modulus == 7``: cut to 3/4 length — MID-STRUCTURE truncation
      that parses headers fine and fails inside pixel/sample/chunk
      data (measured deterministic: ValueError for every BMP/WAV/AVI
      payload in the planted corpora).

    All stripes are Column arithmetic, so the corruption itself is
    shuffle-free and oracle-predictable."""
    mid = F.col("media_id")
    return media.withColumn(
        "payload",
        F.when(mid % modulus == 3, F.lit(None).cast("binary"))
        .when(mid % modulus == 5, F.expr("substring(payload, 1, 2)"))
        .when(
            mid % modulus == 7,
            F.expr(
                "substring(payload, 1,"
                " CAST(3 * length(payload) / 4 AS INT))"
            ),
        )
        .otherwise(F.col("payload")),
    )


def _ffmpeg_path() -> str | None:
    """Locate an ffmpeg binary if the cluster image ships one (this
    container does not)."""
    import shutil

    return shutil.which("ffmpeg")


def decode_audio_ffmpeg(payload: bytes, ffmpeg: str | None = None) -> dict:
    """Perceptual-codec twin of ``decode_audio`` (r8 verdict #7): decode
    an mp3/ogg payload by piping it through an ffmpeg binary to mono
    s16le PCM, then report the SAME stats contract ``decode_audio``
    returns — so a cluster image that ships ffmpeg gets mp3/ogg decode
    through identical downstream plumbing with zero code change. Gated
    on the binary's presence: NotImplementedError when absent.
    ``ffmpeg`` is injectable so tests exercise the full subprocess +
    PCM-stats path here via a stub binary."""
    ffmpeg = ffmpeg or _ffmpeg_path()
    if ffmpeg is None:
        raise NotImplementedError(
            "mp3/ogg perceptual decode needs an ffmpeg binary on PATH; "
            "none in this container (plumbing tested via stub injection)"
        )
    import subprocess

    import numpy as np

    info = probe_media(payload)  # container routing + header rate
    if info["container"] not in ("mp3", "ogg"):
        raise ValueError(
            f"ffmpeg twin handles mp3/ogg payloads, got {info['container']}"
        )
    proc = subprocess.run(
        [ffmpeg, "-v", "error", "-i", "pipe:0",
         "-f", "s16le", "-ac", "1", "pipe:1"],
        input=payload,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        check=False,
    )
    if proc.returncode != 0:
        raise ValueError(
            f"ffmpeg decode failed: {proc.stderr[:200].decode(errors='replace')}"
        )
    pcm = proc.stdout[: len(proc.stdout) // 2 * 2]
    samples = np.frombuffer(pcm, dtype="<i2").astype(np.int64)
    return {
        "format": info["container"],
        "sample_rate": info["sample_rate"],
        "n_channels": 1,
        "n_samples": int(samples.size),
        "sample_sum": int(samples.sum()) if samples.size else 0,
        "sample_peak": int(np.abs(samples).max()) if samples.size else 0,
    }


def decode_media_perceptual(
    media: DataFrame, ffmpeg: str | None = None
) -> DataFrame:
    """mapInPandas twin of ``decode_media`` for perceptual audio codecs
    (mp3/ogg): the same Arrow-batched, shuffle-free, payload-local
    plumbing, dispatching each payload to ``decode_audio_ffmpeg``. The
    plan shape, schema contract, and batch iteration are identical
    whether the decoder is the real ffmpeg or an injected stub — which
    is the point: swapping the codec binary in on a cluster image is a
    config change, not a plan change."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                d = decode_audio_ffmpeg(bytes(payload), ffmpeg=ffmpeg)
                rows.append(
                    {
                        "media_id": int(mid),
                        "format": d["format"],
                        "sample_rate": d["sample_rate"],
                        "n_channels": d["n_channels"],
                        "n_samples": d["n_samples"],
                        "sample_sum": d["sample_sum"],
                        "sample_peak": d["sample_peak"],
                    }
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(
        run,
        "media_id long, format string, sample_rate int, n_channels int, "
        "n_samples long, sample_sum long, sample_peak long",
    )


def make_avi(doc_id: int, width: int, height: int, n_frames: int) -> bytes:
    """Deterministic uncompressed AVI payload for ``doc_id`` — a REAL,
    spec-valid RIFF/AVI container (hdrl with avih/strh/strf, movi with
    one '00db' DIB chunk per frame) built with stdlib ``struct`` only.
    Frames are 24bpp BI_RGB bottom-up DIBs with BMP-style 4-aligned row
    padding; every channel of frame f's image row y (top-down) is
    ``(doc_id + 17*f + y) % 256``, so an oracle predicts every frame's
    pixel sum as 3*width*sum_y(doc_id+17f+y)%256 by integer
    arithmetic."""
    import struct

    row_bytes = width * 3
    pad = (-row_bytes) % 4
    stride = row_bytes + pad
    frame_size = stride * height

    def frame(f: int) -> bytes:
        rows = []
        for y in reversed(range(height)):  # bottom-up like BMP
            v = (doc_id + 17 * f + y) % 256
            rows.append(bytes([v]) * row_bytes + b"\x00" * pad)
        return b"".join(rows)

    avih = b"avih" + struct.pack(
        "<I14I", 56, 40000, 0, 0, 0x10, n_frames, 0, 1, frame_size,
        width, height, 0, 0, 0, 0,
    )
    strh = b"strh" + struct.pack(
        "<I4s4sIHHIIIIIIII4H", 56, b"vids", b"DIB ", 0, 0, 0, 0, 1, 25,
        0, n_frames, frame_size, 0, frame_size,
        0, 0, width, height,
    )
    bih = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, frame_size,
        0, 0, 0, 0,
    )
    strf = b"strf" + struct.pack("<I", 40) + bih
    strl = b"LIST" + struct.pack("<I", 4 + len(strh) + len(strf)) + b"strl"
    strl += strh + strf
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih) + len(strl)) + b"hdrl"
    hdrl += avih + strl
    movi_body = b"".join(
        b"00db" + struct.pack("<I", frame_size) + frame(f)
        for f in range(n_frames)
    )
    movi = b"LIST" + struct.pack("<I", 4 + len(movi_body)) + b"movi"
    movi += movi_body
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


MJPG_FOURCC = int.from_bytes(b"MJPG", "little")


@_functools.lru_cache(maxsize=4096)
def _mjpeg_const_frame(value: int, width: int, height: int) -> bytes:
    """One constant-gray JPEG frame, lru-cached: the planted corpus
    draws from only 256 values × a handful of dims, so planting costs a
    few hundred encodes per executor instead of one per frame — fixture
    construction, not the operator under test (decode stays uncached,
    per-frame, real)."""
    import numpy as np

    from realtime_market_data_pipeline_spark.operators import jpeg

    return jpeg.encode_jpeg(
        np.full((height, width), value, dtype=np.uint8),
        quant=jpeg.UNIT_QT,
    )


def make_avi_mjpeg(
    doc_id: int, width: int, height: int, n_frames: int
) -> bytes:
    """Deterministic MJPEG-COMPRESSED AVI payload for ``doc_id`` (r8) —
    a real RIFF/AVI container whose '00dc' chunks hold full baseline
    JPEG images ('MJPG' handler, biCompression='MJPG'), the classic
    compressed-video-in-AVI format webcams and capture cards emit.
    Frame f is a constant grayscale image of value
    ``(doc_id + 17*f) % 256`` encoded under the unit quant table, so the
    lossy codec is BIT-exact (DC-only blocks) and an oracle predicts
    frame f's pixel sum as width*height*((doc_id+17f)%256) by integer
    arithmetic. Odd-length JPEG chunks get the RIFF even-alignment pad
    byte, which real muxers emit and sloppy parsers trip over."""
    import struct

    frames = [
        _mjpeg_const_frame((doc_id + 17 * f) % 256, width, height)
        for f in range(n_frames)
    ]
    buf_size = max(len(fr) for fr in frames)
    avih = b"avih" + struct.pack(
        "<I14I", 56, 40000, 0, 0, 0x10, n_frames, 0, 1, buf_size,
        width, height, 0, 0, 0, 0,
    )
    strh = b"strh" + struct.pack(
        "<I4s4sIHHIIIIIIII4H", 56, b"vids", b"MJPG", 0, 0, 0, 0, 1, 25,
        0, n_frames, buf_size, 0, buf_size,
        0, 0, width, height,
    )
    bih = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, MJPG_FOURCC, 0,
        0, 0, 0, 0,
    )
    strf = b"strf" + struct.pack("<I", 40) + bih
    strl = b"LIST" + struct.pack("<I", 4 + len(strh) + len(strf)) + b"strl"
    strl += strh + strf
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih) + len(strl)) + b"hdrl"
    hdrl += avih + strl
    movi_body = b"".join(
        b"00dc" + struct.pack("<I", len(fr)) + fr + b"\x00" * (len(fr) & 1)
        for fr in frames
    )
    movi = b"LIST" + struct.pack("<I", 4 + len(movi_body)) + b"movi"
    movi += movi_body
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi(payload: bytes, frame_stats: bool = True) -> dict:
    """Pure-Python AVI decode (r7; MJPEG r8): RIFF chunk walk with
    even-byte alignment, avih/strf header parse, per-frame pixel sums
    over the movi '00db'/'00dc' chunks — the video twin of
    ``decode_image``. Two frame codecs decode for real: uncompressed
    24bpp BI_RGB DIBs (stdlib ``struct``) and MJPEG
    (biCompression='MJPG' — every chunk is a complete baseline/
    progressive JPEG, decoded through ``operators.jpeg``; the dominant
    compressed AVI format, and no ffmpeg needed). Inter-frame codecs
    (h264/vp9/...) still require ffmpeg/pyav and raise.
    ``frame_stats=False`` skips frame decoding entirely — the
    header-only mode the inventory prober uses. Returns {"format",
    "width", "height", "n_frames", "frame_sums", "usec_per_frame"}
    where DIB frame_sums exclude row padding (None when
    frame_stats=False)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise NotImplementedError(
            "only RIFF/AVI containers decode without ffmpeg/pyav; wire the "
            "real decoder here on a cluster image that ships it"
        )
    width = height = None
    n_frames_hdr = 0
    usec_per_frame = 0
    bpp = compression = None
    frames: list[bytes] = []

    def walk(start: int, end: int) -> None:
        nonlocal width, height, n_frames_hdr, bpp, compression, usec_per_frame
        pos = start
        end = min(end, len(payload))  # declared sizes can lie (truncation)
        while pos + 8 <= end:
            fourcc = payload[pos : pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            body_start = pos + 8
            if fourcc == b"LIST":
                walk(body_start + 4, body_start + size)  # skip list subtype
            elif fourcc == b"avih":
                (
                    usec_per_frame, _mbps, _pad, _flags, n_frames_hdr, _init,
                    _streams, _buf, width, height,
                ) = struct.unpack_from("<10I", payload, body_start)
            elif fourcc == b"strf":
                hdr_size, _w, _h, _planes, bpp, compression = (
                    struct.unpack_from("<IiiHHI", payload, body_start)
                )
            elif fourcc in (b"00db", b"00dc"):
                frames.append(payload[body_start : body_start + size])
            pos = body_start + size + (size & 1)  # chunks align to even

    import struct as _struct

    try:
        walk(12, len(payload))
    except _struct.error as e:
        raise ValueError(f"malformed AVI chunk structure: {e}") from e
    if width is None or bpp is None:
        raise ValueError("AVI missing avih/strf headers")
    if compression == 0 and bpp == 24:
        mjpeg = False
    elif compression == MJPG_FOURCC:
        mjpeg = True
    else:
        raise NotImplementedError(
            f"compressed AVI frames (biCompression={compression}, "
            f"bpp={bpp}) require ffmpeg; 24bpp BI_RGB DIB and MJPEG "
            "decode here"
        )
    sums: list[int] | None
    if not frame_stats:
        sums = None
    elif mjpeg:
        from realtime_market_data_pipeline_spark.operators import jpeg

        sums = []
        for data in frames:
            pix = jpeg.decode_pixels(bytes(data))
            if pix.shape[0] != height or pix.shape[1] != width:
                raise ValueError(
                    f"MJPEG frame dims {pix.shape[:2]} disagree with the "
                    f"container's {(height, width)}"
                )
            sums.append(int(pix.astype("int64").sum()))
    else:
        row_bytes = width * 3
        stride = row_bytes + ((-row_bytes) % 4)
        sums = []
        for data in frames:
            if len(data) != stride * height:
                raise ValueError("AVI frame size mismatch")
            sums.append(
                sum(
                    sum(data[r * stride : r * stride + row_bytes])
                    for r in range(height)
                )
            )
    if n_frames_hdr and n_frames_hdr != len(frames):
        raise ValueError(
            f"AVI header declares {n_frames_hdr} frames, found {len(frames)}"
        )
    return {
        "format": "avi",
        "width": width,
        "height": height,
        "n_frames": len(frames),
        "frame_sums": sums,
        # avih dwMicroSecPerFrame (0 = unspecified): the container's
        # frame clock, r8 — lets the prober report video duration
        "usec_per_frame": usec_per_frame,
    }


# Video planting contract (the plant_media pattern, container edition).
AVI_WIDTH = "(doc_id % 6) + 2"
AVI_HEIGHT = "(doc_id % 4) + 2"
AVI_FRAMES = "(doc_id % 7) + 2"


def plant_avi(docs: DataFrame) -> DataFrame:
    """Plant deterministic doc_id-derived AVI payloads over the documents
    spine: real RIFF/AVI containers of uncompressed DIB frames (dims per
    AVI_WIDTH/AVI_HEIGHT, frame count per AVI_FRAMES) — any conformant
    AVI reader decodes them."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            payloads = [
                make_avi(
                    int(d), (int(d) % 6) + 2, (int(d) % 4) + 2,
                    (int(d) % 7) + 2,
                )
                for d in ids
            ]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "media_type": "video/x-msvideo",
                }
            )

    # NOT _par-wrapped (r15, r14 verdict #6): tiny per-row payloads —
    # the round-robin's 32-task stage overhead exceeded the 1-core
    # decode it parallelized (A/B receipts in OPTIMIZATION_r15.md §2)
    return docs.select("doc_id").mapInPandas(
        run, "media_id long, payload binary, media_type string"
    )


def plant_avi_mjpeg(docs: DataFrame) -> DataFrame:
    """Plant deterministic MJPEG-compressed AVI payloads over the
    documents spine (r8): w = 8·((d%2)+1), h = 8·((d%3)+1), frames =
    (d%5)+2 constant-gray JPEGs under the unit quant table — real
    compressed video any MJPEG-capable reader decodes, bit-exact for
    the oracle because every 8x8 block is constant."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            payloads = [
                make_avi_mjpeg(
                    int(d), 8 * ((int(d) % 2) + 1), 8 * ((int(d) % 3) + 1),
                    (int(d) % 5) + 2,
                )
                for d in ids
            ]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "media_type": "video/x-msvideo",
                }
            )

    return _par(docs.select("doc_id")).mapInPandas(
        run, "media_id long, payload binary, media_type string"
    )


def sample_video_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL video frame sampling (replaces frame_sample_stub's byte-stride
    fake for AVI payloads): parse the RIFF/AVI container per batch and
    emit one row per every_n-th frame with its decoded pixel sum — the
    canonical row-expanding mapInPandas fan-out (output rows >> input
    rows, no shuffle, payload bytes never leave the task)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sums = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                d = decode_avi(bytes(payload))
                for f in range(0, d["n_frames"], every_n):
                    ids.append(int(mid))
                    idxs.append(f)
                    sums.append(d["frame_sums"][f])
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_pixel_sum": pd.Series(sums, dtype="int64"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        run, "media_id long, frame_idx int, frame_pixel_sum long"
    )


def sample_video_frames_routed(
    media: DataFrame, every_n: int = 2
) -> DataFrame:
    """Frame sampling WITH QUARANTINE (r9): the routed twin of
    ``sample_video_frames`` — the row-EXPANDING decode pass gets the
    same corrupt-payload protection as the scalar decode
    (``decode_media_routed``). Good containers fan out into their
    sampled frame rows with NULL ``error_class``; a corrupt or NULL
    payload contributes exactly ONE row with NULL frame fields and the
    error class, so the quarantine set stays joinable by media_id and
    a poison container can no longer kill a 100 TB frame-extraction
    stage. Shuffle-free Arrow mapInPandas, payloads never cross an
    exchange."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sums, errs = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                mid = None if pd.isna(mid) else int(mid)
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    d = decode_avi(bytes(payload))
                except ValueError:
                    ids.append(mid); idxs.append(None)
                    sums.append(None); errs.append("ValueError")
                    continue
                except NotImplementedError:
                    ids.append(mid); idxs.append(None)
                    sums.append(None); errs.append("NotImplementedError")
                    continue
                for f in range(0, d["n_frames"], every_n):
                    ids.append(mid); idxs.append(f)
                    sums.append(d["frame_sums"][f]); errs.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="Int64"),
                    "frame_idx": pd.Series(idxs, dtype="Int32"),
                    "frame_pixel_sum": pd.Series(sums, dtype="Int64"),
                    "error_class": pd.Series(errs, dtype="object"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        run,
        "media_id long, frame_idx int, frame_pixel_sum long, "
        "error_class string",
    )


def decode_video_frames(payload: bytes, every_n: int) -> object:
    """Inter-frame-compressed video decoder stub — h264/vp9/av1 require
    ffmpeg/pyav, not in this container. Uncompressed AVI AND
    MJPEG-compressed AVI (r8) decode for real via
    ``decode_avi``/``sample_video_frames``."""
    raise NotImplementedError(
        "inter-frame video codecs (h264/vp9/av1) require ffmpeg/pyav; "
        "wire the real decoder here on a cluster image that ships it "
        "(uncompressed DIB and MJPEG AVIs decode via decode_avi)"
    )


def frame_sample_stub(media: DataFrame, every_n_bytes: int = 16) -> DataFrame:
    """Video frame-sampling plumbing: emits one row per sampled 'frame'
    (every ``every_n_bytes``-th payload byte stands in for a decoded frame).
    The real operator decodes with ffmpeg per batch and yields
    (media_id, frame_idx, frame_payload) — same fan-out shape: mapInPandas
    expanding rows, no shuffle, output rows ≫ input rows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, vals = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for i, off in enumerate(range(0, len(payload), every_n_bytes)):
                    ids.append(mid)
                    idxs.append(i)
                    vals.append(int(payload[off]))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_byte": vals}
            )

    return media.select("media_id", "payload").mapInPandas(
        run, "media_id long, frame_idx int, frame_byte int"
    )


def decode_audio_samples(payload: bytes) -> list[int]:
    """Raster twin of ``decode_audio``: the decoded signed PCM samples
    (interleaved if multi-channel; widths 1-4 bytes per ``_pcm_samples``),
    via stdlib ``wave``."""
    import io
    import struct
    import wave

    if payload[:4] == b"fLaC":
        from realtime_market_data_pipeline_spark.operators import flac

        chans = flac.decode_flac_samples(payload)
        return [s for frame in zip(*chans) for s in frame] if chans else []
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("only RIFF/WAVE PCM decodes here")
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            n = w.getnframes()
            return _pcm_samples(
                w.readframes(n), w.getsampwidth(), n, w.getnchannels()
            )
    except (wave.Error, struct.error, EOFError, RuntimeError) as e:
        # stdlib wave raises bare RuntimeError on some malformed sizes
        raise ValueError(f"malformed WAV ({type(e).__name__}: {e})") from e


def audio_quality_stats(
    media: DataFrame,
    silence_eps: int = 2,
    clip_level: int = 32767,
) -> DataFrame:
    """Audio QUALITY gating signals (r12) — the audio-modality twin of
    the Gopher text filters: a large-scale audio corpus drops silent,
    clipped, or dead recordings BEFORE paying for feature extraction.
    One shuffle-free Arrow pass per payload (``decode_audio_mono`` —
    WAV PCM + native FLAC) emits exact-integer signals:

    - silence_frac: fraction of samples with |s| <= silence_eps;
    - clipping_frac: fraction with |s| >= clip_level (catches both
      rails of 16-bit PCM: |-32768| >= 32767);
    - peak_abs, and mean_abs rounded 6 dp (an exact integer ratio, so
      oracles replay it bit-for-bit).

    Thresholding is the caller's business (corpora disagree on what
    counts as dead air); every signal is inspectable per row."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                mono, rate = decode_audio_mono(bytes(payload))
                a = np.abs(mono.astype(np.int64))
                n = int(a.size)
                rows.append(
                    {
                        "media_id": int(mid),
                        "n_samples": n,
                        "sample_rate": int(rate),
                        "silence_frac": round(
                            float((a <= silence_eps).sum()) / n, 6
                        ) if n else None,
                        "clipping_frac": round(
                            float((a >= clip_level).sum()) / n, 6
                        ) if n else None,
                        "peak_abs": int(a.max()) if n else None,
                        "mean_abs": round(float(a.sum()) / n, 6)
                        if n else None,
                    }
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(
        run,
        "media_id long, n_samples int, sample_rate int,"
        " silence_frac double, clipping_frac double,"
        " peak_abs long, mean_abs double",
    )


def make_quality_wav(doc_id: int) -> bytes:
    """Deterministic 120-sample mono 16-bit WAV for the audio-quality
    oracle corpus: k1 = doc_id%30+10 leading ZERO samples (silence),
    then k2 = doc_id%20+5 CLIPPED samples (+32767 on even doc_ids,
    -32768 on odd — exercising both rails), then body samples
    500 + (doc_id + 7i) % 2000 at their global index i — every
    signal is integer arithmetic an oracle replays."""
    import io
    import struct
    import wave

    n = 120
    k1 = doc_id % 30 + 10
    k2 = doc_id % 20 + 5
    clip = 32767 if doc_id % 2 == 0 else -32768
    samples = (
        [0] * k1
        + [clip] * k2
        + [500 + (doc_id + 7 * i) % 2000 for i in range(k1 + k2, n)]
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(struct.pack(f"<{n}h", *samples))
    return buf.getvalue()


def plant_quality_wav(docs: DataFrame) -> DataFrame:
    """Plant the audio-quality corpus over the documents spine (the
    ``plant_media`` pattern): one ``make_quality_wav`` per doc."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [make_quality_wav(int(d)) for d in ids],
                    "media_type": "audio/wav",
                }
            )

    return _par(docs.select("doc_id")).mapInPandas(
        run, "media_id long, payload binary, media_type string"
    )


def image_quality_stats(
    media: DataFrame,
    dark_eps: int = 8,
    bright_level: int = 248,
) -> DataFrame:
    """Image QUALITY gating signals (r13) — completes the modality
    triad next to ``audio_quality_stats`` (audio) and
    ``video_scene_cuts`` (video): a large-scale image corpus drops
    black thumbnails, blown-out captures, and flat single-color tiles
    BEFORE paying for embedding/model inference (the LAION-style
    pre-filter pass). One shuffle-free Arrow decode pass per payload
    (``decode_image_pixels`` — BMP/PPM/PNG/GIF/JPEG) emits
    exact-integer signals over the channel bytes:

    - dark_frac: fraction of channel bytes <= ``dark_eps``;
    - bright_frac: fraction >= ``bright_level`` (blown highlights);
    - mean_byte rounded 6 dp (an exact integer ratio);
    - min_byte / max_byte / contrast_range (max - min — a flat tile
      has range ~0);
    - n_distinct: distinct byte values — the poor-man's entropy a
      single-color or few-color graphic fails.

    Thresholding is the caller's business (corpora disagree on what
    counts as "too dark"); every signal is inspectable per row.
    Corrupt/undecodable payloads quarantine as data: NULL signals
    plus ``error_class`` (the ``decode_media_routed`` contract), so
    this gate can run FIRST on a raw crawl.
    Scale shape: embarrassingly parallel elementwise decode, payload
    bytes never cross a shuffle."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                base = {
                    "media_id": int(mid), "width": None, "height": None,
                    "n_bytes": None, "dark_frac": None,
                    "bright_frac": None, "mean_byte": None,
                    "min_byte": None, "max_byte": None,
                    "contrast_range": None, "n_distinct": None,
                    "error_class": None,
                }
                # quarantine-as-data (the decode_media_routed
                # contract): a corrupt payload becomes an error row,
                # never a dead 100 TB scan stage
                try:
                    arr = decode_image_pixels(
                        bytes(payload) if payload is not None else b""
                    )
                except (ValueError, NotImplementedError) as e:
                    base["error_class"] = type(e).__name__
                    rows.append(base)
                    continue
                h, w = arr.shape[:2]
                b = np.asarray(arr, dtype=np.int64).ravel()
                n = int(b.size)
                base.update(
                    {
                        "width": int(w),
                        "height": int(h),
                        "n_bytes": n,
                        "dark_frac": round(
                            float((b <= dark_eps).sum()) / n, 6
                        ) if n else None,
                        "bright_frac": round(
                            float((b >= bright_level).sum()) / n, 6
                        ) if n else None,
                        "mean_byte": round(float(b.sum()) / n, 6)
                        if n else None,
                        "min_byte": int(b.min()) if n else None,
                        "max_byte": int(b.max()) if n else None,
                        "contrast_range": int(b.max() - b.min())
                        if n else None,
                        "n_distinct": int(np.unique(b).size)
                        if n else None,
                    }
                )
                rows.append(base)
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(
        run,
        "media_id long, width int, height int, n_bytes long,"
        " dark_frac double, bright_frac double, mean_byte double,"
        " min_byte int, max_byte int, contrast_range int,"
        " n_distinct int, error_class string",
    )


def make_quality_bmp(doc_id: int) -> bytes:
    """Deterministic 10x12 24bpp BMP for the image-quality oracle
    corpus: k1 = doc_id%4 leading DARK rows (all channel bytes 0),
    then k2 = doc_id%3 BLOWN rows (255), then body rows with every
    channel byte 16 + (doc_id + 11*y) % 224 at image row y — the body
    range [16, 239] stays clear of both thresholds, so dark/bright
    counts, the byte sum, min/max, and the distinct-value count are
    all pure doc_id arithmetic an oracle replays. 360 channel bytes
    per image; 3 | 360, so no /360 ratio can tie at the 6th decimal
    (a half-ulp residue would need 10^6*k/360 = k*25000/9 to be a
    half-integer, impossible unless 9 | k which makes it whole)."""
    import struct

    width, height = 10, 12
    k1, k2 = doc_id % 4, doc_id % 3
    row_bytes = width * 3
    pad = (-row_bytes) % 4
    rows = []
    for y in reversed(range(height)):  # BMP rows are bottom-up
        if y < k1:
            v = 0
        elif y < k1 + k2:
            v = 255
        else:
            v = 16 + (doc_id + 11 * y) % 224
        rows.append(bytes([v]) * row_bytes + b"\x00" * pad)
    pixel_data = b"".join(rows)
    data_offset = 14 + 40
    file_header = struct.pack(
        "<2sIHHI", b"BM", data_offset + len(pixel_data), 0, 0, data_offset
    )
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_data),
        2835, 2835, 0, 0,
    )
    return file_header + info_header + pixel_data


def plant_quality_bmp(docs: DataFrame) -> DataFrame:
    """Plant the image-quality corpus over the documents spine (the
    ``plant_media`` pattern): one ``make_quality_bmp`` per doc."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [make_quality_bmp(int(d)) for d in ids],
                    "media_type": "image/bmp",
                }
            )

    return _par(docs.select("doc_id")).mapInPandas(
        run, "media_id long, payload binary, media_type string"
    )


def image_hist_embed(media: DataFrame, n_bins: int = 16) -> DataFrame:
    """Deterministic image -> vector bridge (the visual twin of
    ``text.hash_embed``): decode pixels, histogram the channel bytes
    into ``n_bins`` equal buckets, L2-normalize into flat columns
    ``h0..h{n-1}`` (rounded 6 dp — integer counts under an IEEE sqrt,
    so both engines agree). A production pipeline swaps this for a
    CLIP image tower; this is the model-free stand-in that keeps the
    decode -> embed -> join -> score dataflow real and certifiable
    (the ``_fake_decode_features`` convention). One shuffle-free
    Arrow decode pass."""
    import numpy as np

    width = 256 // n_bins

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                row = {"media_id": int(mid)}
                # corrupt payload -> NULL components (the row stays
                # joinable; the pair gate routes it to aligned=false)
                try:
                    arr = decode_image_pixels(
                        bytes(payload) if payload is not None else b""
                    )
                except (ValueError, NotImplementedError):
                    for i in range(n_bins):
                        row[f"h{i}"] = None
                    rows.append(row)
                    continue
                b = np.asarray(arr, dtype=np.int64).ravel()
                # clamp the bucket index: when n_bins does not divide
                # 256, bytes >= n_bins*width would land in an overflow
                # bucket that is counted in the L2 norm but never
                # emitted as h{i} (non-unit output, lost mass) — fold
                # them into the last bucket instead (r13 advice)
                counts = np.bincount(
                    np.minimum(b // width, n_bins - 1), minlength=n_bins
                )
                norm = float(np.sqrt((counts.astype(np.float64) ** 2).sum()))
                for i in range(n_bins):
                    row[f"h{i}"] = (
                        round(float(counts[i]) / norm, 6) if norm > 0
                        else 0.0
                    )
                rows.append(row)
            yield pd.DataFrame(rows)

    schema = "media_id long, " + ", ".join(
        f"h{i} double" for i in range(n_bins)
    )
    return media.select("media_id", "payload").mapInPandas(run, schema)


def pair_alignment(
    docs: DataFrame,
    media: DataFrame,
    threshold: float = 0.0,
    dims: int = 16,
) -> DataFrame:
    """Image-text PAIR curation (the LAION filtering loop as
    dataflow): embed the caption (``text.hash_embed`` — unit vector),
    embed the image (``image_hist_embed`` — unit vector), join on the
    pair id, score alignment as the dot product (cosine of unit
    vectors, rounded 6 dp), and gate at ``threshold`` — exactly how a
    CLIP-score filter decides which scraped (image, caption) pairs
    survive into a multimodal training set. The embedding towers here
    are the repo's deterministic model-free stand-ins; the dataflow —
    shuffle-free decode fan-out, one id-keyed join of two unit-vector
    relations, per-row score + gate — is the production shape.

    Output: (doc_id, score, aligned) — every pair present, never
    silently dropped.

    Scale shape: both towers are map-only; the only exchange is the
    pair-id equi-join (co-partition or bucket both sides by id at
    100 TB and it is exchange-free)."""
    from realtime_market_data_pipeline_spark.operators.text import (
        hash_embed,
    )

    t = hash_embed(docs, dims=dims)
    iv = image_hist_embed(media, n_bins=dims)
    j = t.join(iv, t.doc_id == iv.media_id)
    dot = sum(
        F.col(f"d{i}") * F.col(f"h{i}") for i in range(dims)
    )
    # RAW double, not rounded: the components are already on the
    # shared 6-dp grid, so the left-to-right dot is bit-identical in
    # any IEEE engine — whereas rounding the free-form SUM at 6 dp
    # can land on a half-boundary where engines' round()
    # implementations split (observed once at sf0.01: -0.18131 vs
    # -0.181311 — the dedup_embedding_cosine raw-output rule).
    # + 0.0 canonicalizes IEEE -0.0 to 0.0.
    score = dot + F.lit(0.0)
    return j.select(
        F.col("doc_id"),
        score.alias("score"),
        # NULL score (an undecodable image tower) routes to false,
        # never a NULL gate
        F.coalesce(score > threshold, F.lit(False)).alias("aligned"),
    )


def video_scene_cuts(
    media: DataFrame, every_n: int = 1, threshold: int = 1000
) -> DataFrame:
    """Scene-cut detection over sampled video frames (r12) — the
    cheapest shot-boundary signal a video curation pipeline runs
    before any expensive per-frame model: sample frames
    (``sample_video_frames`` — row-expanding Arrow fan-out, payload
    bytes never leave the task), then flag frames whose pixel-sum jump
    from the previous sampled frame exceeds ``threshold`` (one
    per-media window at frame cardinality — frames per container are
    bounded, so the lag partition never skews). First sampled frame:
    delta NULL, is_cut false. Real pipelines swap the pixel-sum for a
    histogram distance; the dataflow (decode fan-out -> keyed lag) is
    identical."""
    from pyspark.sql.window import Window

    frames = sample_video_frames(media, every_n=every_n)
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    delta = F.abs(
        F.col("frame_pixel_sum")
        - F.lag("frame_pixel_sum").over(w)
    )
    return frames.select(
        "media_id",
        "frame_idx",
        "frame_pixel_sum",
        delta.alias("delta"),
        F.coalesce(delta > threshold, F.lit(False)).alias("is_cut"),
    )


def plant_avi_pairs(docs: DataFrame) -> DataFrame:
    """Plant the video near-dup corpus over the documents spine: the
    ``plant_avi`` payloads, except every doc_id%10==7 doc carries a
    byte-identical COPY of doc_id-7's clip (dims and frame count from
    the effective id too) — the planted duplicates the near-dup sweep
    must find, arithmetic an oracle replays."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for d in ids:
                e = int(d) - 7 if int(d) % 10 == 7 else int(d)
                payloads.append(
                    make_avi(e, (e % 6) + 2, (e % 4) + 2, (e % 7) + 2)
                )
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "media_type": "video/x-msvideo",
                }
            )

    # NOT _par-wrapped (r14): video_near_dups replicates this plant
    # subtree ~8x across its LSH/verify consumers; the round-robin
    # exchange under each copy costs more in extra 32-task stages than
    # the 1-core decode it parallelizes (A/B at sf0.1: 1.9 s raw vs
    # 4.0 s wrapped — the one planter where the guard lost).
    return docs.select("doc_id").mapInPandas(
        run, "media_id long, payload binary, media_type string"
    )


def video_near_dups(
    media: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.9,
    every_n: int = 1,
    routed: bool = False,
) -> DataFrame:
    """Perceptual VIDEO near-dup detection (r13) — completes the
    perceptual dedup family next to ``image_dhash`` (image) and
    ``audio_fingerprint`` (audio): tokenize each clip into per-frame
    content signatures (the decode fan-out's frame pixel sum here; a
    real pipeline swaps in a per-frame dHash/histogram — the dataflow
    is identical), treat the signature SET as the clip's shingle set,
    and ride the text MinHash+LSH machinery unchanged
    (``minhash_sig_sets_from_tokens`` -> banded candidates -> exact
    Jaccard verify >= threshold). Robust to re-encodes that preserve
    frames and to trims (set Jaccard, not sequence equality).

    Scale shape: decode fan-out is shuffle-free; one groupBy(media)
    builds signature+set; candidates come from band-key joins (never
    all-pairs — Σ bucket² bounded exactly as the text family); the
    verify join touches candidates only.

    ``routed=True`` runs the quarantine-protected sampler
    (``sample_video_frames_routed``) and drops error rows from the
    token relation — corrupt clips simply mine no pairs instead of
    killing the stage (audit them separately through the router)."""
    from realtime_market_data_pipeline_spark.operators import dedup as dd

    if routed:
        frames = sample_video_frames_routed(
            media, every_n=every_n
        ).filter(F.col("error_class").isNull())
    else:
        frames = sample_video_frames(media, every_n=every_n)
    tok = frames.select(
        "media_id",
        F.col("frame_pixel_sum").cast("string").alias("token"),
    )
    ss = dd.minhash_sig_sets_from_tokens(
        tok, id_col="media_id", token_col="token", num_hashes=num_hashes
    )
    cand = dd.lsh_candidate_pairs(
        ss, id_col="media_id", num_hashes=num_hashes, band_size=band_size
    )
    ver = dd.jaccard_from_sets(ss, cand, id_col="media_id")
    return ver.select(
        "id_a",
        "id_b",
        F.col("n_inter").cast("long").alias("n_inter"),
        F.col("n_union").cast("long").alias("n_union"),
        "jaccard",
    ).filter(F.col("jaccard") >= threshold)


def audio_frame_energy(media: DataFrame, frame_len: int = 32) -> DataFrame:
    """REAL audio feature extraction (r7, replaces the byte-stride energy
    fake): decode each WAV payload to PCM samples, frame them frame_len
    samples at a time (last frame ragged), and emit per-frame energy =
    sum of squared samples — an exact integer, so tests and oracles can
    predict it from the planted sample arithmetic. Real impl swaps the
    energy fold for MFCC per frame; the fan-out shape (row-expanding
    mapInPandas, no shuffle) is identical."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, energies, lens = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                samples = decode_audio_samples(bytes(payload))
                for i in range(0, max(-(-len(samples) // frame_len), 1)):
                    chunk = samples[i * frame_len : (i + 1) * frame_len]
                    ids.append(int(mid))
                    idxs.append(i)
                    energies.append(sum(s * s for s in chunk))
                    lens.append(len(chunk))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "energy": pd.Series(energies, dtype="int64"),
                    "n_frame_samples": pd.Series(lens, dtype="int32"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        run,
        "media_id long, frame_idx int, energy long, n_frame_samples int",
    )


def audio_features_stub(media: DataFrame, frame_len: int = 32) -> DataFrame:
    """Byte-stride energy proxy over raw payload bytes — kept as the
    format-agnostic plumbing demo; ``audio_frame_energy`` is the real
    decoded-sample operator for WAV payloads."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, energies = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for i in range(0, max(len(payload) // frame_len, 1)):
                    chunk = payload[i * frame_len : (i + 1) * frame_len]
                    ids.append(mid)
                    idxs.append(i)
                    energies.append(
                        float(sum(b * b for b in chunk)) / max(len(chunk), 1)
                    )
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "energy": energies}
            )

    return media.select("media_id", "payload").mapInPandas(
        run, "media_id long, frame_idx int, energy double"
    )




# ---------------------------------------------------------------------------
# GIF (r9): the LZW member of the no-codec-library decoder family.
# Mixed media corpora are full of GIFs; the container is simple block
# framing and the entropy layer is LZW with GIF's variable code widths
# — implemented both ways (spec-valid encoder for deterministic
# planting, full decoder incl. the KwKwK self-reference case, width
# growth to 12 bits, and dictionary reset), so the roundtrip property
# has the same teeth as the PNG/JPEG/FLAC codecs. Pixel model: indexed
# 8-bit with a grayscale global color table (i,i,i), expanded to RGB on
# decode like the PNG palette path (bpp=24, pixel_sum over channel
# bytes).
# ---------------------------------------------------------------------------


class _LZWBitWriter:
    """LSB-first bit packer (GIF's bit order)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF-flavor LZW: variable code width starting min_code_size+1,
    width bump when next_code exceeds the current code space (the
    encoder runs one dictionary entry ahead of the decoder, hence the
    ``next_code - 1`` comparison), CLEAR-reset at 4096 entries."""
    clear = 1 << min_code_size
    eoi = clear + 1
    bw = _LZWBitWriter()
    width = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    bw.write(clear, width)
    w = b""
    for b in indices:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        bw.write(table[w], width)
        table[wk] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code == 4096:
            bw.write(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        w = wk[-1:]
    if w:
        bw.write(table[w], width)
        # the decoder performs one more dictionary add after the final
        # data code; if that add lands exactly on a code-width boundary
        # an early-change reader bumps width BEFORE reading EOI — so
        # EOI must be written at the post-bump width (r10, advisor:
        # latent interop edge for strict external GIF readers; our own
        # decoder exits at max_pixels and never hit it)
        if next_code == (1 << width) and width < 12:
            width += 1
    bw.write(eoi, width)
    return bw.flush()


def _lzw_decode(data: bytes, min_code_size: int, max_pixels: int) -> bytes:
    """Decode a GIF LZW stream to at most ``max_pixels`` indices.
    Handles CLEAR resets, the KwKwK case (code == next_code), width
    growth to 12 bits; raises ValueError on out-of-range codes or a
    stream that ends mid-code before the pixels are complete."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    pos = 0  # bit position
    nbits = len(data) * 8
    out = bytearray()

    def read() -> int:
        nonlocal pos
        if pos + width > nbits:
            raise ValueError("LZW stream truncated mid-code")
        byte0 = pos >> 3
        chunk = int.from_bytes(
            data[byte0 : byte0 + 3], "little"
        )  # width ≤ 12 spans ≤ 3 bytes
        code = (chunk >> (pos & 7)) & ((1 << width) - 1)
        pos += width
        return code

    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    next_code = eoi + 1
    prev: bytes | None = None
    while len(out) < max_pixels:
        code = read()
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            next_code = eoi + 1
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= clear:
                raise ValueError("LZW first code after clear not literal")
            entry = table[code]
        elif code < next_code:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"LZW code {code} out of range")
        out.extend(entry)
        if prev is not None:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) < max_pixels:
        raise ValueError("LZW pixel data incomplete")
    return bytes(out[:max_pixels])


def make_gif(
    doc_id: int, width: int, height: int, interlaced: bool = False
) -> bytes:
    """Spec-valid GIF89a: 256-entry grayscale global color table
    (i,i,i), one frame, REAL LZW-compressed indices
    ``(doc_id + x + 7y) % 256`` (the PNG planting arithmetic, so
    oracles mirror). ``interlaced`` writes the rows in the four-pass
    8/8/4/2 order with the descriptor flag set (r10) — the raster
    decoder must de-permute them back to image order."""
    import struct

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out.append(0xF7)  # global table, 8-bit resolution, 256 entries
    out += b"\x00\x00"  # bg color, aspect
    for i in range(256):
        out += bytes([i, i, i])
    out.append(0x2C)  # image descriptor
    out += struct.pack("<HHHH", 0, 0, width, height)
    out.append(0x40 if interlaced else 0x00)  # no local table
    row_order = (
        list(range(0, height, 8))
        + list(range(4, height, 8))
        + list(range(2, height, 4))
        + list(range(1, height, 2))
    ) if interlaced else range(height)
    idx = bytes(
        (doc_id + x + 7 * y) % 256
        for y in row_order
        for x in range(width)
    )
    out.append(8)  # LZW min code size
    data = _lzw_encode(idx, 8)
    for i in range(0, len(data), 255):
        block = data[i : i + 255]
        out.append(len(block))
        out += block
    out.append(0x00)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)


def _decode_gif_core(payload: bytes):
    """Shared GIF parse: block walk, color-table selection, LZW decode
    of the FIRST frame. Returns (w, h, index_bytes, color_table,
    interlaced) — the stats twin ignores the interlace flag (its
    outputs are permutation-invariant), the raster twin de-permutes."""
    import struct

    try:
        if payload[:6] not in (b"GIF87a", b"GIF89a"):
            raise ValueError("not a GIF")
        sw, sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
        pos = 13
        gct = None
        if packed & 0x80:
            n = 2 << (packed & 0x07)
            gct = payload[pos : pos + 3 * n]
            if len(gct) < 3 * n:
                raise ValueError("global color table truncated")
            pos += 3 * n
        while True:
            if pos >= len(payload):
                raise ValueError("GIF missing trailer/image")
            block = payload[pos]
            pos += 1
            if block == 0x3B:  # trailer before any image
                raise ValueError("GIF contains no image data")
            if block == 0x21:  # extension: label + sub-blocks
                pos += 1
                while True:
                    if pos >= len(payload):
                        raise ValueError("extension truncated")
                    n = payload[pos]
                    pos += 1
                    if n == 0:
                        break
                    pos += n
                continue
            if block == 0x2C:
                break
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        _l, _t, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos)
        pos += 9
        table = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            table = payload[pos : pos + 3 * n]
            if len(table) < 3 * n:
                raise ValueError("local color table truncated")
            pos += 3 * n
        if table is None:
            raise NotImplementedError("GIF without any color table")
        interlaced = bool(ipacked & 0x40)
        mcs = payload[pos]
        pos += 1
        if not 2 <= mcs <= 11:
            raise ValueError(f"bad LZW min code size {mcs}")
        data = bytearray()
        while True:
            if pos >= len(payload):
                raise ValueError("image data truncated")
            n = payload[pos]
            pos += 1
            if n == 0:
                break
            data += payload[pos : pos + n]
            if len(payload) < pos + n:
                raise ValueError("image sub-block truncated")
            pos += n
        idx = _lzw_decode(bytes(data), mcs, w * h)
        return w, h, idx, table, interlaced
    except (IndexError, struct.error) as e:
        raise ValueError(f"malformed GIF ({type(e).__name__})") from e


def decode_gif(payload: bytes) -> dict:
    """Decode the FIRST frame of a GIF87a/89a payload: block walk
    (extensions skipped by sub-block framing), global or local color
    table, full LZW decode; indexed pixels expand through the palette
    to RGB (bpp=24) so the stats contract matches the other image
    decoders. Interlace needs no handling here — it is a pure row
    permutation and every reported stat is permutation-invariant (the
    raster twin ``_decode_gif_pixels`` de-permutes). Untrusted-bytes
    rules apply: malformed structure raises ValueError, features
    beyond the decoder (no color table at all) NotImplementedError."""
    import numpy as np

    w, h, idx, table, _il = _decode_gif_core(payload)
    n_entries = len(table) // 3
    arr = np.frombuffer(idx, dtype=np.uint8)
    if int(arr.max(initial=0)) >= n_entries:
        raise ValueError("palette index out of range")
    pal_sums = (
        np.frombuffer(table, dtype=np.uint8)
        .reshape(-1, 3)
        .sum(axis=1)
        .astype(np.int64)
    )
    pixel_sum = int(pal_sums[arr].sum())
    return {
        "format": "gif",
        "width": w,
        "height": h,
        "bpp": 24,
        "pixel_sum": pixel_sum,
        "n_px": w * h,
    }


def _decode_gif_pixels(payload: bytes):
    """Raster-returning GIF decode (HxWx3 uint8, palette-expanded) —
    the resize chain's entry point. Interlaced frames are de-permuted
    by the four-pass 8/8/4/2 row pattern (rows arrive pass-by-pass in
    the file; the raster must be top-down image order)."""
    import numpy as np

    w, h, idx, table, interlaced = _decode_gif_core(payload)
    n_entries = len(table) // 3
    arr = np.frombuffer(idx, dtype=np.uint8)
    if int(arr.max(initial=0)) >= n_entries:
        raise ValueError("palette index out of range")
    pal = np.frombuffer(table, dtype=np.uint8).reshape(-1, 3)
    rows = pal[arr].reshape(h, w, 3)
    if interlaced:
        order = (
            list(range(0, h, 8))
            + list(range(4, h, 8))
            + list(range(2, h, 4))
            + list(range(1, h, 2))
        )
        out = np.empty_like(rows)
        for src_row, dst_row in enumerate(order):
            out[dst_row] = rows[src_row]
        rows = out
    return rows


def plant_gif(docs: DataFrame) -> DataFrame:
    """Plant deterministic doc_id-derived GIFs over the documents spine
    (the ``plant_png`` pattern, LZW edition): every doc gets a GIF89a
    with dims per BMP_WIDTH/BMP_HEIGHT and indexed pixels
    ``(doc_id + x + 7y) % 256`` through the grayscale palette — real
    LZW streams any conformant GIF reader decodes. Odd doc_ids are
    INTERLACED (r10): their rows sit in the file in four-pass order, so
    the raster decoder's de-permutation is exercised by half the
    corpus. The oracle twin is PNG's: pixel_sum = 3·Σ(doc_id+x+7y)%256
    (interlace-invariant), plus the row-weighted checksum that is NOT
    permutation-invariant (``multimodal_decode_gif``)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            payloads = [
                make_gif(
                    int(d),
                    (int(d) % 13) + 4,
                    (int(d) % 11) + 4,
                    interlaced=bool(int(d) % 2),
                )
                for d in ids
            ]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "media_type": "image/gif",
                }
            )

    return _par(docs.select("doc_id")).mapInPandas(
        run, "media_id long, payload binary, media_type string"
    )
