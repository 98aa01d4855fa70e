"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Generalizes the reference's compressed-bytecode envelope (SURVEY.md D6,
bytecode.cpp:130-155): a binary column plus a struct of metadata, with
decode/feature steps as Arrow-batched mapInPandas stages.

All four container codecs are REAL, pure Python, no native libraries:

  - 24-bit uncompressed BMP (full header parse, bottom-up row order,
    BGR channel order, 4-byte row padding);
  - PNG (8-bit/channel truecolor: chunk walk with CRC verification,
    stdlib-zlib IDAT inflate, full scanline filter reconstruction for
    all five filter types None/Sub/Up/Average/Paeth) — a genuinely
    COMPRESSED format, matching the reference's compressed-envelope
    semantics (bytecode.cpp:130-155: magic + checksum + deflate-family
    payload);
  - 16-bit PCM WAV (RIFF chunk walk, fmt parse, LE sample decode);
  - uncompressed AVI (RIFF 'AVI ' with hdrl/avih/strh/strf headers and
    a movi LIST of raw '00db' DIB frames, each un-flipped from
    bottom-up BGR).

`make_*` write the real formats; `parse_*` decode them — both
directions pure Python, golden-tested against independently hand-built
fixtures. `resize_images` nearest-neighbor-resamples decoded BMP/PNG
pixels; `frame_sample_real` emits decoded AVI frames. The only
remaining fake is `_stub_decode`'s fixed-dim hash features for
extract_features' UNRECOGNIZED payloads (arbitrary bytes with no
container format) — recognized formats get real decoded features.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MODALITIES = ("image", "audio", "video")

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("payload_len", LongType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)


def attach_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Fixture adapter: manufacture a binary payload column + metadata
    struct from the text fixture (real pipelines read true bytes)."""
    payload = F.encode(F.col(text_col), "utf-8")
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]),
        (F.col(id_col) % len(MODALITIES) + 1).cast("int"),
    )
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.struct(
            modality.alias("modality"),
            F.length(payload).alias("payload_len"),
            F.substring(F.sha2(payload, 256), 1, 16).alias("checksum"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# Real codecs: 24-bit BMP and 16-bit PCM WAV (pure Python, no native libs)
# ---------------------------------------------------------------------------


def make_bmp(width: int, height: int, rgb_bytes: bytes) -> bytes:
    """Write a real 24-bit uncompressed BMP. ``rgb_bytes`` is top-down
    row-major RGB (3 bytes/pixel); the file stores rows bottom-up in
    BGR with each row padded to a 4-byte boundary — the actual format,
    not a container fake."""
    import struct

    if len(rgb_bytes) != width * height * 3:
        raise ValueError("rgb_bytes must be width*height*3 bytes")
    row_raw = width * 3
    pad = (4 - row_raw % 4) % 4
    img_size = (row_raw + pad) * height
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        base = y * row_raw
        for x in range(width):
            r, g, b = rgb_bytes[base + 3 * x : base + 3 * x + 3]
            row += bytes((b, g, r))  # BGR on disk
        row += b"\x00" * pad
        rows.append(bytes(row))
    return header + info + b"".join(rows)


def parse_bmp(data: bytes) -> dict:
    """Decode a 24-bit uncompressed BMP: validate the 'BM' magic and
    header fields, undo the bottom-up row order, the BGR channel order
    and the row padding. Returns {width, height, bpp, pixels} with
    pixels as top-down row-major RGB bytes."""
    import struct

    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP file")
    pixel_off = struct.unpack_from("<I", data, 10)[0]
    hdr_size, width, height, planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", data, 14
    )
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant: bpp={bpp} comp={compression}")
    top_down = height < 0
    height = abs(height)
    row_raw = width * 3
    pad = (4 - row_raw % 4) % 4
    out = bytearray(width * height * 3)
    for stored_row in range(height):
        y = stored_row if top_down else height - 1 - stored_row
        src = pixel_off + stored_row * (row_raw + pad)
        if src + row_raw > len(data):
            raise ValueError("truncated BMP pixel data")
        base = y * row_raw
        for x in range(width):
            b, g, r = data[src + 3 * x : src + 3 * x + 3]
            out[base + 3 * x : base + 3 * x + 3] = bytes((r, g, b))
    return {"width": width, "height": height, "bpp": bpp, "pixels": bytes(out)}


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def make_png(width: int, height: int, rgb_bytes: bytes) -> bytes:
    """Write a real PNG (8-bit/channel truecolor, color type 2): IHDR +
    zlib-deflated IDAT + IEND, each chunk CRC32-stamped. Scanlines
    alternate Sub (odd-free rows) and Up filters so a round-trip
    actually exercises filter reconstruction, not just inflate."""
    import struct
    import zlib

    if len(rgb_bytes) != width * height * 3:
        raise ValueError("rgb_bytes must be width*height*3 bytes")
    stride = width * 3
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = rgb_bytes[y * stride : (y + 1) * stride]
        if y % 2 == 0:  # Sub filter: delta vs pixel to the left
            raw.append(1)
            raw += bytes(
                (row[i] - (row[i - 3] if i >= 3 else 0)) & 0xFF
                for i in range(stride)
            )
        else:  # Up filter: delta vs pixel above
            raw.append(2)
            raw += bytes((row[i] - prev[i]) & 0xFF for i in range(stride))
        prev = row

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def parse_png(data: bytes) -> dict:
    """Decode a PNG (8-bit truecolor): validate the signature, walk the
    chunks verifying each CRC32, inflate the concatenated IDAT stream
    with stdlib zlib, then reconstruct every scanline through the full
    filter set (None/Sub/Up/Average/Paeth — the real spec algorithms,
    including the Paeth predictor tie-breaking order). Returns
    {width, height, bpp, pixels} with pixels as top-down row-major RGB
    bytes — the same shape parse_bmp returns."""
    import struct
    import zlib

    if len(data) < 8 or data[:8] != PNG_SIG:
        raise ValueError("not a PNG file")
    pos = 8
    width = height = None
    idat = bytearray()
    while pos + 12 <= len(data):
        clen, tag = struct.unpack_from(">I4s", data, pos)
        body = data[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", data, pos + 8 + clen)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or ctype != 2 or comp or filt or interlace:
                raise ValueError(
                    f"unsupported PNG variant: depth={depth} color={ctype}"
                )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + clen
    if width is None:
        raise ValueError("missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * 3
    bpp = 3  # bytes per pixel, the filter unit for 8-bit RGB
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG scanline data length mismatch")
    out = bytearray()
    prev = bytearray(stride)
    p = 0
    for _y in range(height):
        ftype = raw[p]
        row = bytearray(raw[p + 1 : p + 1 + stride])
        p += 1 + stride
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype}")
        out += row
        prev = row
    return {"width": width, "height": height, "bpp": 24, "pixels": bytes(out)}


def make_wav(samples: list[int], sample_rate: int = 8000) -> bytes:
    """Write a real RIFF/WAVE file: mono 16-bit little-endian PCM."""
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        struct.pack("<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(data), b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt))
        + fmt
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


def parse_wav(data: bytes) -> dict:
    """Decode a PCM WAV: walk the RIFF chunks (fmt may not be first),
    require 16-bit PCM, decode LE samples. Returns {sample_rate,
    channels, bits, samples}."""
    import struct

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV file")
    pos = 12
    fmt = None
    pcm = None
    while pos + 8 <= len(data):
        cid, clen = struct.unpack_from("<4sI", data, pos)
        body = data[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            pcm = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or pcm is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, rate, _byte_rate, _block, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported WAV variant: fmt={audio_format} bits={bits}")
    n = len(pcm) // 2
    samples = list(struct.unpack(f"<{n}h", pcm[: 2 * n]))
    return {
        "sample_rate": rate,
        "channels": channels,
        "bits": bits,
        "samples": samples,
    }


def make_avi(width: int, height: int, frames_rgb: list[bytes], fps: int = 10) -> bytes:
    """Write a real uncompressed AVI (RIFF 'AVI '): hdrl with avih main
    header + a 'vids'/'DIB ' stream (strh + BITMAPINFOHEADER strf), and
    a movi LIST of '00db' raw DIB frames — each frame stored the way
    uncompressed AVI actually stores them: bottom-up rows, BGR channel
    order, rows padded to 4 bytes. ``frames_rgb`` are top-down row-major
    RGB, one bytes object per frame."""
    import struct

    row_raw = width * 3
    pad = (4 - row_raw % 4) % 4
    frame_size = (row_raw + pad) * height
    dib_frames = []
    for rgb in frames_rgb:
        if len(rgb) != width * height * 3:
            raise ValueError("each frame must be width*height*3 bytes")
        rows = []
        for y in range(height - 1, -1, -1):  # bottom-up
            row = bytearray()
            base = y * row_raw
            for x in range(width):
                r, g, b = rgb[base + 3 * x : base + 3 * x + 3]
                row += bytes((b, g, r))  # BGR on disk
            row += b"\x00" * pad
            rows.append(bytes(row))
        dib_frames.append(b"".join(rows))

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        frame_size * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # AVIF_HASINDEX unset; 0x10 = AVIF_WASCAPTUREFILE-ish benign flags
        len(dib_frames),  # dwTotalFrames
        0,
        1,  # dwStreams
        frame_size,
        width,
        height,
        0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ", 0, 0, 0, 0,
        1, fps,  # dwScale / dwRate
        0, len(dib_frames), frame_size, 0xFFFFFFFF & (2**32 - 1), 0,
        0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, frame_size, 2835, 2835, 0, 0
    )

    def chunk(cid: bytes, body: bytes) -> bytes:
        return struct.pack("<4sI", cid, len(body)) + body + (b"\x00" * (len(body) & 1))

    def lst(kind: bytes, body: bytes) -> bytes:
        return struct.pack("<4sI4s", b"LIST", 4 + len(body), kind) + body

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)
    movi = lst(b"movi", b"".join(chunk(b"00db", f) for f in dib_frames))
    body = hdrl + movi
    return struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"AVI ") + body


def parse_avi(data: bytes) -> dict:
    """Decode an uncompressed AVI: validate the RIFF/'AVI ' signature,
    read width/height/bpp from the stream format (BITMAPINFOHEADER in
    strf, falling back to avih), walk the movi LIST and un-flip each
    '00db'/'00dc' DIB frame (bottom-up rows, BGR, 4-byte padding) back
    to top-down RGB. Returns {width, height, n_frames, frames} with
    frames as a list of top-down row-major RGB bytes."""
    import struct

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI file")
    width = height = bpp = None
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        nonlocal width, height, bpp
        while pos + 8 <= end:
            cid, clen = struct.unpack_from("<4sI", data, pos)
            body_start = pos + 8
            if cid == b"LIST":
                kind = data[body_start : body_start + 4]
                walk(body_start + 4, body_start + clen)
            elif cid == b"strf" and clen >= 40:
                _sz, w, h, _planes, bits = struct.unpack_from("<IiiHH", data, body_start)
                width, height, bpp = w, abs(h), bits
            elif cid == b"avih" and width is None and clen >= 40:
                w, h = struct.unpack_from("<II", data, body_start + 32)
                width, height = w, h
            elif cid in (b"00db", b"00dc"):
                frames.append(data[body_start : body_start + clen])
            pos = body_start + clen + (clen & 1)  # chunks are word-aligned

    walk(12, len(data))
    if width is None or height is None:
        raise ValueError("missing AVI stream format")
    if bpp is not None and bpp != 24:
        raise ValueError(f"unsupported AVI bit depth: {bpp}")
    row_raw = width * 3
    pad = (4 - row_raw % 4) % 4
    out_frames = []
    for dib in frames:
        if len(dib) < (row_raw + pad) * height:
            raise ValueError("truncated AVI frame")
        out = bytearray(width * height * 3)
        for stored_row in range(height):
            y = height - 1 - stored_row  # un-flip bottom-up
            src = stored_row * (row_raw + pad)
            base = y * row_raw
            for x in range(width):
                b, g, r = dib[src + 3 * x : src + 3 * x + 3]
                out[base + 3 * x : base + 3 * x + 3] = bytes((r, g, b))
        out_frames.append(bytes(out))
    return {
        "width": width,
        "height": height,
        "n_frames": len(out_frames),
        "frames": out_frames,
    }


def _decode_pixels(data: bytes) -> dict | None:
    """Dispatch on magic bytes to the matching REAL image parser; None
    when the payload is not a decodable still image — INCLUDING bytes
    that merely start like one (raw text beginning with 'BM', a
    truncated PNG): a feature/resize pass over a mixed corpus must
    fall back or skip, not fail the stage on one bad payload. (The
    strict path that must surface corruption is decode_features_real's
    own dispatch, which raises.)"""
    import struct
    import zlib

    try:
        if data[:2] == b"BM":
            return parse_bmp(data)
        if data[:8] == PNG_SIG:
            return parse_png(data)
    # parse_* raise ValueError on semantic violations, but malformed
    # bytes can also surface as struct.error (truncated chunk header)
    # or zlib.error (incomplete deflate stream) before any check fires
    except (ValueError, struct.error, zlib.error):
        return None
    return None


def _stub_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Feature vector for extract_features. Recognized containers
    (BMP/PNG) get REAL decoded-pixel features (mean-pooled channel
    values over dim buckets); unrecognized raw bytes fall back to
    deterministic sha256 features, extended by hash chaining for any
    dim — the documented fake for payloads with no container format."""
    img = _decode_pixels(payload)
    if img is not None:
        px = img["pixels"]
        n = len(px)
        if n == 0:
            return [0.0] * dim
        out = []
        for i in range(dim):
            lo, hi = i * n // dim, max((i + 1) * n // dim, i * n // dim + 1)
            seg = px[lo:hi] if lo < n else px[-1:]
            out.append(sum(seg) / len(seg) / 255.0)
        return out
    digest = b""
    block = hashlib.sha256(payload).digest()
    while len(digest) < dim:
        digest += block
        block = hashlib.sha256(block).digest()
    return [b / 255.0 for b in digest[:dim]]


def extract_features(df: DataFrame, dim: int = 8, batch_size_hint: int = 1024) -> DataFrame:
    """mapInPandas feature extraction: Arrow batches of (payload, meta) ->
    fixed-dim float features. The per-batch loop is the pattern a real
    decoder plugs into; partition count follows the input, no shuffle."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": [m["modality"] for m in pdf["meta"]],
                    "payload_len": [m["payload_len"] for m in pdf["meta"]],
                    "feature": [_stub_decode(p, dim) for p in pdf["payload"]],
                }
            )

    return df.mapInPandas(decode_batches, FEATURE_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("src_width", LongType()),
        StructField("src_height", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("first_value", LongType()),
        StructField("byte_sum", LongType()),
    ]
)


def nearest_resize(
    pixels: bytes, src_w: int, src_h: int, dst_w: int, dst_h: int
) -> bytes:
    """Nearest-neighbor resample of top-down row-major RGB bytes:
    dst(y, x) = src(floor(y*src_h/dst_h), floor(x*src_w/dst_w))."""
    out = bytearray(dst_w * dst_h * 3)
    for y in range(dst_h):
        sy = y * src_h // dst_h
        for x in range(dst_w):
            sx = x * src_w // dst_w
            s = (sy * src_w + sx) * 3
            d = (y * dst_w + x) * 3
            out[d : d + 3] = pixels[s : s + 3]
    return bytes(out)


def resize_images(df: DataFrame, width: int = 2, height: int = 2) -> DataFrame:
    """REAL resize stage: parse each payload with the matching decoder
    (BMP or PNG, dispatched on magic bytes), nearest-neighbor-resample
    the decoded pixels to (width, height), and emit exact integer stats
    of the RESIZED image — packed first pixel + RGB byte sum — so a
    sampling-grid or channel-order bug cannot cancel out. Rows whose
    payload is not a decodable still image (audio/video) are skipped.
    Arrow-batched mapInPandas; partition count follows the input, no
    shuffle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in RESIZE_SCHEMA.fieldNames()}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = _decode_pixels(bytes(payload))
                if img is None:
                    continue
                small = nearest_resize(
                    img["pixels"], img["width"], img["height"], width, height
                )
                rows["doc_id"].append(doc_id)
                rows["src_width"].append(img["width"])
                rows["src_height"].append(img["height"])
                rows["width"].append(width)
                rows["height"].append(height)
                rows["first_value"].append(
                    small[0] * 65536 + small[1] * 256 + small[2]
                )
                rows["byte_sum"].append(sum(small))
            yield pd.DataFrame(rows)

    return df.mapInPandas(batches, RESIZE_SCHEMA)


REAL_PAYLOAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("payload", BinaryType()),
    ]
)

REAL_DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_samples", LongType()),
        StructField("first_value", LongType()),
        StructField("byte_sum", LongType()),
    ]
)


def attach_real_payload(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    image_format: str = "bmp",
) -> DataFrame:
    """Manufacture REAL format bytes per row: image rows get a 4x4
    24-bit image (uncompressed BMP, or zlib-compressed PNG when
    image_format='png'), audio rows a 16-sample 16-bit PCM WAV, video
    rows a 6-frame 4x4 uncompressed AVI; content derives
    deterministically from sha256(text) so an independent oracle can
    verify the decoded values."""
    import hashlib as _hl

    if image_format not in ("bmp", "png"):
        raise ValueError(f"unsupported image_format: {image_format}")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, mods, payloads = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                m = MODALITIES[int(doc_id) % 3]
                digest = _hl.sha256(str(text).encode("utf-8")).digest()
                if m == "image":
                    rgb = (digest * 2)[:48]  # 4x4 px * 3 channels
                    maker = make_png if image_format == "png" else make_bmp
                    payload = maker(4, 4, rgb)
                elif m == "audio":
                    samples = [
                        int.from_bytes(digest[2 * i : 2 * i + 2], "little", signed=True)
                        for i in range(16)
                    ]
                    payload = make_wav(samples, sample_rate=8000)
                else:  # video: 6 frames, frame_j[i] = digest[(j*48+i) % 32]
                    stream = digest * 9  # 288 bytes = 6 frames x 48
                    frames = [stream[j * 48 : (j + 1) * 48] for j in range(6)]
                    payload = make_avi(4, 4, frames, fps=10)
                ids.append(doc_id)
                mods.append(m)
                payloads.append(payload)
            yield pd.DataFrame({"doc_id": ids, "modality": mods, "payload": payloads})

    return df.select(id_col, text_col).mapInPandas(gen, REAL_PAYLOAD_SCHEMA)


def decode_features_real(df: DataFrame) -> DataFrame:
    """REAL decode stage: dispatch on the payload's magic bytes, run the
    actual format parser, and emit exact integer stats (order-sensitive
    first_value + content checksum) so a header/row-order/endianness bug
    cannot cancel out. The emitted modality comes from the DECODED
    format, not the input metadata — a mismatch would surface as an
    oracle diff."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in REAL_DECODE_SCHEMA.fieldNames()}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                if data[:2] == b"BM" or data[:8] == PNG_SIG:
                    img = parse_bmp(data) if data[:2] == b"BM" else parse_png(data)
                    px = img["pixels"]
                    rows["modality"].append("image")
                    rows["width"].append(img["width"])
                    rows["height"].append(img["height"])
                    rows["n_samples"].append(None)
                    rows["first_value"].append(
                        px[0] * 65536 + px[1] * 256 + px[2]
                    )
                    rows["byte_sum"].append(sum(px))
                elif data[:4] == b"RIFF" and data[8:12] == b"WAVE":
                    wav = parse_wav(data)
                    s = wav["samples"]
                    rows["modality"].append("audio")
                    rows["width"].append(None)
                    rows["height"].append(None)
                    rows["n_samples"].append(len(s))
                    rows["first_value"].append(s[0] if s else None)
                    rows["byte_sum"].append(sum(v * v for v in s))
                elif data[:4] == b"RIFF" and data[8:12] == b"AVI ":
                    vid = parse_avi(data)
                    f0 = vid["frames"][0] if vid["frames"] else b"\x00\x00\x00"
                    rows["modality"].append("video")
                    rows["width"].append(vid["width"])
                    rows["height"].append(vid["height"])
                    rows["n_samples"].append(vid["n_frames"])
                    rows["first_value"].append(
                        f0[0] * 65536 + f0[1] * 256 + f0[2]
                    )
                    rows["byte_sum"].append(sum(sum(f) for f in vid["frames"]))
                else:
                    raise ValueError("unrecognized payload format")
                rows["doc_id"].append(doc_id)
            yield pd.DataFrame(rows)

    return df.mapInPandas(decode, REAL_DECODE_SCHEMA)


FRAME_SCHEMA_MM = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("first_value", LongType()),
        StructField("frame_byte_sum", LongType()),
        StructField("frame_checksum", StringType()),
    ]
)


def frame_sample_real(df: DataFrame, every_k: int = 2, max_frames: int = 8) -> DataFrame:
    """REAL frame sampler: parse the AVI container, emit every k-th
    DECODED frame (top-down RGB after the bottom-up/BGR undo) as
    (frame_idx, packed-first-pixel, RGB byte sum, sha256 checksum) —
    the integer stats are independently SQL-derivable for oracle
    checks, the checksum pins full content. One input row fans out to
    <= max_frames rows. Non-AVI payloads are skipped (image/audio rows
    have no frames)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in FRAME_SCHEMA_MM.fieldNames()}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
                    continue
                vid = parse_avi(data)
                for j, f in enumerate(range(0, vid["n_frames"], every_k)):
                    if j >= max_frames:
                        break
                    frame = vid["frames"][f]
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(f)
                    rows["first_value"].append(
                        frame[0] * 65536 + frame[1] * 256 + frame[2]
                    )
                    rows["frame_byte_sum"].append(sum(frame))
                    rows["frame_checksum"].append(
                        hashlib.sha256(frame).hexdigest()[:16]
                    )
            yield pd.DataFrame(rows)

    return df.mapInPandas(batches, FRAME_SCHEMA_MM)


# -- perceptual image dedup ------------------------------------------------

def _group_payload_schema(id_col: str) -> StructType:
    return StructType(
        [StructField(id_col, LongType()), StructField("payload", BinaryType())]
    )


def _ahash_schema(id_col: str) -> StructType:
    return StructType(
        [StructField(id_col, LongType()), StructField("ahash", LongType())]
    )


def _copy_aware_group(doc_id: int, groups: int) -> int:
    """The image generators' group identity — see attach_group_images_wide."""
    return (doc_id // 1_000_000_000 * 9973 + doc_id) % groups


def _attach_group_payloads(df: DataFrame, id_col: str, payload) -> DataFrame:
    """The attach_group_* skeleton: one ``payload(doc_id)`` byte string
    per document, Arrow-batched. The inner function keeps the name
    ``gen`` because plans print it (``MapInPandas gen(...)``)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = list(pdf[id_col])
            payloads = [payload(int(doc_id)) for doc_id in ids]
            yield pd.DataFrame({id_col: ids, "payload": payloads})

    return df.select(id_col).mapInPandas(gen, _group_payload_schema(id_col))


def _decode_or_drop(
    df: DataFrame, payload_col: str, id_col: str, fingerprint, errors: tuple
) -> DataFrame:
    """The fingerprint-decoder skeleton: ``fingerprint(payload_bytes)``
    per row as ``ahash``. A payload raising one of ``errors`` is DROPPED
    (one row of evidence lost, never a failed job — the multimodal
    family's standing policy). The inner function keeps the name
    ``decode`` because plans print it (``MapInPandas decode(...)``)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    h = fingerprint(bytes(payload))
                except errors:
                    continue  # format corruption: drop the row
                ids.append(doc_id)
                hashes.append(h)
            yield pd.DataFrame({id_col: ids, "ahash": hashes})

    return df.mapInPandas(decode, _ahash_schema(id_col))


def attach_group_images(
    df: DataFrame,
    id_col: str = "doc_id",
    groups: int = 40,
    image_format: str = "bmp",
) -> DataFrame:
    """Manufacture a near-duplicate image corpus: each doc's 4x4 image
    derives from its GROUP — copy-aware identity ``((doc_id // 1e9) *
    9973 + doc_id) % groups`` (see attach_group_images_wide for why the
    coprime multiplier; for single-copy corpora doc_id < 1e9 this is
    plain ``doc_id % groups``) — docs sharing a group get
    near-identical pixels differing by one low-delta byte perturbation
    (pixel byte ``group % 48`` += ``doc_id % 3``, mod 256). Real format
    bytes (BMP or PNG), deterministic, so an independent oracle can
    recompute every pixel from sha256 arithmetic alone."""
    if image_format not in ("bmp", "png"):
        raise ValueError(f"unsupported image_format: {image_format}")
    maker = make_png if image_format == "png" else make_bmp

    def image(doc_id: int) -> bytes:
        g = _copy_aware_group(doc_id, groups)
        px = bytearray(
            hashlib.sha256(f"img:{g}".encode()).digest()
            + hashlib.sha256(f"img2:{g}".encode()).digest()[:16]
        )
        idx = g % 48
        px[idx] = (px[idx] + doc_id % 3) % 256
        return maker(4, 4, bytes(px))

    return _attach_group_payloads(df, id_col, image)


def attach_group_images_wide(
    df: DataFrame,
    id_col: str = "doc_id",
    groups: int = 40,
) -> DataFrame:
    """8x8 twin of attach_group_images, for the WIDE-fingerprint
    perceptual tier: 64 pixels give a 63-bit average hash (the int64
    cap in ahash_bits), which is what perceptual banding needs to
    actually scale — a 16-bit hash nibble-bands into only 4 x 16 = 64
    buckets TOTAL, so past ~64 x max_df documents every bucket exceeds
    the hot-key cap and the join excises everything (measured at the
    sf10 fixture: shuffle collapsed to ~1% — the FINGERPRINT saturated,
    not the join). 64 bits banded as 4 x 16 gives 65,536 values per
    band: sha256-uniform fingerprints keep bucket occupancy ~N/#hashes,
    linear headroom to ~270M docs under the default cap. Pixels are 6
    chained sha256 digests of the group key (192 bytes = 64 RGB px),
    one low-amplitude perturbation per doc (byte ``group % 192`` +=
    ``doc_id % 3``) — same planted near-dup model, every byte
    recomputable by an independent oracle.

    Group identity is COPY-AWARE (round 10, decorrelated round 11):
    ``((doc_id // 1e9) * 9973 + doc_id) % groups``, not plain
    ``doc_id % groups``. The scale fixtures stride doc ids by 1e9 per
    replica and 1e9 is divisible by every ``count//125`` gmod the wide
    tier computes at factors >= 100 — plain modulo then maps EVERY
    replica onto the first copy's group range, collapsing the intended
    ~125-doc clusters into 1000-doc mega-groups at sf100 (measured:
    5,000 groups x 1,000 docs -> 7.5e9 banded candidates — cluster-size
    growth is the r7 time-bucket fixture artifact in group space, it
    measures the fixture, not the operator). Round 10's additive form
    ``copy + doc_id`` fixed sf10 but stayed DIAGONAL-BIASED at sf100:
    the copy index only reaches ~4999, so the sum covers group ids
    0..~6k of 40,000 and buckets still held up to 2,000 docs. The 9973
    multiplier (coprime to every gmod the tier computes, and to 1e9)
    spreads replicas across the full residue ring, keeping cluster
    size scale-invariant at every decade; for single-copy corpora
    (doc_id < 1e9) the term is 0, so driver-scale results are
    byte-identical."""

    def image(doc_id: int) -> bytes:
        g = _copy_aware_group(doc_id, groups)
        px = bytearray(
            b"".join(
                hashlib.sha256(f"img8:{g}:{t}".encode()).digest()
                for t in range(6)
            )
        )
        idx = g % 192
        px[idx] = (px[idx] + doc_id % 3) % 256
        return make_bmp(8, 8, bytes(px))

    return _attach_group_payloads(df, id_col, image)


def ahash_bits(pixels: bytes, n_px: int) -> int:
    """Average hash of decoded RGB pixels, all-integer: gray_i =
    r+g+b; bit i set iff n*gray_i > sum(gray) (strict, so ties clear
    the bit identically in every engine). min(n_px, 63) bits wide —
    capped at 63 so the hash always fits a SIGNED int64 column (a
    legitimate 8x8 image would otherwise set bit 63 and overflow the
    Arrow conversion, failing the task on a perfectly valid payload)."""
    grays = [
        pixels[3 * i] + pixels[3 * i + 1] + pixels[3 * i + 2] for i in range(n_px)
    ]
    total = sum(grays)
    return sum(
        1 << i
        for i, gr in enumerate(grays[:63])
        if n_px * gr > total
    )


def image_ahash(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Decode image payloads (real BMP/PNG parse) and emit the 16-bit
    average hash of the decoded pixels — the perceptual fingerprint
    whose Hamming distance survives low-amplitude pixel edits that
    break exact content hashing. Arrow-batched; per-payload-byte cost.
    A corrupt payload is DROPPED (one row of evidence lost, never a
    failed job — the multimodal family's standing policy)."""
    import struct
    import zlib

    def fingerprint(data: bytes) -> int:
        img = parse_bmp(data) if data[:2] == b"BM" else parse_png(data)
        return ahash_bits(img["pixels"], img["width"] * img["height"])

    return _decode_or_drop(
        df, payload_col, id_col, fingerprint,
        (ValueError, zlib.error, struct.error, IndexError),
    )


def attach_group_audio(
    df: DataFrame,
    id_col: str = "doc_id",
    groups: int = 40,
) -> DataFrame:
    """Near-duplicate AUDIO corpus (the WAV twin of
    attach_group_images): 17 int16 samples derive from the doc's group
    key; docs sharing a group differ by one low-amplitude sample
    perturbation (sample ``group % 17`` += ``doc_id % 3``, int16
    wraparound) — real RIFF/WAVE bytes, sha256-derivable by an
    independent oracle."""
    import struct

    def wav(doc_id: int) -> bytes:
        g = doc_id % groups
        raw = (
            hashlib.sha256(f"aud:{g}".encode()).digest()
            + hashlib.sha256(f"aud2:{g}".encode()).digest()[:2]
        )
        samples = [struct.unpack_from("<h", raw, 2 * i)[0] for i in range(17)]
        j = g % 17
        samples[j] = ((samples[j] + doc_id % 3 + 32768) % 65536) - 32768
        return make_wav(samples, sample_rate=8000)

    return _attach_group_payloads(df, id_col, wav)


def audio_fingerprint_bits(samples: list[int]) -> int:
    """16-bit difference fingerprint of a sample sequence: bit i set
    iff s[i+1] > s[i] — the sign-of-delta sketch (the simplified form
    of spectral-landmark audio fingerprints), robust to low-amplitude
    noise: a one-sample perturbation flips at most the two adjacent
    bits."""
    return sum(
        1 << i for i in range(len(samples) - 1) if samples[i + 1] > samples[i]
    )


def audio_fingerprint(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Decode WAV payloads (real RIFF chunk walk) and emit the 16-bit
    difference fingerprint as ``ahash`` — named to feed straight into
    dedup.hamming_banded_pairs. Arrow-batched."""
    import struct

    def fingerprint(data: bytes) -> int:
        return audio_fingerprint_bits(parse_wav(data)["samples"])

    return _decode_or_drop(
        df, payload_col, id_col, fingerprint, (ValueError, struct.error)
    )


def attach_group_video(
    df: DataFrame,
    id_col: str = "doc_id",
    groups: int = 40,
) -> DataFrame:
    """Near-duplicate VIDEO corpus (the AVI member of the
    attach_group_* family): 4 frames of 4x4 RGB per doc, each frame's
    pixels derived from (group, frame) sha256 keys; docs sharing a
    group differ by a one-byte low-amplitude perturbation in ONE frame
    (frame ``group % 4``, byte ``group % 48``, += ``doc_id % 3``).
    Real RIFF/AVI bytes; every pixel is sha256-derivable by an
    independent oracle."""

    def avi(doc_id: int) -> bytes:
        g = doc_id % groups
        frames = []
        for j in range(4):
            px = bytearray(
                hashlib.sha256(f"vid:{g}:{j}".encode()).digest()
                + hashlib.sha256(f"vid2:{g}:{j}".encode()).digest()[:16]
            )
            if j == g % 4:
                idx = g % 48
                px[idx] = (px[idx] + doc_id % 3) % 256
            frames.append(bytes(px))
        return make_avi(4, 4, frames, fps=10)

    return _attach_group_payloads(df, id_col, avi)


def video_fingerprint(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Decode AVI payloads (real RIFF hdrl/movi walk) and emit a 60-bit
    perceptual fingerprint as ``ahash``: the per-frame average hash of
    each of the first 4 frames, truncated to 15 bits and concatenated
    (frame j occupies bits [15j, 15j+15); 15 not 16 keeps the packed
    value inside a signed int64) — an edit localized to one frame
    disturbs only that frame's bits, so temporal structure survives
    the sketch. Feeds dedup.hamming_banded_pairs with bits=60,
    band_bits=15 (one band per frame: near-dup videos match on any
    unedited frame)."""
    import struct

    def fingerprint(data: bytes) -> int:
        vid = parse_avi(data)
        n_px = vid["width"] * vid["height"]
        fp = 0
        for j, fr in enumerate(vid["frames"][:4]):
            fp |= (ahash_bits(fr, n_px) & 0x7FFF) << (15 * j)
        return fp

    return _decode_or_drop(
        df, payload_col, id_col, fingerprint,
        (ValueError, struct.error, IndexError),
    )
