"""Per-value compression scalars — the reference's `lz4compress` /
`lz4decompress` pair (crypt.hpp:400-470: raw LZ4 *block* format, the
decompressor takes a caller-supplied decompressed-size bound, default
8192).

The container ships no lz4/zstandard bindings, so the LZ4 block codec
here is implemented in pure Python from the public LZ4 block-format
specification (token byte = literal-length nibble + match-length
nibble, 255-extension bytes, 2-byte little-endian match offsets,
overlap-capable back-copies). It is format-compatible: output
decompresses with any standard LZ4 block decoder, and the decoder here
accepts any spec-valid block. zlib (stdlib, C-speed) is exposed beside
it as the practical fast path.

Hot-path shape: Arrow-batched pandas UDFs (one Python call per batch,
not per row). At 100 TB, per-VALUE compression is for payload columns
that must stay individually decodable (the reference's bytecode blobs,
D6); whole-file columnar compression stays the job of the parquet
codecs (sources/sinks.py).
"""

from __future__ import annotations

import zlib

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType

DEFAULT_MAX_DECOMPRESSED = 8192  # crypt.hpp:419 default size argument

_MIN_MATCH = 4
# spec: the last 5 bytes are always literals; a match may not start
# within the last 12 bytes of the input
_MFLIMIT = 12
_LAST_LITERALS = 5


def _write_varlen(out: bytearray, v: int) -> None:
    while v >= 255:
        out.append(255)
        v -= 255
    out.append(v)


def lz4_block_compress(data: bytes) -> bytes:
    """Compress to the raw LZ4 block format (no frame header) with a
    greedy 4-byte hash-table matcher — same container contract as the
    reference's lz4compress (crypt.hpp:400-430)."""
    n = len(data)
    out = bytearray()
    if n == 0:
        out.append(0)  # one token: zero literals, no match
        return bytes(out)
    anchor = 0
    pos = 0
    table: dict[bytes, int] = {}
    match_limit = n - _MFLIMIT
    while pos < match_limit:
        key = data[pos : pos + _MIN_MATCH]
        cand = table.get(key)
        table[key] = pos
        if cand is None or pos - cand > 0xFFFF:
            pos += 1
            continue
        # extend the match forward, leaving the final 5 bytes literal
        mlen = _MIN_MATCH
        max_mlen = n - _LAST_LITERALS - pos
        while mlen < max_mlen and data[cand + mlen] == data[pos + mlen]:
            mlen += 1
        literals = data[anchor:pos]
        litlen = len(literals)
        mtok = mlen - _MIN_MATCH
        out.append(
            (min(litlen, 15) << 4) | min(mtok, 15)
        )
        if litlen >= 15:
            _write_varlen(out, litlen - 15)
        out += literals
        out += (pos - cand).to_bytes(2, "little")
        if mtok >= 15:
            _write_varlen(out, mtok - 15)
        pos += mlen
        anchor = pos
    # final literals-only sequence (spec: last sequence has no match)
    literals = data[anchor:]
    litlen = len(literals)
    out.append(min(litlen, 15) << 4)
    if litlen >= 15:
        _write_varlen(out, litlen - 15)
    out += literals
    return bytes(out)


def lz4_block_decompress(
    data: bytes, max_size: int = DEFAULT_MAX_DECOMPRESSED
) -> bytes:
    """Decompress a raw LZ4 block. ``max_size`` is the caller-supplied
    decompressed-size bound, mirroring the reference decompressor's
    size argument (crypt.hpp:432-470, default 8192): exceeding it
    raises instead of overrunning."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        token = data[i]
        i += 1
        litlen = token >> 4
        if litlen == 15:
            while True:
                b = data[i]
                i += 1
                litlen += b
                if b != 255:
                    break
        if litlen:
            if i + litlen > n:
                raise ValueError("corrupt LZ4 block: literal overrun")
            out += data[i : i + litlen]
            i += litlen
            if len(out) > max_size:
                raise ValueError(
                    f"decompressed size exceeds bound ({max_size})"
                )
        if i >= n:
            break  # last sequence carries no match
        offset = int.from_bytes(data[i : i + 2], "little")
        i += 2
        if offset == 0:
            raise ValueError("corrupt LZ4 block: zero offset")
        mlen = (token & 0x0F) + _MIN_MATCH
        if (token & 0x0F) == 15:
            while True:
                b = data[i]
                i += 1
                mlen += b
                if b != 255:
                    break
        start = len(out) - offset
        if start < 0:
            raise ValueError("corrupt LZ4 block: offset before start")
        if len(out) + mlen > max_size:
            raise ValueError(f"decompressed size exceeds bound ({max_size})")
        # byte-wise copy: offsets < mlen deliberately overlap (RLE)
        for j in range(mlen):
            out.append(out[start + j])
    return bytes(out)


# ---------------------------------------------------------------------------
# Codec registry + Arrow-batched UDFs
# ---------------------------------------------------------------------------

_CODECS = {
    "lz4": (lz4_block_compress, lz4_block_decompress),
    "zlib": (
        lambda b: zlib.compress(b, 6),
        lambda b, max_size: zlib.decompress(b, bufsize=max_size),
    ),
}


def make_compress_udf(codec: str = "lz4"):
    comp = _CODECS[codec][0]

    @pandas_udf(BinaryType())
    def compress_udf(s: pd.Series) -> pd.Series:
        return s.map(lambda v: comp(bytes(v)) if v is not None else None)

    return compress_udf


def make_decompress_udf(
    codec: str = "lz4", max_size: int = 1024 * 1024
):
    dec = _CODECS[codec][1]

    @pandas_udf(BinaryType())
    def decompress_udf(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: dec(bytes(v), max_size) if v is not None else None
        )

    return decompress_udf
