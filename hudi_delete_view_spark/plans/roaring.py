"""Portable **RoaringBitmap** deserialization + the Delta Lake deletion
vector envelope — pure Python, executor-safe.

The 32-bit layer implements the public RoaringFormatSpec portable
serialization (https://github.com/RoaringBitmap/RoaringFormatSpec) and
is pinned against images written by the REAL ``org.roaringbitmap``
implementation bundled with Spark (see
``tests/test_delta_interop.py::test_roaring_golden_vectors`` — array,
bitmap, and run containers, single- and multi-key): little-endian
cookie (12346 = no run containers, else 12347 | (size-1) << 16 with a
run bitset), per-container (key, cardinality-1) descriptors, offsets
when present, then array (uint16 values) / bitmap (8 KiB) / run
(count + start/length-1 pairs) containers.

The 64-bit wrapper and envelope follow the Delta protocol's "Deletion
Vector Format": RoaringBitmapArray portable = int32 LE magic
1681511377, int64 LE bitmap count, then per bitmap an int32 LE key
(upper 32 bits) + a standard 32-bit serialization; on-disk DV files
carry a version byte 1 at offset 0 and each DV at its recorded offset
as [int32 BE size][data][int32 BE CRC32-of-data]; inline and UUID path
forms are Z85-encoded (the ZeroMQ base-85 alphabet)."""

from __future__ import annotations

import struct
import zlib

SERIAL_COOKIE_NO_RUN = 12346
SERIAL_COOKIE = 12347
NO_OFFSET_THRESHOLD = 4

DV_MAGIC = 1681511377


class RoaringFormatError(ValueError):
    """Structurally invalid roaring bitmap / deletion vector."""


def parse_roaring32(data: bytes, pos: int = 0) -> tuple[list[int], int]:
    """One 32-bit portable roaring bitmap at ``pos`` -> (sorted values,
    position after the bitmap)."""
    if len(data) - pos < 4:
        raise RoaringFormatError("roaring image shorter than its cookie")
    (cookie,) = struct.unpack_from("<i", data, pos)
    if (cookie & 0xFFFF) == SERIAL_COOKIE:
        size = (cookie >> 16) + 1
        pos += 4
        nbitset = (size + 7) // 8
        run_bits = data[pos: pos + nbitset]
        pos += nbitset
        has_offsets = size >= NO_OFFSET_THRESHOLD
    elif cookie == SERIAL_COOKIE_NO_RUN:
        pos += 4
        (size,) = struct.unpack_from("<i", data, pos)
        pos += 4
        run_bits = b"\x00" * ((size + 7) // 8)
        has_offsets = True
    else:
        raise RoaringFormatError(f"unknown roaring cookie {cookie}")
    keys_cards = []
    for i in range(size):
        key, card_m1 = struct.unpack_from("<HH", data, pos)
        pos += 4
        keys_cards.append((key, card_m1 + 1))
    if has_offsets:
        pos += 4 * size  # container offsets: we read sequentially
    out: list[int] = []
    for i, (key, card) in enumerate(keys_cards):
        base = key << 16
        is_run = bool(run_bits[i // 8] & (1 << (i % 8)))
        if is_run:
            (n_runs,) = struct.unpack_from("<H", data, pos)
            pos += 2
            for _ in range(n_runs):
                start, length_m1 = struct.unpack_from("<HH", data, pos)
                pos += 4
                out.extend(base + v for v in range(start, start + length_m1 + 1))
        elif card > 4096:
            # bitmap container: 1024 uint64 words, little-endian
            words = struct.unpack_from("<1024Q", data, pos)
            pos += 8192
            for wi, w in enumerate(words):
                while w:
                    b = w & -w
                    out.append(base + (wi << 6) + b.bit_length() - 1)
                    w ^= b
        else:
            vals = struct.unpack_from(f"<{card}H", data, pos)
            pos += 2 * card
            out.extend(base + v for v in vals)
    return out, pos


def parse_dv_blob(data: bytes) -> list[int]:
    """The serialized RoaringBitmapArray (magic + bitmaps) -> positions."""
    if len(data) < 12:
        raise RoaringFormatError("deletion vector shorter than its header")
    (magic,) = struct.unpack_from("<i", data, 0)
    if magic != DV_MAGIC:
        raise RoaringFormatError(
            f"bad deletion-vector magic {magic} (want {DV_MAGIC})"
        )
    (count,) = struct.unpack_from("<q", data, 4)
    pos = 12
    out: list[int] = []
    for _ in range(count):
        (key,) = struct.unpack_from("<i", data, pos)
        pos += 4
        vals, pos = parse_roaring32(data, pos)
        out.extend((key << 32) | v for v in vals)
    return out


def read_dv_from_file(data: bytes, offset: int, size: int) -> list[int]:
    """One DV inside an on-disk deletion vector file: [int32 BE size]
    [blob][int32 BE CRC32], CRC verified. Delta DV files and Iceberg
    Puffin ``deletion-vector-v1`` blobs share this envelope."""
    if offset < 0 or len(data) < offset + 4:
        raise RoaringFormatError(
            f"deletion vector offset {offset} past the end of its file"
        )
    (stored_size,) = struct.unpack_from(">i", data, offset)
    if stored_size != size:
        raise RoaringFormatError(
            f"deletion vector size mismatch: descriptor says {size}, "
            f"file says {stored_size}"
        )
    if len(data) < offset + 8 + size:
        raise RoaringFormatError("deletion vector truncated")
    blob = data[offset + 4: offset + 4 + size]
    (crc,) = struct.unpack_from(">i", data, offset + 4 + size)
    if (zlib.crc32(blob) & 0xFFFFFFFF) != (crc & 0xFFFFFFFF):
        raise RoaringFormatError("deletion vector CRC32 mismatch")
    return parse_dv_blob(blob)


# -- Z85 (ZeroMQ base-85, the Delta DV path/inline encoding) ----------------

_Z85_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}


def z85_decode(s: str) -> bytes:
    if len(s) % 5:
        raise RoaringFormatError(f"z85 length {len(s)} not a multiple of 5")
    out = bytearray()
    for i in range(0, len(s), 5):
        acc = 0
        for c in s[i:i + 5]:
            if c not in _Z85_INDEX:
                raise RoaringFormatError(f"invalid z85 character {c!r}")
            acc = acc * 85 + _Z85_INDEX[c]
        out += acc.to_bytes(4, "big")
    return bytes(out)


def z85_encode(b: bytes) -> str:
    if len(b) % 4:
        raise RoaringFormatError(f"z85 input length {len(b)} not a multiple of 4")
    out = []
    for i in range(0, len(b), 4):
        acc = int.from_bytes(b[i:i + 4], "big")
        chunk = []
        for _ in range(5):
            acc, r = divmod(acc, 85)
            chunk.append(_Z85_CHARS[r])
        out.extend(reversed(chunk))
    return "".join(out)
