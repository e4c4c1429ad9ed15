"""**Puffin** container + Iceberg v3 deletion-vector blobs — pure
Python, executor-safe.

Implements the public Puffin spec
(https://iceberg.apache.org/puffin-spec/):

- File = Magic, Blob_1..Blob_n, Footer.
- Magic = ``PFA1`` (0x50 0x46 0x41 0x31).
- Footer = Magic, FooterPayload (UTF-8 JSON), FooterPayloadSize
  (int32 LE), Flags (4 bytes; byte 0 bit 0 = payload lz4-compressed —
  this implementation writes uncompressed and refuses compressed
  payloads by name), Magic.
- FooterPayload = {"blobs": [BlobMetadata...], "properties": {...}};
  BlobMetadata = {"type", "fields", "snapshot-id", "sequence-number",
  "offset", "length", "properties", ...}.

``deletion-vector-v1`` blob type (Iceberg format v3 "Deletion
vectors"): blob data =

- combined length of magic + vector, 4 bytes BIG-endian;
- the 4-byte magic sequence ``D1 D3 39 64`` (the little-endian
  encoding of 1681511377 — byte-identical to the Delta protocol's
  RoaringBitmapArray magic);
- the vector: portable 64-bit roaring bitmap (int64 LE bitmap count,
  then per bitmap int32 LE key + standard 32-bit portable roaring);
- CRC-32 of (magic + vector), 4 bytes BIG-endian.

That is exactly the Delta on-disk DV envelope, so one parser,
``roaring.read_dv_from_file`` (golden-pinned against
org.roaringbitmap), reads both formats.

Blob metadata carries ``referenced-data-file`` and ``cardinality``
properties; manifests additionally record ``referenced_data_file`` /
``content_offset`` / ``content_size_in_bytes`` (the v3 data_file
fields) so readers can fetch one blob without parsing the footer."""

from __future__ import annotations

import json
import struct
import zlib

from .roaring import RoaringFormatError, read_dv_from_file

MAGIC = b"PFA1"
DV_MAGIC_BYTES = bytes([0xD1, 0xD3, 0x39, 0x64])
DV_BLOB_TYPE = "deletion-vector-v1"


class PuffinFormatError(ValueError):
    """Structurally invalid or unsupported Puffin file."""


def _portable64(positions: list[int]) -> bytes:
    """Portable 64-bit roaring serialization (no leading magic)."""
    by_high: dict[int, list[int]] = {}
    for p in sorted(set(positions)):
        by_high.setdefault(p >> 32, []).append(p & 0xFFFFFFFF)
    out = struct.pack("<q", len(by_high))
    for high, vals in sorted(by_high.items()):
        by_key: dict[int, list[int]] = {}
        for v in vals:
            by_key.setdefault(v >> 16, []).append(v & 0xFFFF)
        r32 = struct.pack("<i", 12346) + struct.pack("<i", len(by_key))
        for key, kv in sorted(by_key.items()):
            r32 += struct.pack("<HH", key, len(kv) - 1)
        off = len(r32) + 4 * len(by_key)
        for _key, kv in sorted(by_key.items()):
            r32 += struct.pack("<i", off)
            off += 2 * len(kv)
        for _key, kv in sorted(by_key.items()):
            r32 += struct.pack(f"<{len(kv)}H", *kv)
        out += struct.pack("<i", high) + r32
    return out


def dv_blob_bytes(positions: list[int]) -> bytes:
    """One ``deletion-vector-v1`` blob's data: len(4 BE) + magic +
    portable64 vector + CRC-32(magic + vector) (4 BE)."""
    mv = DV_MAGIC_BYTES + _portable64(positions)
    return (struct.pack(">i", len(mv)) + mv
            + struct.pack(">I", zlib.crc32(mv) & 0xFFFFFFFF))


def parse_dv_blob_at(data: bytes, offset: int, length: int) -> list[int]:
    """Deleted row ordinals of the DV blob at ``offset`` (the manifest's
    ``content_offset``; ``length`` = ``content_size_in_bytes``, which
    counts the 4-byte length prefix and the 4-byte CRC around the
    magic + vector)."""
    try:
        return read_dv_from_file(data, offset, length - 8)
    except RoaringFormatError as exc:
        raise PuffinFormatError(str(exc)) from exc


def write_puffin(blobs: list[dict], properties: dict | None = None) -> bytes:
    """Author a Puffin file. ``blobs``: [{"type": str, "data": bytes,
    "fields": [int], "snapshot-id": int, "sequence-number": int,
    "properties": {str: str}}]. Returns the file bytes; each input dict
    gains "offset"/"length" (of its data within the file)."""
    out = bytearray(MAGIC)
    metas = []
    for b in blobs:
        off = len(out)
        out += b["data"]
        meta = {
            "type": b["type"],
            "fields": list(b.get("fields") or []),
            "snapshot-id": b.get("snapshot-id", -1),
            "sequence-number": b.get("sequence-number", -1),
            "offset": off,
            "length": len(b["data"]),
        }
        if b.get("properties"):
            meta["properties"] = dict(b["properties"])
        b["offset"], b["length"] = off, len(b["data"])
        metas.append(meta)
    payload = json.dumps(
        {"blobs": metas, "properties": dict(properties or {})}
    ).encode("utf-8")
    out += MAGIC + payload + struct.pack("<i", len(payload))
    out += b"\x00\x00\x00\x00" + MAGIC  # flags: uncompressed payload
    return bytes(out)


def read_puffin_footer(data: bytes) -> dict:
    """FooterPayload JSON of a Puffin file ({"blobs": [...],
    "properties": {...}})."""
    if len(data) < 20 or data[:4] != MAGIC or data[-4:] != MAGIC:
        raise PuffinFormatError("not a Puffin file (magic missing)")
    flags = data[-8:-4]
    if flags[0] & 0x01:
        raise PuffinFormatError(
            "lz4-compressed Puffin footer payload not supported; "
            "refusing rather than misread blob offsets"
        )
    (size,) = struct.unpack("<i", data[-12:-8])
    payload = data[-12 - size:-12]
    if data[-12 - size - 4:-12 - size] != MAGIC:
        raise PuffinFormatError("Puffin footer start magic missing")
    return json.loads(payload.decode("utf-8"))
