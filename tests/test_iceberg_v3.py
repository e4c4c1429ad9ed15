"""Iceberg format-version 3 deletion vectors (Puffin) — r8 verdict
item 5: the fixture ``tests/fixtures/iceberg_v3_tbl`` is authored by
the INDEPENDENT encoder ``tools/make_iceberg_v3_fixture.py`` (own
Avro/Puffin/roaring bytes); the reader + ``plans/puffin.py`` must
speak containers they did not produce."""

import os
import struct

import pytest

from hudi_delete_view_spark.plans.puffin import (
    DV_BLOB_TYPE,
    PuffinFormatError,
    dv_blob_bytes,
    parse_dv_blob_at,
    read_puffin_footer,
    write_puffin,
)
from hudi_delete_view_spark.sources.iceberg import (
    IcebergFormatError,
    _load_metadata,
    read_iceberg_delete_view,
    read_iceberg_snapshot,
)

V3 = os.path.join(os.path.dirname(__file__), "fixtures", "iceberg_v3_tbl")


def _snaps():
    meta = _load_metadata(V3)
    return sorted(meta["snapshots"], key=lambda s: s["sequence-number"])


def test_puffin_module_round_trip():
    positions = [0, 1, 5, 70_000, (3 << 32) + 9]
    blob = dv_blob_bytes(positions)
    img = write_puffin([{
        "type": DV_BLOB_TYPE, "data": blob, "snapshot-id": 7,
        "sequence-number": 3,
        "properties": {"referenced-data-file": "x.parquet"},
    }])
    ft = read_puffin_footer(img)
    (b,) = ft["blobs"]
    assert b["type"] == DV_BLOB_TYPE
    assert b["properties"]["referenced-data-file"] == "x.parquet"
    assert parse_dv_blob_at(img, b["offset"], b["length"]) == sorted(positions)


def test_puffin_reader_parses_independent_encoder_bytes():
    """The committed fixture's puffin files came from the tool's OWN
    encoder — the package parser must agree on footer and positions."""
    p2 = os.path.join(V3, "data", "dv-p2.puffin")
    with open(p2, "rb") as f:
        data = f.read()
    ft = read_puffin_footer(data)
    (b,) = ft["blobs"]
    assert parse_dv_blob_at(data, b["offset"], b["length"]) == [1, 2, 3]


def test_puffin_refusals():
    blob = dv_blob_bytes([1])
    img = write_puffin([{"type": DV_BLOB_TYPE, "data": blob}])
    with pytest.raises(PuffinFormatError, match="magic"):
        read_puffin_footer(b"JUNK" + img[4:])
    # compressed footer payload refuses by name
    tampered = img[:-8] + b"\x01\x00\x00\x00" + img[-4:]
    with pytest.raises(PuffinFormatError, match="lz4"):
        read_puffin_footer(tampered)
    # CRC tamper detected
    ft = read_puffin_footer(img)
    (b,) = ft["blobs"]
    bad = bytearray(img)
    bad[b["offset"] + 5] ^= 0xFF
    with pytest.raises(PuffinFormatError):
        parse_dv_blob_at(bytes(bad), b["offset"], b["length"])
    # a manifest content_size_in_bytes that disagrees with the blob's
    # own length prefix refuses by name, short or long
    for length in (b["length"] - 4, b["length"] + 8):
        with pytest.raises(PuffinFormatError, match="size mismatch"):
            parse_dv_blob_at(img, b["offset"], length)
    # a file cut inside the blob refuses by name, not with struct.error
    for cut, match in ((2, "past the end"), (10, "truncated")):
        with pytest.raises(PuffinFormatError, match=match):
            parse_dv_blob_at(img[:b["offset"] + cut], b["offset"], b["length"])


def test_v3_snapshot_applies_live_dv(spark):
    cur = read_iceberg_snapshot(spark, V3)
    assert sorted(r.id for r in cur.collect()) == [
        "id1", "id5", "id6", "id7", "id8", "id9"]
    snaps = _snaps()
    s2 = read_iceberg_snapshot(spark, V3,
                               snapshot_id=snaps[1]["snapshot-id"])
    assert sorted(r.id for r in s2.collect()) == [
        "id1", "id4", "id5", "id6", "id7", "id8"]
    s1 = read_iceberg_snapshot(spark, V3,
                               snapshot_id=snaps[0]["snapshot-id"])
    assert s1.count() == 8


def test_v3_dv_delete_view_is_new_minus_superseded(spark):
    """s3's DV is cumulative {1,2,3}; the superseded DV held {1,2} —
    the commit's own delete view must be exactly ordinal 3 (id4)."""
    snaps = _snaps()
    dv3 = read_iceberg_delete_view(spark, V3, snaps[2]["snapshot-id"])
    # the superseded DV is subtracted inside the one DV parse task
    plan = dv3._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1 and "LeftAnti" not in plan, plan
    assert [(r.id, r.value) for r in dv3.collect()] == [("id4", 40)]
    dv2 = read_iceberg_delete_view(spark, V3, snaps[1]["snapshot-id"])
    assert sorted(r.id for r in dv2.collect()) == ["id2", "id3"]


def test_v3_mixed_snapshot_subtracts_superseded_from_plain_deletes(
        spark, tmp_path):
    """A snapshot adding plain position files AND a DV over an older DV:
    the superseded positions leave every added delete — the DV's inside
    its parse task, the plain file's through the anti-join."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hudi_delete_view_spark.sources.iceberg import _read_pos_deletes

    da, db = "file:///t/data/da.parquet", "file:///t/data/db.parquet"
    dvs = []
    for name, positions in (("old", [1, 2]), ("new", [1, 2, 3])):
        blob = {"type": DV_BLOB_TYPE, "data": dv_blob_bytes(positions)}
        (tmp_path / f"{name}.puffin").write_bytes(write_puffin([blob]))
        dvs.append({
            "file_path": f"{name}.puffin", "file_format": "PUFFIN",
            "referenced_data_file": da, "content_offset": blob["offset"],
            "content_size_in_bytes": blob["length"],
        })
    old, new = dvs
    pq.write_table(pa.table({"file_path": [da, da, db], "pos": [2, 5, 1]}),
                   tmp_path / "pos.parquet")
    plain_file = {"file_path": "pos.parquet", "file_format": "PARQUET"}
    dels = _read_pos_deletes(
        spark, str(tmp_path), {"location": ""}, [plain_file, new], [old]
    )
    assert sorted(tuple(r) for r in dels.collect()) == [
        (da, 3), (da, 5), (db, 1)]


def test_v3_dv_missing_referenced_file_refuses(spark, tmp_path):
    import shutil

    bad = str(tmp_path / "bad_v3")
    shutil.copytree(V3, bad)
    # strip referenced_data_file from the live DV manifest by rewriting
    # it with the package's own OCF writer (reader must then refuse)
    from hudi_delete_view_spark.plans.avro_ocf import read_ocf, write_ocf

    import json

    m4x = os.path.join(bad, "metadata", "m4-deletes.avro")
    with open(m4x, "rb") as f:
        meta, entries = read_ocf(f.read())
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    for e in entries:
        e["data_file"]["referenced_data_file"] = None
    with open(m4x, "wb") as f:
        f.write(write_ocf(schema, entries))
    with pytest.raises(IcebergFormatError, match="referenced_data_file"):
        read_iceberg_snapshot(spark, bad).collect()


def test_v3_format_gate_lifted_unknown_still_refuses(tmp_path):
    import json
    import shutil

    assert _load_metadata(V3)["format-version"] == 3  # v3 accepted
    bad = str(tmp_path / "v9")
    shutil.copytree(V3, bad)
    mp = os.path.join(bad, "metadata", "v1.metadata.json")
    with open(mp) as f:
        meta = json.load(f)
    meta["format-version"] = 9
    with open(mp, "w") as f:
        json.dump(meta, f)
    with pytest.raises(IcebergFormatError, match="format-version 9"):
        _load_metadata(bad)


def test_v3_dv_blob_layout_matches_spec_framing():
    """Independent re-check of the blob framing: BE length of
    magic+vector, magic D1 D3 39 64, BE CRC at the tail."""
    blob = dv_blob_bytes([7])
    (ln,) = struct.unpack(">i", blob[:4])
    assert blob[4:8] == bytes([0xD1, 0xD3, 0x39, 0x64])
    assert len(blob) == 4 + ln + 4
