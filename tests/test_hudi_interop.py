"""Real-Hudi interop: the committed fixture at tests/fixtures/hudi_cow
is a genuine-LAYOUT Apache Hudi 0.x COW table (hand-authored to the
public 0.6 on-disk format by tools/make_hudi_fixture.py — metadata this
repo's writers did not produce). The readers must speak that foreign
format end-to-end: timeline listing, HoodieCommitMetadata JSON framing
(no embedded commitTs, operationType, extraMetadata, prevCommit
"null"), nested date partition paths, and the flagship delete-view
reconstruction over fileId/prevCommit pairing
(DeleteView.java:112-163)."""

import os
import shutil

import pytest

from hudi_delete_view_spark.plans.timeline import Timeline
from hudi_delete_view_spark.sources.cow import CowTable
from hudi_delete_view_spark.sources.delete_view import DeleteView, delete_view

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "hudi_cow")
C1, C2 = "20201212121212", "20201213101010"


@pytest.fixture()
def hudi_table(scratch):
    """Copy the committed fixture into scratch (delete-view
    materialization writes under the table dir; the repo copy stays
    pristine)."""
    dst = os.path.join(scratch, "hudi_cow")
    shutil.copytree(FIXTURE, dst)
    return dst


def test_foreign_timeline_and_metadata(hudi_table):
    tl = Timeline(hudi_table)
    assert tl.timestamps() == [C1, C2]
    m1 = tl.commit_metadata(C1)
    # commitTs recovered from the FILENAME (Hudi embeds none)
    assert m1.commit_ts == C1
    assert m1.operation == "bulk_insert"
    # prevCommit "null" normalized: no phantom predecessor
    assert all(s.prev_commit is None for _p, s in m1.all_stats())
    m2 = tl.commit_metadata(C2)
    assert m2.operation == "upsert"
    # totalRecordsDeleted computed by summing numDeletes (Hudi
    # serializes no total — DeleteView.java:186 computes it)
    assert m2.total_records_deleted == 2
    assert {s.prev_commit for _p, s in m2.all_stats()} == {C1}
    # the Avro schema rides in extra, never mistaken for StructType json
    assert m2.schema_json is None
    assert "schema" in m2.extra


def test_foreign_snapshot_and_time_travel(spark, hudi_table):
    t = CowTable(spark, hudi_table, key_fields=["id"])
    snap = {r["id"]: r["value"]
            for r in t.snapshot().select("id", "value").collect()}
    assert snap == {"id1": 10, "id3": 333, "id4": 40, "id6": 60}
    old = {r["id"]: r["value"]
           for r in t.snapshot(as_of=C1).select("id", "value").collect()}
    assert old == {f"id{i}": i * 10 for i in range(1, 7)}
    # nested date partition path survives slice resolution
    pps = {r["_hoodie_partition_path"]
           for r in t.snapshot().select("_hoodie_partition_path").collect()}
    assert pps == {"2020/12/12"}


def test_foreign_delete_view_reconstruction(spark, hudi_table):
    """The reference's headline query over metadata it would itself
    read: which rows did commit C2 delete?"""
    dv = delete_view(spark, hudi_table, C2)
    rows = {r["id"]: (r["name"], r["value"], r["_hoodie_commit_time"])
            for r in dv.collect()}
    # exactly the two vanished rows, served with their pre-delete
    # payloads, stamped with the DELETING commit's time (A9)
    assert set(rows) == {"id2", "id5"}
    assert rows["id2"] == ("bravo", 20, C2)
    assert rows["id5"] == ("echo", 50, C2)
    # cache-validity: second call serves the materialized parquet
    v = DeleteView(spark, hudi_table, C2)
    assert v.is_materialized()
    assert v.dataset().count() == 2


def test_hudi_framing_round_trip(spark, scratch):
    """Write direction: a NATIVE table's commits re-exported in genuine
    Hudi framing (to_hudi_json) and republished as a clone table must
    read back identically — snapshot, time travel, and the flagship
    delete view all agree. This is our-writer → Hudi-framing →
    our-foreign-reader, the strongest round-trip verifiable without a
    real Hudi installation."""
    import json

    src = CowTable(spark, os.path.join(scratch, "native"), key_fields=["k"],
                   partition_field="p", num_file_groups=2)
    src.bulk_insert(spark.createDataFrame(
        [(i, "a" if i % 2 else "b", i * 10) for i in range(30)],
        "k long, p string, v long"), "20250101000000")
    src.upsert(spark.createDataFrame([(3, "a", 333)], "k long, p string, v long"),
               "20250102000000")
    src.delete(spark.createDataFrame([(4, "b"), (5, "a")], "k long, p string"),
               "20250103000000")

    # clone: same data files, commits re-framed through to_hudi_json
    clone = os.path.join(scratch, "clone")
    shutil.copytree(src.base_path, clone)
    shutil.rmtree(os.path.join(clone, ".hoodie"))
    os.makedirs(os.path.join(clone, ".hoodie"))
    for ts in src.timeline.timestamps():
        text = src.timeline.commit_metadata(ts).to_hudi_json()
        d = json.loads(text)
        # strict foreign framing: none of our native keys leak
        assert set(d) == {"partitionToWriteStats", "compacted",
                          "extraMetadata", "operationType"}
        for _p, sl in d["partitionToWriteStats"].items():
            for s in sl:
                assert "columnStats" not in s and "logFile" not in s
                assert s["prevCommit"] != ""  # "null" or a real instant
        with open(os.path.join(clone, ".hoodie", f"{ts}.commit"), "w") as f:
            f.write(text)

    t2 = CowTable(spark, clone, key_fields=["k"])
    assert t2.timeline.timestamps() == src.timeline.timestamps()
    for ts in src.timeline.timestamps():
        assert sorted(
            tuple(r) for r in
            t2.snapshot(as_of=ts).select("k", "v").collect()
        ) == sorted(
            tuple(r) for r in
            src.snapshot(as_of=ts).select("k", "v").collect()
        )
    # delete reconstruction over the re-framed metadata
    dv_clone = delete_view(spark, clone, "20250103000000")
    dv_native = delete_view(spark, src.base_path, "20250103000000")
    assert sorted(r["k"] for r in dv_clone.select("k").collect()) == \
        sorted(r["k"] for r in dv_native.select("k").collect()) == [4, 5]


def test_foreign_commit_history(spark, hudi_table):
    t = CowTable(spark, hudi_table, key_fields=["id"])
    hist = {r["commit_ts"]: r for r in t.commit_history().collect()}
    assert hist[C2]["total_records_deleted"] == 2
    assert hist[C1]["num_inserts"] == 6


# -- MOR log-block interop (round 7) ----------------------------------------
# tests/fixtures/hudi_mor: base parquet + BINARY HoodieLogFormat .log files
# authored by tools/make_hudi_mor_fixture.py, an encoder independent of the
# package parser (plans/hudi_log.py) — foreign bytes, mirror-image proof.

MOR_FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "hudi_mor")
M1, M2, M3 = "20210301090000", "20210301100000", "20210301110000"


def _mor_logs():
    part = os.path.join(MOR_FIXTURE, "2021", "03", "01")
    return {n: os.path.join(part, n) for n in os.listdir(part)
            if ".log." in n}


def test_mor_log_block_framing():
    """Every fixture log file parses block-by-block: framing fields
    (size / total-length / next-magic alignment) all consistent, header
    maps decoded, no block surfaced as corrupt."""
    from hudi_delete_view_spark.plans import hudi_log as hl

    seen_types = set()
    for name, path in _mor_logs().items():
        with open(path, "rb") as f:
            blocks = hl.parse_log_file(f.read())
        assert blocks, name
        for b in blocks:
            assert b.block_type != hl.CORRUPT_BLOCK
            seen_types.add(b.block_type)
            if b.block_type != hl.COMMAND_BLOCK:
                assert b.headers["INSTANT_TIME"]
    # the fixture exercises data, delete, command, parquet AND hfile blocks
    assert seen_types == {hl.AVRO_DATA_BLOCK, hl.DELETE_BLOCK,
                          hl.COMMAND_BLOCK, hl.PARQUET_DATA_BLOCK,
                          hl.HFILE_DATA_BLOCK}


def test_mor_log_rollback_semantics():
    """A ROLLBACK command block voids earlier blocks of its target
    instant in the same log file — the failed id6 -> 600 write
    disappears; the committed retry (id6 -> 666) survives."""
    from hudi_delete_view_spark.plans import hudi_log as hl

    name = next(n for n in _mor_logs()
                if n.startswith(".e3a8") and n.endswith(".log.2_0-20-77"))
    with open(_mor_logs()[name], "rb") as f:
        blocks = hl.parse_log_file(f.read())
    assert len(blocks) == 3  # failed write, command, retry
    live = hl.apply_rollbacks(blocks)
    assert len(live) == 1
    (rec,) = hl.data_block_records(live[0])
    assert (rec["_hoodie_record_key"], rec["value"]) == ("id6", 666)


def test_mor_delete_block_avro_payload():
    """DELETE_BLOCK content decodes as an Avro HoodieDeleteRecordList
    (Hudi 0.14+ framing): recordKey + partitionPath set, orderingVal
    null."""
    from hudi_delete_view_spark.plans import hudi_log as hl

    name = next(n for n in _mor_logs() if n.startswith(".e3a8")
                and n.endswith(".log.1_0-20-77"))
    with open(_mor_logs()[name], "rb") as f:
        (block,) = hl.parse_log_file(f.read())
    assert block.block_type == hl.DELETE_BLOCK
    (d,) = hl.delete_block_keys(block)
    assert d == {"recordKey": "id5", "partitionPath": "2021/03/01",
                 "orderingVal": None}


def test_mor_log_corrupt_block_recovery():
    """A torn append (truncated mid-block) surfaces as CORRUPT and does
    NOT hide a later intact block — the reader scans to the next magic,
    HoodieLogFileReader-style."""
    from hudi_delete_view_spark.plans import hudi_log as hl

    name = next(n for n in _mor_logs() if n.startswith(".7c2e")
                and n.endswith(".log.1_0-20-77"))
    with open(_mor_logs()[name], "rb") as f:
        intact = f.read()
    torn = intact[: len(intact) // 2] + intact  # half a block, then whole
    blocks = hl.parse_log_file(torn)
    assert [b.block_type for b in blocks] == [hl.CORRUPT_BLOCK,
                                              hl.AVRO_DATA_BLOCK]
    recs = hl.data_block_records(blocks[1])
    assert {r["_hoodie_record_key"] for r in recs} == {"id2", "id3", "id7"}


def test_mor_foreign_snapshot_merge(spark):
    """End-to-end: latest snapshot resolves updates, the log-borne
    insert, BOTH tombstone forms (_hoodie_is_deleted record + delete
    block), drops the uncommitted block (instant not on the timeline)
    and the rolled-back block."""
    from hudi_delete_view_spark.sources.hudi import read_hudi_mor_snapshot

    got = {
        (r["id"], r["name"], r["value"])
        for r in read_hudi_mor_snapshot(spark, MOR_FIXTURE)
        .select("id", "name", "value").collect()
    }
    assert got == {("id1", "alpha", 10), ("id3", "charlie", 444),
                   ("id4", "delta", 440), ("id6", "foxtrot", 666),
                   ("id7", "golf", 77), ("id8", "hotel", 80),
                   ("id9", "india", 900), ("id10", "juliet", 1000)}


def test_mor_parquet_data_block():
    """PARQUET_DATA_BLOCK (ordinal 5): content is a complete parquet
    file image — decodes through pyarrow with the same record dict
    shape as Avro blocks."""
    from hudi_delete_view_spark.plans import hudi_log as hl

    name = next(n for n in _mor_logs()
                if n.startswith(".e3a8b7f1") and n.endswith(".log.3_0-20-77"))
    with open(_mor_logs()[name], "rb") as f:
        (block,) = hl.parse_log_file(f.read())
    assert block.block_type == hl.PARQUET_DATA_BLOCK
    (rec,) = hl.parquet_block_records(block)
    assert (rec["_hoodie_record_key"], rec["value"],
            rec["_hoodie_is_deleted"]) == ("id4", 440, False)


def test_mor_hfile_data_block():
    """HFILE_DATA_BLOCK (ordinal 4): content is a complete HBase HFile
    v3 image — GZ-compressed blocks, CRC32 checksums, protobuf trailer,
    PBUF file info — authored by the fixture tool's INDEPENDENT
    clean-room encoder; the package reader (plans/hfile.py via
    plans/hudi_log.hfile_block_records) must decode it into the same
    record-dict shape as Avro blocks, in key order."""
    from hudi_delete_view_spark.plans import hudi_log as hl
    from hudi_delete_view_spark.plans.hfile import read_hfile_info

    name = next(n for n in _mor_logs()
                if n.startswith(".7c2e") and n.endswith(".log.3_0-20-77"))
    with open(_mor_logs()[name], "rb") as f:
        (block,) = hl.parse_log_file(f.read())
    assert block.block_type == hl.HFILE_DATA_BLOCK
    info = read_hfile_info(block.content)
    assert info["codec"] == 1  # GZ
    assert info["entry_count"] == 2 and info["with_mvcc"]
    recs = hl.hfile_block_records(block)
    assert [(r["_hoodie_record_key"], r["name"], r["value"]) for r in recs] \
        == [("id7", "golf", 77), ("id8", "hotel", 80)]


def test_hfile_codec_round_trip():
    """plans/hfile.py writer -> reader round trip across compression
    codecs and block splits, with checksum verification: a flipped byte
    in a data block must raise."""
    import pytest as _pytest

    from hudi_delete_view_spark.plans.hfile import (
        HFileFormatError,
        read_hfile_cells,
        read_hfile_info,
        write_hfile,
    )

    from hudi_delete_view_spark.plans.hfile import lookup_hfile_cells

    cells = [(f"key{i:05d}".encode(), f"payload-{i}".encode() * 4)
             for i in range(1000)]
    for comp in ("gz", "none"):
        img = write_hfile(cells, compression=comp, block_size=1024)
        assert read_hfile_cells(img) == cells
        assert read_hfile_info(img)["data_index_count"] > 1  # multi-block
        # indexed point lookup: present keys found, absent keys absent,
        # across block boundaries and below the first key
        got = lookup_hfile_cells(
            img, {b"key00000", b"key00500", b"key00999", b"absent", b"aaa"}
        )
        assert got == {k: v for k, v in cells
                       if k in {b"key00000", b"key00500", b"key00999"}}
    assert write_hfile(cells) == write_hfile(cells)  # deterministic
    corrupt = bytearray(write_hfile(cells, compression="none"))
    corrupt[40] ^= 0xFF  # inside the first data block's payload
    with _pytest.raises(HFileFormatError, match="checksum"):
        read_hfile_cells(bytes(corrupt))


def test_hfile_log_block_round_trip():
    """WRITE direction: hudi_log.hfile_block_bytes frames records as an
    HFILE_DATA_BLOCK (key-sorted cells, GZ HFile image) that the block
    reader decodes back identically — the export path's codec option."""
    from hudi_delete_view_spark.plans import hudi_log as hl

    schema = {
        "type": "record", "name": "rt", "fields": [
            {"name": "_hoodie_record_key", "type": ["null", "string"]},
            {"name": "v", "type": "long"},
        ],
    }
    recs = [{"_hoodie_record_key": f"k{i:03d}", "v": i * 7} for i in range(50)]
    blob = hl.hfile_block_bytes("20260816000000", schema, list(reversed(recs)))
    (block,) = hl.parse_log_file(blob)
    assert block.block_type == hl.HFILE_DATA_BLOCK
    assert block.headers["INSTANT_TIME"] == "20260816000000"
    assert hl.hfile_block_records(block) == recs  # sorted by key


def test_hudi_metadata_table_listing():
    """The metadata table's files partition (HFile base + HFILE log
    block, HoodieMetadataRecord payloads) folds to the exact live file
    listing: the C4/C5 log-borne additions merged in, the GHOST base
    file (present live in the base HFile, isDeleted in the log — a name
    shaped like a real base file, so ignoring the tombstone would make
    the reader open a nonexistent parquet) dropped."""
    from hudi_delete_view_spark.sources.hudi import read_hudi_metadata_files

    listing = read_hudi_metadata_files(MOR_FIXTURE)
    assert listing is not None and set(listing) == {"2021/03/01"}
    names = set(listing["2021/03/01"])
    walked = {n for n in _mor_logs()} | {
        n for n in os.listdir(os.path.join(MOR_FIXTURE, "2021/03/01"))
        if n.endswith(".parquet")
    }
    assert names == walked  # metadata listing == filesystem truth
    assert not any(n.startswith("aaaa1111") for n in names)  # ghost gone


def test_mor_snapshot_listing_modes_agree(spark):
    """walk / metadata / auto listings produce identical snapshots and
    time travel; listing='metadata' on a table without a metadata table
    raises naming it."""
    from hudi_delete_view_spark.sources.hudi import read_hudi_mor_snapshot

    def snap(**kw):
        return sorted(
            (r["id"], r["value"])
            for r in read_hudi_mor_snapshot(spark, MOR_FIXTURE, **kw)
            .select("id", "value").collect()
        )

    expect = snap(listing="walk")
    assert snap(listing="metadata") == expect
    assert snap(listing="auto") == expect
    assert (snap(listing="metadata", as_of=M2)
            == snap(listing="walk", as_of=M2))
    import shutil
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        bare = os.path.join(tmp, "bare")
        shutil.copytree(MOR_FIXTURE, bare)
        shutil.rmtree(os.path.join(bare, ".hoodie", "metadata"))
        from hudi_delete_view_spark.sources.hudi import (
            read_hudi_metadata_files,
        )

        assert read_hudi_metadata_files(bare) is None
        with pytest.raises(ValueError, match="no Hudi metadata table"):
            read_hudi_mor_snapshot(spark, bare, listing="metadata")
        # auto silently falls back to the walk
        got = sorted(
            (r["id"], r["value"])
            for r in read_hudi_mor_snapshot(spark, bare, listing="auto")
            .select("id", "value").collect()
        )
        assert got == expect


def test_hudi_record_index():
    """The metadata table's record_index partition resolves record keys
    to their file groups through BOTH HoodieRecordIndexInfo encodings:
    0 (UUID packed in high/low longs + fileIndex — FG1's keys) and 1
    (raw fileId string — FG2's keys). Unknown keys are absent. The
    decode schema comes from the commit's extraMetadata (the fixture's
    schema is deliberately wider than the package fallback, so a
    positional misread would corrupt every field)."""
    from hudi_delete_view_spark.sources.hudi import read_hudi_record_index

    idx = read_hudi_record_index(
        MOR_FIXTURE, ["id1", "id3", "id4", "id6", "id8", "nope"])
    fg1 = "7c2e91d4-5a38-4f6b-b0c7-8e1f3a9d2c55-0"
    fg2 = "e3a8b7f1-9c24-4d5e-a6b3-0f7d8c1e4a92-0"
    assert idx == {
        "id1": ("2021/03/01", fg1), "id3": ("2021/03/01", fg1),
        "id8": ("2021/03/01", fg1),
        "id4": ("2021/03/01", fg2), "id6": ("2021/03/01", fg2),
    }


def test_mor_foreign_point_lookup(spark):
    """Record-index point lookup: merge window restricted to the named
    keys' file groups only (no table scan), full merge semantics (log
    updates, HFile-block updates), tombstoned/unknown keys read as no
    row, time travel composes, tables without a record index raise."""
    import shutil
    import tempfile

    from hudi_delete_view_spark.sources.hudi import read_hudi_mor_point_lookup

    got = sorted(
        (r["id"], r["name"], r["value"])
        for r in read_hudi_mor_point_lookup(
            spark, MOR_FIXTURE, ["id3", "id4", "id999"])
        .select("id", "name", "value").collect()
    )
    assert got == [("id3", "charlie", 444), ("id4", "delta", 440)]
    assert read_hudi_mor_point_lookup(spark, MOR_FIXTURE, ["id5"]).count() == 0
    tt = [
        (r["id"], r["value"])
        for r in read_hudi_mor_point_lookup(
            spark, MOR_FIXTURE, ["id3"], as_of=M2).select("id", "value").collect()
    ]
    assert tt == [("id3", 333)]
    with tempfile.TemporaryDirectory() as tmp:
        bare = os.path.join(tmp, "bare")
        shutil.copytree(MOR_FIXTURE, bare)
        shutil.rmtree(os.path.join(bare, ".hoodie", "metadata", "record_index"))
        with pytest.raises(ValueError, match="record_index"):
            read_hudi_mor_point_lookup(spark, bare, ["id3"],
                                       index="record_index")


def test_hudi_column_stats_skipping(spark):
    """column_stats data skipping: stats decode through the
    named-reference wrapper union, group-level pruning drops FG2 for
    [70, 100] (its delete-only log has valueCount=0 — no values, still
    skippable), the pruned result equals filter-after-full-merge, and a
    table WITHOUT a column_stats partition degrades to the plain
    filter."""
    import shutil
    import tempfile

    from hudi_delete_view_spark.sources.hudi import (
        _list_slices,
        _prune_slices_by_stats,
        hudi_completed_instants,
        read_hudi_column_stats,
        read_hudi_mor_snapshot,
    )

    stats = read_hudi_column_stats(MOR_FIXTURE, "value")
    assert stats is not None and len(stats) == 9
    delete_only = next(v for k, v in stats.items()
                       if k.startswith(".e3a8") and ".log.1" in k)
    assert delete_only == {"min": None, "max": None, "value_count": 0}

    valid = set(hudi_completed_instants(MOR_FIXTURE))
    slices = _list_slices(MOR_FIXTURE, valid)
    pruned = _prune_slices_by_stats(slices, stats, 70, 100)
    assert [s.file_id[:4] for s in pruned] == ["7c2e"]  # FG2 gone
    # an open side proves nothing, and neither does a cross-type bound:
    # every group stays
    assert len(_prune_slices_by_stats(slices, stats, 70, None)) == 3
    assert len(_prune_slices_by_stats(slices, stats, "70", "100")) == 3

    def rows(**kw):
        return sorted(
            (r["id"], r["value"])
            for r in read_hudi_mor_snapshot(spark, MOR_FIXTURE, **kw)
            .select("id", "value").collect()
        )

    full = rows()
    full_filtered = [(i, v) for i, v in full if 70 <= v <= 100]
    assert rows(bounds={"value": (70, 100)}) == full_filtered == [
        ("id7", 77), ("id8", 80)]
    assert rows(bounds={"value": (5000, 6000)}) == []
    assert rows(bounds={"value": (70, None)}) == [
        (i, v) for i, v in full if v >= 70]
    with tempfile.TemporaryDirectory() as tmp:
        bare = os.path.join(tmp, "bare")
        shutil.copytree(MOR_FIXTURE, bare)
        shutil.rmtree(os.path.join(bare, ".hoodie", "metadata", "column_stats"))
        assert read_hudi_column_stats(bare, "value") is None
        got = sorted(
            (r["id"], r["value"])
            for r in read_hudi_mor_snapshot(
                spark, bare, bounds={"value": (70, 100)})
            .select("id", "value").collect()
        )
        assert got == full_filtered  # degrades to the plain filter


def test_avro_named_type_resolution():
    """resolve_named_types: a union that references records by NAME
    (the real HoodieMetadataColumnStats shape) decodes identically to
    the inline form; recursive references raise instead of looping."""
    import pytest as _pytest

    from hudi_delete_view_spark.plans import hudi_log as hl

    wrapper = {"type": "record", "name": "LongWrapper",
               "fields": [{"name": "value", "type": "long"}]}
    schema = {
        "type": "record", "name": "Outer",
        "fields": [
            {"name": "a", "type": ["null", wrapper]},
            {"name": "b", "type": ["null", "LongWrapper"]},  # by name
        ],
    }
    payload = bytearray()
    hl.avro_encode(hl.resolve_named_types(schema),
                   {"a": {"value": 7}, "b": {"value": -9}}, payload)
    rec = hl.decode_avro_bytes(schema, bytes(payload))
    assert rec == {"a": {"value": 7}, "b": {"value": -9}}
    loop = {"type": "record", "name": "Node",
            "fields": [{"name": "next", "type": ["null", "Node"]}]}
    with _pytest.raises(hl.HudiLogFormatError, match="recursive"):
        hl.resolve_named_types(loop)


# Golden image written by a REAL org.apache.hadoop.util.bloom.BloomFilter
# (4096 bits, 3 hashes, MURMUR) via the Spark JVM: keys "alpha", "beta",
# "éclair-漢" (UTF-8). A shared-convention round trip between our reader
# and our writer cannot catch Java-vs-Python divergences — this vector
# pinned and killed three of them at once (truncated-vs-floor modulo in
# the probe, END-indexed sign-extended tail bytes in Hadoop's MurmurHash,
# and LSB-first java.util.BitSet bit packing).
_HADOOP_BLOOM_B64 = (
    "/////wAAAAMBAAAQAAAAAAAAAAIAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"
    "AAAAAAAAAAABAAAAAAAAAAAEAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"
    "AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAEAAAAA"
    "AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"
    "AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"
    "AAAAAAAAAAAAAAAAAAAAAAAAAgAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"
    "AAAAAAAAAAAAAAAAAQAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"
    "AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAACAAAAAAAAAAAAAAAAAAA"
    "AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"
    "AAIAAAAAAAAAAAAAAAAAAAAAAAAAAAAAEAAAAAAAAAAAAAAAAAAA"
)

# Hadoop MurmurHash.hash(data, len, seed) outputs from the same JVM —
# pins the hash itself (incl. sub-4-byte tails and a negative seed chain).
_HADOOP_MURMUR_VECTORS = [
    (b"alpha", 0, 753762770),
    (b"beta", 0, 163585932),
    (b"a", 0, -1838653602),
    (b"ab", 0, 1525573013),
    (b"abc", 0, 1775488903),
    (b"abcd", 0, 646393889),
    (b"abcde", 0, 1594468574),
    (b"\xc3\xa9clair-\xe6\xbc\xa2", 0, 1745762840),
    (b"alpha", -123456789, -1987543922),
    (b"\xff\xfe\xfd", 7, 169310697),
]


def test_hadoop_bloom_golden_vector():
    """Interop pinned against a genuine Hadoop BloomFilter image, not a
    shared-convention round trip (ADVICE r7: the clean-room encoder and
    the reader shared the same modulo/tail/packing mistakes, so
    round-trip tests could never catch them)."""
    import base64

    from hudi_delete_view_spark.plans.bloom import (
        _murmur2_signed,
        build_hadoop_bloom,
        parse_hadoop_bloom,
        serialize_hadoop_bloom,
    )

    for data, seed, want in _HADOOP_MURMUR_VECTORS:
        assert _murmur2_signed(data, seed) == want, (data, seed)

    img = base64.b64decode(_HADOOP_BLOOM_B64)
    f = parse_hadoop_bloom(img)
    assert (f.nb_hash, f.hash_type, f.vector_size) == (3, 1, 4096)
    present = [b"alpha", b"beta", b"\xc3\xa9clair-\xe6\xbc\xa2"]
    for k in present:
        assert f.might_contain(k), k
    for k in (b"gamma", b"delta", b"\xc3\xa9clair"):
        assert not f.might_contain(k), k  # matches the JVM's own answers

    # writer half: re-encoding the same keys reproduces Hadoop's image
    # byte for byte
    ours = build_hadoop_bloom(present, vector_size=4096, nb_hash=3)
    assert serialize_hadoop_bloom(ours) == img


def test_mor_foreign_bloom_point_lookup(spark):
    """The footer-bloom index (the older index most Hudi tables carry):
    parquet footers hold a Base64 SIMPLE Hadoop BloomFilter
    (org.apache.hudi.bloomfilter) over the file's record keys —
    Hadoop-MurmurHash probes must match the fixture's clean-room
    encoder bit-for-bit. Pruning only ever drops LOG-FREE groups whose
    bloom excludes every requested key (a log can insert keys the base
    bloom never saw), false positives cost a scan never an answer, and
    with the record_index removed index='auto' falls back to bloom with
    identical results."""
    import shutil
    import tempfile

    from hudi_delete_view_spark.sources.hudi import (
        _footer_bloom,
        read_hudi_mor_point_lookup,
    )

    g3_base = os.path.join(
        MOR_FIXTURE, "2021/03/01",
        "b5c6d7e8-1111-2222-3333-94a5b6c7d8e9-0_1-20-77_20210301090000.parquet")
    bloom = _footer_bloom(g3_base)
    assert bloom is not None
    assert bloom.might_contain(b"id9") and bloom.might_contain(b"id10")
    assert not bloom.might_contain(b"id1")  # definitely-absent guarantee

    def rows(base, **kw):
        return sorted(
            (r["id"], r["value"])
            for r in read_hudi_mor_point_lookup(spark, base, **kw)
            .select("id", "value").collect()
        )

    # bloom path == record-index path on every shape: log-borne update,
    # log-free group hit, tombstoned key, unknown key
    for keys, expect in (
        (["id3", "id9"], [("id3", 444), ("id9", 900)]),
        (["id5", "nope"], []),
        (["id10"], [("id10", 1000)]),
    ):
        assert rows(MOR_FIXTURE, keys=keys, index="bloom") == expect
        assert rows(MOR_FIXTURE, keys=keys, index="record_index") == expect
    with tempfile.TemporaryDirectory() as tmp:
        bare = os.path.join(tmp, "bare")
        shutil.copytree(MOR_FIXTURE, bare)
        shutil.rmtree(os.path.join(bare, ".hoodie", "metadata", "record_index"))
        assert rows(bare, keys=["id3", "id9"]) == [("id3", 444), ("id9", 900)]


def test_mor_foreign_incremental(spark):
    """Incremental pull windows: (C2, C4] = the C3 log updates + the C4
    parquet-block update; (C4, C5] = the HFile-block ops only; an empty
    window returns no rows with the snapshot schema; group pruning from
    commit metadata excludes untouched groups (FG3 is never touched
    after C1)."""
    from hudi_delete_view_spark.sources.hudi import (
        hudi_touched_file_ids,
        read_hudi_mor_incremental,
    )

    def rows(b, e):
        return sorted(
            (r["id"], r["value"])
            for r in read_hudi_mor_incremental(spark, MOR_FIXTURE, b, e)
            .select("id", "value").collect()
        )

    assert rows(M2, "20210301130000") == [
        ("id3", 444), ("id4", 440), ("id6", 666)]
    assert rows("20210301130000", "20210301140000") == [
        ("id7", 77), ("id8", 80)]
    assert rows("20210301140000", "20210301140000") == []
    touched = hudi_touched_file_ids(MOR_FIXTURE, M2, "20210301130000")
    assert not any(f.startswith("b5c6") for f in touched)  # FG3 quiet
    assert len(touched) == 2


def test_mor_foreign_cdc(spark):
    """Net-effect CDC windows on the foreign table: full history gives
    inserts/updates/deletes with correct stamps and before-images; a
    mid-history window nets multi-step changes (id3 touched at C2 AND
    C3 emits ONE update at its latest in-window commit); the before
    boundary excludes keys dead at begin; untouched FG3 keys never
    appear."""
    from hudi_delete_view_spark.sources.hudi import read_hudi_mor_cdc

    def rows(b, e=None):
        return sorted(
            (r["op"], r["_hoodie_record_key"], r["change_commit"], r["value"])
            for r in read_hudi_mor_cdc(spark, MOR_FIXTURE, b, e)
            .select("op", "_hoodie_record_key", "change_commit", "value")
            .collect()
        )

    assert rows(M1) == [
        ("delete", "id2", M2, 20), ("delete", "id5", M2, 50),
        ("insert", "id7", "20210301140000", 77),
        ("insert", "id8", "20210301140000", 80),
        ("update", "id3", M3, 444),
        ("update", "id4", "20210301130000", 440),
        ("update", "id6", M3, 666),
    ]
    # (C2, C4]: id3 nets to its C3 image; id7 (inserted at C2, alive at
    # both boundaries, untouched in window at its winning commit C2)
    # absent; deletes already effective at begin absent
    assert rows(M2, "20210301130000") == [
        ("update", "id3", M3, 444),
        ("update", "id4", "20210301130000", 440),
        ("update", "id6", M3, 666),
    ]
    assert not any(k in ("id9", "id10") for _o, k, _c, _v in rows(M1))


def test_mor_foreign_time_travel(spark):
    """as_of filters instants AND log blocks: at M2 the C3 blocks are
    invisible; at M1 (read-optimized point) only base rows serve."""
    from hudi_delete_view_spark.sources.hudi import read_hudi_mor_snapshot

    at_m2 = {
        (r["id"], r["value"])
        for r in read_hudi_mor_snapshot(spark, MOR_FIXTURE, as_of=M2)
        .select("id", "value").collect()
    }
    assert at_m2 == {("id1", 10), ("id3", 333), ("id4", 40), ("id6", 60),
                     ("id7", 70), ("id9", 900), ("id10", 1000)}
    at_m1 = {
        (r["id"], r["value"])
        for r in read_hudi_mor_snapshot(spark, MOR_FIXTURE, as_of=M1)
        .select("id", "value").collect()
    }
    assert at_m1 == ({(f"id{i}", i * 10) for i in range(1, 7)}
                     | {("id9", 900), ("id10", 1000)})


def test_mor_foreign_bad_as_of(spark):
    from hudi_delete_view_spark.sources.hudi import read_hudi_mor_snapshot

    with pytest.raises(ValueError, match="precedes the first instant"):
        read_hudi_mor_snapshot(spark, MOR_FIXTURE, as_of="19990101000000")


def test_mor_export_round_trip(spark, scratch):
    """WRITE direction (MOR mirror of the COW framing export): a native
    MOR table — bulk insert, delta upsert, delta delete (tombstones in
    logs), second delta with a timestamp column in play — exports as a
    genuine Hudi MOR layout (Hudi-named base parquet, binary
    HoodieLogFormat log files with Avro data blocks, .deltacommit JSON
    framing) and reads back IDENTICALLY through the FOREIGN reader:
    snapshot and time travel match the native table at every instant."""
    from hudi_delete_view_spark.sources.hudi import (
        export_hudi_mor,
        read_hudi_mor_snapshot,
    )
    from hudi_delete_view_spark.sources.mor import MorTable

    t = MorTable(spark, os.path.join(scratch, "exp_src"), key_fields=["k"],
                 partition_field=None, num_file_groups=2)
    t.bulk_insert(spark.range(12).selectExpr(
        "concat('k', id) as k", "cast(id as long) as v",
        "cast(id as double) as d",
        "timestamp('2026-01-01 00:00:00') + make_interval(0,0,0,0,0,0,id) as ts"),
        "20260101000000")
    t.upsert_delta(spark.range(4).selectExpr(
        "concat('k', id) as k", "cast(id + 100 as long) as v",
        "cast(id as double) as d",
        "timestamp('2026-02-02 00:00:00') as ts"), "20260102000000")
    t.delete_delta(spark.createDataFrame([("k5",), ("k6",)], "k string"),
                   "20260103000000")
    t.upsert_delta(spark.createDataFrame(
        [("k99", 999, 9.5, None)], "k string, v long, d double, ts timestamp"),
        "20260104000000")

    out = export_hudi_mor(t, os.path.join(scratch, "exp_hudi"))
    # layout really is foreign: binary log files + .deltacommit framing
    names = [f for _r, _d, fs in os.walk(out) for f in fs]
    assert any(".log." in n for n in names)
    assert any(n.endswith(".deltacommit")
               for n in os.listdir(os.path.join(out, ".hoodie")))

    def native_rows(as_of=None):
        return {
            (r["k"], r["v"], r["d"], r["ts"])
            for r in t.snapshot(as_of).select("k", "v", "d", "ts").collect()
        }

    def foreign_rows(as_of=None):
        return {
            (r["k"], r["v"], r["d"], r["ts"])
            for r in read_hudi_mor_snapshot(spark, out, as_of=as_of)
            .select("k", "v", "d", "ts").collect()
        }

    assert foreign_rows() == native_rows()
    for ts in ("20260101000000", "20260102000000", "20260103000000"):
        assert foreign_rows(as_of=ts) == native_rows(as_of=ts), ts

    # the export also carries a metadata table (files partition: HFile
    # base + HFILE_DATA_BLOCK log, one record per instant) — the
    # foreign reader's no-walk listing path reproduces the walk exactly
    from hudi_delete_view_spark.sources.hudi import read_hudi_metadata_files

    listing = read_hudi_metadata_files(out)
    assert listing is not None
    walked = {
        f for _r, _d, fs in os.walk(out) for f in fs
        if (f.endswith(".parquet") or ".log." in f)
        and ".hoodie" not in _r.replace(out, "")
    }
    assert {n for files in listing.values() for n in files} == walked
    md_rows = {
        (r["k"], r["v"])
        for r in read_hudi_mor_snapshot(spark, out, listing="metadata")
        .select("k", "v").collect()
    }
    assert md_rows == {(k, v) for k, v, _d, _ts in native_rows()}


def test_mor_foreign_delete_view(spark):
    """The flagship question asked of the FOREIGN MOR table: rows
    deleted by the tombstoning delta commit (both forms — the
    _hoodie_is_deleted record for id2, the DELETE_BLOCK entry for id5)
    reconstruct to their pre-delete images, stamped with the delete
    commit time; a non-deleting commit yields zero rows; the bootstrap
    instant and unknown instants raise."""
    from hudi_delete_view_spark.sources.hudi import read_hudi_mor_delete_view

    dv = read_hudi_mor_delete_view(spark, MOR_FIXTURE, M2)
    # M2 never touched FG3: its base is not read
    assert not any(os.path.basename(f).startswith("b5c6d7e8-")
                   for f in dv.inputFiles())
    got = {(r["id"], r["name"], r["value"], r["_hoodie_commit_time"])
           for r in dv.select("id", "name", "value",
                              "_hoodie_commit_time").collect()}
    assert got == {("id2", "bravo", 20, M2), ("id5", "echo", 50, M2)}
    assert read_hudi_mor_delete_view(spark, MOR_FIXTURE, M3).count() == 0
    with pytest.raises(ValueError, match="bootstrap"):
        read_hudi_mor_delete_view(spark, MOR_FIXTURE, M1)
    with pytest.raises(ValueError, match="no completed Hudi instant"):
        read_hudi_mor_delete_view(spark, MOR_FIXTURE, "20210301105500")


def test_metadata_logs_keyed_by_base_instant(tmp_path):
    """Metadata-partition logs bind to the base slice named in their
    filename (ADVICE r7): after a metadata-table compaction with
    not-yet-cleaned older logs, a stale pre-compaction log keyed by fid
    alone would replay over the NEWER base and corrupt the listing. A
    log under an older base_ts must be ignored entirely (never opened:
    this one is garbage bytes), and logs for a file group with no base
    HFile at all must raise, not silently skip."""
    from hudi_delete_view_spark.plans.hudi_log import HudiLogFormatError
    from hudi_delete_view_spark.sources.hudi import read_hudi_metadata_files

    pristine = read_hudi_metadata_files(MOR_FIXTURE)
    assert pristine

    stale = os.path.join(tmp_path, "stale")
    shutil.copytree(MOR_FIXTURE, stale)
    files_dir = os.path.join(stale, ".hoodie", "metadata", "files")
    # base HFile in the fixture is at 20210301110000; this log claims the
    # (hypothetical, already-compacted-away) 20210301100000 base
    with open(os.path.join(files_dir,
                           ".files-0000_20210301100000.log.1_0-0-0"), "wb") as f:
        f.write(b"not a log file at all")
    assert read_hudi_metadata_files(stale) == pristine

    orphan = os.path.join(tmp_path, "orphan")
    shutil.copytree(MOR_FIXTURE, orphan)
    files_dir = os.path.join(orphan, ".hoodie", "metadata", "files")
    with open(os.path.join(files_dir,
                           ".files-9999_20210301110000.log.1_0-0-0"), "wb") as f:
        f.write(b"whatever")
    with pytest.raises(HudiLogFormatError, match="no base HFile"):
        read_hudi_metadata_files(orphan)


def test_mor_cdc_empty_window_schema_matches(spark):
    """An empty CDC window projects exactly like the non-empty path — a
    duplicate _hoodie_record_key column (ADVICE r7) breaks unionByName
    and parquet writes downstream."""
    from hudi_delete_view_spark.sources.hudi import (
        hudi_completed_instants,
        read_hudi_mor_cdc,
    )

    last = hudi_completed_instants(MOR_FIXTURE)[-1]
    empty = read_hudi_mor_cdc(spark, MOR_FIXTURE, last)
    assert len(empty.columns) == len(set(empty.columns))
    assert empty.count() == 0
    nonempty = read_hudi_mor_cdc(spark, MOR_FIXTURE, "20210301090000")
    assert empty.columns == nonempty.columns
    # the two must compose — this is where a duplicate name explodes
    assert nonempty.unionByName(empty).count() == nonempty.count()


def test_mor_point_lookup_as_of_record_index_guard(spark):
    """Time travel + record index (ADVICE r7): the index reflects
    CURRENT state, so a key alive at as_of but deleted since (id5:
    inserted at C1, tombstoned at C2) could silently miss. Explicit
    index='record_index' with a stale as_of must refuse; index='auto'
    must route to the historically-sound bloom/scan path and return the
    row."""
    from hudi_delete_view_spark.sources.hudi import read_hudi_mor_point_lookup

    c1 = "20210301090000"
    with pytest.raises(ValueError, match="latest-state only"):
        read_hudi_mor_point_lookup(spark, MOR_FIXTURE, keys=["id5"],
                                   as_of=c1, index="record_index")
    got = (read_hudi_mor_point_lookup(spark, MOR_FIXTURE, keys=["id5"],
                                      as_of=c1, index="auto")
           .select("id", "value").collect())
    assert [(r.id, r.value) for r in got] == [("id5", 50)]
    # at latest state the key is tombstoned: auto uses the index, no row
    assert read_hudi_mor_point_lookup(
        spark, MOR_FIXTURE, keys=["id5"], index="auto").count() == 0
    # as_of == latest instant: the index is current, record_index allowed
    from hudi_delete_view_spark.sources.hudi import hudi_completed_instants
    last = hudi_completed_instants(MOR_FIXTURE)[-1]
    assert read_hudi_mor_point_lookup(
        spark, MOR_FIXTURE, keys=["id5"], as_of=last,
        index="record_index").count() == 0


def test_mor_export_no_data_row_collects(spark, scratch, monkeypatch):
    """Job audit for the export path (r7 verdict item 2): every data
    byte must move executor-side — the driver may collect only
    file-level metadata (one row per OUTPUT FILE: names + sizes for the
    metadata table). Pin: total rows ever collect()ed during an export
    stays bounded by the file count, orders of magnitude under the data
    row count."""
    from pyspark.sql import DataFrame

    from hudi_delete_view_spark.sources.hudi import (
        export_hudi_mor,
        read_hudi_mor_snapshot,
    )
    from hudi_delete_view_spark.sources.mor import MorTable

    t = MorTable(spark, os.path.join(scratch, "audit_src"), key_fields=["k"],
                 partition_field=None, num_file_groups=2)
    t.bulk_insert(spark.range(5000).selectExpr(
        "concat('k', id) as k", "cast(id as long) as v"), "20260101000000")
    t.upsert_delta(spark.range(1000).selectExpr(
        "concat('k', id) as k", "cast(id + 7 as long) as v"),
        "20260102000000")

    collected = []
    real_collect = DataFrame.collect

    def counting_collect(self):
        rows = real_collect(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    out = export_hudi_mor(t, os.path.join(scratch, "audit_exp"))
    monkeypatch.undo()

    n_files = sum(
        1 for _r, _d, fs in os.walk(out) for f in fs
        if (f.endswith(".parquet") or ".log." in f)
        and ".hoodie" not in _r.replace(out, "")
    )
    assert sum(collected) <= n_files  # metadata rows only, never data
    assert sum(collected) < 6000  # and nowhere near the 6k data rows
    # and the export is still a faithful round trip
    got = {(r.k, r.v) for r in read_hudi_mor_snapshot(spark, out)
           .select("k", "v").collect()}
    want = {(r.k, r.v) for r in t.snapshot().select("k", "v").collect()}
    assert got == want


def _fixture_tool():
    import importlib.util

    path = os.path.join(os.path.dirname(__file__), "..", "tools",
                        "make_hudi_mor_fixture.py")
    spec = importlib.util.spec_from_file_location("mor_fixture_tool", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_hfile_multi_level_index():
    """Multi-level HFile block indexes (r7 verdict item 6): a >GB real
    Hudi metadata table grows root->leaf (and root->intermediate->leaf)
    index trees that single-block fixtures never exercise. Images come
    from the INDEPENDENT clean-room encoder (forced tiny fanout); the
    package reader must walk every declared level — full scan in key
    order, and point lookups opening only one binary-searched branch per
    level."""
    from hudi_delete_view_spark.plans.hfile import (
        lookup_hfile_cells,
        read_hfile_cells,
        read_hfile_info,
    )

    tool = _fixture_tool()
    cells = [(f"rk{i:05d}".encode(), f"val-{i}".encode()) for i in range(200)]
    for levels in (2, 3):
        img = tool._hfile_image_multi(cells, rows_per_block=4, fanout=4,
                                      levels=levels)
        meta = read_hfile_info(img)
        assert meta["index_levels"] == levels
        assert read_hfile_cells(img) == cells
        want = {b"rk00000", b"rk00007", b"rk00123", b"rk00199"}
        got = lookup_hfile_cells(img, want | {b"absent", b"aa"})
        assert got == {k: v for k, v in cells if k in want}
    # single-level images from both encoders still read (incl. the
    # pre-round-8 legacy root magic accepted for old exports)
    single = tool._hfile_image(cells[:10])
    assert read_hfile_info(single)["index_levels"] == 1
    assert read_hfile_cells(single) == sorted(cells[:10])
