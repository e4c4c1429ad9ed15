"""Foreign Delta Lake reader (sources/delta.py) against the committed
genuine-layout fixture tests/fixtures/delta_tbl (authored by the
independent encoder tools/make_delta_fixture.py — log JSON, checkpoint
parquet, hive-partitioned data files this reader did not produce).

The oracle queries (queries/delta.py) hash-verify snapshot / travel /
incremental / CDC / delete-view values; these tests pin the structural
behaviors a value hash can't see: checkpoint-only replay after log
vacuum, named protocol refusals (deletion vectors, column mapping,
unknown reader features), stats-based file pruning (which files are
NEVER read), log-gap detection, and the non-hive fallback path."""

import json
import os
import shutil

import pytest

from hudi_delete_view_spark.sources.delta import (
    DeltaFormatError,
    read_delta_cdc,
    read_delta_delete_view,
    read_delta_incremental,
    read_delta_snapshot,
    resolve_delta_state,
    version_for_timestamp,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "delta_tbl")
TS0 = 1700000000000


def test_delta_snapshot_and_travel(spark):
    # current = v6: the cumulative deletion vector on F5 kills id4+id6
    snap = {r.id: (r.value, r.part)
            for r in read_delta_snapshot(spark, FIXTURE).collect()}
    assert snap == {"id1": (10, "a"), "id3": (333, "a"), "id7": (70, "a")}
    v4 = {r.id: (r.value, r.part)
          for r in read_delta_snapshot(spark, FIXTURE, version=4).collect()}
    assert v4 == {"id1": (10, "a"), "id3": (333, "a"), "id4": (40, "b"),
                  "id6": (60, "b"), "id7": (70, "a")}
    v0 = {r.id: r.value
          for r in read_delta_snapshot(spark, FIXTURE, version=0).collect()}
    assert v0 == {f"id{i}": i * 10 for i in range(1, 7)}
    # timestamp travel: the UPDATE commit's wall clock resolves to v1
    assert version_for_timestamp(FIXTURE, TS0 + 60_000) == 1
    ts_snap = {r.id: r.value for r in read_delta_snapshot(
        spark, FIXTURE, timestamp_ms=TS0 + 60_000).collect()}
    assert ts_snap["id3"] == 333 and "id5" in ts_snap
    with pytest.raises(DeltaFormatError, match="beyond latest"):
        read_delta_snapshot(spark, FIXTURE, version=99)


def test_delta_flagship_delete_view(spark):
    """The reference's headline question asked of a Delta table."""
    dv = read_delta_delete_view(spark, FIXTURE, 2, ["id"])
    rows = {r.id: (r.name, r.value, r._deleted_by_version, r._deleted_at_ts)
            for r in dv.collect()}
    assert rows == {
        "id2": ("bravo", 20, 2, TS0 + 120_000),
        "id5": ("echo", 50, 2, TS0 + 120_000),
    }
    # a pure-insert commit deletes nothing; an OPTIMIZE (dataChange
    # false) is invisible to the flagship question
    assert read_delta_delete_view(spark, FIXTURE, 4, ["id"]).count() == 0
    assert read_delta_delete_view(spark, FIXTURE, 3, ["id"]).count() == 0
    # the first commit has no pre-commit state and deletes nothing
    v0 = read_delta_delete_view(spark, FIXTURE, 0)
    assert v0.count() == 0
    assert v0.columns[-2:] == ["_deleted_by_version", "_deleted_at_ts"]


def test_delta_checkpoint_only_replay(spark, tmp_path):
    """After log vacuum (v0-v2 JSONs gone) the checkpoint carries the
    state: latest snapshot works through checkpoint + post-delta JSON;
    versions below the checkpoint are gone and must refuse by name."""
    vac = os.path.join(tmp_path, "vacuumed")
    shutil.copytree(FIXTURE, vac)
    for v in (0, 1, 2):
        os.remove(os.path.join(vac, "_delta_log", f"{v:020d}.json"))
    snap = {r.id: r.value for r in read_delta_snapshot(spark, vac).collect()}
    assert snap == {"id1": 10, "id3": 333, "id7": 70}
    with pytest.raises(DeltaFormatError, match="cannot reconstruct"):
        read_delta_snapshot(spark, vac, version=1)
    # no checkpoint at all + missing v0 -> unreconstructable, named
    bare = os.path.join(tmp_path, "bare")
    shutil.copytree(vac, bare)
    os.remove(os.path.join(bare, "_delta_log", "_last_checkpoint"))
    os.remove(os.path.join(
        bare, "_delta_log", f"{3:020d}.checkpoint.parquet"))
    with pytest.raises(DeltaFormatError, match="cannot reconstruct"):
        read_delta_snapshot(spark, bare)


def test_delta_log_gap_detection(spark, tmp_path):
    gap = os.path.join(tmp_path, "gap")
    shutil.copytree(FIXTURE, gap)
    os.remove(os.path.join(gap, "_delta_log", f"{1:020d}.json"))
    with pytest.raises(DeltaFormatError, match="gap"):
        read_delta_snapshot(spark, gap, version=2)
    # targets the checkpoint can serve are unaffected by the gap below it
    assert read_delta_snapshot(spark, gap).count() == 3


def _append_commit(base, version, actions, ts):
    lines = [json.dumps({"commitInfo": {"timestamp": ts, "operation": "X"}})]
    lines += [json.dumps(a) for a in actions]
    with open(os.path.join(base, "_delta_log", f"{version:020d}.json"),
              "w") as f:
        f.write("\n".join(lines) + "\n")


def test_delta_protocol_refusals(spark, tmp_path):
    """Unsupported surfaces refuse BY NAME instead of misreading: an
    UNKNOWN deletion-vector storage type (a silently-skipped DV would
    resurrect deleted rows), column mapping (physical names diverge),
    unknown reader features. deletionVectors itself is a SUPPORTED
    reader feature since round 8."""
    # unknown DV storage type on an add
    dv = os.path.join(tmp_path, "dv")
    shutil.copytree(FIXTURE, dv)
    _append_commit(dv, 7, [{"add": {
        "path": "part=a/part-00000-0f3a0000-0000-4000-8000-000000000003-c000.parquet",
        "partitionValues": {"part": "a"}, "size": 1, "dataChange": True,
        "deletionVector": {"storageType": "x", "pathOrInlineDv": "x",
                           "offset": 1, "sizeInBytes": 40, "cardinality": 1},
    }}], TS0 + 420_000)
    with pytest.raises(DeltaFormatError, match="storageType"):
        read_delta_snapshot(spark, dv)
    # time travel BELOW the bad commit still reads (v6 state: 3 live)
    assert read_delta_snapshot(spark, dv, version=6).count() == 3

    # column mapping mode
    # column mapping: modes name/id are SUPPORTED since round 9 (mode
    # 'name' without physicalName metadata falls back to logical names,
    # so this flipped-config table still reads identically); an UNKNOWN
    # mode refuses by name — see test_delta_column_mapping.py for the
    # real physically-renamed fixture
    cm = os.path.join(tmp_path, "cm")
    shutil.copytree(FIXTURE, cm)
    with open(os.path.join(cm, "_delta_log", f"{0:020d}.json")) as f:
        actions = [json.loads(x) for x in f.read().splitlines()]
    for a in actions:
        if "metaData" in a:
            a["metaData"]["configuration"] = {
                "delta.columnMapping.mode": "name"}
    with open(os.path.join(cm, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
    assert read_delta_snapshot(spark, cm, version=0).count() == 6
    for a in actions:
        if "metaData" in a:
            a["metaData"]["configuration"] = {
                "delta.columnMapping.mode": "weird"}
    with open(os.path.join(cm, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
    with pytest.raises(DeltaFormatError, match="columnMapping"):
        read_delta_snapshot(spark, cm, version=0)

    # reader feature gate: deletionVectors/timestampNtz/columnMapping/
    # v2Checkpoint (all supported) pass; anything else refuses with the
    # feature named
    rf = os.path.join(tmp_path, "rf")
    shutil.copytree(FIXTURE, rf)
    _append_commit(rf, 7, [{"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors", "typeWidening"]}}],
        TS0 + 420_000)
    with pytest.raises(DeltaFormatError, match="typeWidening"):
        read_delta_snapshot(spark, rf)


def test_delta_stats_pruning_never_reads_excluded_files(spark):
    """File-skipping pin: under value-bounds [35, 65] the resolver's
    file list excludes F6 (stats: min=max=70) BEFORE any scan, and the
    bounded read equals the unbounded read filtered row-level (pruning
    is an optimization, never a filter)."""
    import datetime

    from hudi_delete_view_spark.sources.delta import _stats_pass

    state = resolve_delta_state(FIXTURE)
    kept = sorted(p for p, a in state.adds.items()
                  if _stats_pass(a, {"value": (35, 65)}))
    assert kept == [
        "part=a/part-00000-0f3a0000-0000-4000-8000-000000000003-c000.parquet",
        "part=b/part-00001-0f5b0000-0000-4000-8000-000000000005-c000.parquet",
    ]
    bounded = read_delta_snapshot(spark, FIXTURE, version=4,
                                  bounds={"value": (35, 65)})
    full = read_delta_snapshot(spark, FIXTURE, version=4)
    assert sorted((r.id, r.value) for r in
                  bounded.filter("value between 35 and 65").collect()) == \
        sorted((r.id, r.value) for r in
               full.filter("value between 35 and 65").collect())
    # partition-value pruning composes: part='b' bounds drop part=a files
    state2 = resolve_delta_state(FIXTURE)
    got = read_delta_snapshot(spark, FIXTURE, version=4,
                              bounds={"part": ("b", "b")})
    assert {r.part for r in got.collect()} == {"b"}
    assert state2.partition_columns == ["part"]
    # a date bound against string partition values proves nothing:
    # every file is kept, nothing raises
    dated = read_delta_snapshot(
        spark, FIXTURE, version=4,
        bounds={"part": (datetime.date(2021, 1, 1), None)})
    assert dated.count() == full.count()


def test_delta_non_hive_layout_fallback(spark, tmp_path):
    """add.path need not be hive-style: a flat layout routes through the
    per-partition-group fallback (literal partition columns) and must
    read identically."""
    flat = os.path.join(tmp_path, "flat")
    os.makedirs(os.path.join(flat, "_delta_log"))
    # copy v0's two data files to FLAT names
    for src, dst in [
        ("part=a/part-00000-0f0a0000-0000-4000-8000-000000000000-c000.parquet",
         "f0.parquet"),
        ("part=b/part-00001-0f1b0000-0000-4000-8000-000000000001-c000.parquet",
         "f1.parquet"),
    ]:
        shutil.copy(os.path.join(FIXTURE, src), os.path.join(flat, dst))
    with open(os.path.join(FIXTURE, "_delta_log", f"{0:020d}.json")) as f:
        actions = [json.loads(x) for x in f.read().splitlines()]
    for a in actions:
        if "add" in a:
            a["add"]["path"] = ("f0.parquet" if "0f0a0000" in a["add"]["path"]
                                else "f1.parquet")
    with open(os.path.join(flat, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
    got = {r.id: (r.value, r.part)
           for r in read_delta_snapshot(spark, flat).collect()}
    want = {r.id: (r.value, r.part)
            for r in read_delta_snapshot(spark, FIXTURE, version=0).collect()}
    assert got == want


def test_delta_cdc_optimize_traps(spark):
    """The two OPTIMIZE traps the fixture pins: rows migrated by the
    dataChange=false rewrite never surface as deletes, and a key's
    change_version is the version its VALUE changed, not the version an
    unrelated commit last rewrote its file (id3: updated at v1, file
    rewritten by the v2 DELETE of id2 — stamp must stay 1)."""
    got = sorted(
        (r.op, r.id, r.value, r.change_version)
        for r in read_delta_cdc(spark, FIXTURE, ["id"], 0, 4).collect()
    )
    assert got == [
        ("delete", "id2", 20, 2),
        ("delete", "id5", 50, 2),
        ("insert", "id7", 70, 4),
        ("update", "id3", 333, 1),
    ]
    # the OPTIMIZE-only window nets to nothing
    assert read_delta_cdc(spark, FIXTURE, ["id"], 2, 3).count() == 0
    inc = read_delta_incremental(spark, FIXTURE, 2, 3)
    assert inc.count() == 0  # dataChange=false adds emit nothing


def test_export_delta_round_trip(spark, scratch):
    """WRITE direction: a native COW table (bulk insert, upsert, delete,
    partitioned) exports as genuine Delta layout and reads back
    IDENTICALLY through the foreign reader at every version — snapshot,
    time travel, and the flagship delete view of the deleting commit.
    Job audit: collected rows stay bounded by the output file count
    (same no-data-collect contract as export_hudi_mor)."""
    from pyspark.sql import DataFrame

    from hudi_delete_view_spark.sources.cow import CowTable
    from hudi_delete_view_spark.sources.delta import export_delta

    t = CowTable(spark, os.path.join(scratch, "dsrc"), key_fields=["k"],
                 partition_field="p", num_file_groups=2)
    t.bulk_insert(spark.createDataFrame(
        [(i, "a" if i % 2 else "b", i * 10) for i in range(40)],
        "k long, p string, v long"), "20260101000000")
    t.upsert(spark.createDataFrame([(3, "a", 333)],
                                   "k long, p string, v long"),
             "20260102000000")
    t.delete(spark.createDataFrame([(4, "b"), (5, "a")], "k long, p string"),
             "20260103000000")

    collected = []
    real_collect = DataFrame.collect

    def counting_collect(self):
        rows = real_collect(self)
        collected.append(len(rows))
        return rows

    DataFrame.collect = counting_collect
    try:
        out = export_delta(t, os.path.join(scratch, "dexp"))
    finally:
        DataFrame.collect = real_collect

    n_files = sum(1 for _r, _d, fs in os.walk(out)
                  for f in fs if f.endswith(".parquet")
                  and "_delta_log" not in _r)
    assert sum(collected) <= n_files

    # every version reads back equal to the native snapshot
    for v, ts in enumerate(t.timeline.timestamps()):
        got = sorted((r.k, r.p, r.v) for r in read_delta_snapshot(
            spark, out, version=v).select("k", "p", "v").collect())
        want = sorted((r.k, r.p, r.v) for r in t.snapshot(as_of=ts)
                      .select("k", "p", "v").collect())
        assert got == want, f"version {v}"
    # and through the checkpoint alone (vacuum all but the last JSON)
    assert read_delta_snapshot(spark, out).count() == 38

    # flagship: the deleting commit's delete view over the EXPORT
    dv = read_delta_delete_view(spark, out, 2, ["k"])
    assert sorted(r.k for r in dv.collect()) == [4, 5]

    # exported files carry neither meta columns nor the physical
    # partition column; adds carry real stats
    import pyarrow.parquet as pq

    data_files = [os.path.join(r, f) for r, _d, fs in os.walk(out)
                  for f in fs if f.endswith(".parquet")
                  and "_delta_log" not in r]
    names = set(pq.read_schema(data_files[0]).names)
    assert names == {"k", "v"}
    state = resolve_delta_state(out)
    for a in state.adds.values():
        s = json.loads(a["stats"])
        assert s["numRecords"] > 0 and "k" in s["minValues"]


# Images written by the REAL org.roaringbitmap (Spark-bundled jar) via
# the JVM: array containers (one and three keys), a run container, and
# the no-runOptimize small case. A shared-convention round trip between
# our parser and the fixture tool's encoder cannot catch Java-side
# layout facts; these can.
_ROARING_GOLDEN = {
    "small_array": ("OjAAAAEAAAAAAAQAEAAAAAEABQAHAGQA//8=",
                    [1, 5, 7, 100, 65535]),
    "two_keys": ("OjAAAAMAAAAAAAAAAQABAAIAAAAgAAAAIgAAACYAAAADAAoACwAHAA==",
                 [3, 65536 + 10, 65536 + 11, 2 * 65536 + 7]),
    "run_container": ("OzAAAAEAACMTAQBkACMT", list(range(100, 5000))),
    "norun_small": ("OjAAAAEAAAAAAAIAEAAAAAEABQAHAA==", [1, 5, 7]),
}


def test_roaring_golden_vectors():
    import base64

    from hudi_delete_view_spark.plans.roaring import (
        parse_roaring32,
        z85_decode,
        z85_encode,
    )

    for name, (b64, want) in _ROARING_GOLDEN.items():
        got, _pos = parse_roaring32(base64.b64decode(b64))
        assert got == sorted(want), name
    # Z85 pinned to the ZeroMQ spec test vector
    assert z85_decode("HelloWorld") == bytes(
        [0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert z85_encode(bytes(
        [0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])) == "HelloWorld"


def test_delta_deletion_vectors(spark):
    """v5 (inline z85 DV) and v6 (on-disk z85-uuid 'u' DV, cumulative
    {0,1}) apply at scan time, and the flagship question over a DV
    commit is EXACT and keyless: deleted rows = (new DV minus old DV)
    by row ordinal — id4 at v5, id6 ALONE at v6 (a cumulative vector
    naively re-read would claim id4 again)."""
    assert {r.id for r in read_delta_snapshot(
        spark, FIXTURE, version=5).collect()} == {"id1", "id3", "id6", "id7"}
    assert {r.id for r in read_delta_snapshot(
        spark, FIXTURE, version=6).collect()} == {"id1", "id3", "id7"}
    v5 = read_delta_delete_view(spark, FIXTURE, 5)
    assert [(r.id, r.value, r._deleted_by_version)
            for r in v5.collect()] == [("id4", 40, 5)]
    v6 = read_delta_delete_view(spark, FIXTURE, 6)
    # the older DV is subtracted inside the one DV parse task
    plan = v6._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1 and "LeftAnti" not in plan, plan
    assert [(r.id, r.value, r._deleted_by_version)
            for r in v6.collect()] == [("id6", 60, 6)]
    # CDC stamps stay per-key precise through DV commits
    cdc = read_delta_cdc(spark, FIXTURE, ["id"], 4, 6)
    assert sorted((r.op, r.id, r.change_version) for r in cdc.collect()) == [
        ("delete", "id4", 5), ("delete", "id6", 6)]


def test_delta_dv_crc_corruption_detected(spark, tmp_path):
    """A flipped byte inside the on-disk DV blob must fail the CRC
    check, not silently mis-delete rows."""
    import glob

    bad = os.path.join(tmp_path, "bad")
    shutil.copytree(FIXTURE, bad)
    (dv_file,) = glob.glob(os.path.join(bad, "deletion_vector_*.bin"))
    data = bytearray(open(dv_file, "rb").read())
    data[7] ^= 0xFF  # inside the blob (after version byte + size)
    with open(dv_file, "wb") as f:
        f.write(bytes(data))
    with pytest.raises(Exception, match="CRC32|RoaringFormat|cookie|magic"):
        read_delta_snapshot(spark, bad).collect()


def test_delta_dv_through_checkpoint(spark, tmp_path):
    """A deletionVector recorded in a CHECKPOINT PARQUET add struct (the
    physical shape every real Delta writer checkpoints after a DV
    delete — struct-typed, null fields explicit) survives replay: a
    checkpoint at v6 carrying the 'u' DV add, every JSON log vacuumed,
    must still exclude the DV-deleted rows."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = os.path.join(tmp_path, "dv_cp")
    shutil.copytree(FIXTURE, base)
    st = resolve_delta_state(base)  # live adds at v6, DV descriptors in
    assert st.version == 6

    map_t = pa.map_(pa.string(), pa.string())
    dv_t = pa.struct([
        ("storageType", pa.string()), ("pathOrInlineDv", pa.string()),
        ("offset", pa.int32()), ("sizeInBytes", pa.int32()),
        ("cardinality", pa.int64()),
    ])
    add_t = pa.struct([
        ("path", pa.string()), ("partitionValues", map_t),
        ("size", pa.int64()), ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()), ("stats", pa.string()),
        ("deletionVector", dv_t),
    ])
    meta_t = pa.struct([
        ("id", pa.string()), ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", map_t), ("createdTime", pa.int64()),
    ])
    proto_t = pa.struct([
        ("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32()),
        ("readerFeatures", pa.list_(pa.string())),
        ("writerFeatures", pa.list_(pa.string())),
    ])
    log = os.path.join(base, "_delta_log")
    with open(os.path.join(log, f"{0:020d}.json")) as f:
        head = [_json.loads(ln) for ln in f if ln.strip()]
    meta_act = next(a["metaData"] for a in head if "metaData" in a)

    rows = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]},
         "metaData": None, "add": None},
        {"protocol": None,
         "metaData": {"id": meta_act["id"],
                      "schemaString": meta_act["schemaString"],
                      "partitionColumns": meta_act["partitionColumns"],
                      "configuration": [], "createdTime": TS0},
         "add": None},
    ]
    for a in st.adds.values():
        dv = a.get("deletionVector")
        rows.append({"protocol": None, "metaData": None, "add": {
            "path": a["path"],
            "partitionValues": list(a["partitionValues"].items()),
            "size": a["size"], "modificationTime": a["modificationTime"],
            "dataChange": a["dataChange"], "stats": a.get("stats"),
            # explicit None offset when absent — the struct null a real
            # checkpoint carries
            "deletionVector": None if not dv else {
                "storageType": dv["storageType"],
                "pathOrInlineDv": dv["pathOrInlineDv"],
                "offset": dv.get("offset"),
                "sizeInBytes": dv["sizeInBytes"],
                "cardinality": dv["cardinality"]},
        }})
    cp_schema = pa.schema([
        ("protocol", proto_t), ("metaData", meta_t), ("add", add_t),
    ])
    pq.write_table(pa.Table.from_pylist(rows, schema=cp_schema),
                   os.path.join(log, f"{6:020d}.checkpoint.parquet"))
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        _json.dump({"version": 6, "size": len(rows)}, f)
    for v in range(7):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    os.remove(os.path.join(log, f"{3:020d}.checkpoint.parquet"))

    snap = read_delta_snapshot(spark, base)
    assert {r.id for r in snap.collect()} == {"id1", "id3", "id7"}


def test_dv_descriptor_null_offset():
    """Checkpoint structs carry explicit nulls for unset DV fields —
    offset=None must mean 'default 1' (version byte at 0), not crash."""
    from hudi_delete_view_spark.sources.delta import _dv_descriptor

    u20 = "0123456789abcdefghij"  # any 20 z85 chars decode to 16 bytes
    kind, path, off, size = _dv_descriptor("/t", {"deletionVector": {
        "storageType": "u", "pathOrInlineDv": u20,
        "offset": None, "sizeInBytes": 9, "cardinality": 1}})
    assert (kind, off, size) == ("file", 1, 9)
    kind, path, off, size = _dv_descriptor("/t", {"deletionVector": {
        "storageType": "p", "pathOrInlineDv": "/abs/dv.bin",
        "offset": None, "sizeInBytes": 4, "cardinality": 1}})
    assert (kind, path, off) == ("file", "/abs/dv.bin", 1)


def test_dv_descriptor_u_path_prefixes():
    """PROTOCOL.md 'u' storage: pathOrInlineDv = <optional random
    prefix><20-char z85 uuid>, file <prefix>/deletion_vector_<uuid>.bin
    under the table root. The uuid is ALWAYS the final 20 characters —
    multi-level prefixes (Databricks writers use randomized directory
    prefixes, possibly nested) must resolve; no prefix must resolve to
    the table root."""
    import uuid as _uuid

    from hudi_delete_view_spark.plans.roaring import z85_decode
    from hudi_delete_view_spark.sources.delta import _dv_descriptor

    u20 = "0123456789abcdefghij"
    u = _uuid.UUID(bytes=bytes(z85_decode(u20)))
    for encoded_prefix, dir_part in [
        ("", ""),              # no prefix -> table root
        ("ab", "ab/"),         # single level, no trailing slash
        ("ab/", "ab/"),        # single level, trailing-slash form
        ("ab/cd", "ab/cd/"),   # multi level
        ("P9/xY/zZ/", "P9/xY/zZ/"),  # deep randomized, slash form
    ]:
        kind, path, off, size = _dv_descriptor("/tbl", {"deletionVector": {
            "storageType": "u", "pathOrInlineDv": f"{encoded_prefix}{u20}",
            "offset": 1, "sizeInBytes": 9, "cardinality": 1}})
        assert kind == "file" and off == 1
        want = f"/tbl/{dir_part}deletion_vector_{u}.bin"
        assert path == want, (encoded_prefix, path, want)


def test_delta_v2_checkpoint_with_sidecars(spark, tmp_path):
    """V2 CHECKPOINT (PROTOCOL.md "V2 Checkpoints", round 9): a
    uniquely-named top-level checkpoint carrying protocol/metaData/
    checkpointMetadata plus SIDECAR actions whose parquet files under
    _delta_log/_sidecars/ hold the add/remove state. Proof: the v0-v3
    JSONs are DELETED (vacuumed), so only the v2 checkpoint can seed
    replay — snapshot, post-checkpoint deltas, and BOTH DV commits must
    still resolve. The checkpoint bytes are built here with raw
    pyarrow/json (independent of the package's writers)."""
    import pyarrow as pa
    import pyarrow.parquet as _pq

    v2 = os.path.join(tmp_path, "v2cp")
    shutil.copytree(FIXTURE, v2)
    log = os.path.join(v2, "_delta_log")
    # state at v3 (mirrors the classic checkpoint the fixture ships):
    # metaData + adds for F3 (part=a) and F5 (part=b, OPTIMIZE output)
    with open(os.path.join(log, f"{0:020d}.json")) as f:
        meta_action = next(
            json.loads(x)["metaData"] for x in f.read().splitlines()
            if "metaData" in x)
    adds = {}
    for v in (2, 3):
        with open(os.path.join(log, f"{v:020d}.json")) as f:
            for line in f.read().splitlines():
                a = json.loads(line)
                if "add" in a:
                    adds[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    adds.pop(a["remove"]["path"], None)
    assert len(adds) == 2

    map_t = pa.map_(pa.string(), pa.string())
    add_t = pa.struct([
        ("path", pa.string()), ("partitionValues", map_t),
        ("size", pa.int64()), ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()), ("stats", pa.string()),
    ])
    side_schema = pa.schema([("add", add_t)])
    os.makedirs(os.path.join(log, "_sidecars"))
    side_names = []
    for i, a in enumerate(sorted(adds.values(), key=lambda x: x["path"])):
        rec = {"add": {
            "path": a["path"],
            "partitionValues": list(a["partitionValues"].items()),
            "size": a["size"], "modificationTime": a["modificationTime"],
            "dataChange": a["dataChange"], "stats": a.get("stats"),
        }}
        name = f"016ae953-37a1-4316-91c2-00000000000{i}.parquet"
        _pq.write_table(pa.Table.from_pylist([rec], schema=side_schema),
                        os.path.join(log, "_sidecars", name))
        side_names.append(name)

    proto_t = pa.struct([
        ("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32()),
        ("readerFeatures", pa.list_(pa.string())),
        ("writerFeatures", pa.list_(pa.string())),
    ])
    meta_t = pa.struct([
        ("id", pa.string()), ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", map_t), ("createdTime", pa.int64()),
    ])
    side_t = pa.struct([
        ("path", pa.string()), ("sizeInBytes", pa.int64()),
        ("modificationTime", pa.int64()),
    ])
    cpmeta_t = pa.struct([("version", pa.int64())])
    top_schema = pa.schema([
        ("protocol", proto_t), ("metaData", meta_t),
        ("checkpointMetadata", cpmeta_t), ("sidecar", side_t),
    ])
    rows = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["v2Checkpoint",
                                         "deletionVectors"],
                      "writerFeatures": ["v2Checkpoint"]},
         "metaData": None, "checkpointMetadata": None, "sidecar": None},
        {"protocol": None,
         "metaData": {"id": meta_action["id"],
                      "schemaString": meta_action["schemaString"],
                      "partitionColumns": meta_action["partitionColumns"],
                      "configuration": [], "createdTime": None},
         "checkpointMetadata": None, "sidecar": None},
        {"protocol": None, "metaData": None,
         "checkpointMetadata": {"version": 3}, "sidecar": None},
    ] + [
        {"protocol": None, "metaData": None, "checkpointMetadata": None,
         "sidecar": {"path": n, "sizeInBytes": 1, "modificationTime": 1}}
        for n in side_names
    ]
    top_name = (f"{3:020d}.checkpoint."
                "80a083e8-7026-4e79-81be-000000000000.parquet")
    _pq.write_table(pa.Table.from_pylist(rows, schema=top_schema),
                    os.path.join(log, top_name))
    # replace the classic checkpoint pointer + delete vacuumed history
    os.remove(os.path.join(log, f"{3:020d}.checkpoint.parquet"))
    for v in range(4):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 3, "size": len(rows), "type": "v2",
                   "path": top_name}, f)

    # current snapshot (v6): post-checkpoint insert + cumulative DV
    snap = {r.id: (r.value, r.part)
            for r in read_delta_snapshot(spark, v2).collect()}
    assert snap == {"id1": (10, "a"), "id3": (333, "a"), "id7": (70, "a")}
    # travel to the checkpoint version itself
    v3s = {r.id for r in read_delta_snapshot(spark, v2, version=3).collect()}
    assert v3s == {"id1", "id3", "id4", "id6"}
    # vacuumed below the checkpoint: refuses by name
    with pytest.raises(DeltaFormatError, match="cannot reconstruct"):
        read_delta_snapshot(spark, v2, version=2)
    # the DV delete view still reconstructs across the v2 checkpoint
    dv = read_delta_delete_view(spark, v2, 5)
    assert [r.id for r in dv.collect()] == ["id4"]
