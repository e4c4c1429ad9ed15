"""Foreign **Apache Iceberg v1/v2** table reader — the third open table
format this engine answers its queries over (after genuine Apache Hudi
and Delta Lake), including the reference's flagship question (which
rows did snapshot S delete? — DeleteView.java:112-163 asked of a format
the reference cannot read), answered EXACTLY on merge-on-read deletes:
an Iceberg position delete names (file, row ordinal), so the deleted
row images reconstruct without any user-supplied key.

Format implemented (public — the Apache Iceberg Table Spec,
https://iceberg.apache.org/spec/):

- ``metadata/v<N>.metadata.json`` (+ ``version-hint.text``): schemas,
  partition specs, snapshots (id, timestamp, sequence number, manifest
  list), snapshot log.
- **Manifest list** (Avro OCF, ``plans/avro_ocf.py``): one record per
  manifest — path, content (0 data / 1 deletes), sequence numbers.
- **Manifest** (Avro OCF): entries — status (0 existing / 1 added /
  2 deleted), snapshot_id, sequence numbers, and the ``data_file``
  struct (content 0 data / 1 position deletes / 2 equality deletes,
  file_path, record_count, ...).
- **Row-level deletes (v2)**: POSITION deletes apply as an anti-join of
  data rows on (recorded file path, ``_metadata.row_index``) against
  the delete files' (file_path, pos) pairs — exact by construction, no
  sequence-number reasoning needed because position deletes name their
  target file explicitly. EQUALITY deletes (the Flink CDC writer
  shape) apply by the spec's sequence rule: a data row dies when some
  equality-delete row matches all its ``equality_ids`` columns AND the
  delete's sequence number is STRICTLY greater than the data file's —
  one anti-join per distinct equality-column set, so a same-commit
  re-insert of the key survives (the CDC upsert). Equality-delete
  files naming no equality_ids refuse. Format v3 DELETION VECTORS
  (round 9): position-delete entries whose payload is a PUFFIN file
  (``plans/puffin.py`` — blob = big-endian length + magic D1 D3 39 64
  + portable 64-bit roaring + CRC, per the public Puffin spec) parse
  EXECUTOR-side in the reader Delta DVs share (``plans/row_deletes.py``)
  into (referenced file, ordinal) rows and apply through the same
  anti-join; a commit's new DV is cumulative, so its delete view is
  (new DV minus the superseded DV) — exact and keyless.

Relocation: ``file_path`` entries are full URIs under the table's
recorded ``location``; when the directory moves (this fixture is a
committed test artifact), paths re-root by prefix — comparisons (e.g.
position-delete targets) always use the RECORDED path, so relocation
cannot desynchronize them.

Scale shape: the driver reads metadata only (the JSON + OCF manifests —
the same planning bytes Iceberg's own drivers read); data moves through
``spark.read.parquet`` over the resolved files, position deletes apply
as one broadcast-able anti-join keyed on (path, row ordinal), and the
flagship view never touches a file the target snapshot didn't."""

from __future__ import annotations

import json
import os
import re
import struct
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.avro_ocf import read_ocf
from ..plans.fs import fs_for
from ..plans.pruning import may_overlap
from ..plans.row_deletes import delete_view, dv_positions

EXISTING, ADDED, DELETED = 0, 1, 2
DATA, POSITION_DELETES, EQUALITY_DELETES = 0, 1, 2

_VMETA_RE = re.compile(r"^v(\d+)\.metadata\.json$")


class IcebergFormatError(ValueError):
    """Structurally invalid or unsupported Iceberg table."""


def _load_metadata(base_path: str) -> dict:
    md_dir = os.path.join(base_path, "metadata")
    fs = fs_for(base_path)
    if not fs.isdir(md_dir):
        raise IcebergFormatError(f"no Iceberg metadata dir under {base_path!r}")
    hint = os.path.join(md_dir, "version-hint.text")
    name = None
    if fs.exists(hint):
        with open(hint) as f:
            name = f"v{f.read().strip()}.metadata.json"
    if name is None or not fs.exists(os.path.join(md_dir, name)):
        versions = sorted(
            (int(m.group(1)), n)
            for n in fs.listdir(md_dir)
            if (m := _VMETA_RE.match(n))
        )
        if not versions:
            raise IcebergFormatError(
                f"no v*.metadata.json under {md_dir!r}"
            )
        name = versions[-1][1]
    with open(os.path.join(md_dir, name)) as f:
        meta = json.load(f)
    fv = meta.get("format-version", 1)
    if fv not in (1, 2, 3):
        raise IcebergFormatError(
            f"unsupported Iceberg format-version {fv} (v1/v2/v3 only)"
        )
    return meta


def _relocate(recorded: str, location: str, base_path: str) -> str:
    """Re-root a recorded file URI under the actual table directory —
    committed fixtures and copied tables move; the log's ``location``
    prefix identifies the table-relative remainder."""
    for prefix in (location, location.rstrip("/")):
        if recorded.startswith(prefix + "/"):
            return os.path.join(base_path, recorded[len(prefix) + 1:])
    if recorded.startswith("file://"):
        return recorded[len("file://"):]
    if recorded.startswith("/"):
        return recorded
    return os.path.join(base_path, recorded)


_ICEBERG_TO_SPARK = {
    "string": T.StringType(), "long": T.LongType(), "int": T.IntegerType(),
    "integer": T.IntegerType(), "double": T.DoubleType(),
    "float": T.FloatType(), "boolean": T.BooleanType(),
    "date": T.DateType(), "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(), "binary": T.BinaryType(),
    "uuid": T.StringType(),
}


def _schema_for(meta: dict) -> T.StructType:
    sid = meta.get("current-schema-id", 0)
    schemas = meta.get("schemas") or []
    schema = next((s for s in schemas if s.get("schema-id") == sid), None)
    if schema is None:
        schema = meta.get("schema")  # v1 single-schema layout
    if schema is None:
        raise IcebergFormatError("no schema in table metadata")
    fields = []
    for f in schema["fields"]:
        t = f["type"]
        if isinstance(t, str) and t.startswith("decimal"):
            m = re.match(r"decimal\((\d+),\s*(\d+)\)", t)
            st: T.DataType = T.DecimalType(int(m.group(1)), int(m.group(2)))
        elif isinstance(t, str) and t in _ICEBERG_TO_SPARK:
            st = _ICEBERG_TO_SPARK[t]
        else:
            raise IcebergFormatError(
                f"unsupported Iceberg column type {t!r} for field "
                f"{f['name']!r}"
            )
        fields.append(T.StructField(f["name"], st, not f.get("required")))
    return T.StructType(fields)


def _select_snapshot(meta: dict, snapshot_id: int | None,
                     timestamp_ms: int | None) -> dict:
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    if not snaps:
        raise IcebergFormatError("table has no snapshots")
    if snapshot_id is not None and timestamp_ms is not None:
        raise ValueError("pass snapshot_id OR timestamp_ms, not both")
    if snapshot_id is not None:
        if snapshot_id not in snaps:
            raise IcebergFormatError(
                f"snapshot {snapshot_id} not in table (have "
                f"{sorted(snaps)})"
            )
        return snaps[snapshot_id]
    if timestamp_ms is not None:
        best = None
        for entry in meta.get("snapshot-log") or []:
            if entry["timestamp-ms"] <= timestamp_ms:
                best = entry["snapshot-id"]
        if best is None:
            raise IcebergFormatError(
                f"no snapshot at or before timestamp {timestamp_ms}"
            )
        return snaps[best]
    cur = meta.get("current-snapshot-id")
    if cur is None or cur not in snaps:
        raise IcebergFormatError("no current snapshot")
    return snaps[cur]


def _manifest_entries(base_path: str, meta: dict, snapshot: dict,
                      bounds: dict[str, tuple] | None = None):
    """Flattened (manifest content, entry) pairs of one snapshot's
    manifest list — driver-side OCF reads, metadata-scale.

    ``bounds`` arms manifest-LIST-level skipping: a DATA manifest whose
    ``partitions`` field_summaries (manifest_file field 507) PROVE every
    entry's identity partition value violates the bounds is never
    opened — the level above per-file ``_partition_pass`` pruning, and
    the one that matters for tables with thousands of manifests. Delete
    manifests are never skipped (their files may apply to kept data
    files whose partition values pruning could not read)."""
    location = meta.get("location", "")
    ml_path = _relocate(snapshot["manifest-list"], location, base_path)
    with open(ml_path, "rb") as f:
        _m, manifests = read_ocf(f.read())
    out = []
    for mf in manifests:
        if bounds and _manifest_summary_skip(mf, meta, bounds):
            continue
        mp = _relocate(mf["manifest_path"], location, base_path)
        with open(mp, "rb") as f:
            _m2, entries = read_ocf(f.read())
        for e in entries:
            out.append((mf.get("content", 0), e))
    return out


def _field_types_by_id(meta: dict) -> dict[int, str]:
    sid = meta.get("current-schema-id", 0)
    schemas = meta.get("schemas") or []
    schema = next((s for s in schemas if s.get("schema-id") == sid), None)
    if schema is None:
        schema = meta.get("schema") or {"fields": []}
    return {
        f["id"]: f["type"] for f in schema["fields"]
        if isinstance(f.get("type"), str)
    }


def _decode_single_value(b, ice_type: str | None):
    """Iceberg *binary single-value serialization* (spec appendix D) for
    the primitive types an identity partition field can carry. None =
    undecodable (unknown type / absent bytes): the caller must treat the
    bound as unusable, never as proof."""
    if b is None or ice_type is None:
        return None
    try:
        if ice_type in ("int", "date"):
            return struct.unpack("<i", b)[0]
        if ice_type in ("long", "time", "timestamp", "timestamptz"):
            return struct.unpack("<q", b)[0]
        if ice_type == "float":
            return struct.unpack("<f", b)[0]
        if ice_type == "double":
            return struct.unpack("<d", b)[0]
        if ice_type == "string":
            return bytes(b).decode("utf-8")
        if ice_type == "boolean":
            return bytes(b) != b"\x00"
    except (struct.error, UnicodeDecodeError):
        return None
    return None


def _manifest_summary_skip(mf: dict, meta: dict,
                           bounds: dict[str, tuple]) -> bool:
    """True only when a DATA manifest's field_summaries prove every
    entry's identity partition value lies outside ``bounds`` (and no
    entry has a null partition value). Anything undecodable keeps the
    manifest — skipping is an optimization, never a filter."""
    if mf.get("content", 0) != 0:
        return False
    summaries = mf.get("partitions")
    if not summaries:
        return False
    spec_id = mf.get("partition_spec_id", 0)
    spec = next(
        (s for s in meta.get("partition-specs") or []
         if s.get("spec-id") == spec_id),
        None,
    )
    if spec is None:
        return False
    by_id = _field_names_by_id(meta)
    types = _field_types_by_id(meta)
    for i, f in enumerate(spec.get("fields") or []):
        if i >= len(summaries):
            break
        if f.get("transform") != "identity":
            continue
        col = by_id.get(f.get("source-id"))
        if col not in bounds:
            continue
        s = summaries[i] or {}
        if s.get("contains_null"):
            continue  # a null partition value always passes file pruning
        t = types.get(f.get("source-id"))
        m_lo = _decode_single_value(s.get("lower_bound"), t)
        m_hi = _decode_single_value(s.get("upper_bound"), t)
        if not may_overlap(*bounds[col], m_lo, m_hi):
            return True
    return False


def _live_files(base_path: str, meta: dict, snapshot: dict,
                bounds: dict[str, tuple] | None = None):
    """(data adds, position-delete adds, equality-delete adds) live at
    a snapshot. Each returned data_file dict carries its entry's
    ``_seq`` (data sequence number) — the ordering equality deletes
    apply by."""
    data, pos, eq = [], [], []
    for _mcontent, e in _manifest_entries(base_path, meta, snapshot, bounds):
        if e["status"] == DELETED:
            continue
        df = dict(e["data_file"])
        df["_seq"] = e.get("sequence_number")
        c = df.get("content", DATA)
        if c == DATA:
            data.append(df)
        elif c == POSITION_DELETES:
            pos.append(df)
        else:
            if not df.get("equality_ids"):
                raise IcebergFormatError(
                    f"equality delete file {df.get('file_path')!r} names "
                    "no equality_ids — cannot apply; refused rather than "
                    "resurrect deleted rows"
                )
            eq.append(df)
    return data, pos, eq


def _field_names_by_id(meta: dict) -> dict[int, str]:
    sid = meta.get("current-schema-id", 0)
    schemas = meta.get("schemas") or []
    schema = next((s for s in schemas if s.get("schema-id") == sid), None)
    if schema is None:
        schema = meta.get("schema") or {"fields": []}
    return {f["id"]: f["name"] for f in schema["fields"]}


def _apply_eq_deletes(
    spark: SparkSession, base_path: str, meta: dict, schema: T.StructType,
    rows_with_seq: DataFrame, eq_files: list[dict],
) -> DataFrame:
    """Equality deletes (spec v2): a data row dies when some equality
    delete row matches ALL its equality columns AND the delete's
    sequence number is STRICTLY greater than the data file's — so a
    same-commit re-insert of the key survives (the Flink CDC upsert
    shape). One anti-join per distinct equality-column set; delete rows
    of a set union with per-row delete sequence numbers."""
    by_id = _field_names_by_id(meta)
    location = meta.get("location", "")
    names = [f.name for f in schema.fields]
    out = rows_with_seq
    groups: dict[tuple, list[dict]] = {}
    for f in eq_files:
        try:
            cols = tuple(by_id[i] for i in f["equality_ids"])
        except KeyError as exc:
            raise IcebergFormatError(
                f"equality delete {f.get('file_path')!r} references "
                f"unknown field id {exc}"
            ) from None
        groups.setdefault(cols, []).append(f)
    for cols, files in sorted(groups.items()):
        eq_schema = T.StructType(
            [f for f in schema.fields if f.name in cols]
        )
        parts = []
        for f in files:
            p = _relocate(f["file_path"], location, base_path)
            parts.append(
                spark.read.schema(eq_schema).parquet(p).withColumn(
                    "__eq_seq", F.lit(f.get("_seq")).cast("long")
                )
            )
        dels = parts[0]
        for p in parts[1:]:
            dels = dels.unionByName(p)
        dels = dels.select(
            *[F.col(c).alias(f"__eq_{c}") for c in cols], "__eq_seq"
        )
        cond = [
            out[c].eqNullSafe(dels[f"__eq_{c}"]) for c in cols
        ] + [out["__seq"] < dels["__eq_seq"]]
        combined = cond[0]
        for c in cond[1:]:
            combined = combined & c
        out = out.join(_size_hint(dels, files), combined, "left_anti")
    return out.select(*names, "__seq")


def _read_data_files(
    spark: SparkSession, base_path: str, meta: dict,
    schema: T.StructType, files: list[dict], with_ordinal: bool = False,
    with_seq: bool = False,
) -> DataFrame:
    """Scan data files; optionally attach the RECORDED path + row
    ordinal (for position-delete application and the flagship view)
    and/or the file's data sequence number (``__seq``, the ordering
    equality deletes apply by). Recorded paths re-attach by basename
    (unique per Iceberg table — UUID-suffixed naming), so relocation
    never desynchronizes the delete-file references."""
    if not files:
        df = spark.createDataFrame([], schema)
        if with_ordinal:
            df = (df.withColumn("__path", F.lit(None).cast("string"))
                    .withColumn("__pos", F.lit(None).cast("long")))
        if with_seq:
            df = df.withColumn("__seq", F.lit(None).cast("long"))
        return df
    location = meta.get("location", "")
    paths = [_relocate(f["file_path"], location, base_path) for f in files]
    df = spark.read.schema(schema).parquet(*paths)
    extra = []
    if with_ordinal:
        mapping = [
            (os.path.basename(f["file_path"]), f["file_path"]) for f in files
        ]
        m = F.create_map(
            *[x for bn, rec in mapping for x in (F.lit(bn), F.lit(rec))]
        )
        extra += [
            m[F.col("_metadata.file_name")].alias("__path"),
            F.col("_metadata.row_index").alias("__pos"),
        ]
    if with_seq:
        sm = F.create_map(*[
            x for f in files
            for x in (F.lit(os.path.basename(f["file_path"])),
                      F.lit(f.get("_seq")))
        ])
        extra.append(
            sm[F.col("_metadata.file_name")].cast("long").alias("__seq")
        )
    if extra:
        df = df.select(*[F.col(f.name) for f in schema.fields], *extra)
    return df


def _is_dv(f: dict) -> bool:
    """v3 deletion vector: a position-delete entry whose payload lives
    in a PUFFIN file (referenced_data_file/content_offset recorded)."""
    return (f.get("file_format") or "").upper() == "PUFFIN"


def _dv_ref(f: dict) -> str:
    """The RECORDED data file a v3 deletion vector applies to."""
    ref = f.get("referenced_data_file")
    if ref is None:
        raise IcebergFormatError(
            f"deletion vector {f.get('file_path')!r} records no "
            "referenced_data_file — cannot apply; refused rather "
            "than resurrect deleted rows"
        )
    return ref


def _dv_blob(f: dict, location: str, base_path: str) -> tuple:
    """The ``row_deletes`` blob of a v3 DV: the Puffin path relocates for
    READING, and ``content_size_in_bytes`` counts the 4-byte length and
    CRC around the DV."""
    return (
        "file", _relocate(f["file_path"], location, base_path),
        int(f.get("content_offset") or 0),
        int(f.get("content_size_in_bytes") or 0) - 8,
    )


def _read_pos_deletes(
    spark: SparkSession, base_path: str, meta: dict, files: list[dict],
    superseded: list[dict] | None = None,
) -> DataFrame:
    """(``__path``, ``__pos``) rows the non-empty position-delete
    ``files`` name, minus the positions the ``superseded`` DVs named.

    DVs are cumulative, one per data file, so their subtraction is per
    referenced file, inside the DV parse task. Plain position files
    subtract the superseded positions through one anti-join — only a
    snapshot that adds both plain files and DVs over older DVs pays it."""
    location = meta.get("location", "")
    old: dict[str, list] = {}
    for f in superseded or []:
        old.setdefault(_dv_ref(f), []).append(
            _dv_blob(f, location, base_path))
    dvs = [f for f in files if _is_dv(f)]
    plain = [f for f in files if not _is_dv(f)]
    parts = []
    if plain:
        paths = [_relocate(f["file_path"], location, base_path)
                 for f in plain]
        rows = spark.read.schema("file_path string, pos long").parquet(
            *paths
        ).select(F.col("file_path").alias("__path"),
                 F.col("pos").alias("__pos"))
        if old:
            rows = rows.join(dv_positions(spark, [
                (ref, blob, []) for ref, blobs in old.items() for blob in blobs
            ]).toDF("__path", "__pos"), ["__path", "__pos"], "left_anti")
        parts.append(rows)
    if dvs:
        # the referenced data file stays RECORDED — __path on data rows
        # re-attaches the recorded URI
        parts.append(dv_positions(spark, [
            (_dv_ref(f), _dv_blob(f, location, base_path),
             old.get(_dv_ref(f), []))
            for f in dvs
        ]).toDF("__path", "__pos"))
    return reduce(DataFrame.unionByName, parts)


# Manifest-driven join sizing: every delete file's entry records its
# record_count, so the TOTAL number of (path, pos) delete rows is known
# driver-side before any data is read. Below this bound the delete side
# ships as a broadcast relation instead of shuffling the (much larger)
# data side into a sort-merge join (guide §3.1 — pick the strategy
# deliberately; size estimates for a mapInPandas subtree are otherwise
# unknowable to Catalyst and default to sort-merge). 1M position rows is
# ~100 MB built — comfortable for executors at any cluster size; beyond
# it the shuffled join is the right call, so this degrades, never breaks.
_BROADCAST_DELETE_ROWS_MAX = 1_000_000


def _size_hint(dels: DataFrame, files: list[dict]) -> DataFrame:
    """Broadcast-hint ``dels`` when the manifests bound its rows."""
    total = 0
    for f in files:
        rc = f.get("record_count")
        if rc is None:
            return dels
        total += int(rc)
    return F.broadcast(dels) if total <= _BROADCAST_DELETE_ROWS_MAX else dels


# Driver-side bound on the plain-position-delete target probe: the probe
# collects DISTINCT target paths (≤ the delete files' total record_count,
# known from manifests before any read). Past the bound the probe is
# skipped — pruning is an optimization, so "all files" is the sound
# superset — keeping plan construction free of unbounded collects
# (guide §5.1) no matter how many delete rows a snapshot added.
_TARGET_PROBE_MAX_ROWS = 100_000


def _pos_delete_targets(
    spark: SparkSession, base_path: str, meta: dict, files: list[dict]
) -> set | None:
    """Basenames of the data files the given position-delete files can
    target, or None when the set is not worth (or not safe to) resolve
    driver-side. v3 DVs record referenced_data_file in the MANIFEST, so
    their targets resolve metadata-only — no Spark job; plain
    position-delete parquet is scanned for its distinct file_path column
    (one tiny columnar read), but only while the manifests BOUND the row
    count — an unbounded collect at plan time is how drivers die at
    100k-file scale. A superset is sound: callers only use this to prune
    the candidate scan list, the (path, pos) join stays exact."""
    targets: set = set()
    plain = []
    for f in files:
        if _is_dv(f):
            targets.add(os.path.basename(_dv_ref(f)))
        else:
            plain.append(f)
    if plain:
        total = 0
        for f in plain:
            rc = f.get("record_count")
            if rc is None:
                return None  # unsized delete file: skip the probe
            total += int(rc)
        if total > _TARGET_PROBE_MAX_ROWS:
            return None
        location = meta.get("location", "")
        paths = [_relocate(f["file_path"], location, base_path) for f in plain]
        schema = T.StructType([T.StructField("file_path", T.StringType())])
        for r in (
            spark.read.schema(schema).parquet(*paths)
            .select("file_path").distinct().collect()
        ):  # bounded by the manifest-recorded record_count, checked above
            targets.add(os.path.basename(r["file_path"]))
    return targets


def _identity_partition_names(meta: dict) -> dict[str, str]:
    """{manifest partition-struct field name: table column name} for
    IDENTITY-transform partition fields of the default spec — the only
    transform whose recorded value equals the column value, so the only
    one bounds can prune on directly (bucket/truncate/day values pass
    untouched: pruning is an optimization, never a filter)."""
    sid = meta.get("default-spec-id", 0)
    specs = meta.get("partition-specs") or []
    spec = next((s for s in specs if s.get("spec-id") == sid), None)
    if spec is None:
        return {}
    by_id = _field_names_by_id(meta)
    out = {}
    for f in spec.get("fields") or []:
        if f.get("transform") == "identity" and f.get("source-id") in by_id:
            out[f["name"]] = by_id[f["source-id"]]
    return out


def _partition_pass(df_entry: dict, ident: dict[str, str],
                    bounds: dict[str, tuple]) -> bool:
    """False only when an identity partition value PROVES every row of
    the file violates the bounds."""
    pv = df_entry.get("partition") or {}
    return all(
        may_overlap(*bounds[col], pv.get(pname), pv.get(pname))
        for pname, col in ident.items()
        if col in bounds
    )


def read_iceberg_snapshot(
    spark: SparkSession,
    base_path: str,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    bounds: dict[str, tuple] | None = None,
) -> DataFrame:
    """Snapshot of a foreign Iceberg table (current, by snapshot id, or
    by timestamp). Position deletes apply as one anti-join on
    (recorded path, row ordinal). ``bounds`` ({col: (lo, hi)}) prunes
    data files whose IDENTITY partition values provably exclude the
    range — the manifest-resident mirror of Delta's add.stats skipping
    and Hudi's column_stats (Spark still evaluates predicates
    row-level; pruning is never a filter)."""
    meta = _load_metadata(base_path)
    snap = _select_snapshot(meta, snapshot_id, timestamp_ms)
    schema = _schema_for(meta)
    data, pos, eq = _live_files(base_path, meta, snap, bounds)
    if bounds:
        ident = _identity_partition_names(meta)
        if ident:
            data = [f for f in data if _partition_pass(f, ident, bounds)]
    names = [f.name for f in schema.fields]
    if not pos and not eq:
        return _read_data_files(spark, base_path, meta, schema, data)
    rows = _read_data_files(
        spark, base_path, meta, schema, data,
        with_ordinal=bool(pos), with_seq=bool(eq),
    )
    if pos:
        dels = _read_pos_deletes(spark, base_path, meta, pos)
        rows = rows.join(_size_hint(dels, pos), ["__path", "__pos"], "left_anti")
    if eq:
        rows = _apply_eq_deletes(
            spark, base_path, meta, schema,
            rows.select(*names, "__seq"), eq,
        )
    return rows.select(*names)


def read_iceberg_incremental(
    spark: SparkSession,
    base_path: str,
    begin_snapshot_id_exclusive: int,
    end_snapshot_id_inclusive: int | None = None,
) -> DataFrame:
    """Appended rows per snapshot in (begin, end] (sequence-number
    order): the rows of every data file ADDED by each snapshot, stamped
    with ``_snapshot_id`` — Iceberg's incremental-append scan semantics
    (a delete snapshot adds no data files and emits nothing)."""
    meta = _load_metadata(base_path)
    schema = _schema_for(meta)
    snaps = sorted(
        meta.get("snapshots") or [], key=lambda s: s["sequence-number"]
    )
    by_id = {s["snapshot-id"]: s for s in snaps}
    if begin_snapshot_id_exclusive not in by_id:
        raise IcebergFormatError(
            f"begin snapshot {begin_snapshot_id_exclusive} not in table"
        )
    begin_seq = by_id[begin_snapshot_id_exclusive]["sequence-number"]
    end_seq = (
        by_id[end_snapshot_id_inclusive]["sequence-number"]
        if end_snapshot_id_inclusive is not None
        else snaps[-1]["sequence-number"]
    )
    parts = []
    for s in snaps:
        if not (begin_seq < s["sequence-number"] <= end_seq):
            continue
        adds = [
            e["data_file"]
            for _c, e in _manifest_entries(base_path, meta, s)
            if e["status"] == ADDED
            and e.get("snapshot_id") in (None, s["snapshot-id"])
            and e["data_file"].get("content", DATA) == DATA
        ]
        if adds:
            parts.append(
                _read_data_files(spark, base_path, meta, schema, adds)
                .withColumn(
                    "_snapshot_id", F.lit(s["snapshot-id"]).cast("long")
                )
            )
    if not parts:
        return spark.createDataFrame([], schema).withColumn(
            "_snapshot_id", F.lit(None).cast("long")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_iceberg_delete_view(
    spark: SparkSession,
    base_path: str,
    snapshot_id: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """THE FLAGSHIP question asked of a foreign Iceberg table: which
    rows did snapshot S delete? This decodes S's own manifests into the
    parts ``row_deletes.delete_view`` assembles — never an untouched
    file:

    - equality delete files ADDED by S: the parent snapshot's live rows
      semi-joined to the delete rows on the equality_ids columns (exact
      and keyless — every parent-live row has sequence < S's, so the
      spec's strict-inequality rule holds; a same-commit re-insert is
      not parent-live);
    - position deletes and v3 DVs ADDED by S: by position over the
      files they name, minus what the DVs S superseded already named
      (exact and keyless);
    - data files REMOVED by S: the keyed rewrite, the removed files'
      rows minus those position-deleted before S, against the rows of
      the files S added (``key_cols`` required)."""
    meta = _load_metadata(base_path)
    schema = _schema_for(meta)
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    if snapshot_id not in snaps:
        raise IcebergFormatError(f"snapshot {snapshot_id} not in table")
    snap = snaps[snapshot_id]
    entries = _manifest_entries(base_path, meta, snap)

    def dfiles(status, content):
        out = []
        for _c, e in entries:
            if (e["status"] == status
                    and e["data_file"].get("content", DATA) == content):
                df = dict(e["data_file"])
                df["_seq"] = e.get("sequence_number")
                out.append(df)
        return out

    pos_added = dfiles(ADDED, POSITION_DELETES)
    pos_prior = dfiles(EXISTING, POSITION_DELETES)
    # a removed DV is superseded only when S writes new DVs: v3 DVs are
    # cumulative, the new one holding every position of the old
    superseded = []
    if any(_is_dv(f) for f in pos_added):
        superseded = [
            f for f in dfiles(DELETED, POSITION_DELETES) if _is_dv(f)
        ]
    eq_added = dfiles(ADDED, EQUALITY_DELETES)
    removed_data = dfiles(DELETED, DATA)
    added_data = dfiles(ADDED, DATA)
    live_data = dfiles(EXISTING, DATA) + added_data

    exact = []
    if eq_added:
        snaps_by_seq = sorted(
            (meta.get("snapshots") or []), key=lambda s: s["sequence-number"]
        )
        prev = None
        for s in snaps_by_seq:
            if s["sequence-number"] < snap["sequence-number"]:
                prev = s
        if prev is not None:
            prev_rows = read_iceberg_snapshot(
                spark, base_path, snapshot_id=prev["snapshot-id"]
            )
            by_id = _field_names_by_id(meta)
            location = meta.get("location", "")
            for f in eq_added:
                cols = [by_id[i] for i in f["equality_ids"]]
                eq_schema = T.StructType(
                    [fld for fld in schema.fields if fld.name in cols]
                )
                dels = spark.read.schema(eq_schema).parquet(
                    _relocate(f["file_path"], location, base_path)
                )
                exact.append(
                    prev_rows.join(_size_hint(dels, [f]), cols, "left_semi")
                )
    by_position = None
    if pos_added:
        dels = _read_pos_deletes(spark, base_path, meta, pos_added, superseded)
        # target pruning resolves from MANIFEST metadata for DVs (no
        # Spark job) — a superset is sound, the (path, pos) join stays
        # exact
        targets = _pos_delete_targets(spark, base_path, meta, pos_added)
        target_files = [
            f for f in live_data + removed_data
            if targets is None or os.path.basename(f["file_path"]) in targets
        ]
        rows = _read_data_files(
            spark, base_path, meta, schema, target_files, with_ordinal=True
        )
        by_position = (rows, _size_hint(dels, pos_added))
    cand = survivors = None
    if removed_data:
        cand = _read_data_files(
            spark, base_path, meta, schema, removed_data, with_ordinal=True
        )
        if pos_prior:
            prior = _read_pos_deletes(spark, base_path, meta, pos_prior)
            cand = cand.join(_size_hint(prior, pos_prior),
                             ["__path", "__pos"], "left_anti")
        cand = cand.select(*[f.name for f in schema.fields])
        if added_data:
            survivors = _read_data_files(
                spark, base_path, meta, schema, added_data
            )
    out = delete_view(
        spark, schema, error=IcebergFormatError,
        what=f"snapshot {snapshot_id}", exact=exact,
        by_position=by_position, removed=cand, added=survivors,
        key_cols=key_cols,
    )
    return out.withColumn(
        "_deleted_by_snapshot", F.lit(snapshot_id).cast("long")
    ).withColumn(
        "_deleted_at_ts", F.lit(snap.get("timestamp-ms")).cast("long")
    )


# -- export OUT: native COW table -> genuine Iceberg v2 layout --------------

# manifest / manifest-list Avro schemas: the required v2 subset this
# module's reader consumes, with the spec's field-ids (Iceberg spec
# "Manifests" / "Snapshots" tables). The partition struct r102 is built
# per-table from the partition spec.
_FIELD_SUMMARY_SCHEMA = {
    "type": "record", "name": "r508", "fields": [
        {"name": "contains_null", "type": "boolean", "field-id": 509},
        {"name": "contains_nan", "type": ["null", "boolean"], "field-id": 518},
        {"name": "lower_bound", "type": ["null", "bytes"], "field-id": 510},
        {"name": "upper_bound", "type": ["null", "bytes"], "field-id": 511},
    ],
}

_MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {"name": "partitions",
         "type": ["null", {"type": "array", "items": _FIELD_SUMMARY_SCHEMA}],
         "field-id": 507},
    ],
}


def _manifest_entry_schema(partition_fields: list[tuple[str, str]]) -> dict:
    """manifest_entry schema with the table's r102 partition struct
    ([(name, avro primitive)] — empty for unpartitioned tables)."""
    r102 = {
        "type": "record", "name": "r102", "fields": [
            {"name": n, "type": ["null", t], "field-id": 1000 + i}
            for i, (n, t) in enumerate(partition_fields)
        ],
    }
    return {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"],
             "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "field-id": 4},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string",
                     "field-id": 101},
                    {"name": "partition", "type": r102, "field-id": 102},
                    {"name": "record_count", "type": "long",
                     "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                    {"name": "equality_ids",
                     "type": ["null", {"type": "array", "items": "int"}],
                     "field-id": 135},
                ],
            }, "field-id": 2},
        ],
    }


_ICE_TYPES = {
    "string": ("string", "string"),
    "long": ("long", "long"),
    "integer": ("int", "int"),
    "date": ("date", "int"),
}  # Spark typeName -> (iceberg type, avro primitive)


def _encode_single_value(v, ice_type: str) -> bytes:
    """Inverse of ``_decode_single_value`` for the types the export's
    identity partitions can carry."""
    if ice_type in ("int", "date"):
        return struct.pack("<i", int(v))
    if ice_type == "long":
        return struct.pack("<q", int(v))
    if ice_type == "string":
        return str(v).encode("utf-8")
    raise IcebergFormatError(f"no single-value encoding for {ice_type!r}")


def _iceberg_export_work(batches):
    """Executor half of ``export_iceberg``: one input row = one data-file
    rewrite (drop the _hoodie_* meta columns; identity-partitioned
    Iceberg files KEEP the source column — the transform records the
    value in the manifest, the file stays self-describing)."""
    import pandas as pd
    import pyarrow.parquet as pq

    meta_cols = {
        "_hoodie_commit_time", "_hoodie_commit_seqno", "_hoodie_record_key",
        "_hoodie_partition_path", "_hoodie_file_name",
    }
    for pdf in batches:
        out = []
        for src, dst in pdf.itertuples(index=False):
            tbl = pq.read_table(src)
            drop = [c for c in tbl.column_names if c in meta_cols]
            if drop:
                tbl = tbl.drop_columns(drop)
            tbl = tbl.replace_schema_metadata(None)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            pq.write_table(tbl, dst, coerce_timestamps="us",
                           allow_truncated_timestamps=True)
            out.append((os.path.basename(dst), tbl.num_rows,
                        os.path.getsize(dst)))
        yield pd.DataFrame(out, columns=["filename", "nrec", "size"])


# Bumped on any change to the on-disk layout this exporter writes, so
# callers that cache exports (e.g. lake_export_interop's marker file)
# invalidate stale directories automatically (r8 ADVICE).
ICEBERG_EXPORT_LAYOUT_VERSION = 1


def export_iceberg(table, out_dir: str,
                   table_name: str = "export_iceberg",
                   up_to: str | None = None) -> str:
    """Export a native COW table as a GENUINE Apache Iceberg v2 layout:
    one snapshot per native commit, per-snapshot manifest (OCF) holding
    the full live file set (ADDED this commit / EXISTING carried /
    DELETED replaced), manifest list with identity-partition
    field_summaries, one metadata JSON per version + version-hint —
    completing the write half of the four-stack matrix (Hudi COW F13,
    Hudi MOR G8, Delta H8). The manifests are written by the package's
    own Avro encoder, byte-pinned against the real ``org.apache.avro``
    (tests/test_avro_golden.py); the round trip reads back through this
    module's own reader at every snapshot.

    Scale shape (same contract as ``export_delta``): the driver walks
    only the timeline; every data byte moves in ONE Spark job, one task
    per output file (``_iceberg_export_work``); metadata publishes only
    after all files land. MOR tables must compact first.

    INCREMENTAL SYNC (round 9): when ``out_dir`` already holds a
    previous export of the same table, only the native commits after
    the exported snapshot-log materialize (new data files, manifests,
    manifest lists and metadata versions; previously exported bytes are
    never rewritten — carried entries' record counts/sizes come from
    the last exported manifest, not from re-reading data files). The
    exported snapshot-log must be a prefix of the native timeline;
    divergence raises. The exported table-uuid is reused."""
    if any(
        stat.log_file
        for ts in table.timeline.timestamps()
        for _p, stat in table.timeline.commit_metadata(ts).all_stats()
    ):
        raise IcebergFormatError(
            "export_iceberg supports COW tables only: MOR delta-log "
            "slices have no Iceberg equivalent — compact first"
        )

    from ..plans.avro_ocf import write_ocf

    location = f"file://{os.path.abspath(out_dir)}"
    meta_dir = os.path.join(out_dir, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    timestamps = table.timeline.timestamps()
    if up_to is not None:
        # export only the timeline prefix <= up_to (staged-sync tests/demos)
        timestamps = [t for t in timestamps if t <= up_to]
    pf = getattr(table, "partition_field", None)

    # INCREMENTAL SYNC (round 9): a previous export's snapshot-log must
    # map 1:1 onto the first K native instants (timestamps compared);
    # only instants after it materialize, and the exported table-uuid is
    # reused so the identity stays stable across sync calls
    exported_n = 0
    table_uuid = None
    if os.path.exists(os.path.join(meta_dir, "version-hint.text")):
        prev_meta = _load_metadata(out_dir)
        table_uuid = prev_meta["table-uuid"]
        slog = prev_meta.get("snapshot-log") or []
        exported_n = len(slog)
        if exported_n > len(timestamps):
            raise IcebergFormatError(
                f"out_dir {out_dir!r} holds {exported_n} exported "
                f"snapshots but the source has only {len(timestamps)} "
                "commits; histories diverged"
            )
        for i, entry in enumerate(slog):
            if entry["timestamp-ms"] != _instant_ms(timestamps[i]):
                raise IcebergFormatError(
                    f"exported snapshot {i} (ts-ms "
                    f"{entry['timestamp-ms']}) does not match source "
                    f"instant {timestamps[i]}; histories diverged — "
                    "export to a fresh directory"
                )
    if exported_n and exported_n == len(timestamps):
        return out_dir  # nothing new: byte-level no-op

    # schema bookkeeping: one Iceberg schema per distinct native schema
    meta_cols = {
        "_hoodie_commit_time", "_hoodie_commit_seqno", "_hoodie_record_key",
        "_hoodie_partition_path", "_hoodie_file_name",
    }
    schemas: list[dict] = []
    schema_ids: dict[str, int] = {}  # native schema_json -> schema-id
    field_ids: dict[str, int] = {}  # column name -> stable field id
    ice_type_of: dict[str, str] = {}

    def _ice_schema(schema_json: str) -> int:
        if schema_json in schema_ids:
            return schema_ids[schema_json]
        st = T.StructType.fromJson(json.loads(schema_json))
        fields = []
        for f in st.fields:
            if f.name in meta_cols:
                continue
            tn = f.dataType.typeName()
            if tn in _ICE_TYPES:
                it = _ICE_TYPES[tn][0]
            elif tn in ("double", "float", "boolean", "timestamp",
                        "timestamp_ntz"):
                # Iceberg: "timestamptz" = with zone (Spark timestamp),
                # "timestamp" = without (Spark timestamp_ntz)
                it = {"timestamp": "timestamptz",
                      "timestamp_ntz": "timestamp"}.get(tn, tn)
            elif tn == "decimal":
                it = f"decimal({f.dataType.precision}, {f.dataType.scale})"
            else:
                raise IcebergFormatError(
                    f"column {f.name!r}: no Iceberg mapping for Spark type "
                    f"{tn!r}"
                )
            fid = field_ids.setdefault(f.name, len(field_ids) + 1)
            ice_type_of[f.name] = it
            fields.append({"id": fid, "name": f.name,
                           "required": False, "type": it})
        sid = len(schemas)
        schemas.append({"schema-id": sid, "type": "struct",
                        "fields": fields})
        schema_ids[schema_json] = sid
        return sid

    # driver planning pass: work units + per-version manifest entries
    work: list[tuple[str, str]] = []
    plan: list[dict] = []
    live: dict[str, dict] = {}  # file_id -> entry skeleton
    snap_base = 8_200_000_000_000_000_000
    for v, ts in enumerate(timestamps):
        meta = table.timeline.commit_metadata(ts)
        sid = _ice_schema(meta.schema_json) if meta.schema_json else 0
        snap_id = snap_base + v + 1
        seq = v + 1
        added, deleted = [], []
        for partition, stat in meta.all_stats():
            seg = f"{pf}={partition}/" if pf else ""
            fname = f"{v:05d}-{stat.file_id}.parquet"
            rel = f"data/{seg}{fname}"
            if v >= exported_n:
                work.append((os.path.join(table.base_path, stat.path),
                             os.path.join(out_dir, rel)))
            old = live.pop(stat.file_id, None)
            if old is not None:
                deleted.append(old)
            live[stat.file_id] = {
                "rel": rel, "fname": fname, "snap": snap_id, "seq": seq,
                "pv": partition if pf else None,
            }
            added.append(live[stat.file_id])
        plan.append({"v": v, "ts": ts, "snap": snap_id, "seq": seq,
                     "schema_id": sid, "added": added, "deleted": deleted,
                     "live": list(live.values())})

    if not schemas:
        raise IcebergFormatError(
            "table records no schema in any commit — cannot author "
            "Iceberg metadata"
        )

    results: dict[str, tuple[int, int]] = {}  # filename -> (nrec, size)
    if exported_n:
        # carried EXISTING entries in NEW manifests need the old files'
        # record counts/sizes: the last exported manifest already
        # records them (metadata-scale OCF read; no data file touched)
        from ..plans.avro_ocf import read_ocf

        with open(os.path.join(meta_dir,
                               f"m{exported_n - 1:05d}.avro"), "rb") as f:
            _schema, old_entries = read_ocf(f.read())
        for e in old_entries:
            dfile = e["data_file"]
            results[os.path.basename(dfile["file_path"])] = (
                dfile["record_count"], dfile["file_size_in_bytes"])
    if work:
        for r in (
            table.spark.createDataFrame(work, "src string, dst string")
            .repartition(min(len(work), 256))
            .mapInPandas(_iceberg_export_work,
                         "filename string, nrec long, size long")
            .collect()  # one row per FILE, never data rows
        ):
            results[r.filename] = (r.nrec, r.size)

    pf_ice = ice_type_of.get(pf) if pf else None
    if pf and pf_ice not in ("string", "long", "int", "date"):
        raise IcebergFormatError(
            f"partition column {pf!r}: identity transform over "
            f"{pf_ice!r} has no single-value bound encoding here"
        )
    entry_schema = _manifest_entry_schema(
        [(pf, {"string": "string", "long": "long", "int": "int",
               "date": "int"}[pf_ice])] if pf else []
    )

    def _typed_pv(v):
        # timeline partition values are path strings; identity bounds
        # and r102 values must carry the COLUMN type (lexical "10"<"9"
        # would corrupt numeric summaries)
        if v is None:
            return None
        return int(v) if pf_ice in ("long", "int", "date") else str(v)

    def _entry(status, snap_for, e):
        nrec, size = results[e["fname"]]
        return {
            "status": status, "snapshot_id": snap_for,
            "sequence_number": e["seq"], "file_sequence_number": e["seq"],
            "data_file": {
                "content": DATA, "file_path": f"{location}/{e['rel']}",
                "file_format": "PARQUET",
                "partition": ({pf: _typed_pv(e["pv"])} if pf else {}),
                "record_count": nrec, "file_size_in_bytes": size,
                "equality_ids": None,
            },
        }

    snapshots, snapshot_log, metadata_log = [], [], []
    for p in plan:
        m_name = f"m{p['v']:05d}.avro"
        ml_name = f"snap-{p['snap']}-manifest-list.avro"
        if p["v"] >= exported_n:
            # an entry was added THIS commit iff its adding snapshot is
            # this one — O(1) per entry (membership tests against the
            # added list would be quadratic at real file counts)
            carried = [e for e in p["live"] if e["snap"] != p["snap"]]
            entries = (
                [_entry(ADDED, p["snap"], e) for e in p["added"]]
                + [_entry(EXISTING, e["snap"], e) for e in carried]
                + [_entry(DELETED, p["snap"], e) for e in p["deleted"]]
            )
            m_img = write_ocf(entry_schema, entries)
            with open(os.path.join(meta_dir, m_name), "wb") as f:
                f.write(m_img)

            # Summaries/min_sequence_number must cover EVERY entry the
            # manifest carries, including DELETED ones (r8 ADVICE): an
            # external incremental/changelog reader pruning manifests by
            # field_summary may otherwise skip a manifest whose only
            # relevant entries are DELETED.
            all_entries = p["live"] + p["deleted"]
            summary = None
            if pf:
                pvs = [_typed_pv(e["pv"]) for e in all_entries
                       if e["pv"] is not None]
                if pvs:
                    summary = [{
                        "contains_null": any(e["pv"] is None
                                             for e in all_entries),
                        "contains_nan": False,
                        "lower_bound": _encode_single_value(min(pvs), pf_ice),
                        "upper_bound": _encode_single_value(max(pvs), pf_ice),
                    }]
            mf = {
                "manifest_path": f"{location}/metadata/{m_name}",
                "manifest_length": len(m_img), "partition_spec_id": 0,
                "content": 0, "sequence_number": p["seq"],
                "min_sequence_number": min(
                    (e["seq"] for e in all_entries), default=p["seq"]),
                "added_snapshot_id": p["snap"],
                "added_files_count": len(p["added"]),
                "existing_files_count": len(carried),
                "deleted_files_count": len(p["deleted"]),
                "added_rows_count": sum(
                    results[e["fname"]][0] for e in p["added"]),
                "existing_rows_count": sum(
                    results[e["fname"]][0] for e in carried),
                "deleted_rows_count": sum(
                    results[e["fname"]][0] for e in p["deleted"]),
                "partitions": summary,
            }
            with open(os.path.join(meta_dir, ml_name), "wb") as f:
                f.write(write_ocf(_MANIFEST_FILE_SCHEMA, [mf]))

        ts_ms = _instant_ms(p["ts"])
        snapshots.append({
            "snapshot-id": p["snap"], "timestamp-ms": ts_ms,
            "sequence-number": p["seq"],
            "summary": {"operation": "append" if not p["deleted"]
                        else "overwrite"},
            "manifest-list": f"{location}/metadata/{ml_name}",
            "schema-id": p["schema_id"],
        })
        snapshot_log.append({"timestamp-ms": ts_ms,
                             "snapshot-id": p["snap"]})

        meta_json = {
            "format-version": 2,
            "table-uuid": (table_uuid or
                           "00000000-0000-4000-8000-%012d" % len(timestamps)),
            "location": location, "name": table_name,
            "last-sequence-number": p["seq"], "last-updated-ms": ts_ms,
            "last-column-id": len(field_ids),
            "current-schema-id": p["schema_id"], "schemas": list(schemas),
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": (
                [{"name": pf, "transform": "identity",
                  "source-id": field_ids[pf], "field-id": 1000}]
                if pf else [])}],
            "last-partition-id": 1000 if pf else 999,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {"write.format.default": "parquet"},
            "current-snapshot-id": p["snap"],
            "snapshots": list(snapshots),
            "snapshot-log": list(snapshot_log),
            "metadata-log": list(metadata_log),
        }
        mfile = f"v{p['v'] + 1}.metadata.json"
        if p["v"] >= exported_n:
            with open(os.path.join(meta_dir, mfile), "w") as f:
                json.dump(meta_json, f, indent=1)
        metadata_log.append({"timestamp-ms": ts_ms,
                             "metadata-file": f"{location}/metadata/{mfile}"})

    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(len(timestamps)))
    return out_dir


def _instant_ms(ts: str) -> int:
    """Deterministic timestamp-ms from a 14-digit native instant."""
    import calendar

    return calendar.timegm((
        int(ts[0:4]), int(ts[4:6]), int(ts[6:8]),
        int(ts[8:10]), int(ts[10:12]), int(ts[12:14]), 0, 0, 0,
    )) * 1000
