"""Foreign **Delta Lake** table reader — the second open table format
(after genuine Apache Hudi COW/MOR, ``sources/hudi.py``) this engine
answers its queries over, including the reference's flagship question
(which rows did commit V delete? — ``DeleteView.java:112-163`` asked of
a table the reference cannot read at all).

Format implemented (public — the Delta Transaction Log Protocol,
https://github.com/delta-io/delta/blob/master/PROTOCOL.md):

- ``_delta_log/<version>.json``: newline-delimited action JSON per
  commit — ``metaData`` (id, schemaString = Spark StructType JSON,
  partitionColumns, configuration), ``add`` (path, partitionValues,
  size, dataChange, stats JSON), ``remove`` (path, dataChange),
  ``protocol`` (minReaderVersion, readerFeatures), ``commitInfo``
  (timestamp ms).
- ``_delta_log/<version>.checkpoint.parquet`` (+ multi-part
  ``.checkpoint.<i>.<n>.parquet``) with ``_last_checkpoint``: the
  compacted state at a version — replay starts from the newest eligible
  checkpoint and applies only the JSON deltas after it, so a
  100k-commit table costs one parquet read + a handful of JSONs, not
  100k JSON parses. **V2 checkpoints (round 9)**: a uniquely-named
  ``<v>.checkpoint.<uuid>.{json|parquet}`` top-level file
  (protocol/metaData/checkpointMetadata) whose SIDECAR actions
  reference add/remove parquet under ``_delta_log/_sidecars/`` — the
  ``v2Checkpoint`` reader feature is supported. Older JSONs may be vacuumed; requesting a version
  below the earliest reconstructable one raises with the available
  range named.
- **Snapshot semantics**: replay actions in version order; last
  ``metaData`` wins; an ``add`` for a path supersedes earlier actions
  for that path; a ``remove`` drops it. Partition column VALUES live in
  ``add.partitionValues`` (string-encoded), not in the data files.
- **Protocol gating**: ``minReaderVersion`` 1/2 read directly; 3 reads
  only when every ``readerFeatures`` entry is supported here
  (``deletionVectors`` and ``columnMapping`` ARE supported — see
  below); unknown features refuse BY NAME.
- **Column mapping (round 9)**: modes ``name`` and ``id`` read via the
  PHYSICAL schema derived from the logical schemaString's field
  metadata (``delta.columnMapping.physicalName`` at every nesting
  level, ``delta.columnMapping.id`` re-attached as ``parquet.field.id``
  so Spark's native field-id resolution serves mode ``id``); partition
  values, stats keys and hive dirs resolve physically; the logical
  shape is rebuilt with a recursive rename (structs / arrays / maps).
  Unknown modes refuse by name.
- **Deletion vectors (round 8)**: an add's DV (inline z85, on-disk
  'u' z85-uuid-named file, or absolute-path 'p'; RoaringBitmapArray
  portable serialization, ``plans/roaring.py`` — the 32-bit roaring
  layer golden-vector-pinned against the real org.roaringbitmap)
  parses EXECUTOR-side in the reader Iceberg v3 DVs share
  (``plans/row_deletes.py``) into (file, row ordinal) rows and applies
  as an anti-join on ``_metadata.row_index``. A DV commit's delete view
  is EXACT and keyless: deleted rows = (new DV minus old DV) by ordinal.

Scale shape: the driver touches only the log (KB-scale JSON + one
checkpoint parquet footer/read — the same class of planning work Delta's
own driver does); all data moves through ``spark.read.parquet`` over the
resolved live files. When every file path carries hive-style partition
dirs (``part=a/...``, the layout Delta writers produce), one
``basePath``-rooted scan serves the whole snapshot and Spark's partition
pruning + parquet pushdown apply untouched; otherwise files group by
partition value tuple and each group scans once with its partition
columns attached as literals. ``add.stats`` min/max prune files under
point/range predicates before any scan (the column-stats data-skipping
mirror of ``sources/hudi.py``'s G14)."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.fs import fs_for
from ..plans.pruning import may_overlap
from ..plans.row_deletes import delete_view, dv_positions, net_changes, net_diff

LOG_DIR = "_delta_log"

# reader features this implementation actually honors (PROTOCOL.md
# "reader features"); anything else refuses by name
_SUPPORTED_READER_FEATURES = {
    "timestampNtz", "deletionVectors", "columnMapping", "v2Checkpoint",
}


class DeltaFormatError(ValueError):
    """Structurally invalid or unsupported Delta table."""


@dataclass
class DeltaState:
    """Replayed log state at one version."""

    version: int
    schema: T.StructType
    partition_columns: list[str]
    adds: dict[str, dict]  # path -> add action (live files)
    commit_ts: dict[int, int] = field(default_factory=dict)  # version -> ms
    column_mapping_mode: str = "none"  # delta.columnMapping.mode

    @property
    def mapped(self) -> bool:
        return self.column_mapping_mode != "none"

    def physical_schema(self) -> T.StructType:
        return _physical_schema(self.schema)

    def logical_to_physical(self) -> dict[str, str]:
        """Top-level logical name -> physical (parquet / partitionValues
        / stats) name. Identity when column mapping is off."""
        if not self.mapped:
            return {f.name: f.name for f in self.schema.fields}
        return {
            lf.name: pf.name
            for lf, pf in zip(self.schema.fields,
                              self.physical_schema().fields)
        }


# --- column mapping (PROTOCOL.md "Column Mapping") ----------------------
# With delta.columnMapping.mode = 'name' or 'id', data files store
# columns under per-field PHYSICAL names ('col-<uuid>'), recorded in the
# logical schema's field metadata as 'delta.columnMapping.physicalName'
# (+ an integer 'delta.columnMapping.id'); add.partitionValues keys,
# add.stats keys and hive partition dirs all use physical names too.
# This reader scans with the physical schema (field ids attached as
# 'parquet.field.id' metadata so Spark's native fieldId resolution
# kicks in for mode 'id' tables whose physical names ever diverged) and
# rebuilds the logical shape with a recursive rename expression —
# struct fields at every nesting level, array elements and map values
# included.

_CM_PHYS = "delta.columnMapping.physicalName"
_CM_ID = "delta.columnMapping.id"


def _physical_type(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType([_physical_field(f) for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_physical_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _physical_type(dt.keyType),
            _physical_type(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _physical_field(f: T.StructField) -> T.StructField:
    md = f.metadata or {}
    meta = {}
    if _CM_ID in md:
        meta["parquet.field.id"] = md[_CM_ID]
    return T.StructField(
        md.get(_CM_PHYS, f.name), _physical_type(f.dataType), f.nullable, meta
    )


def _physical_schema(schema: T.StructType) -> T.StructType:
    return T.StructType([_physical_field(f) for f in schema.fields])


def _logical_expr(col, phys_dt: T.DataType, logical_dt: T.DataType):
    """Rename a physical-shaped column back to its logical shape,
    recursively. Null structs stay null (a bare F.struct rebuild would
    turn NULL into a struct of NULLs)."""
    if isinstance(logical_dt, T.StructType):
        rebuilt = F.struct(*[
            _logical_expr(col.getField(pf.name), pf.dataType,
                          lf.dataType).alias(lf.name)
            for pf, lf in zip(phys_dt.fields, logical_dt.fields)
        ])
        return F.when(col.isNull(), F.lit(None).cast(logical_dt)).otherwise(
            rebuilt
        )
    if isinstance(logical_dt, T.ArrayType):
        return F.transform(
            col,
            lambda x: _logical_expr(
                x, phys_dt.elementType, logical_dt.elementType
            ),
        )
    if isinstance(logical_dt, T.MapType):
        # map KEYS must be primitive under column mapping (parquet map
        # keys are); only values can carry renamed nested fields
        return F.transform_values(
            col,
            lambda _k, v: _logical_expr(
                v, phys_dt.valueType, logical_dt.valueType
            ),
        )
    return col


def _log_path(base_path: str) -> str:
    return os.path.join(base_path, LOG_DIR)


def _list_versions(base_path: str) -> list[int]:
    fs = fs_for(base_path)
    out = []
    for name in fs.listdir(_log_path(base_path)):
        stem, ext = os.path.splitext(name)
        if ext == ".json" and stem.isdigit():
            out.append(int(stem))
    return sorted(out)


def _last_checkpoint(base_path: str):
    p = os.path.join(_log_path(base_path), "_last_checkpoint")
    fs = fs_for(base_path)
    if not fs.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _checkpoint_files(base_path: str, version: int, parts: int | None) -> list[str]:
    d = _log_path(base_path)
    if not parts:
        return [os.path.join(d, f"{version:020d}.checkpoint.parquet")]
    return [
        os.path.join(
            d, f"{version:020d}.checkpoint.{i:010d}.{parts:010d}.parquet"
        )
        for i in range(1, parts + 1)
    ]


def _check_protocol(p: dict) -> None:
    reader = p.get("minReaderVersion", 1)
    if reader <= 2:
        return
    feats = set(p.get("readerFeatures") or [])
    unsupported = sorted(feats - _SUPPORTED_READER_FEATURES)
    if unsupported:
        raise DeltaFormatError(
            f"unsupported Delta reader feature(s) {unsupported}: this "
            "reader honors only "
            f"{sorted(_SUPPORTED_READER_FEATURES)}; refusing rather than "
            "misread (e.g. ignoring deletionVectors would resurrect "
            "deleted rows)"
        )


def _check_metadata(md: dict) -> None:
    fmt = (md.get("format") or {}).get("provider", "parquet")
    if fmt != "parquet":
        raise DeltaFormatError(f"unsupported Delta data format {fmt!r}")
    conf = md.get("configuration") or {}
    mode = conf.get("delta.columnMapping.mode", "none")
    if mode not in ("none", "name", "id"):
        raise DeltaFormatError(
            f"delta.columnMapping.mode={mode!r} unknown (this reader "
            "implements PROTOCOL.md modes 'none', 'name' and 'id'); "
            "refusing rather than misread physical column names"
        )


_DV_STORAGE_TYPES = {"i", "u", "p"}


def _check_add(add: dict) -> None:
    dv = add.get("deletionVector")
    if dv and dv.get("storageType") not in _DV_STORAGE_TYPES:
        raise DeltaFormatError(
            f"data file {add.get('path')!r} carries a deletion vector "
            f"with unknown storageType {dv.get('storageType')!r}; "
            "reading it without applying the DV would resurrect deleted "
            "rows — refused"
        )


def _dv_descriptor(base_path: str, add: dict) -> tuple | None:
    """Normalize an add's deletionVector into the blob
    (kind, payload, offset, size) ``row_deletes.dv_positions`` reads —
    PROTOCOL.md storage types: 'i' inline (Z85 blob), 'u' UUID file
    (pathOrInlineDv = <optional prefix><20-char Z85 uuid>, file
    <prefix>/deletion_vector_<uuid>.bin under the table), 'p' absolute
    path."""
    import uuid as _uuid

    dv = add.get("deletionVector")
    if not dv:
        return None
    st = dv["storageType"]
    if st == "i":
        return ("inline", dv["pathOrInlineDv"], 0, int(dv["sizeInBytes"]))
    if st == "p":
        off = dv.get("offset")
        return ("file", dv["pathOrInlineDv"],
                1 if off is None else int(off), int(dv["sizeInBytes"]))
    # 'u': the uuid is ALWAYS the final 20 z85 characters; anything
    # before it is a relative prefix directory
    from ..plans.roaring import z85_decode

    raw = dv["pathOrInlineDv"]
    # writers encode the random directory prefix with or without a
    # trailing slash; both resolve to <prefix>/deletion_vector_<uuid>
    prefix, z = raw[:-20].rstrip("/"), raw[-20:]
    u = _uuid.UUID(bytes=z85_decode(z))
    rel = f"deletion_vector_{u}.bin"
    if prefix:
        rel = f"{prefix}/{rel}"
    off = dv.get("offset")  # checkpoint structs carry an explicit null
    return ("file", os.path.join(base_path, rel),
            1 if off is None else int(off), int(dv["sizeInBytes"]))


def _apply_action(state: dict, action: dict) -> None:
    if "metaData" in action:
        _check_metadata(action["metaData"])
        state["metaData"] = action["metaData"]
    elif "protocol" in action:
        _check_protocol(action["protocol"])
    elif "add" in action:
        add = action["add"]
        _check_add(add)
        state["adds"][add["path"]] = add
    elif "remove" in action:
        state["adds"].pop(action["remove"]["path"], None)


def resolve_delta_state(base_path: str, version: int | None = None) -> DeltaState:
    """Replay the transaction log to ``version`` (default: latest).

    Starts from the newest checkpoint at or below the target when one
    exists (``_last_checkpoint`` → checkpoint parquet via pyarrow,
    driver-side, metadata-scale) and applies only the JSON commits
    after it."""
    versions = _list_versions(base_path)
    cp = _last_checkpoint(base_path)
    latest = max(versions) if versions else (cp or {}).get("version")
    if latest is None:
        raise DeltaFormatError(f"no Delta log under {base_path!r}")
    target = latest if version is None else version
    if target > latest:
        raise DeltaFormatError(
            f"version {target} beyond latest {latest} at {base_path!r}"
        )

    state = {"metaData": None, "adds": {}}
    commit_ts: dict[int, int] = {}
    start = 0
    if cp is not None and cp["version"] <= target:
        import pyarrow.parquet as pq

        def _norm_maps(d: dict) -> dict:
            # checkpoint parquet encodes partitionValues/configuration as
            # MAP<string,string>; pyarrow's to_pylist yields them as
            # key/value pair lists — normalize back to dicts
            for k in ("partitionValues", "configuration", "tags"):
                v = d.get(k)
                if isinstance(v, list):
                    d[k] = dict(v)
            return d

        def _apply_rec(rec: dict) -> list[str]:
            """Apply one checkpoint row; returns sidecar paths found."""
            sides = []
            sc = rec.get("sidecar")
            if sc is not None and sc.get("path"):
                sides.append(sc["path"])
            for kind in ("protocol", "metaData", "add", "remove"):
                if rec.get(kind) is not None:
                    _apply_action(state, {kind: _norm_maps(rec[kind])})
            return sides

        if cp.get("type") == "v2" or cp.get("path"):
            # V2 CHECKPOINT (PROTOCOL.md "V2 Checkpoints"): a single
            # uniquely-named top-level file (json or parquet) holding
            # protocol/metaData/checkpointMetadata plus SIDECAR actions
            # whose parquet files under _delta_log/_sidecars/ carry the
            # add/remove state
            name = cp.get("path")
            if not name:
                import glob as _glob

                hits = sorted(
                    _glob.glob(os.path.join(
                        _log_path(base_path),
                        f"{cp['version']:020d}.checkpoint.*",
                    ))
                )
                if not hits:
                    raise DeltaFormatError(
                        f"v2 checkpoint for version {cp['version']} not "
                        "found"
                    )
                name = os.path.basename(hits[0])
            top = os.path.join(_log_path(base_path), name)
            sidecars: list[str] = []
            if top.endswith(".json"):
                with open(top) as f:
                    for line in f:
                        line = line.strip()
                        if line:
                            sidecars += _apply_rec(json.loads(line))
            else:
                for rec in pq.read_table(top).to_pylist():
                    sidecars += _apply_rec(rec)
            for rel in sidecars:
                sp = os.path.join(_log_path(base_path), "_sidecars", rel)
                for rec in pq.read_table(sp).to_pylist():
                    _apply_rec(rec)
        else:
            for path in _checkpoint_files(
                base_path, cp["version"], cp.get("parts")
            ):
                tbl = pq.read_table(path)
                for rec in tbl.to_pylist():
                    _apply_rec(rec)
        start = cp["version"] + 1

    replay = [v for v in versions if start <= v <= target]
    if start == 0:
        # no checkpoint below target: replay must begin at version 0 —
        # vacuumed logs make older versions unreconstructable
        if not replay or replay[0] != 0:
            lo = min(versions) if versions else None
            raise DeltaFormatError(
                f"cannot reconstruct version {target}: log begins at "
                f"{lo} and no checkpoint at or below the target exists"
            )
    expect = start
    for v in replay:
        if v != expect:
            raise DeltaFormatError(
                f"Delta log gap: expected version {expect}, found {v}"
            )
        expect += 1
        with open(os.path.join(_log_path(base_path), f"{v:020d}.json")) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "commitInfo" in action:
                    ts = action["commitInfo"].get("timestamp")
                    if ts is not None:
                        commit_ts[v] = ts
                    continue
                _apply_action(state, action)

    md = state["metaData"]
    if md is None:
        raise DeltaFormatError(f"no metaData action replayed at {base_path!r}")
    schema = T.StructType.fromJson(json.loads(md["schemaString"]))
    return DeltaState(
        version=target,
        schema=schema,
        partition_columns=list(md.get("partitionColumns") or []),
        adds=state["adds"],
        commit_ts=commit_ts,
        column_mapping_mode=(md.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        ),
    )


def _version_actions(base_path: str, version: int) -> list[dict]:
    """The raw actions of ONE commit (for incremental / CDC / the
    delete view — per-commit change feeds never need full replay)."""
    p = os.path.join(_log_path(base_path), f"{version:020d}.json")
    fs = fs_for(base_path)
    if not fs.exists(p):
        raise DeltaFormatError(
            f"commit {version} not present in the log (vacuumed?)"
        )
    out = []
    with open(p) as f:
        for line in f:
            line = line.strip()
            if line:
                out.append(json.loads(line))
    return out


def version_for_timestamp(base_path: str, ts_ms: int) -> int:
    """Latest version whose commitInfo timestamp <= ts_ms (Delta's
    timestamp time travel)."""
    best = None
    for v in _list_versions(base_path):
        for a in _version_actions(base_path, v):
            if "commitInfo" in a and a["commitInfo"].get("timestamp") is not None:
                if a["commitInfo"]["timestamp"] <= ts_ms:
                    best = v
                break
    if best is None:
        raise DeltaFormatError(
            f"no Delta commit at or before timestamp {ts_ms}"
        )
    return best


def _partition_value_expr(raw: str | None, dtype: T.DataType):
    if raw is None:
        return F.lit(None).cast(dtype)
    return F.lit(raw).cast(dtype)


def _hive_segment(col: str, raw: str | None) -> str:
    # PROTOCOL.md partitionValues are plain strings; Delta writers
    # hive-encode them in paths with __HIVE_DEFAULT_PARTITION__ for null
    if raw is None:
        return f"{col}=__HIVE_DEFAULT_PARTITION__"
    return f"{col}={raw}"


def _read_adds(
    spark: SparkSession, base_path: str, state: DeltaState,
    adds: list[dict], with_ordinal: bool = False,
) -> DataFrame:
    """Scan a set of live files with partition columns attached.

    Fast path: every path carries hive-style ``col=value`` dirs in
    partition-column order → ONE ``basePath``-rooted scan (user schema
    pinned, so partition columns keep their DECLARED types and Spark's
    partition pruning / parquet pushdown apply). Fallback: group by
    partition tuple, one scan per group with literal partition columns.

    ``with_ordinal`` appends ``__fname`` / ``__pos`` (file basename +
    ``_metadata.row_index``) — the join surface deletion vectors apply
    on.

    Column mapping: the scan runs with the PHYSICAL schema (parquet
    column names = physicalName metadata, field ids attached so
    Spark's native ``parquet.field.id`` resolution covers mode 'id');
    ``partitionValues`` keys, hive dirs and literal partition columns
    are physical; ``finish`` rebuilds the logical shape recursively
    (nested structs / array elements / map values included)."""
    read_schema = state.physical_schema() if state.mapped else state.schema
    l2p = state.logical_to_physical()
    ord_cols = (
        [F.col("_metadata.file_name").alias("__fname"),
         F.col("_metadata.row_index").alias("__pos")]
        if with_ordinal else []
    )
    if state.column_mapping_mode == "id":
        # mode 'id' resolves parquet columns by field id; Spark does
        # this natively when the requested schema carries
        # 'parquet.field.id' metadata and the conf is on
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

    def finish(df: DataFrame) -> DataFrame:
        if not state.mapped:
            return df.select(
                *[F.col(f.name) for f in state.schema.fields], *ord_cols
            )
        return df.select(
            *[
                _logical_expr(F.col(pf.name), pf.dataType, lf.dataType)
                .alias(lf.name)
                for pf, lf in zip(read_schema.fields, state.schema.fields)
            ],
            *ord_cols,
        )

    if not adds:
        df = spark.createDataFrame([], state.schema)
        if with_ordinal:
            df = (df.withColumn("__fname", F.lit(None).cast("string"))
                    .withColumn("__pos", F.lit(None).cast("long")))
        return df
    pcols = [l2p.get(c, c) for c in state.partition_columns]
    if not pcols:
        return finish(spark.read.schema(read_schema).parquet(
            *[os.path.join(base_path, a["path"]) for a in adds]
        ))
    hive = all(
        all(
            _hive_segment(c, (a.get("partitionValues") or {}).get(c))
            in a["path"].split("/")
            for c in pcols
        )
        for a in adds
    )
    if hive:
        return finish(
            spark.read.schema(read_schema)
            .option("basePath", base_path)
            .parquet(*[os.path.join(base_path, a["path"]) for a in adds])
        )
    by_tuple: dict[tuple, list[dict]] = {}
    for a in adds:
        pv = a.get("partitionValues") or {}
        by_tuple.setdefault(tuple(pv.get(c) for c in pcols), []).append(a)
    data_schema = T.StructType(
        [f for f in read_schema.fields if f.name not in pcols]
    )
    types = {f.name: f.dataType for f in read_schema.fields}
    parts = []
    for tup, group in sorted(by_tuple.items(), key=lambda kv: str(kv[0])):
        df = spark.read.schema(data_schema).parquet(
            *[os.path.join(base_path, a["path"]) for a in group]
        )
        for c, raw in zip(pcols, tup):
            df = df.withColumn(c, _partition_value_expr(raw, types[c]))
        parts.append(finish(df))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _read_adds_live(
    spark: SparkSession, base_path: str, state: DeltaState, adds: list[dict]
) -> DataFrame:
    """LIVE rows of a set of adds: each add's deletion vector (if any)
    applied as an anti-join on (file basename, row ordinal) — the
    PROTOCOL.md contract that an add's DV marks its dead rows."""
    names = [f.name for f in state.schema.fields]
    with_dv = [a for a in adds if a.get("deletionVector")]
    plain = [a for a in adds if not a.get("deletionVector")]
    out = _read_adds(spark, base_path, state, plain)
    if not with_dv:
        return out
    rows = _read_adds(spark, base_path, state, with_dv, with_ordinal=True)
    dels = dv_positions(spark, [
        (os.path.basename(a["path"]), _dv_descriptor(base_path, a), [])
        for a in with_dv
    ]).toDF("__fname", "__pos")
    live = rows.join(dels, ["__fname", "__pos"], "left_anti").select(*names)
    return out.unionByName(live) if plain else live


def _stats_pass(add: dict, bounds: dict[str, tuple]) -> bool:
    """File-skipping on add.stats minValues/maxValues: False only when
    the stats PROVE no row can satisfy the bounds (missing stats always
    pass — skipping is an optimization, never a filter)."""
    raw = add.get("stats")
    if not raw:
        return True
    try:
        stats = json.loads(raw) if isinstance(raw, str) else raw
    except (TypeError, ValueError):
        return True
    mins = stats.get("minValues") or {}
    maxs = stats.get("maxValues") or {}
    return all(
        may_overlap(lo, hi, mins.get(col), maxs.get(col))
        for col, (lo, hi) in bounds.items()
    )


def read_delta_snapshot(
    spark: SparkSession,
    base_path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
    bounds: dict[str, tuple] | None = None,
) -> DataFrame:
    """Snapshot of a foreign Delta table at a version (or at a
    timestamp, Delta-style time travel). ``bounds`` ({col: (lo, hi)})
    prunes files by ``add.stats`` before any scan; Spark still
    evaluates predicates row-level — pruning is never a filter."""
    if timestamp_ms is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp_ms, not both")
        version = version_for_timestamp(base_path, timestamp_ms)
    state = resolve_delta_state(base_path, version)
    adds = sorted(state.adds.values(), key=lambda a: a["path"])
    # partition-value pruning first (free), then stats; bounds arrive
    # keyed by LOGICAL names — partitionValues/stats keys are physical
    # under column mapping, so translate once
    if bounds:
        l2p = state.logical_to_physical()
        bounds = {l2p.get(c, c): b for c, b in bounds.items()}
        pcols = {l2p.get(c, c) for c in state.partition_columns}
        types = {
            l2p.get(f.name, f.name): f.dataType
            for f in state.schema.fields
        }

        def part_pass(a: dict) -> bool:
            pv = a.get("partitionValues") or {}
            for col, (lo, hi) in bounds.items():
                if col not in pcols or pv.get(col) is None:
                    continue
                v = pv[col]
                t = types.get(col)
                if isinstance(t, (T.IntegerType, T.LongType, T.ShortType)):
                    try:
                        v = int(v)
                    except ValueError:
                        continue
                if not may_overlap(lo, hi, v, v):
                    return False
            return True

        adds = [a for a in adds if part_pass(a) and _stats_pass(a, bounds)]
    return _read_adds_live(spark, base_path, state, adds)


def read_delta_incremental(
    spark: SparkSession,
    base_path: str,
    begin_version_exclusive: int,
    end_version_inclusive: int | None = None,
) -> DataFrame:
    """Change feed of APPENDED rows in (begin, end]: the rows of every
    ``add`` with ``dataChange=true`` in the window, stamped with
    ``_commit_version`` — the semantics of Delta's own streaming source
    (an OPTIMIZE rewrite, dataChange=false, emits nothing)."""
    state = resolve_delta_state(base_path)
    end = state.version if end_version_inclusive is None else end_version_inclusive
    parts = []
    for v in _list_versions(base_path):
        if not (begin_version_exclusive < v <= end):
            continue
        adds = [
            a["add"]
            for a in _version_actions(base_path, v)
            if "add" in a and a["add"].get("dataChange", True)
        ]
        for a in adds:
            _check_add(a)
        if adds:
            parts.append(
                _read_adds_live(spark, base_path, state, adds).withColumn(
                    "_commit_version", F.lit(v).cast("long")
                )
            )
    if not parts:
        return (
            spark.createDataFrame([], state.schema)
            .withColumn("_commit_version", F.lit(None).cast("long"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _window_file_events(base_path: str, begin_exclusive: int, end: int):
    """Per-version file movements in (begin, end]: {version: (added
    paths, removed paths)} split by dataChange, plus the union of ALL
    moved paths. Pruning must include dataChange=false movements — an
    OPTIMIZE migrates rows between files without changing them, and a
    prune that ignores the new file would misread those rows as
    deleted."""
    per_version: dict[int, tuple[list[str], list[str]]] = {}
    all_paths: set[str] = set()
    for v in _list_versions(base_path):
        if not (begin_exclusive < v <= end):
            continue
        adds_v: list[str] = []
        rms_v: list[str] = []
        for a in _version_actions(base_path, v):
            if "add" in a:
                all_paths.add(a["add"]["path"])
                if a["add"].get("dataChange", True):
                    adds_v.append(a["add"]["path"])
            elif "remove" in a:
                all_paths.add(a["remove"]["path"])
                if a["remove"].get("dataChange", True):
                    rms_v.append(a["remove"]["path"])
        if adds_v or rms_v:
            per_version[v] = (adds_v, rms_v)
    return per_version, all_paths


def read_delta_cdc(
    spark: SparkSession,
    base_path: str,
    key_cols: list[str],
    begin_version_exclusive: int,
    end_version_inclusive: int | None = None,
) -> DataFrame:
    """Net-effect CDC over (begin, end] keyed on ``key_cols`` — the
    Delta mirror of the foreign-Hudi net-effect CDC (G18): one row per
    net-changed key, op in insert/update (after-image) / delete
    (BEFORE-image), ``change_version`` = the last version in the window
    that actually changed the key (not merely the last file rewrite —
    an OPTIMIZE migration neither surfaces a change nor moves a stamp).

    Scale shape: Delta files are immutable, so rows in files untouched
    by the window CANNOT change — both boundary snapshots prune to the
    window's moved paths (dataChange=false movements included, see
    ``_window_file_events``) before the one full-outer diff on the key
    (``row_deletes.net_changes``). Precise stamps come from per-version
    mini-diffs (``net_diff``), each pruned to THAT version's
    data-changing files — total bytes read ≈ the window's
    change history, the same work profile as decoding a Hudi log
    window."""
    latest = resolve_delta_state(base_path)
    end = latest.version if end_version_inclusive is None else end_version_inclusive
    per_version, moved = _window_file_events(
        base_path, begin_version_exclusive, end
    )
    states = {latest.version: latest}

    def state(v: int) -> DeltaState:
        # each version the window needs replays the log once, not once
        # as a version's successor and again as its predecessor
        if v not in states:
            states[v] = resolve_delta_state(base_path, v)
        return states[v]

    payload = [f.name for f in state(end).schema.fields]

    def side(v: int, paths, img: str) -> DataFrame:
        st = state(v)
        adds = [st.adds[p] for p in sorted(paths) if p in st.adds]
        return _read_adds_live(spark, base_path, st, adds).select(
            *key_cols, F.struct(*[F.col(c) for c in payload]).alias(img)
        )

    differs = F.lit(False)
    for c in payload:
        if c not in key_cols:
            differs = differs | ~F.col(f"__after.{c}").eqNullSafe(
                F.col(f"__before.{c}")
            )
    # precise per-key change stamps: for each window version, diff the
    # rows its data-changing commits removed vs added (files immutable,
    # so this pair IS the version's change set); a key's stamp is the
    # max version at which its value moved
    events = [
        net_diff(
            side(v - 1, rms_v, "__before"), side(v, adds_v, "__after"),
            key_cols, differs,
        ).select(*key_cols, F.lit(v).alias("__v"))
        for v, (adds_v, rms_v) in sorted(per_version.items())
    ]
    stamps = None
    if events:
        stamps = reduce(DataFrame.unionByName, events).groupBy(*key_cols).agg(
            F.max("__v").cast("long").alias("__stamp")
        )
    return net_changes(
        side(begin_version_exclusive, moved, "__before"),
        side(end, moved, "__after"),
        key_cols,
        keys=[],
        stamp="change_version",
        updated=differs,
        after_stamp=None if events else F.lit(None).cast("long"),
        stamps=stamps,
    )


_HOODIE_META_COLS = (
    "_hoodie_commit_time", "_hoodie_commit_seqno", "_hoodie_record_key",
    "_hoodie_partition_path", "_hoodie_file_name",
)


def _delta_export_work(batches):
    """Executor half of ``export_delta``: one input row = one data-file
    rewrite (drop the _hoodie_* meta columns and the PHYSICAL partition
    column — per PROTOCOL.md partition values ride in
    add.partitionValues, not in the file). Emits per-file stats
    (numRecords + min/max of every scalar column, computed from the
    Arrow table in hand) so every add carries real file-skipping
    stats. ``cm_json`` (may be empty) maps logical -> (physicalName,
    field id): columns are renamed and parquet field ids attached, so
    the stats keys come out PHYSICAL automatically."""
    import json as _json

    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for pdf in batches:
        out = []
        for src, dst, version, pcol, cm_json in pdf.itertuples(index=False):
            tbl = pq.read_table(src)
            drop = [c for c in tbl.column_names
                    if c in _HOODIE_META_COLS or (pcol and c == pcol)]
            if drop:
                tbl = tbl.drop_columns(drop)
            if cm_json:
                cm = _json.loads(cm_json)
                fields = []
                for f in tbl.schema:
                    phys, fid = cm[f.name]
                    fields.append(pa.field(
                        phys, f.type, f.nullable,
                        metadata={b"PARQUET:field_id": str(fid).encode()},
                    ))
                tbl = pa.Table.from_arrays(
                    [tbl.column(i) for i in range(tbl.num_columns)],
                    schema=pa.schema(fields),
                )
            mins: dict = {}
            maxs: dict = {}
            nulls: dict = {}
            for name in tbl.column_names:
                col = tbl.column(name)
                nulls[name] = col.null_count
                try:
                    mm = pc.min_max(col)
                    lo, hi = mm["min"].as_py(), mm["max"].as_py()
                except Exception:
                    continue
                if lo is not None and isinstance(lo, (int, float, str)):
                    mins[name], maxs[name] = lo, hi
            tbl = tbl.replace_schema_metadata(None)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            pq.write_table(tbl, dst, coerce_timestamps="us",
                           allow_truncated_timestamps=True)
            stats = _json.dumps({
                "numRecords": tbl.num_rows, "minValues": mins,
                "maxValues": maxs, "nullCount": nulls,
            })
            out.append((int(version), os.path.basename(dst),
                        os.path.getsize(dst), stats))
        yield pd.DataFrame(
            out, columns=["version", "filename", "size", "stats"]
        )


def _instant_to_ms(ts: str) -> int:
    """Deterministic commitInfo timestamp from a 14-digit instant."""
    import calendar

    return calendar.timegm((
        int(ts[0:4]), int(ts[4:6]), int(ts[6:8]),
        int(ts[8:10]), int(ts[10:12]), int(ts[12:14]), 0, 0, 0,
    )) * 1000


def _export_schema_string(schema_json: str, column_mapping: str,
                          fid_of: dict[str, int]) -> str:
    """metaData.schemaString for an export: hoodie meta cols dropped;
    under column mapping every field carries its physicalName/id."""
    st = T.StructType.fromJson(json.loads(schema_json))
    out = []
    for f in st.fields:
        if f.name in _HOODIE_META_COLS:
            continue
        d = json.loads(f.json())
        if column_mapping == "name":
            fid = fid_of[f.name]
            d["metadata"] = {**(d.get("metadata") or {}),
                             _CM_ID: fid,
                             _CM_PHYS: f"col-{fid:02d}"}
        out.append(d)
    return json.dumps({"type": "struct", "fields": out})


def _export_configuration(column_mapping: str,
                          fid_of: dict[str, int]) -> dict:
    if column_mapping != "name":
        return {}
    return {"delta.columnMapping.mode": "name",
            "delta.columnMapping.maxColumnId":
                str(max(fid_of.values(), default=0))}


# Bumped on any change to the on-disk layout this exporter writes, so
# callers that cache exports (e.g. lake_export_interop's marker file)
# invalidate stale directories automatically (r8 ADVICE).
DELTA_EXPORT_LAYOUT_VERSION = 1


def export_delta(table, out_dir: str, table_name: str = "export_delta",
                 up_to: str | None = None,
                 column_mapping: str = "none") -> str:
    """Export a native COW table as a GENUINE Delta Lake layout: one
    log version per native commit (adds with real stats + removes from
    the slice-predecessor pairing), hive-partitioned data files without
    meta/partition columns, a classic checkpoint parquet at the final
    version + ``_last_checkpoint`` — the Delta mirror of the Hudi
    framing export (F13/G8). Round-trip proof reads the export back
    through ``read_delta_snapshot`` / ``read_delta_delete_view`` at
    every version.

    Scale shape (same contract as ``export_hudi_mor``): the driver
    walks only the timeline and assigns names/versions; every data byte
    moves in one Spark job, one task per output file
    (``_delta_export_work``); the log publishes only after all files
    land. MOR tables must compact first — Delta has no log-file
    concept, and silently merging here would hide that cost.

    INCREMENTAL SYNC (round 9): when ``out_dir`` already holds a
    previous export of the same table, only the native commits after
    the last exported log version materialize (new data files + new
    JSON versions + a fresh checkpoint at the new head; previously
    exported bytes are never rewritten). The exported log must be a
    prefix of the native timeline (commitInfo timestamps compared);
    divergence raises. The original metaData id is reused so the table
    identity stays stable across sync calls.

    COLUMN MAPPING (round 9, write direction): ``column_mapping="name"``
    writes the layout a renamed/dropped-column Databricks table ships
    with — data files store columns under physical names ('col-<id>')
    with parquet field ids, partitionValues/stats keys/hive dirs are
    physical, schemaString carries the
    ``delta.columnMapping.physicalName``/``.id`` field metadata, and
    the protocol gates at minReaderVersion 2 / minWriterVersion 5.
    Field ids assign by first appearance across the timeline's schemas
    (deterministic, so incremental sync reproduces the mapping).
    Nested columns refuse by name (the READER handles nesting; this
    writer's sources are flat lake tables)."""
    if column_mapping not in ("none", "name"):
        raise DeltaFormatError(
            f"export_delta column_mapping={column_mapping!r} not "
            "supported (use 'none' or 'name')"
        )
    if any(
        stat.log_file
        for ts in table.timeline.timestamps()
        for _p, stat in table.timeline.commit_metadata(ts).all_stats()
    ):
        raise DeltaFormatError(
            "export_delta supports COW tables only: MOR delta-log slices "
            "have no Delta equivalent — compact first"
        )
    import pyarrow.parquet as pq

    pf = getattr(table, "partition_field", None)
    os.makedirs(os.path.join(out_dir, LOG_DIR), exist_ok=True)
    timestamps = table.timeline.timestamps()
    if up_to is not None:
        # export only the timeline prefix <= up_to (staged-sync tests/demos)
        timestamps = [t for t in timestamps if t <= up_to]

    # incremental sync: the exported log versions must be a contiguous
    # 0..K-1 prefix mapping 1:1 onto the first K native instants
    # (commitInfo timestamps compared — metadata-scale JSON reads)
    exported_vs = _list_versions(out_dir)
    exported_n = len(exported_vs)
    if exported_vs:
        if exported_vs != list(range(exported_n)):
            raise DeltaFormatError(
                f"out_dir {out_dir!r} holds a non-contiguous Delta log "
                f"{exported_vs[:5]}...; refusing to sync"
            )
        if exported_n > len(timestamps):
            raise DeltaFormatError(
                f"out_dir {out_dir!r} holds {exported_n} exported "
                f"versions but the source has only {len(timestamps)} "
                "commits; histories diverged"
            )
        for v in exported_vs:
            want_ms = _instant_to_ms(timestamps[v])
            got_ms = None
            for a in _version_actions(out_dir, v):
                if "commitInfo" in a:
                    got_ms = a["commitInfo"].get("timestamp")
                    break
            if got_ms != want_ms:
                raise DeltaFormatError(
                    f"exported version {v} (commitInfo ts {got_ms}) does "
                    f"not match source instant {timestamps[v]}; histories "
                    "diverged — export to a fresh directory"
                )
    if exported_n == len(timestamps):
        return out_dir  # nothing new: byte-level no-op

    # column mapping: field ids assign by FIRST APPEARANCE across the
    # timeline's schemas (hoodie meta cols excluded) — deterministic,
    # so an incremental sync call reproduces the identical mapping
    fid_of: dict[str, int] = {}
    if column_mapping == "name":
        for ts in timestamps:
            sj = table.timeline.commit_metadata(ts).schema_json
            if not sj:
                continue
            st = T.StructType.fromJson(json.loads(sj))
            for f in st.fields:
                if f.name in _HOODIE_META_COLS:
                    continue
                if not isinstance(
                    f.dataType,
                    (T.StructType, T.ArrayType, T.MapType),
                ):
                    fid_of.setdefault(f.name, len(fid_of) + 1)
                else:
                    raise DeltaFormatError(
                        f"column {f.name!r}: nested types not supported "
                        "by the column-mapping export (flat lake "
                        "schemas only)"
                    )

    def _phys(name: str) -> str:
        return f"col-{fid_of[name]:02d}" if column_mapping == "name" else name

    # driver planning pass: work units + per-version add/remove skeletons
    # (the walk covers the FULL timeline to rebuild file-id lineage and
    # schema state, but only versions >= exported_n enqueue work)
    work: list[tuple[str, str, int, str, str]] = []
    versions: list[dict] = []  # {version, ts, adds:[(rel, pv)], removes:[rel], schema_json}
    fid_path: dict[str, str] = {}
    for v, ts in enumerate(timestamps):
        meta = table.timeline.commit_metadata(ts)
        adds, removes = [], []
        cm_json = ""
        if column_mapping == "name" and meta.schema_json:
            st = T.StructType.fromJson(json.loads(meta.schema_json))
            cm_json = json.dumps({
                f.name: [_phys(f.name), fid_of[f.name]]
                for f in st.fields
                if f.name not in _HOODIE_META_COLS and f.name != pf
            })
        for partition, stat in meta.all_stats():
            pv = partition if pf else None
            seg = _hive_segment(_phys(pf), pv) if pf else ""
            fname = f"part-{v:05d}-{stat.file_id}-c000.parquet"
            rel = f"{seg}/{fname}" if seg else fname
            if v >= exported_n:
                work.append((
                    os.path.join(table.base_path, stat.path),
                    os.path.join(out_dir, rel), v, pf or "", cm_json,
                ))
            adds.append((rel, pv))
            prev = fid_path.get(stat.file_id)
            if prev is not None:
                removes.append(prev)
            fid_path[stat.file_id] = rel
        versions.append({
            "version": v, "ts": ts, "adds": adds, "removes": removes,
            "schema_json": meta.schema_json,
        })

    results: dict[str, tuple[int, str]] = {}  # filename -> (size, stats)
    if work:
        for r in (
            table.spark.createDataFrame(
                work,
                "src string, dst string, version long, pv string, "
                "cm string",
            )
            .repartition(min(len(work), 256))
            .mapInPandas(
                _delta_export_work,
                "version long, filename string, size long, stats string",
            )
            .collect()  # one row per FILE, never data rows
        ):
            results[r.filename] = (r.size, r.stats)

    # schema for metaData: the export drops meta + physical partition
    # column from files; the DECLARED schema keeps the partition column
    last_schema: str | None = None
    live: dict[str, dict] = {}
    if exported_n:
        # sync call: keep the ORIGINAL table identity, prime the schema
        # tracker from the exported prefix, and seed the live file set
        # (path -> full add action, stats included) by replaying the
        # exported log itself — no data file is consulted
        meta_id = None
        for a in _version_actions(out_dir, 0):
            if "metaData" in a:
                meta_id = a["metaData"]["id"]
                break
        if meta_id is None:
            raise DeltaFormatError(
                f"exported log at {out_dir!r} carries no metaData at v0"
            )
        for ventry in versions[:exported_n]:
            if ventry["schema_json"]:
                last_schema = ventry["schema_json"]
        live = dict(resolve_delta_state(out_dir, exported_n - 1).adds)
    else:
        meta_id = "00000000-0000-4000-8000-%012d" % (len(timestamps),)
    for ventry in versions[exported_n:]:
        v, ts = ventry["version"], ventry["ts"]
        ts_ms = _instant_to_ms(ts)
        lines = [json.dumps({"commitInfo": {
            "timestamp": ts_ms, "operation": "WRITE",
            "engineInfo": f"hudi-delete-view-spark export/{table_name}",
        }})]
        if v == 0:
            proto = (
                {"minReaderVersion": 2, "minWriterVersion": 5}
                if column_mapping == "name"
                else {"minReaderVersion": 1, "minWriterVersion": 2}
            )
            lines.append(json.dumps({"protocol": proto}))
        schema_json = ventry["schema_json"]
        if schema_json and schema_json != last_schema:
            lines.append(json.dumps({"metaData": {
                "id": meta_id, "name": table_name,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _export_schema_string(
                    schema_json, column_mapping, fid_of),
                "partitionColumns": [pf] if pf else [],
                "configuration": _export_configuration(
                    column_mapping, fid_of),
                "createdTime": ts_ms,
            }}))
            last_schema = schema_json
        for rel in ventry["removes"]:
            rm = {"path": rel, "deletionTimestamp": ts_ms,
                  "dataChange": True}
            lines.append(json.dumps({"remove": rm}))
            live.pop(rel, None)
        for rel, pv in ventry["adds"]:
            size, stats = results[os.path.basename(rel)]
            add = {
                "path": rel,
                "partitionValues": ({_phys(pf): pv} if pf else {}),
                "size": size, "modificationTime": ts_ms,
                "dataChange": True, "stats": stats,
            }
            lines.append(json.dumps({"add": add}))
            live[rel] = add
        with open(os.path.join(out_dir, LOG_DIR, f"{v:020d}.json"),
                  "w") as f:
            f.write("\n".join(lines) + "\n")

    # classic checkpoint at the final version (map-typed partitionValues)
    import pyarrow as pa

    final_v = len(timestamps) - 1
    map_t = pa.map_(pa.string(), pa.string())
    cp_schema = pa.schema([
        ("protocol", pa.struct([("minReaderVersion", pa.int32()),
                                ("minWriterVersion", pa.int32())])),
        ("metaData", pa.struct([
            ("id", pa.string()), ("name", pa.string()),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", map_t), ("createdTime", pa.int64()),
        ])),
        ("add", pa.struct([
            ("path", pa.string()), ("partitionValues", map_t),
            ("size", pa.int64()), ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()), ("stats", pa.string()),
        ])),
    ])
    cp_proto = (
        {"minReaderVersion": 2, "minWriterVersion": 5}
        if column_mapping == "name"
        else {"minReaderVersion": 1, "minWriterVersion": 2}
    )
    rows = [
        {"protocol": cp_proto, "metaData": None, "add": None},
        {"protocol": None, "metaData": {
            "id": meta_id, "name": table_name,
            "schemaString": (
                _export_schema_string(last_schema, column_mapping, fid_of)
                if last_schema else json.dumps(
                    {"type": "struct", "fields": []})),
            "partitionColumns": [pf] if pf else [],
            "configuration": list(
                _export_configuration(column_mapping, fid_of).items()),
            "createdTime": _instant_to_ms(timestamps[0]),
        }, "add": None},
    ] + [
        {"protocol": None, "metaData": None,
         "add": {**a, "partitionValues": list(a["partitionValues"].items())}}
        for a in live.values()
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=cp_schema),
        os.path.join(out_dir, LOG_DIR, f"{final_v:020d}.checkpoint.parquet"),
    )
    with open(os.path.join(out_dir, LOG_DIR, "_last_checkpoint"), "w") as f:
        json.dump({"version": final_v, "size": len(rows)}, f)
    return out_dir


def read_delta_delete_view(
    spark: SparkSession, base_path: str, version: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """THE FLAGSHIP question asked of a foreign Delta table: which rows
    did commit ``version`` delete? This decodes the commit's actions
    into the parts ``row_deletes.delete_view`` assembles — never an
    untouched file:

    - a path removed and re-added with a deletion vector: its new DV,
      with the old DV as the superseded blob, by position over the
      file's rows at version-1 (exact and keyless);
    - any other removed path: the keyed rewrite, the removed files'
      live rows at version-1 against the added files' live rows
      (``key_cols`` required). dataChange=false movements (OPTIMIZE)
      never count.

    Stamped with the deleting commit's version and timestamp."""
    actions = _version_actions(base_path, version)
    removed = [
        a["remove"] for a in actions
        if "remove" in a and a["remove"].get("dataChange", True)
    ]
    added = [
        a["add"] for a in actions
        if "add" in a and a["add"].get("dataChange", True)
    ]
    commit_ms = next(
        (
            a["commitInfo"].get("timestamp")
            for a in actions
            if "commitInfo" in a
        ),
        None,
    )
    # the removed files' CONTENT lives in the pre-commit state; version
    # 0 removes nothing and only lends the view its schema
    state_prev = resolve_delta_state(base_path, max(version - 1, 0))

    # split the DV shape out: same path removed AND re-added with a DV
    added_by_path = {a["path"]: a for a in added}
    dv_pairs = []  # (old add at v-1, new add at v)
    cow_removed = []
    for r in removed:
        old = state_prev.adds.get(r["path"])
        if old is None:
            continue
        new = added_by_path.get(r["path"])
        if new is not None and new.get("deletionVector"):
            dv_pairs.append((old, new))
        else:
            cow_removed.append(old)

    by_position = None
    if dv_pairs:
        positions = dv_positions(spark, [
            (os.path.basename(new["path"]), _dv_descriptor(base_path, new),
             [_dv_descriptor(base_path, old)]
             if old.get("deletionVector") else [])
            for old, new in dv_pairs
        ]).toDF("__fname", "__pos")
        rows = _read_adds(
            spark, base_path, state_prev,
            [old for old, _new in dv_pairs], with_ordinal=True,
        )
        by_position = (rows, positions)
    cand = survivors = None
    if cow_removed:
        cand = _read_adds_live(spark, base_path, state_prev, cow_removed)
        cow_added = [
            a for a in added
            if not (a.get("deletionVector") and a["path"] in state_prev.adds)
        ]
        if cow_added:
            state_now = resolve_delta_state(base_path, version)
            survivors = _read_adds_live(spark, base_path, state_now, [
                state_now.adds[a["path"]]
                for a in cow_added
                if a["path"] in state_now.adds
            ])
    out = delete_view(
        spark, state_prev.schema, error=DeltaFormatError,
        what=f"commit {version}", by_position=by_position,
        removed=cand, added=survivors, key_cols=key_cols,
    )
    return out.withColumn(
        "_deleted_by_version", F.lit(version).cast("long")
    ).withColumn(
        "_deleted_at_ts", F.lit(commit_ms).cast("long")
    )
