"""Python DataSource connector (Spark 4 `pyspark.sql.datasource`) for
lakeview tables: ``spark.read.format("lakeview")`` and
``spark.readStream.format("lakeview")``.

This is the DSv2-via-Python route SURVEY §12.5 scoped: a pure-Python
connector CAN own schema resolution, partition planning, per-partition
reads (Arrow batches), file-level filter pushdown, and a streaming
incremental source — everything except reporting KeyGroupedPartitioning
to Catalyst (a JVM-only interface; the bucketed-mirror path covers the
exchange-free-join story instead).

Design:

- **Partition = file slice.** ``partitions()`` resolves the timeline
  driver-side (checkpoint-seeded, metadata only) and emits one
  ``InputPartition`` per file slice, so executor parallelism follows the
  table's own layout. A MOR slice's merge (base + delta logs ->
  latest-per-key, tombstones dropped) runs INSIDE its partition on
  Arrow/pandas — per-group merge with no table-wide window shuffle,
  which is the merge shape a 1000-executor cluster wants.
- **Filter pushdown = stats pruning.** ``pushFilters`` collects
  single-column range/equality bounds and prunes whole slices through
  the SAME published-stats test the native scan uses
  (``CowTable._stat_passes`` — the shared [min, max] rule of
  ``plans.pruning`` + the value-bucket bitmap for portable equality
  probes). Every filter is still returned
  to Spark for row-level evaluation: the connector prunes files, Spark
  prunes rows — both layers stay correct independently.
- **Streaming = commit tailing.** The stream reader's offset is the
  commit timestamp; each micro-batch reads exactly the files WRITTEN by
  the commits in (start, end] filtered to rows stamped by them — the
  Hudi incremental-source semantics (inserts + update after-images;
  deletes surface through the delete view / CDC, not here).

Reference: the reference engine exposes no connector; this surface is
driver-mandated extension territory (SURVEY §2.B), built only on the
public pyspark.sql.datasource API.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


class SlicePartition(InputPartition):
    def __init__(self, base_path: str, log_paths: list[str], commit_filter: str | None = None):
        self.base_path = base_path
        self.log_paths = list(log_paths)
        # streaming: restrict rows to this exact commit stamp
        self.commit_filter = commit_filter


def _merged_batches(part: SlicePartition, schema_names: list[str], arrow_schema=None):
    """Arrow batches for one slice: plain read for base-only slices, the
    per-group MOR merge (latest _hoodie_commit_time per record key,
    tombstones dropped) for log-bearing ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not part.log_paths:
        f = pq.ParquetFile(part.base_path)
        for b in f.iter_batches():
            yield _project(b, schema_names, arrow_schema)
        return
    frames, src_fields = [], {}
    for p in ([part.base_path] if part.base_path else []) + part.log_paths:
        t = pq.read_table(p)
        for fld in t.schema:
            src_fields.setdefault(fld.name, fld)
        frames.append(t.to_pandas())
    import pandas as pd

    df = pd.concat(frames, ignore_index=True)
    # stable sort -> last row per key is the latest version; within one
    # commit the log order is file order (same contract as the window)
    df = df.sort_values("_hoodie_commit_time", kind="stable")
    df = df.groupby("_hoodie_record_key", as_index=False).tail(1)
    if "_hoodie_is_deleted" in df.columns:
        df = df[~df["_hoodie_is_deleted"].fillna(False)].copy()
        # every emitted row is a survivor; base files predating the first
        # delta commit don't carry the column (null after concat) but the
        # table schema declares it non-nullable
        df["_hoodie_is_deleted"] = False
    # pin arrow types to the SOURCE parquet schemas (union across base +
    # logs — evolution means not every file carries every column): the
    # pandas round-trip would otherwise drift (bool-with-NaN -> object,
    # int-with-NaN -> float) and Spark's ArrowColumnVector accessors
    # reject the mismatched vector
    for n in schema_names:
        if n not in df.columns:
            df[n] = None
    inferred = pa.Table.from_pandas(df[schema_names], preserve_index=False)
    target = pa.schema(
        [
            pa.field(n, src_fields[n].type)  # nullable: merged rows may
            if n in src_fields  # lack a column some files declare NOT NULL
            else inferred.schema.field(n)
            for n in schema_names
        ]
    )
    tbl = inferred.cast(target)
    for b in tbl.to_batches():
        yield b


def _project(batch, schema_names: list[str], arrow_schema=None):
    """Reorder a batch to the declared read schema. A file written before
    a column joined the table schema (evolution) lacks it — surface NULLS
    of the declared type, NEVER a positional fallback (pyarrow's
    get_field_index returns -1 for missing names, which would silently
    alias the LAST column)."""
    import pyarrow as pa

    arrays = []
    for i, n in enumerate(schema_names):
        idx = batch.schema.get_field_index(n)
        if idx >= 0:
            arrays.append(batch.column(idx))
        else:
            typ = arrow_schema.field(i).type if arrow_schema is not None else pa.null()
            arrays.append(pa.nulls(batch.num_rows, type=typ))
    return pa.RecordBatch.from_arrays(arrays, names=schema_names)


def _load_schema(path: str, as_of: str | None) -> StructType:
    from ..plans.timeline import Timeline

    tl = Timeline(path)
    ts = as_of or tl.latest_timestamp()
    if ts is None:
        raise ValueError(f"no commits at {path}")
    return tl.commit_metadata(ts).published_schema()


class LakeviewReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.as_of = options.get("as_of")
        self.schema_names: list[str] = []  # set by LakeviewDataSource.reader
        self.arrow_schema = None  # set by LakeviewDataSource.reader
        self.bounds: dict[str, list] = {}  # col -> [lo, hi] (None = open)

    def pushFilters(self, filters):
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            # Only int/str probe values become bounds (bool excluded),
            # mirroring _stat_passes' probe_ok guard. Stats are published
            # as JSON scalars, so a date/datetime/Decimal value could
            # never prove a file disjoint: the shared rule
            # (plans.pruning.may_overlap) keeps a file on any cross-type
            # comparison. Those filters still flow back to Spark for
            # row-level evaluation; only file pruning is skipped.
            v = getattr(f, "value", None)
            prunable = isinstance(v, (int, str)) and not isinstance(v, bool)
            if col is not None and prunable:
                lo, hi = self.bounds.get(col, [None, None])
                same_type = (lo is None or type(lo) is type(v)) and (
                    hi is None or type(hi) is type(v)
                )
                if not same_type:
                    yield f
                    continue
                if isinstance(f, EqualTo):
                    lo = hi = v
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    lo = v if lo is None else max(lo, v)
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    hi = v if hi is None else min(hi, v)
                else:
                    yield f
                    continue
                self.bounds[col] = [lo, hi]
            # partial pushdown: the connector prunes FILES with the
            # bounds; Spark still evaluates every filter row-level
            yield f

    def partitions(self):
        from ..plans.slices import resolve_slices
        from ..plans.timeline import Timeline
        from .cow import CowTable

        tl = Timeline(self.path)
        slices = resolve_slices(tl, self.as_of)
        out = []
        between = {c: (lo, hi) for c, (lo, hi) in self.bounds.items()}
        for (_pp, fid), s in sorted(slices.items()):
            if between and s.base_path and not s.log_paths:
                stat = tl.commit_metadata(s.commit_ts).find_write_stat(fid)
                if not CowTable._stat_passes(stat, between):
                    continue  # provably empty under the pushed bounds
            out.append(SlicePartition(s.base_path, s.log_paths))
        return out

    def read(self, partition: SlicePartition):
        yield from _merged_batches(partition, self.schema_names, self.arrow_schema)


class LakeviewStreamReader(DataSourceStreamReader):
    """Commit-tailing incremental source: offset = commit timestamp."""

    def __init__(self, options: dict):
        self.path = options["path"]
        # end_ts bounds how far this stream will tail (inclusive): a
        # driver can advance a consumer one source commit at a time by
        # re-draining with successive bounds — the deterministic
        # admission-control knob (the Python stream API has no ReadLimit)
        self.end_ts = options.get("end_ts")
        self.schema_names: list[str] = []
        self.arrow_schema = None  # set by LakeviewDataSource.streamReader

    def initialOffset(self) -> dict:
        return {"ts": "00000000000000"}

    def latestOffset(self) -> dict:
        from ..plans.timeline import Timeline

        latest = Timeline(self.path).latest_timestamp() or "00000000000000"
        if self.end_ts is not None:
            latest = min(latest, self.end_ts)
        return {"ts": latest}

    def partitions(self, start: dict, end: dict):
        from ..plans.timeline import Timeline

        tl = Timeline(self.path)
        out = []
        for inst in tl.commits_in_range(start["ts"], end["ts"]):
            meta = tl.commit_metadata(inst.timestamp)
            for _p, stat in meta.all_stats():
                out.append(
                    SlicePartition(
                        os.path.join(self.path, stat.path),
                        [],
                        commit_filter=inst.timestamp,
                    )
                )
        # Spark requires >= 1 partition per batch; an empty range yields
        # one no-op partition (no path)
        return out or [SlicePartition("", [], commit_filter=None)]

    def read(self, partition: SlicePartition):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if not partition.base_path:
            return
        tbl = pq.read_table(partition.base_path)
        if partition.commit_filter is not None:
            tbl = tbl.filter(
                pc.equal(tbl["_hoodie_commit_time"], partition.commit_filter)
            )
        if "_hoodie_is_deleted" in tbl.column_names:
            # incremental-source semantics: after-images only — MOR delta
            # tombstones are DELETES and flow through the delete view /
            # CDC, not the incremental stream
            tbl = tbl.filter(
                pc.invert(pc.fill_null(tbl["_hoodie_is_deleted"], False))
            )
        import pyarrow as pa

        # schema-evolution tolerance: files written before a column existed
        # (e.g. a bulk-insert base before the first delta commit stamped
        # _hoodie_is_deleted into the table schema) surface it as null /
        # false, same as the native evolved read
        cols = []
        for i, n in enumerate(self.schema_names):
            if n in tbl.column_names:
                cols.append(tbl[n])
            elif n == "_hoodie_is_deleted":
                cols.append(pa.array([False] * tbl.num_rows))
            else:
                cols.append(pa.nulls(tbl.num_rows, type=self.arrow_schema.field(i).type))
        for b in pa.table(dict(zip(self.schema_names, cols))).to_batches():
            if b.num_rows:
                yield b

    def commit(self, end: dict) -> None:
        pass  # offsets are commit timestamps; nothing to clean up


class LakeviewDataSource(DataSource):
    """``spark.read.format("lakeview").option("path", ...)`` — see module
    docstring. Options: ``path`` (required), ``as_of`` (batch only)."""

    @classmethod
    def name(cls) -> str:
        return "lakeview"

    def schema(self) -> StructType:
        return _load_schema(self.options["path"], self.options.get("as_of"))

    def reader(self, schema: StructType) -> LakeviewReader:
        from pyspark.sql.pandas.types import to_arrow_schema

        r = LakeviewReader(dict(self.options))
        r.schema_names = [f.name for f in schema.fields]
        r.arrow_schema = to_arrow_schema(schema)
        return r

    def streamReader(self, schema: StructType) -> LakeviewStreamReader:
        from pyspark.sql.pandas.types import to_arrow_schema

        r = LakeviewStreamReader(dict(self.options))
        r.schema_names = [f.name for f in schema.fields]
        r.arrow_schema = to_arrow_schema(schema)
        return r

    def streamWriter(self, schema: StructType, overwrite: bool):
        if overwrite:
            raise ValueError("lakeview stream writes are append/upsert only")
        return LakeviewStreamWriter(dict(self.options), schema)


class LakeviewReaderNoPushdown(LakeviewReader):
    """Fallback reader for sessions where Python-source filter pushdown
    is disabled: Spark hard-fails any reader that OVERRIDES
    ``pushFilters`` when ``spark.sql.python.filterPushdown.enabled`` is
    false (DATA_SOURCE_PUSHDOWN_DISABLED), so this subclass restores the
    base-class method — the scan still answers (every filter evaluates
    row-level in Spark), only commit-stat file pruning is lost."""

    pushFilters = DataSourceReader.pushFilters


class LakeviewDataSourceNoPushdown(LakeviewDataSource):
    def reader(self, schema: StructType) -> LakeviewReader:
        from pyspark.sql.pandas.types import to_arrow_schema

        r = LakeviewReaderNoPushdown(dict(self.options))
        r.schema_names = [f.name for f in schema.fields]
        r.arrow_schema = to_arrow_schema(schema)
        return r


def register(spark) -> None:
    """Idempotently register the connector with a session.

    A stock session (driver harness, notebook) won't have
    ``spark.sql.python.filterPushdown.enabled`` set, and Spark REFUSES to
    plan a Python reader implementing ``pushFilters`` while it's off —
    so enable it here (it's a runtime SQL conf). If the session rejects
    the set (future static conf, locked-down deployment), degrade to the
    no-pushFilters reader: correctness kept, slice pruning lost."""
    conf_key = "spark.sql.python.filterPushdown.enabled"
    try:
        spark.conf.set(conf_key, "true")
        enabled = (spark.conf.get(conf_key) or "").lower() == "true"
    except Exception:
        enabled = False
    spark.dataSource.register(
        LakeviewDataSource if enabled else LakeviewDataSourceNoPushdown
    )


class _StagedFiles(WriterCommitMessage):
    def __init__(self, path: str | None):
        self.path = path


class LakeviewStreamWriter(DataSourceStreamArrowWriter):
    """``writeStream.format("lakeview")`` — two-phase exactly-once ingest.

    Phase 1 (executors, ``write``): each partition lands its Arrow
    batches as ONE staged parquet file under ``<table>/.stream-staging/``
    — no routing, no coordination.
    Phase 2 (epoch ``commit``): an epoch MANIFEST
    (``.stream-pending/<ts>.manifest.json`` listing the staged files) is
    published atomically — the durable exactly-once record of the
    micro-batch (``abort`` deletes the epoch's staging instead).
    Phase 3 (``CowTable.absorb_stream_epochs``, any driver with a
    session): each pending manifest is applied in epoch order through
    the table's REAL keyed upsert — one table commit per micro-batch
    with write stats the delete-view pipeline consumes; replayed epochs
    (manifest ts already on the timeline) are dropped.

    Why three-phase: the write API hands executors whatever partitioning
    the query plan produced — it cannot reshuffle rows into the table's
    hash-routed file groups (landing unrouted rows as pseudo-log slices
    would break the per-group merge contract) — and the epoch ``commit``
    hook runs in a sessionless worker process, so the routing upsert
    cannot run there either. The absorb service is the same
    land-then-publish shape as Hudi's deltastreamer: the SINK guarantees
    durable exactly-once landing; the TABLE publishes.

    Options: ``path`` (table base), ``keys`` (comma-separated key
    fields), ``partition_field`` (optional), ``base_ts`` (optional
    numeric base for epoch commit timestamps, default 20300101000000),
    ``writer_id`` (optional stable identity for exactly-once dedupe —
    defaults to a hash of ``checkpointLocation``, the identity Spark's
    replay contract is actually keyed on).

    Exactly-once identity: an epoch is ``(writer_id, batchId)``, NOT the
    commit timestamp — a stream restart with a FRESH checkpoint resets
    batchId to 0, and a second writer on the same table reuses the same
    ``base_ts + batchId`` arithmetic, so timestamps alone collide and a
    collision misread as a replay would silently drop data.  The
    manifest name carries the writer_id so two writers never race one
    ``os.replace`` target, and ``absorb_stream_epochs`` dedupes on the
    identity via a ledger, assigning a fresh commit timestamp when the
    preferred one is taken."""

    def __init__(self, options: dict, schema: StructType):
        import hashlib
        import uuid

        self.path = options["path"]
        self.keys = [k for k in options.get("keys", "").split(",") if k]
        if not self.keys:
            raise ValueError("writeStream lakeview needs option('keys', 'col[,col...]')")
        missing = [k for k in self.keys if k not in schema.fieldNames()]
        if missing:
            raise ValueError(f"key column(s) {missing} not in stream schema")
        self.partition_field = options.get("partition_field") or None
        self.num_file_groups = int(options.get("num_file_groups", "4"))
        self.base_ts = int(options.get("base_ts", "20300101000000"))
        ckpt = options.get("checkpointlocation") or options.get("checkpointLocation")
        if options.get("writer_id"):
            self.writer_id = options["writer_id"]
        elif ckpt:
            # checkpoint-stable: a restart of the SAME checkpoint (which
            # may replay its last batch) dedupes, a fresh checkpoint
            # (batchId reset) gets a new identity
            self.writer_id = hashlib.sha1(ckpt.encode()).hexdigest()[:12]
        else:
            self.writer_id = uuid.uuid4().hex[:12]
        self.staging = os.path.join(self.path, ".stream-staging")

    def write(self, iterator) -> _StagedFiles:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _StagedFiles(None)
        os.makedirs(self.staging, exist_ok=True)
        p = os.path.join(self.staging, f"{uuid.uuid4().hex}.parquet")
        pq.write_table(pa.Table.from_batches(batches), p)
        return _StagedFiles(p)

    def _epoch_ts(self, batch_id: int) -> str:
        return f"{self.base_ts + batch_id:014d}"

    def commit(self, messages, batchId: int) -> None:
        paths = [m.path for m in messages if m is not None and m.path]
        if not paths:
            return
        pending = os.path.join(self.path, ".stream-pending")
        os.makedirs(pending, exist_ok=True)
        ts = self._epoch_ts(batchId)
        final = os.path.join(pending, f"{ts}.{self.writer_id}.manifest.json")
        if os.path.exists(final):
            # same-identity replay (driver re-ran a batch whose manifest
            # already published): Spark's contract says the data is
            # equivalent — keep the first publication, drop the re-staged
            # copies so nothing leaks
            for p in paths:
                try:
                    os.remove(p)
                except OSError:
                    pass
            return
        manifest = {
            "ts": ts,
            "writer_id": self.writer_id,
            "batch_id": batchId,
            "paths": [os.path.relpath(p, self.path) for p in paths],
            "keys": self.keys,
            "partition_field": self.partition_field,
            "num_file_groups": self.num_file_groups,
        }
        tmp = final + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, final)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.path:
                try:
                    os.remove(m.path)
                except OSError:
                    pass


class LakeviewAbsorber:
    """ASYNC table service for the connector sink: absorbs pending sink
    epochs while the stream runs instead of on demand (the Hudi
    async-table-services / deltastreamer-continuous analogue; closes
    SURVEY §12 lead 4's "auto-absorb on a schedule").

    Usage::

        absorber = LakeviewAbsorber(spark, tbl_path, min_pending=2)
        spark.streams.addListener(absorber.listener())
        ... run writeStream.format("lakeview") ...
        absorber.drain()          # after awaitTermination: final absorb

    The Spark-first shape: a ``StreamingQueryListener`` runs on the
    DRIVER's listener thread with a live session — exactly the context
    phase-3 absorption needs (the epoch ``commit`` hook is sessionless,
    so the routing upsert cannot run there).  Every micro-batch progress
    event absorbs once at least ``min_pending`` manifests are queued
    (batching epochs amortizes upsert overhead without unbounding the
    serving lag); query termination force-drains.  All table config
    (keys, partition field, file-group count) rides in the manifests, so
    the absorber needs only the table path.  A lock serializes absorbs:
    listener events are sequential per listener, but a caller's
    ``drain()`` may race the terminated-event callback — the exactly-once
    timeline check makes replays no-ops, the lock keeps two absorbs from
    interleaving inside one manifest.  At scale this is the ingest
    split: executors land data with zero coordination, ONE driver-side
    service publishes keyed commits at its own cadence."""

    def __init__(self, spark, table_path: str, min_pending: int = 1,
                 on_publish=None):
        import threading

        self.spark = spark
        self.path = table_path
        self.min_pending = max(1, int(min_pending))
        self.published: list[str] = []
        # hook fired (inside the absorb lock) with the list of commit
        # timestamps just published — the composition point for
        # STREAMING MATERIALIZED VIEWS: pass a callback that refreshes
        # registered AutoMaterializedViews over this table and every
        # landed micro-batch advances them with no extra orchestration
        self.on_publish = on_publish
        self._lock = threading.Lock()

    # -- pending-manifest introspection ---------------------------------
    def _pending_dir(self) -> str:
        return os.path.join(self.path, ".stream-pending")

    def pending(self) -> list[str]:
        try:
            return sorted(
                n
                for n in os.listdir(self._pending_dir())
                if n.endswith(".manifest.json")
            )
        except OSError:
            return []

    def _table(self):
        """Table handle built from the oldest pending manifest's config."""
        from .cow import CowTable

        names = self.pending()
        if not names:
            return None
        with open(os.path.join(self._pending_dir(), names[0])) as f:
            m = json.load(f)
        return CowTable(
            self.spark,
            self.path,
            key_fields=m["keys"],
            partition_field=m.get("partition_field"),
            num_file_groups=m.get("num_file_groups", 4),
        )

    # -- the service ----------------------------------------------------
    def absorb(self, force: bool = False) -> list[str]:
        """Publish pending epochs if the backlog warrants it (always,
        when ``force``).  Returns the commit timestamps published."""
        with self._lock:
            names = self.pending()
            if not names or (len(names) < self.min_pending and not force):
                return []
            table = self._table()
            done = table.absorb_stream_epochs() if table is not None else []
            self.published.extend(done)
            if done and self.on_publish is not None:
                self.on_publish(done)
            return done

    def drain(self) -> list[str]:
        """Final absorb after ``awaitTermination`` — the terminated-event
        callback is asynchronous, so callers needing the table current
        RIGHT NOW drain explicitly (idempotent either way)."""
        return self.absorb(force=True)

    def listener(self):
        """A ``StreamingQueryListener`` bound to this absorber (built
        lazily so constructing an absorber never imports streaming)."""
        from pyspark.sql.streaming import StreamingQueryListener

        absorber = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                absorber.absorb()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                absorber.absorb(force=True)

        self._listener = _Listener()
        return self._listener
