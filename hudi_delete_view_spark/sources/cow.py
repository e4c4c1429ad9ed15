"""Copy-on-write lake table: bulk-insert / upsert / delete writers + readers.

This is the Spark-first re-expression of the reference's table format
(shangyuantech/hudi-delete-view). The reference *consumes* Hudi COW tables —
Parquet file slices + a commit timeline whose write stats carry
``fileId/path/prevCommit/numWrites/numDeletes`` (``DeleteView.java:98-104``).
This module *produces* tables of exactly that shape so the whole pipeline is
self-contained, and reads them back as DataFrames.

Scale design (the part that must survive 100 TB / 1000 executors):

- **One Spark job per commit write.** Rows are hash-assigned to file groups
  JVM-side (``xxhash64(record_key) % n`` — no driver involvement, no key
  index lookup), shuffled once by ``(partition, file_group)``, and written
  with ``partitionBy`` so every file group lands as exactly one Parquet file.
  The driver then only *renames* files and writes KB-scale commit JSON.
- **Write stats come from metadata and the write itself, not extra
  jobs**: per-group row counts are read from Parquet footers (same trick
  as the reference's footer-only count, ``DeleteUtils.java:27-48``);
  per-group update/insert/delete counts and value-index buckets are
  observed on the write action (``DataFrame.observe``). A bulk insert is
  exactly ONE Spark job; upsert, delete and merge are one group rewrite
  (``_rewrite``) that adds only the affected-group collect.
- **Upsert/delete only rewrite affected file groups** — the stats-based
  pruning the reference applies at read time (``DeleteView.java:100``) is
  applied symmetrically at write time.
- **Reads are plain ``spark.read.parquet(*slice_paths)``** — vectorized scan,
  predicate pushdown, column pruning and partition-level parallelism all come
  from Catalyst for free; slice resolution is driver-side metadata only.
"""

from __future__ import annotations

import os
import shutil
from typing import NamedTuple
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..plans import row_deletes
from ..plans.metadata import CommitMetadata, WriteStat
from ..plans.pruning import bounds_filter, may_overlap
from ..plans.slices import FileSlice, resolve_slices, touched_file_groups
from ..plans.timeline import Timeline, TimelineError

# Public Hudi five-column meta convention (SURVEY §1.2)
COMMIT_TIME_FIELD = "_hoodie_commit_time"
COMMIT_SEQNO_FIELD = "_hoodie_commit_seqno"
RECORD_KEY_FIELD = "_hoodie_record_key"
PARTITION_PATH_FIELD = "_hoodie_partition_path"
FILE_NAME_FIELD = "_hoodie_file_name"
META_FIELDS = [
    COMMIT_TIME_FIELD,
    COMMIT_SEQNO_FIELD,
    RECORD_KEY_FIELD,
    PARTITION_PATH_FIELD,
    FILE_NAME_FIELD,
]

# public Hudi tombstone flag column (MOR delete markers)
DELETED_FIELD = "_hoodie_is_deleted"

WRITE_TOKEN = "0-0-0"
DEFAULT_PARTITION = "default"
_PP = "__pp"  # staging-only partition column (partitionBy drops it from files)
_FID = "__fid"
# group-rewrite staging columns (``_rewrite``): the row comes from the
# incoming batch / the incoming row is a delete marker
_SRC = "__src"
_DEL = "__del"

# file name: <fileId>_<writeToken>_<commitTs>[.log].parquet
# The file id embeds the partition value verbatim (fg-<partition>-<n>), so
# it MAY contain '_'; extraction anchors on the trailing
# _<writeToken>_<commitTs> token instead. The greedy (.+) binds to the
# LAST such token, so even a partition value that happens to contain the
# token pattern parses correctly (the real token ends the name).
FILE_ID_REGEX = r"^(.+)_\d+-\d+-\d+_\d+\.(?:log\.)?parquet$"


def file_id_expr(file_name_col):
    """Extract the file-group id from a stored file name, JVM-side."""
    return F.regexp_extract(file_name_col, FILE_ID_REGEX, 1)


def _footer_row_count(path: str) -> int:
    """Row count from Parquet footer only — no data scan (reference
    ``DeleteUtils.java:27-48``)."""
    return pq.ParquetFile(path).metadata.num_rows


def footer_row_count_dir(path: str) -> int:
    """Footer-driven COUNT(*) over a Parquet directory (reference A15)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                total += _footer_row_count(os.path.join(root, name))
    return total


def _json_safe_stat(v):
    """Footer min/max -> JSON-storable scalar (None if not representable)."""
    import datetime

    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (int, float, str, bool)):
        return v
    return None


def _value_bucket(v, n_bits: int) -> int:
    """Driver-side twin of the engine's value-bucket expression:
    ``pmod(md5_prefix60(cast(v as string)), n_bits)`` — hashlib computes
    the identical 60-bit md5 prefix, so probing costs no Spark job.
    ``str`` matches Spark's cast-to-string for ints and strings (the
    supported index column types)."""
    import hashlib

    return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16) % n_bits


def _value_bucket_col(c: str, n_bits: int):
    """The engine-side value bucket of column ``c``: portable 60-bit md5 of
    the value string mod ``n_bits`` (the hash contract ``_value_bucket``
    mirrors on the driver, so a probe's bucket costs no Spark round-trip
    at prune time)."""
    from ..operators.util import md5_prefix60_sql

    return F.expr(f"pmod({md5_prefix60_sql(f'cast(`{c}` as string)')}, {n_bits})")


def _value_index_bitmaps(
    buckets: dict[str, list], n_bits: int
) -> dict[tuple[str, str], dict[str, str]]:
    """{(partition, file_id): {col: base64_bitmap}} from a write's observed
    ``collect_set(struct(__pp, __fid, bucket))`` per index column — the
    ``n_bits``-wide md5-bucket membership bitmap of each written file.

    Groups are keyed by the write's staging columns, i.e. by the PHYSICAL
    file, never by the stored ``_hoodie_file_name``: rewrites that keep row
    stamps (upsert survivors, clustering, repartition, merge) carry OLD
    file names in that column, and grouping on it would drop survivor
    values from the new file's bitmap (a false negative, the one failure
    mode a membership index must never have). A group whose values are all
    NULL still gets an all-zero bitmap."""
    import base64

    out: dict[tuple[str, str], dict[str, str]] = {}
    for c, entries in buckets.items():
        raws: dict[tuple[str, str], bytearray] = {}
        for pp, fid, b in entries:
            raw = raws.setdefault((pp, fid), bytearray(n_bits // 8))
            if b is not None:
                raw[b // 8] |= 1 << (b % 8)
        for g, raw in raws.items():
            # base64 (not a JSON int array): 16384 bits -> ~2.7 KB of
            # commit JSON per (file, column) instead of ~20 KB
            out.setdefault(g, {})[c] = base64.b64encode(bytes(raw)).decode("ascii")
    return out


def _group_id():
    """A row's numeric (partition, file group) id: 53 bits of
    ``xxhash64``, which the doubles of ``histogram_numeric`` hold
    exactly. The driver inverts it over the affected groups."""
    return F.xxhash64(F.col(_PP), F.col(_FID)).bitwiseAND(F.lit((1 << 53) - 1))


class GroupWrite(NamedTuple):
    """One file group a write produced: its table-relative path, footer
    row count, value-index bitmaps, and the rows this commit updated,
    inserted and deleted in it."""

    path: str
    rows: int
    value_index: dict = {}
    updates: int = 0
    inserts: int = 0
    deletes: int = 0


def _bitmap_has(b64: str, bucket: int) -> bool:
    import base64

    raw = base64.b64decode(b64)
    return bool((raw[bucket // 8] >> (bucket % 8)) & 1)


class ConcurrentCommitError(TimelineError):
    """Another writer committed an overlapping file group after this
    writer read its snapshot (optimistic-concurrency conflict). Retry the
    operation from fresh table state."""


_MORTON_BITS = 16


def _morton_code(bounds: dict[str, tuple]) -> "F.Column":
    """Morton (Z-curve) sort key: each numeric column is min/max-normalized
    to 16 bits, then the columns' bits are interleaved — one pure-JVM
    bitwise expression (no UDF), so the clustering sort stays codegen'd.

    ``bounds`` maps column -> (min, max) from a pre-computed scalar agg;
    degenerate columns (min == max) contribute constant zeros."""
    scaled = []
    for c, (mn, mx) in bounds.items():
        span = (mx - mn) if mx is not None and mn is not None else 0
        if not span:
            scaled.append(F.lit(0).cast("long"))
            continue
        norm = (F.col(c).cast("double") - F.lit(float(mn))) / F.lit(float(span))
        scaled.append(
            F.least(
                F.floor(norm * F.lit(float(1 << _MORTON_BITS))).cast("long"),
                F.lit((1 << _MORTON_BITS) - 1),
            )
        )
    n = len(scaled)
    code = F.lit(0).cast("long")
    for bit in range(_MORTON_BITS):
        for j, s in enumerate(scaled):
            code = code.bitwiseOR(
                F.shiftleft(s.bitwiseAND(F.lit(1 << bit)).cast("long"), bit * (n - 1) + j)
            )
    return code


def footer_column_stats(path: str, cols: list[str]) -> dict[str, list]:
    """Per-file [min, max] for ``cols``, lifted from Parquet row-group
    footers — no data scan. A column is omitted when any row group lacks
    min/max (pruning then stays conservative for that file)."""
    md = pq.ParquetFile(path).metadata
    if md.num_rows == 0:
        return {}
    idx = {}
    for i in range(md.num_columns):
        idx[md.row_group(0).column(i).path_in_schema] = i
    out: dict[str, list] = {}
    for c in cols:
        if c not in idx:
            continue
        mn = mx = None
        ok = True
        for rg in range(md.num_row_groups):
            # pyarrow can't decode min/max for every physical type
            # (e.g. decimal raises ArrowNotImplementedError): treat as
            # stats-absent — pruning stays conservative for the column
            try:
                s = md.row_group(rg).column(idx[c]).statistics
                has = s is not None and s.has_min_max
                lo_rg, hi_rg = (s.min, s.max) if has else (None, None)
            except Exception:
                has = False
            if not has:
                ok = False
                break
            mn = lo_rg if mn is None else min(mn, lo_rg)
            mx = hi_rg if mx is None else max(mx, hi_rg)
        if ok:
            lo, hi = _json_safe_stat(mn), _json_safe_stat(mx)
            if lo is not None and hi is not None:
                out[c] = [lo, hi]
    return out


class CowTable:
    """A copy-on-write lake table rooted at ``base_path``.

    ``key_fields`` define the record key (``_hoodie_record_key`` =
    ``:``-joined string cast); ``partition_field`` (optional) defines the
    partition path; ``num_file_groups`` buckets records per partition by
    ``xxhash64(record_key)`` — the assignment is *stateless*, so upserts and
    deletes locate a key's file group without any index lookup or data scan.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        key_fields: list[str],
        partition_field: str | None = None,
        num_file_groups: int = 4,
        stats_columns: list[str] | None = None,
        index_columns: list[str] | None = None,
    ):
        self.spark = spark
        self.base_path = base_path
        self.key_fields = list(key_fields)
        self.partition_field = partition_field
        self.num_file_groups = num_file_groups
        # columns whose per-file [min, max] is published in commit metadata
        # for file-level data skipping (default: key + partition columns)
        self.stats_columns = list(
            stats_columns
            if stats_columns is not None
            else [*key_fields, *( [partition_field] if partition_field else [] )]
        )
        # secondary value-bucket index columns: for each, every published
        # file carries an index_bits-wide md5-bucket bitmap of its values
        # so EQUALITY predicates prune files whose [min, max] overlap.
        # Handle-level config like stats_columns; the buckets are observed
        # on each commit's write, so the index costs no extra Spark job.
        self.index_columns = list(index_columns or [])
        # bitmap width per (file, column); 16384 bits = 256 longs ~ 2 KB of
        # commit JSON per file per column. Sized so a file with a few
        # thousand distinct values stays unsaturated (fill ~ 1-exp(-d/bits));
        # a saturated bitmap silently degrades to no-op pruning, never to a
        # wrong answer
        self.index_bits = 16384
        self.timeline = Timeline(base_path)
        # metadata/writer-side FS seam (plans/fs.py): local paths on os,
        # URI paths through Hadoop FileSystem — shared with the timeline
        self.fs = self.timeline.fs

    # ------------------------------------------------------------------
    # meta-column derivation (all JVM-side expressions)
    # ------------------------------------------------------------------
    def _record_key_col(self):
        return F.concat_ws(":", *[F.col(f).cast("string") for f in self.key_fields])

    def _active_layout(self) -> tuple[str | None, int]:
        """Current routing layout ``(partition_field, num_file_groups)``:
        the most recent repartition commit's published layout wins over the
        constructor values, so a reader-constructed handle keeps routing
        upserts/deletes/lookups correctly after the table evolved.
        Driver-side metadata only (commit JSON is memo-cached)."""
        for ts in reversed(self.timeline.timestamps()):
            lay = (self.timeline.commit_metadata(ts).extra or {}).get("layout")
            if lay:
                return lay.get("partitionField"), int(lay["numFileGroups"])
        return self.partition_field, self.num_file_groups

    def _partition_col(self):
        pf, _n = self._active_layout()
        if pf is None:
            return F.lit(DEFAULT_PARTITION)
        return F.coalesce(F.col(pf).cast("string"), F.lit(DEFAULT_PARTITION))

    def _fid_col(self, partition_col):
        _pf, n = self._active_layout()
        bucket = F.pmod(F.xxhash64(F.col(RECORD_KEY_FIELD)), F.lit(n))
        return F.concat(F.lit("fg-"), partition_col, F.lit("-"), bucket.cast("string"))

    def _routed(self, df: DataFrame, *cols) -> DataFrame:
        """``cols`` of ``df`` plus its record key and partition path."""
        return df.select(
            *cols,
            self._record_key_col().alias(RECORD_KEY_FIELD),
            self._partition_col().alias(PARTITION_PATH_FIELD),
        )

    def _with_meta(self, df: DataFrame, commit_ts: str, suffix: str = ".parquet") -> DataFrame:
        """Stamp the five Hudi-style meta columns + staging helper cols,
        meta fields first, then the payload. Two projections: every
        DataFrame step is a driver-side analysis of the whole plan, which
        a commit pays before its first job."""
        payload = [c for c in df.columns if c not in META_FIELDS]
        fid = self._fid_col(F.col(PARTITION_PATH_FIELD))
        return self._routed(df, *payload).select(
            F.lit(commit_ts).alias(COMMIT_TIME_FIELD),
            F.concat_ws(
                "_", F.lit(commit_ts), fid, F.monotonically_increasing_id().cast("string")
            ).alias(COMMIT_SEQNO_FIELD),
            RECORD_KEY_FIELD,
            PARTITION_PATH_FIELD,
            F.concat(fid, F.lit(f"_{WRITE_TOKEN}_{commit_ts}{suffix}")).alias(FILE_NAME_FIELD),
            *payload,
            F.col(PARTITION_PATH_FIELD).alias(_PP),
            fid.alias(_FID),
        )

    def _dedup_incoming(self, stamped: DataFrame) -> DataFrame:
        """Enforce record-key uniqueness within an incoming batch (the
        Hudi precombine analogue): deterministic winner = first row under
        payload-column ordering. Without this, duplicate keys in one batch
        would both land in the table and break the key invariant the
        delete-view anti-join and MOR merge rely on."""
        payload = [
            c for c in stamped.columns if c not in META_FIELDS and c not in (_PP, _FID)
        ]
        w = Window.partitionBy(RECORD_KEY_FIELD).orderBy(*payload)
        return (
            stamped.withColumn("__dup_rn", F.row_number().over(w))
            .filter(F.col("__dup_rn") == 1)
            .drop("__dup_rn")
        )

    # ------------------------------------------------------------------
    # physical write: one shuffle job, driver renames only
    # ------------------------------------------------------------------
    def _write_file_groups(
        self,
        df: DataFrame,
        commit_ts: str,
        expected_groups: list[tuple[str, str]] | None = None,
        suffix: str = ".parquet",
        sort_cols: list[str] | None = None,
        parquet_block_bytes: int | None = None,
        gids: dict[int, tuple[str, str]] | None = None,
    ) -> dict[tuple[str, str], GroupWrite]:
        """Write one Parquet file per (partition, file_id) group.

        ``repartition(__pp, __fid)`` puts each group wholly in one task, and
        ``partitionBy`` routes it to its own leaf dir — so each group becomes
        exactly one file regardless of how many groups share a task. Returns
        {(partition, file_id): GroupWrite}.

        ``expected_groups`` forces empty slices to exist (a delete that
        empties a whole file group must still publish a zero-row file —
        FIXTURES.md edge case; the reference reads such slices fine).

        With ``gids`` ({group id: group}, see ``_group_id``) ``df`` is a
        group rewrite's union of old rows and incoming rows (``_rewrite``).
        Every row of a key then sits in its group's task, so one window
        over (group, key) resolves the key without a join: an old row
        survives when no incoming row names its key, is updated when a
        non-marker one does, and is deleted when only markers do; an
        incoming row is written unless it is a marker.

        The per-group metadata beyond the footer row count is observed on
        the write itself (``DataFrame.observe``, no extra Spark job): a
        rewrite's updated, inserted and deleted rows per group, and the
        value-index buckets of ``index_columns`` over the written rows.
        """
        staging = os.path.join(self.base_path, f".staging-{commit_ts}")
        self.fs.rmtree(staging)
        shuffled = df.repartition(F.col(_PP), F.col(_FID))
        aggs, keep = [], None
        if gids is not None:
            # hash partitioning on the group satisfies the (group, key)
            # window: it adds no exchange
            w = Window.partitionBy(_PP, _FID, RECORD_KEY_FIELD)
            src, marker = F.col(_SRC), F.col(_DEL)
            shuffled = shuffled.select(
                "*",
                F.max(src).over(w).alias("__named"),
                F.max(src & ~marker).over(w).alias("__upserted"),
                F.min(src).over(w).alias("__new"),
            )
            named, upserted = F.col("__named"), F.col("__upserted")
            keep = (~src & ~named) | (src & ~marker)
            # one histogram per count, each exact only where every row of
            # a group sits in one task, i.e. after the repartition: partial
            # histograms of one id merged across tasks miscount
            nb = F.lit(len(gids) + 1)
            aggs = [
                F.histogram_numeric(F.when(cond, _group_id()), nb).alias(f"__n_{n}")
                for n, cond in (
                    ("updates", ~src & upserted),
                    ("inserts", src & ~marker & F.col("__new")),
                    ("deletes", ~src & named & ~upserted),
                )
            ]
        if sort_cols:
            # group cols lead the sort so each leaf file comes out ordered
            # by sort_cols even when several groups share a task; entries
            # may be column names or arbitrary sort expressions (Z-order)
            exprs = [F.col(c) if isinstance(c, str) else c for c in sort_cols]
            shuffled = shuffled.sortWithinPartitions(F.col(_PP), F.col(_FID), *exprs)
        vix_cols = [c for c in self.index_columns if c in df.columns]
        for i, c in enumerate(vix_cols):
            bucket = F.struct(F.col(_PP), F.col(_FID), _value_bucket_col(c, self.index_bits))
            aggs.append(F.collect_set(
                bucket if keep is None else F.when(keep, bucket)
            ).alias(f"__vix_{i}"))
        observation = None
        if aggs:
            # observed AFTER the repartition: there every group sits in one
            # task, which the histograms' exactness needs (an AQE
            # partitioned write of zero rows also reports no metrics at all
            # on the pre-shuffle frame)
            observation = Observation()
            shuffled = shuffled.observe(observation, *aggs)
        if keep is not None:
            shuffled = shuffled.filter(keep).drop(
                _SRC, _DEL, "__named", "__upserted", "__new"
            )
        writer = shuffled.write.partitionBy(_PP, _FID).mode("overwrite")
        if parquet_block_bytes:
            writer = writer.option("parquet.block.size", str(parquet_block_bytes))
        # record-key bloom filter per row group (Hudi bloom-index analogue
        # at the file level): the hash routing already prunes a point
        # lookup to ONE file group; the bloom filter lets the reader skip
        # row groups inside that file too. A few KB per file; readers that
        # don't filter on the key ignore it entirely.
        writer = writer.option(
            f"parquet.bloom.filter.enabled#{RECORD_KEY_FIELD}", "true"
        )
        # adaptive bloom sizing: without it parquet-mr allocates the
        # bitset for the DEFAULT expected NDV (~1M keys -> a 1 MiB
        # mostly-zero bloom per file), which floors every small delta log
        # at ~1 MB and poisons size-based compaction policies; adaptive
        # mode sizes the bitset from the actual distinct keys written
        writer = writer.option("parquet.bloom.filter.adaptive.enabled", "true")
        writer.parquet(staging)
        observed = observation.get if observation else {}
        vix = _value_index_bitmaps(
            {c: observed[f"__vix_{i}"] for i, c in enumerate(vix_cols)}, self.index_bits
        )
        counts: dict[tuple[str, str], dict[str, int]] = {}
        for n in ("updates", "inserts", "deletes") if gids is not None else ():
            for b in observed[f"__n_{n}"] or []:
                counts.setdefault(gids[int(b["x"])], {})[n] = round(b["y"])

        written: dict[tuple[str, str], GroupWrite] = {}
        for pp_dir in self.fs.listdir(staging):
            if not pp_dir.startswith(f"{_PP}="):
                continue
            partition = unquote(pp_dir.split("=", 1)[1])
            for fid_dir in self.fs.listdir(os.path.join(staging, pp_dir)):
                if not fid_dir.startswith(f"{_FID}="):
                    continue
                file_id = unquote(fid_dir.split("=", 1)[1])
                leaf = os.path.join(staging, pp_dir, fid_dir)
                parts = [f for f in self.fs.listdir(leaf) if f.endswith(".parquet")]
                assert len(parts) == 1, f"file group {file_id} split across {len(parts)} files"
                target_dir = os.path.join(self.base_path, partition)
                self.fs.makedirs(target_dir)
                fname = f"{file_id}_{WRITE_TOKEN}_{commit_ts}{suffix}"
                target = os.path.join(target_dir, fname)
                self.fs.replace(os.path.join(leaf, parts[0]), target)
                g = (partition, file_id)
                written[g] = GroupWrite(
                    os.path.join(partition, fname),
                    _footer_row_count(target),
                    vix.get(g, {}),
                    **counts.get(g, {}),
                )

        # publish empty slices for groups the write produced no rows for
        missing = [g for g in (expected_groups or []) if g not in written]
        if missing:
            empty = self.spark.createDataFrame([], df.drop(_PP, _FID, _SRC, _DEL).schema)
            tmp = os.path.join(staging, "_empty")
            empty.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(
                os.path.join(tmp, f)
                for f in self.fs.listdir(tmp)
                if f.endswith(".parquet")
            )
            for partition, file_id in missing:
                target_dir = os.path.join(self.base_path, partition)
                self.fs.makedirs(target_dir)
                fname = f"{file_id}_{WRITE_TOKEN}_{commit_ts}{suffix}"
                self.fs.copy(src, os.path.join(target_dir, fname))
                written[(partition, file_id)] = GroupWrite(
                    os.path.join(partition, fname), 0, {},
                    **counts.get((partition, file_id), {}),
                )

        self.fs.rmtree(staging)
        return written

    def _ensure_new_commit_ts(self, commit_ts: str) -> None:
        """Monotonicity pre-flight, called BEFORE any file write: a commit
        timestamp that isn't strictly newer than every existing instant
        must fail here — ``_write_file_groups`` names files with the commit
        timestamp, so letting a same-ts retry proceed would ``os.replace``
        a PUBLISHED commit's data files before the OCC gate ever runs."""
        self.timeline.refresh()
        newer = [t for t in self.timeline.timestamps() if t >= commit_ts]
        if newer:
            raise ConcurrentCommitError(
                f"commit {commit_ts} is not newer than existing instants {newer}"
            )

    def _remove_written(self, written: dict) -> None:
        """Conflict-loser cleanup: remove the files this write moved in —
        EXCEPT any file some published commit references (a same-ts
        collision that slipped past the pre-flight must never delete a
        committed file; readers' metadata still points at it)."""
        referenced = {
            s.path
            for t in self.timeline.timestamps()
            for _p, s in self.timeline.commit_metadata(t).all_stats()
        }
        for w in written.values():
            if w.path in referenced:
                continue
            try:
                self.fs.remove(os.path.join(self.base_path, w.path))
            except OSError:
                pass

    def _occ_check(
        self,
        commit_ts: str,
        groups: set,
        read_ts: str | None,
        conflict_any: bool = False,
    ) -> None:
        """Optimistic-concurrency gate, run against a fresh timeline
        listing immediately before metadata publish: the new commit must be
        strictly newer than every existing instant, and no commit that
        landed after ``read_ts`` (the instant this writer's view was based
        on) may touch any of the file groups being written — such a rewrite
        would silently drop the other writer's changes. Group-disjoint
        concurrent commits pass (the Hudi OCC granularity).

        Two whole-table cases escalate past group granularity: a writer
        publishing a layout-evolution commit conflicts with ANY commit that
        landed meanwhile (``conflict_any=True`` — the rewrite covered every
        group its snapshot had), and symmetrically any writer conflicts
        with a layout-evolution commit that landed meanwhile (the file
        groups it planned against no longer exist — group names differ
        across layouts, so the set intersection alone would miss it).
        ``read_ts="__unchecked__"`` skips the overlap check."""
        self.timeline.refresh()
        newer = [t for t in self.timeline.timestamps() if t >= commit_ts]
        if newer:
            raise ConcurrentCommitError(
                f"commit {commit_ts} is not newer than existing instants {newer}"
            )
        if read_ts == "__unchecked__":
            return
        landed = [
            t for t in self.timeline.timestamps() if (read_ts is None or t > read_ts)
        ]
        if conflict_any and landed:
            raise ConcurrentCommitError(
                f"whole-table commit {commit_ts} conflicts with commits that "
                f"landed after its read point {read_ts}: {landed}"
            )
        for t in landed:
            meta_t = self.timeline.commit_metadata(t)
            if (meta_t.extra or {}).get("replacesAllFileGroups"):
                raise ConcurrentCommitError(
                    f"commit {commit_ts} conflicts with layout-evolution "
                    f"commit {t}: its file groups no longer exist"
                )
            theirs = {(p, s.file_id) for p, s in meta_t.all_stats()}
            clash = sorted(groups & theirs)
            if clash:
                raise ConcurrentCommitError(
                    f"commit {commit_ts} conflicts with {t} on file "
                    f"groups {clash[:5]}{'...' if len(clash) > 5 else ''}"
                )

    def _publish(
        self,
        commit_ts: str,
        operation: str,
        written: dict[tuple[str, str], GroupWrite],
        prev_slices: dict[tuple[str, str], FileSlice],
        schema_json: str | None = None,
        read_ts: str | None = "__unchecked__",
        conflict_any: bool = False,
        extra: dict | None = None,
    ) -> CommitMetadata:
        """Publish the commit JSON for the groups ``written``.

        Each group's stats are the ones its write carried: the footer row
        count, and the updates, inserts and deletes a group rewrite
        observed (``_rewrite``; bulk inserts count every row an insert,
        table services change no record). ``prevCommit`` is the slice the
        group replaces. No Spark job and no footer read of the old slice.

        ``read_ts`` enables optimistic concurrency control: the latest
        instant the writer's view was based on when it resolved slices.
        Before publishing, the timeline is re-listed; a commit that landed
        after ``read_ts`` and touched any of this write's file groups is a
        conflict (the rewrite would silently drop its changes) → raise,
        caller retries from fresh state. Group-disjoint concurrent commits
        publish fine — the Hudi OCC granularity.
        """
        try:
            self._occ_check(commit_ts, set(written), read_ts, conflict_any)
        except Exception:
            # conflict loser: remove the files this write already moved in,
            # or every conflict would orphan a full rewritten group set
            # (clean() only sees files referenced by commit metadata)
            self._remove_written(written)
            raise
        # published stats always cover the ACTIVE layout's partition field
        # too (it may differ from the constructor's after a partition
        # evolution — file skipping on the new partition column must work
        # from any handle, old or new)
        active_pf, _n = self._active_layout()
        stats_cols = list(
            dict.fromkeys([*self.stats_columns, *([active_pf] if active_pf else [])])
        )
        p2ws: dict[str, list[WriteStat]] = {}
        total_deleted = 0
        for (partition, file_id), w in sorted(written.items()):
            prev = prev_slices.get((partition, file_id))
            total_deleted += w.deletes
            abs_path = os.path.join(self.base_path, w.path)
            p2ws.setdefault(partition, []).append(
                WriteStat(
                    file_id=file_id,
                    path=w.path,
                    prev_commit=prev.commit_ts if prev else None,
                    num_writes=w.rows,
                    num_update_writes=w.updates,
                    num_deletes=w.deletes,
                    num_inserts=w.inserts,
                    file_size_bytes=self.fs.size(abs_path),
                    column_stats=footer_column_stats(abs_path, stats_cols),
                    value_index=w.value_index,
                )
            )
        meta = CommitMetadata(
            commit_ts=commit_ts,
            operation=operation,
            partition_to_write_stats=p2ws,
            total_records_deleted=total_deleted,
            schema_json=schema_json,
            extra=extra or {},
        )
        meta.write(os.path.join(self.base_path, ".hoodie"))
        self.timeline.refresh()
        return meta

    # ------------------------------------------------------------------
    # write operations
    # ------------------------------------------------------------------
    def bulk_insert(self, df: DataFrame, commit_ts: str) -> CommitMetadata:
        """Initial load: hash-bucket all rows into file groups — exactly
        ONE Spark job. Every row written is an insert, so each group's
        insert count is its footer row count."""
        stamped = self._dedup_incoming(self._with_meta(df, commit_ts))
        self._ensure_new_commit_ts(commit_ts)
        read_ts = self.timeline.latest_timestamp()
        written = {
            g: w._replace(inserts=w.rows)
            for g, w in self._write_file_groups(stamped, commit_ts).items()
        }
        return self._publish(
            commit_ts, "bulk_insert", written, prev_slices={},
            schema_json=stamped.drop(_PP, _FID).schema.json(),
            read_ts=read_ts,
        )

    def _rewrite(
        self,
        source: DataFrame,
        deleted,
        commit_ts: str,
        operation: str,
        publish_empty: bool = True,
    ) -> CommitMetadata | None:
        """The one group rewrite under every keyed COW write: ``source``
        holds stamped incoming rows (``_with_meta``), and those where the
        boolean column ``deleted`` holds are delete markers for their key.

        Shape: the affected-group collect (pre-dedup: dedup only drops
        rows, so it adds no group), then the affected groups' live rows
        (``_read_groups``; on MOR the merged rows) unioned with the
        incoming rows, non-marker rows deduplicated, then ONE
        ``repartition`` by group into the write (``_write_file_groups``),
        which resolves each key in its group's task and observes the
        per-group updates, inserts and deletes. With AQE off that is two
        jobs, the collect and the write; with AQE on each query stage is
        a job (4 for a delete, 5 for an upsert or merge).

        A non-marker row beats a marker of its key, so a key both deleted
        and upserted ends live. Unchanged rows keep their meta columns (so
        incremental reads see only changed records). A group only markers
        route to is a no-op unless one of them matched: it is not
        published (standard MERGE semantics), and markers for groups
        never written are dropped up front. ``publish_empty=False``
        publishes nothing when no group is affected (returns None)."""
        src = source.withColumn(_DEL, F.coalesce(deleted, F.lit(False)))
        affected = src.groupBy(_PP, _FID, _group_id().alias("__gid")).agg(
            F.max(~F.col(_DEL)).alias("__w")
        ).collect()
        self._ensure_new_commit_ts(commit_ts)
        read_ts = self.timeline.latest_timestamp()
        prev_slices = resolve_slices(self.timeline)
        upserted = {(r[_PP], r[_FID]) for r in affected if r["__w"]}
        kept = [r for r in affected if r["__w"] or (r[_PP], r[_FID]) in prev_slices]
        if not kept and not publish_empty:
            return None
        gids = {r["__gid"]: (r[_PP], r[_FID]) for r in kept}
        if len(gids) < len(kept):
            raise RuntimeError(f"{operation} {commit_ts}: two file groups share a group id")
        groups = set(gids.values())
        # a batch of markers only (a delete) has nothing to deduplicate
        incoming = src.filter(F.col(_DEL))
        if upserted:
            incoming = self._dedup_incoming(src.filter(~F.col(_DEL))).unionByName(incoming)
        incoming = incoming.withColumn(_SRC, F.lit(True))
        merged = incoming
        old = self._read_groups(prev_slices, groups)
        if old is not None:
            old = old.select(
                "*",
                F.col(PARTITION_PATH_FIELD).alias(_PP),
                file_id_expr(F.col(FILE_NAME_FIELD)).alias(_FID),
                F.lit(False).alias(_SRC),
                F.lit(False).alias(_DEL),
            )
            # allowMissingColumns = schema evolution: columns added by this
            # commit appear with nulls on surviving old rows (and vice
            # versa for columns the incoming batch omits)
            merged = old.unionByName(incoming, allowMissingColumns=True)
        if upserted:
            schema_json = merged.drop(_PP, _FID, _SRC, _DEL).schema.json()
        elif read_ts is None:
            raise TimelineError(f"{operation} on empty table")
        else:
            schema_json = self.timeline.commit_metadata(read_ts).schema_json
        written = self._write_file_groups(
            merged, commit_ts, expected_groups=sorted(groups), gids=gids
        ) if groups else {}
        noop = {
            g: w for g, w in written.items()
            if g not in upserted and not (w.updates or w.inserts or w.deletes)
        }
        self._remove_written(noop)
        written = {g: w for g, w in written.items() if g not in noop}
        if not written and not publish_empty:
            return None
        return self._publish(
            commit_ts, operation, written, prev_slices,
            schema_json=schema_json, read_ts=read_ts,
        )

    def upsert(self, df: DataFrame, commit_ts: str) -> CommitMetadata:
        """Rewrite only the file groups the incoming keys hash into
        (``_rewrite`` with no delete markers): old rows whose key the
        batch names are updated, the others survive, new keys insert."""
        return self._rewrite(self._with_meta(df, commit_ts), F.lit(False), commit_ts, "upsert")

    def delete(self, keys_df: DataFrame, commit_ts: str) -> CommitMetadata:
        """Delete by key: rewrite the affected groups without the given
        keys (``_rewrite`` with every row a marker).

        ``keys_df`` carries the key fields PLUS the partition column when
        the table is partitioned (routing needs it — same contract as
        ``lookup``'s trailing partition value); payload columns are
        ignored. A missing routing column raises a named error up front
        instead of an opaque resolution failure mid-plan. This is
        the write-side producer of everything ``delete_view`` consumes:
        write stats with ``numDeletes > 0`` and ``prevCommit`` per group.
        Keys that match no row publish no group.
        """
        return self._rewrite(
            self._markers(keys_df, "delete keys_df"), F.lit(True), commit_ts, "delete"
        )

    def _markers(self, keys_df: DataFrame, what: str) -> DataFrame:
        """Delete markers for the keys of ``keys_df``, which must
        carry the key fields plus the partition column when the table is
        partitioned (routing needs it). A missing routing column raises a
        named error up front: a marker routed to the default partition
        would match nothing and drop the delete silently. Markers carry
        the meta columns only, so no payload column of ``keys_df`` (nor a
        key column typed unlike the table's) reaches the written rows or
        the published schema through the rewrite's union."""
        pf, _n = self._active_layout()
        routing = [*self.key_fields, *([pf] if pf else [])]
        missing = [c for c in routing if c not in keys_df.columns]
        if missing:
            raise ValueError(
                f"{what} is missing routing column(s) {missing}: a "
                f"partitioned table needs the partition value alongside the "
                f"key fields (table keys={self.key_fields}, partition={pf!r})"
            )
        # markers are never written: their commit stamps stay null
        stamp = {COMMIT_TIME_FIELD, COMMIT_SEQNO_FIELD, FILE_NAME_FIELD}
        return self._routed(keys_df).select(
            *[F.lit(None).cast("string").alias(c) if c in stamp else c for c in META_FIELDS],
            F.col(PARTITION_PATH_FIELD).alias(_PP),
            self._fid_col(F.col(PARTITION_PATH_FIELD)).alias(_FID),
        )

    def delete_where(self, condition, commit_ts: str) -> CommitMetadata:
        """Predicate delete: snapshot → filter → key-delete."""
        return self.delete(self.snapshot().filter(condition), commit_ts)

    def merge_into(
        self, source: DataFrame, commit_ts: str, delete_condition=None
    ) -> CommitMetadata:
        """SQL ``MERGE INTO`` as ONE commit (the Delta/Hudi mixed-action
        write): source rows satisfying ``delete_condition`` delete their
        target keys WHEN MATCHED; every other source row updates WHEN
        MATCHED and inserts WHEN NOT MATCHED. Unmatched delete-flagged rows
        are no-ops (standard MERGE semantics).

        Single-commit is the point — upsert-then-delete would cost two
        group rewrites and leave an intermediate timeline state readers can
        observe. It is ``_rewrite`` with the delete-flagged rows as
        markers, so a merge with matched deletes feeds the delete view
        exactly like a delete commit (``numDeletes > 0`` + ``prevCommit``
        pairing; the view's anti-join reconstructs the deleted rows —
        SURVEY §2 A2/B6, DeleteView.java:100).
        """
        if delete_condition is None:
            delete_condition = F.lit(False)
        elif isinstance(delete_condition, str):
            delete_condition = F.expr(delete_condition)
        return self._rewrite(
            self._with_meta(source, commit_ts), delete_condition, commit_ts, "merge"
        )

    def apply_delta(
        self, live: DataFrame, dead: DataFrame, commit_ts: str
    ) -> CommitMetadata | None:
        """One commit applying a maintained view's delta (``_rewrite``):
        the ``dead`` keys delete and the ``live`` rows upsert; a key on
        both sides ends live, and an empty delta publishes nothing.
        ``dead`` follows ``delete``'s routing contract (``_markers``)."""
        source = self._with_meta(live, commit_ts).withColumn(_DEL, F.lit(False)).unionByName(
            self._markers(dead, "apply_delta dead").withColumn(_DEL, F.lit(True)),
            allowMissingColumns=True,
        )
        return self._rewrite(source, F.col(_DEL), commit_ts, "merge", publish_empty=False)

    def _lookup_probe(self, keys: list[tuple]) -> tuple[set, set]:
        """(wanted record keys, {(partition, file_id)}) for key tuples in
        ``key_fields`` order, with the partition value appended (trailing)
        when the table is partitioned.

        Key rendering and group routing run through the SAME Spark
        expressions the writer used (``_record_key_col`` / ``_fid_col``),
        so Python-vs-Spark stringification can never diverge. One tiny
        local job over len(keys) rows — metadata scale."""
        if not keys:
            raise ValueError("lookup needs at least one key")
        if self.timeline.latest_timestamp() is None:
            raise TimelineError(f"table at {self.base_path} has no commits")
        cols = [*self.key_fields, *([self.partition_field] if self.partition_field else [])]
        for k in keys:
            if len(k) != len(cols):
                raise ValueError(
                    f"lookup key {k!r} must have {len(cols)} values ({cols})"
                )
        probe = self.spark.createDataFrame([tuple(k) for k in keys], cols)
        rows = self._routed(probe).select(
            RECORD_KEY_FIELD, PARTITION_PATH_FIELD,
            self._fid_col(F.col(PARTITION_PATH_FIELD)).alias(_FID),
        ).collect()
        return {r[RECORD_KEY_FIELD] for r in rows}, {
            (r[PARTITION_PATH_FIELD], r[_FID]) for r in rows
        }

    def lookup(self, keys: list[tuple], as_of: str | None = None) -> DataFrame:
        """Point lookup by full record key — the record-index analogue.

        The stateless ``hash(record_key) -> file group`` routing that
        writes rely on is equally a READ index: a key can only live in ONE
        file group of its partition, so the lookup plans a scan over
        exactly those files — O(keys) metadata work, no stats consultation,
        no full listing. At 100 TB that's the difference between touching
        a handful of files and a table scan that data skipping can only
        partially save. ``keys`` are tuples in ``key_fields`` order, with
        the partition value appended when the table is partitioned:
        ``(key..., partition)``.
        """
        wanted, targets = self._lookup_probe(keys)
        if as_of is not None:
            self.timeline.instant_for(as_of)
        slices = resolve_slices(self.timeline, as_of)
        df = self._read_groups(slices, {g for g in targets if g in slices}, as_of)
        if df is None:
            return self.snapshot(as_of).limit(0)
        return df.filter(F.col(RECORD_KEY_FIELD).isin(sorted(wanted)))

    def rollback(self, commit_ts: str) -> list[str]:
        """Undo the LATEST commit (Hudi rollback analogue): delete the data
        files it wrote and retire its timeline entry.

        Only the newest commit is rollback-able — commits chain via
        ``prevCommit`` (A3), so removing a mid-timeline instant would break
        every later slice's predecessor resolution. Each commit's files are
        named with its own timestamp (never shared), so deleting them can't
        corrupt earlier slices. The commit JSON is renamed, not deleted
        (``<ts>.commit.rolledback``), keeping the timeline auditable the
        way Hudi's rollback instants do. Returns the removed data paths."""
        latest = self.timeline.latest_timestamp()
        if latest is None or commit_ts != latest:
            raise TimelineError(
                f"only the latest commit can be rolled back "
                f"(requested {commit_ts}, latest {latest})"
            )
        if commit_ts in self.savepoints():
            # Hudi blocks rollback past a savepoint; a dangling marker
            # would silently re-pin a nonexistent commit forever
            raise TimelineError(
                f"commit {commit_ts} is savepointed; release_savepoint first"
            )
        if (
            self.timeline.archive_boundary() is not None
            and len(self.timeline.timestamps()) == 1
        ):
            # the checkpoint seeds slice resolution but the reader's
            # as-of anchor is the active timeline — emptying it would
            # strand the archived state behind a "no commits" error
            raise TimelineError(
                "rolling back the last ACTIVE commit would strand the "
                "archived table state; the archive keeps >= 1 active instant"
            )
        meta = self.timeline.commit_metadata(commit_ts)
        removed = []
        for _p, stat in meta.all_stats():
            p = os.path.join(self.base_path, stat.path)
            if self.fs.exists(p):
                self.fs.remove(p)
                removed.append(p)
        meta_dir = os.path.join(self.base_path, ".hoodie")
        self.fs.replace(
            os.path.join(meta_dir, f"{commit_ts}.commit"),
            os.path.join(meta_dir, f"{commit_ts}.commit.rolledback"),
        )
        # drop any materialized delete view of the retired commit
        self.fs.rmtree(
            os.path.join(self.base_path, ".delete", commit_ts)
        )
        self.timeline.refresh()
        return removed

    def restore(self, to_commit_ts: str) -> list[str]:
        """Restore the table to ``to_commit_ts`` by rolling back every later
        commit, newest first (the Hudi savepoint-restore shape). Returns all
        removed data paths."""
        self.timeline.instant_for(to_commit_ts)  # raises if unknown
        removed: list[str] = []
        while True:
            latest = self.timeline.latest_timestamp()
            if latest is None or latest <= to_commit_ts:
                return removed
            removed += self.rollback(latest)

    def cluster(
        self,
        commit_ts: str,
        sort_cols: list[str],
        parquet_block_bytes: int | None = None,
        zorder: bool = False,
    ) -> CommitMetadata:
        """Layout-optimizing rewrite — the Hudi clustering / replacecommit
        analogue, scoped to sort-within-file-group so the stateless
        hash(key) -> file-group routing upserts rely on stays valid.

        Rows are byte-identical to the previous snapshot (meta columns
        included: ``_hoodie_commit_time`` keeps its original stamp, so
        incremental/CDC reads see NO changes from a clustering commit);
        only the physical order inside each file changes. Sorting by a
        scan predicate's column tightens per-row-group min/max, which the
        Parquet reader uses to skip row groups once the pushed-down filter
        reaches the scan — at 100 TB that's the difference between reading
        a file group's one matching row group and all of them.
        ``parquet_block_bytes`` bounds row-group size so a sorted file has
        skippable granularity; ``sort_cols`` join the published
        column-stats set for this and later commits.

        ``zorder=True`` sorts by the Morton interleaving of the (min/max-
        normalized) sort columns instead of lexicographically — a linear
        sort gives the FIRST column disjoint row-group spans but leaves
        every other column's span full-range; Z-order trades a little
        per-column tightness for moderate tightness on ALL of them, the
        standard layout for multi-dimensional predicates (Delta/Hudi
        Z-ORDER BY)."""
        self._ensure_new_commit_ts(commit_ts)
        read_ts = self.timeline.latest_timestamp()
        prev_slices = resolve_slices(self.timeline)
        snap = self.snapshot()
        stamped = snap.withColumn(_PP, F.col(PARTITION_PATH_FIELD)).withColumn(
            _FID, file_id_expr(F.col(FILE_NAME_FIELD))
        )
        sort_exprs: list = list(sort_cols)
        if zorder:
            if len(sort_cols) < 2:
                raise ValueError("zorder needs at least two sort columns")
            # per-column [min, max] for rank normalization: one scalar agg
            # row — commit-planning metadata (same class as the write-stat
            # counts every commit already derives), not a data collect
            bounds = snap.agg(
                *[F.min(c).alias(f"__mn_{c}") for c in sort_cols],
                *[F.max(c).alias(f"__mx_{c}") for c in sort_cols],
            ).collect()[0]
            sort_exprs = [
                _morton_code(
                    {c: (bounds[f"__mn_{c}"], bounds[f"__mx_{c}"]) for c in sort_cols}
                )
            ]
        self.stats_columns = list(dict.fromkeys([*self.stats_columns, *sort_cols]))
        written = self._write_file_groups(
            stamped,
            commit_ts,
            expected_groups=sorted(prev_slices),
            sort_cols=sort_exprs,
            parquet_block_bytes=parquet_block_bytes,
        )
        return self._publish(
            commit_ts, "clustering", written, prev_slices,
            schema_json=self.timeline.commit_metadata(read_ts).schema_json if read_ts else None,
            read_ts=read_ts,
        )

    def evolve_partitioning(
        self,
        commit_ts: str,
        partition_field: str | None | object = "__keep__",
        num_file_groups: int | None = None,
    ) -> CommitMetadata:
        """Partition evolution: rewrite the table's file-group routing
        across a commit boundary (the repartition commit — the
        Iceberg-style partition-spec change, done eagerly because the
        stateless ``hash(key) -> group`` contract every upsert/delete/
        lookup relies on must hold for the WHOLE live layout at once).

        Semantics:

        - the snapshot is restamped under the new layout — new
          ``_hoodie_partition_path``, new ``fg-<partition>-<bucket>`` file
          ids, new file names — while ``_hoodie_commit_time`` / record key
          / seqno stay untouched (no records change, so incremental and
          CDC reads see NOTHING from this commit, same contract as
          clustering);
        - the commit publishes ``replacesAllFileGroups`` (the Hudi
          replacecommit analogue): slice resolution drops every older
          file group when it replays past this instant, so post-evolution
          snapshots see only the new layout while time travel to any
          earlier instant still resolves the old files untouched on disk;
        - the published ``layout`` makes every later write route with the
          new partition field / bucket count (``_active_layout``), even
          from a handle constructed with the old constructor args;
        - OCC is whole-table in both directions (``_occ_check``): the
          evolution conflicts with anything that landed after its read
          point, and later writers conflict with it.

        At 100 TB this is one full shuffle-write job (the unavoidable
        cost of moving every row to its new bucket) planned exactly like
        a bulk insert; everything else is KB-scale commit metadata.
        Reference parity: the fileId/prevCommit slice model this preserves
        is ``DeleteView.java:116-126``; the delete view keeps working
        across the boundary because post-evolution delete commits chain
        ``prevCommit`` to the repartition commit's slices."""
        self._ensure_new_commit_ts(commit_ts)
        read_ts = self.timeline.latest_timestamp()
        if read_ts is None:
            raise TimelineError("evolve_partitioning on an empty table")
        old_pf, old_n = self._active_layout()
        new_pf = old_pf if partition_field == "__keep__" else partition_field
        new_n = old_n if num_file_groups is None else int(num_file_groups)
        if (new_pf, new_n) == (old_pf, old_n):
            raise ValueError(
                f"evolve_partitioning: new layout ({new_pf!r}, {new_n}) "
                "equals the current layout"
            )
        if new_n < 1:
            raise ValueError("num_file_groups must be >= 1")
        snap = self.snapshot()
        pp = (
            F.coalesce(F.col(new_pf).cast("string"), F.lit(DEFAULT_PARTITION))
            if new_pf
            else F.lit(DEFAULT_PARTITION)
        )
        bucket = F.pmod(F.xxhash64(F.col(RECORD_KEY_FIELD)), F.lit(new_n))
        stamped = (
            snap.withColumn(PARTITION_PATH_FIELD, pp)
            .withColumn(_PP, F.col(PARTITION_PATH_FIELD))
            .withColumn(
                _FID,
                F.concat(F.lit("fg-"), F.col(_PP), F.lit("-"), bucket.cast("string")),
            )
            .withColumn(
                FILE_NAME_FIELD,
                F.concat(F.col(_FID), F.lit(f"_{WRITE_TOKEN}_{commit_ts}.parquet")),
            )
        )
        written = self._write_file_groups(stamped, commit_ts)
        # the evolution commit itself publishes stats for the NEW partition
        # column (at publish time _active_layout still reads the old
        # layout — the commit JSON lands inside _publish)
        if new_pf:
            self.stats_columns = list(dict.fromkeys([*self.stats_columns, new_pf]))
        return self._publish(
            commit_ts,
            "repartition",
            written,
            prev_slices={},
            schema_json=self.timeline.commit_metadata(read_ts).schema_json,
            read_ts=read_ts,
            conflict_any=True,
            extra={
                "replacesAllFileGroups": True,
                "layout": {"partitionField": new_pf, "numFileGroups": new_n},
            },
        )

    # ------------------------------------------------------------------
    # read operations
    # ------------------------------------------------------------------
    def _published_schema(self, as_of: str | None = None):
        """The schema the table PUBLISHED at ``as_of`` (latest when None),
        as a StructType — the lakehouse planning contract: schema comes
        from commit metadata, never from data-file footers. Returns None
        for tables whose commits predate schema publication (callers fall
        back to footer-merged inference)."""
        ts = as_of or self.timeline.latest_timestamp()
        if ts is None:
            return None
        return self.timeline.commit_metadata(ts).published_schema()

    def _read_paths(self, paths: list[str], as_of: str | None = None) -> DataFrame:
        """Vectorized scan of resolved slice paths with the PUBLISHED
        schema (metadata-only planning: no driver footer reads, no
        mergeSchema union pass — at 100k files that is the difference
        between a constant-time plan and minutes of footer I/O). Slices
        written before a column was added surface it as NULLs, exactly
        what mergeSchema produced; the fallback covers pre-schema-payload
        tables."""
        schema = self._published_schema(as_of)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(*paths)
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    def _read_groups(
        self,
        slices: dict[tuple[str, str], FileSlice],
        groups: set[tuple[str, str]],
        as_of: str | None = None,
        since: str | None = None,
    ) -> DataFrame | None:
        """Live rows of a group subset (None when it has no files);
        ``since`` keeps only rows written after it."""
        paths = [slices[g].base_path for g in sorted(groups) if g in slices and slices[g].base_path]
        if not paths:
            return None
        df = self._read_paths(paths, as_of)
        if since is not None:
            df = df.filter(F.col(COMMIT_TIME_FIELD) > F.lit(since))
        return df

    def snapshot(
        self, as_of: str | None = None, partitions: list[str] | None = None
    ) -> DataFrame:
        """Latest (or as-of T) file slice per file group — B1/B2.

        Pure metadata resolution + one vectorized Parquet scan; filters and
        projections on the result push down into the scan.

        ``partitions`` prunes the slice list DRIVER-SIDE before the scan
        plan is built: unlike a post-hoc ``.filter()`` on the partition
        column (which still opens every file's footer), unselected
        partitions are never listed, planned, or touched — at 100 TB
        that's the difference between planning thousands of splits and a
        handful."""
        if as_of is not None:
            self.timeline.instant_for(as_of)  # explicit error if T not in timeline
        slices = resolve_slices(self.timeline, as_of)
        if partitions is not None:
            wanted = set(partitions)
            slices = {k: s for k, s in slices.items() if k[0] in wanted}
        paths = [s.base_path for s in slices.values() if s.base_path]
        if not paths:
            schema = self._published_schema()
            if schema is not None:
                return self.spark.createDataFrame([], schema)
            raise TimelineError(f"table at {self.base_path} has no commits")
        return self._read_paths(paths, as_of)

    def commit_history(self) -> DataFrame:
        """Per-commit write-stat summary as a queryable DataFrame — the
        `show commits` surface (reference A2's input, aggregated): one row
        per commit with operation, insert/update/delete counts, files
        written, and bytes. Driver work is KB-scale commit JSON (the
        sanctioned metadata plane); the frame is tiny by construction
        (one row per commit, not per record)."""
        rows = []
        # full history: archived + active (audit surfaces span the archive;
        # only SLICE RESOLUTION is bounded to the active tail)
        for ts in self.timeline.all_timestamps():
            meta = self.timeline.commit_metadata(ts)
            stats = [s for _, s in meta.all_stats()]
            rows.append(
                (
                    ts,
                    meta.operation,
                    sum(s.num_inserts for s in stats),
                    sum(s.num_update_writes for s in stats),
                    sum(s.num_deletes for s in stats),
                    int(meta.total_records_deleted),
                    len(stats),
                    sum(s.file_size_bytes for s in stats),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "commit_ts string, operation string, num_inserts long, "
            "num_update_writes long, num_deletes long, total_records_deleted long, "
            "n_files long, bytes_written long",
        )

    def archive_timeline(self, keep_last_n: int) -> list[str]:
        """Bound the active timeline (Hudi archived-timeline analogue):
        move all but the newest ``keep_last_n`` instants into
        ``.hoodie/archived/`` and checkpoint the resolved file slices at
        the boundary, so snapshot/scan replay only the active tail —
        listing and resolution cost stop growing with table age. Archived
        metadata stays queryable (``commit_history`` spans the archive;
        pruning stats of checkpoint slices load lazily); time travel and
        incremental anchors BEFORE the boundary raise with the boundary
        named. Pairs with ``clean()``: clean bounds data files, archive
        bounds metadata files. Returns the archived timestamps.

        Savepointed commits pin time-travel states, and a pinned state
        BEHIND the archive boundary would be unreachable (resolution
        refuses pre-boundary as_of) — archiving past one is refused."""
        active = self.timeline.timestamps()
        to_archive = active[:-keep_last_n] if keep_last_n >= 1 else active
        pinned = sorted(sp for sp in self.savepoints() if sp in to_archive)
        if pinned:
            raise TimelineError(
                f"cannot archive past savepointed commit(s) {pinned}: release "
                f"the savepoint or keep more active instants"
            )
        return self.timeline.archive(keep_last_n)

    def _stream_epoch_ledger_path(self) -> str:
        return os.path.join(self.base_path, ".hoodie", "stream_epochs.jsonl")

    def _stream_epoch_ledger(self) -> dict:
        """identity ``writer_id:batch_id`` → assigned commit ts (append-only
        jsonl; last write wins, though identities are written once)."""
        import json

        ledger: dict[str, str] = {}
        try:
            for line in self.fs.read_text(
                self._stream_epoch_ledger_path()
            ).splitlines():
                line = line.strip()
                if line:
                    rec = json.loads(line)
                    ledger[rec["id"]] = rec["ts"]
        except OSError:
            pass
        return ledger

    def absorb_stream_epochs(self) -> list[str]:
        """Publish pending stream-writer epochs (sources/pyds.py
        ``LakeviewStreamWriter``): each ``.stream-pending/<ts>.<writer>
        .manifest.json`` is applied in epoch order through the real keyed
        upsert — one table commit per micro-batch.

        Exactly-once is keyed on the epoch IDENTITY ``(writer_id,
        batch_id)``, not the timestamp: a restart with a fresh checkpoint
        resets batchId, so two distinct epochs can prefer the same
        ``base_ts + batchId`` timestamp — the second gets the next free
        monotonic timestamp instead of being misread as a replay (and
        silently dropped). Identities live in an append-only ledger
        (``.hoodie/stream_epochs.jsonl``) written BEFORE the commit
        publishes; a crash between ledger-append and commit re-applies at
        the ledger's recorded timestamp on the next absorb (staged files
        are only removed after the commit exists). Replay detection
        checks the FULL timeline (archived + active) so an epoch whose
        commit was archived still dedupes. Returns the commit timestamps
        published by this call."""
        import json

        pending = os.path.join(self.base_path, ".stream-pending")
        try:
            manifests = sorted(
                n for n in self.fs.listdir(pending) if n.endswith(".manifest.json")
            )
        except OSError:
            return []
        if not manifests:
            return []
        ledger = self._stream_epoch_ledger()
        published = []
        for name in manifests:
            mp = os.path.join(pending, name)
            m = json.loads(self.fs.read_text(mp))
            identity = f"{m.get('writer_id', 'legacy')}:{m.get('batch_id', m['ts'])}"
            paths = [os.path.join(self.base_path, p) for p in m["paths"]]
            all_ts = set(self.timeline.all_timestamps())
            if identity in ledger:
                ts = ledger[identity]
                apply_it = ts not in all_ts  # crashed between ledger and commit
            else:
                ts = m["ts"]
                latest = max(all_ts) if all_ts else None
                if ts in all_ts or (latest is not None and ts <= latest):
                    ts = f"{int(latest) + 1:014d}"
                self.fs.append_line(
                    self._stream_epoch_ledger_path(),
                    json.dumps({"id": identity, "ts": ts}) + "\n",
                )
                ledger[identity] = ts
                apply_it = True
            if apply_it:
                df = self.spark.read.parquet(*paths)
                if self.timeline.latest_timestamp() is None:
                    self.bulk_insert(df, ts)
                else:
                    self.upsert(df, ts)
                published.append(ts)
            for p in paths:
                try:
                    self.fs.remove(p)
                except OSError:
                    pass
            self.fs.remove(mp)
        return published

    def clean(self, retain_last_n: int = 2, dry_run: bool = False) -> list[str]:
        """Retention cleaner (Hudi cleaner analogue): delete data files no
        longer referenced by any snapshot within the last ``retain_last_n``
        commits — i.e. files only older time-travel reads could see.

        Driver-side metadata arithmetic: referenced = union of
        resolve_slices(as_of=T) for each retained T (time travel within the
        retention window keeps working); everything else under a partition
        dir that came from an earlier slice version is removed. Commit
        metadata itself is never deleted (the timeline stays auditable).
        Returns the deleted paths (or the would-delete list when
        ``dry_run``)."""
        if retain_last_n < 1:
            # ts_list[-0:] would silently retain EVERYTHING — the opposite
            # of what "retain zero" reads as; require an explicit window
            raise ValueError("retain_last_n must be >= 1")
        ts_list = self.timeline.timestamps()
        if not ts_list:
            return []
        retained = set(ts_list[-retain_last_n:]) | self.savepoints()
        referenced: set[str] = set()
        for t in sorted(retained):
            for s in resolve_slices(self.timeline, t).values():
                if s.base_path:
                    referenced.add(os.path.abspath(s.base_path))
                referenced.update(os.path.abspath(p) for p in s.log_paths)
        # every data file any commit ever wrote — including files whose
        # writing commit was ARCHIVED (the checkpoint's byte map records
        # them): superseded pre-boundary slices must stay clean-able, not
        # leak forever as metadata-invisible debris
        all_files: set[str] = set()
        cp = self.timeline.archive_checkpoint()
        for rel in (cp.get("path_bytes", {}) if cp else {}):
            all_files.add(os.path.abspath(os.path.join(self.base_path, rel)))
        for t in ts_list:
            for _p, stat in self.timeline.commit_metadata(t).all_stats():
                all_files.add(os.path.abspath(os.path.join(self.base_path, stat.path)))
        doomed = sorted(all_files - referenced)
        if not dry_run:
            for p in doomed:
                if self.fs.exists(p):
                    self.fs.remove(p)
        return doomed

    def find_orphans(self, remove: bool = False) -> list[str]:
        """Data files on disk that NO commit references — debris from
        crashed writers (a process killed between staging-rename and
        publish leaves renamed files the OCC-loser cleanup never saw).
        ``clean()`` cannot reclaim these: it walks commit metadata, and an
        orphan by definition isn't in any. This walks the PARTITION dirs
        (driver-side listing, same scale class as a snapshot plan) and
        diffs against every path any commit ever wrote. ``remove=True``
        deletes them. Service dirs (``.hoodie``, ``.delete``, staging) and
        non-parquet files are never touched."""
        known: set[str] = set()
        for t in self.timeline.timestamps():
            for _p, stat in self.timeline.commit_metadata(t).all_stats():
                known.add(os.path.abspath(os.path.join(self.base_path, stat.path)))
        orphans: list[str] = []
        for entry in sorted(self.fs.listdir(self.base_path)):
            if entry.startswith("."):
                continue  # .hoodie / .delete / .staging-*
            pdir = os.path.join(self.base_path, entry)
            if not self.fs.isdir(pdir):
                continue
            for fname in sorted(self.fs.listdir(pdir)):
                if not fname.endswith(".parquet"):
                    continue
                ap = os.path.abspath(os.path.join(pdir, fname))
                if ap not in known:
                    orphans.append(ap)
        if remove:
            for p in orphans:
                self.fs.remove(p)
        return orphans

    # -- savepoints (Hudi savepoint analogue) ------------------------------
    def _savepoint_dir(self) -> str:
        return os.path.join(self.base_path, ".hoodie", "savepoints")

    def savepoints(self) -> set[str]:
        """Commit timestamps pinned against the cleaner."""
        d = self._savepoint_dir()
        if not self.fs.isdir(d):
            return set()
        return {f for f in self.fs.listdir(d) if not f.startswith(".")}

    def savepoint(self, commit_ts: str) -> None:
        """Pin ``commit_ts``: its snapshot's files survive any ``clean``
        retention window until the savepoint is released — the recovery /
        audit anchor Hudi's savepoint provides. Metadata-only (one marker
        file); raises if the commit isn't in the timeline or its files
        were already reclaimed (a pin that guarantees nothing is worse
        than an error)."""
        self.timeline.instant_for(commit_ts)
        # check base AND log files: for a MOR slice the clean() reclaimer
        # deletes delta logs too, and a savepoint whose merged snapshot
        # needs a missing log pins an unreadable view just as surely as a
        # missing base file would
        missing = [
            p
            for s in resolve_slices(self.timeline, commit_ts).values()
            for p in ([s.base_path] if s.base_path else []) + list(s.log_paths)
            if not self.fs.exists(p)
        ]
        if missing:
            raise TimelineError(
                f"cannot savepoint {commit_ts}: {len(missing)} slice file(s) "
                f"already cleaned (first: {missing[0]})"
            )
        self.fs.makedirs(self._savepoint_dir())
        self.fs.write_text_atomic(
            os.path.join(self._savepoint_dir(), commit_ts), "savepoint"
        )

    def release_savepoint(self, commit_ts: str) -> None:
        """Unpin; the next ``clean`` may reclaim the commit's files."""
        try:
            self.fs.remove(os.path.join(self._savepoint_dir(), commit_ts))
        except FileNotFoundError:
            raise TimelineError(f"no savepoint at {commit_ts}") from None

    def pruned_files(
        self, between: dict[str, tuple], as_of: str | None = None
    ) -> tuple[list[str], int]:
        """File-level data skipping: (kept base paths, total slice count).

        A slice survives iff, for every ``col: (lo, hi)`` bound, its
        published [min, max] overlaps [lo, hi]; slices without stats for a
        column are kept (conservative). Driver-side metadata only — at
        100 TB this is the difference between planning over the files a
        predicate can touch and listing millions it cannot.
        """
        slices = resolve_slices(self.timeline, as_of)
        kept: list[str] = []
        total = 0
        for (_pp, fid), s in sorted(slices.items()):
            if not s.base_path:
                continue
            total += 1
            meta = self.timeline.commit_metadata(s.commit_ts)
            stat = meta.find_write_stat(fid)
            if self._stat_passes(stat, between):
                kept.append(s.base_path)
        return kept, total

    @staticmethod
    def _stat_passes(stat, between: dict[str, tuple]) -> bool:
        """Can a slice with these published stats contain rows in the
        bounds? The shared [min, max] rule (``plans.pruning.may_overlap``)
        per column; EQUALITY probes additionally consult the secondary
        value-bucket index — a file whose bitmap lacks the probe's bucket
        cannot contain the value even when its range overlaps (no false
        negatives: absence of a bucket bit proves absence of every value
        hashing to it). Missing stats keep the slice (conservative)."""
        for col, (lo, hi) in between.items():
            cs = (stat.column_stats or {}).get(col) if stat else None
            if cs is not None and not may_overlap(lo, hi, *cs):
                return False
            vx = (stat.value_index or {}).get(col) if stat else None
            # The bitmap is only consulted for probe types where Python's
            # str(v) is bit-identical to Spark's cast-to-string (int and
            # str; bool is excluded: str(True) != 'true'). Any other type
            # (double/date/timestamp) would compute a DIFFERENT bucket
            # than the engine hash and could prune a file that DOES
            # contain the value — the one false negative a membership
            # index must never produce — so those probes fall back to
            # [min, max] overlap only.
            probe_ok = isinstance(lo, (int, str)) and not isinstance(lo, bool)
            if vx and lo is not None and lo == hi and probe_ok:
                # bitmap width rides in the payload (recovered from decode)
                import base64 as _b64

                n_bits = 8 * len(_b64.b64decode(vx))
                if not _bitmap_has(vx, _value_bucket(lo, n_bits)):
                    return False
        return True

    def scan(self, between: dict[str, tuple], as_of: str | None = None) -> DataFrame:
        """Snapshot read with stats-based file skipping + the row-level
        range filter re-applied (skipping is a superset guarantee)."""
        paths, _total = self.pruned_files(between, as_of)
        if not paths:
            return self.snapshot(as_of).limit(0)
        return bounds_filter(self._read_paths(paths, as_of), between)

    def incremental(self, begin_exclusive: str, end_inclusive: str | None = None) -> DataFrame:
        """Rows whose records changed in (begin, end] — B3.

        Scan is pruned to file groups touched in the range (driver-side
        stats pruning, the analogue of ``DeleteView.java:100``), then the
        ``_hoodie_commit_time`` filter pushes down into the Parquet scan as
        a string-range predicate. On MOR the groups read through the
        merge (``_read_groups``): the latest version per key in the range
        wins and tombstoned keys drop.
        """
        end = end_inclusive or self.timeline.latest_timestamp()
        groups = touched_file_groups(self.timeline, begin_exclusive, end)
        slices = resolve_slices(self.timeline, end)
        df = self._read_groups(slices, groups, end, since=begin_exclusive)
        if df is None:
            return self.snapshot(end).limit(0)
        if end is not None:
            df = df.filter(F.col(COMMIT_TIME_FIELD) <= F.lit(end))
        return df

    def bucketed_mirror(
        self,
        bucket_col: str,
        n_buckets: int | None = None,
        mirror_name: str | None = None,
    ) -> DataFrame:
        """Catalog-registered Spark-bucketed mirror of the current
        snapshot — the supported route to EXCHANGE-FREE lake-to-lake
        equi-joins (SURVEY §12.5).

        Two lake tables with the same ``num_file_groups`` are already
        physically co-located on ``xxhash64(record_key)``, but that layout
        is invisible to Catalyst: storage-partitioned joins require a
        DSv2 scan reporting KeyGroupedPartitioning, which is a JVM-side
        interface a pure-Python connector cannot implement. The mirror
        closes the gap with catalog bucketing instead: one
        ``bucketBy(n, bucket_col).sortBy(bucket_col)`` materialization per
        commit epoch, after which every equi-join between two mirrors
        with equal bucket counts plans with ZERO Exchange on either side
        (explain-audited in pytest) — at 100 TB that deletes the dominant
        shuffle of repeated fact-to-fact joins for the cost of one
        sequential rewrite per table epoch, the classic bucketed-warehouse
        trade.

        Refresh discipline: the mirror directory carries a
        ``_mirror_commit`` sidecar recording the source commit it was
        built from; while the timeline hasn't advanced past it, calls are
        metadata-only (no Spark job). The mirror drops the ``_hoodie_*``
        meta columns — it is a join-serving projection, not a second
        source of truth (time travel stays with the lake table)."""
        import hashlib

        latest = self.timeline.latest_timestamp()
        if latest is None:
            raise TimelineError(f"no commits to mirror at {self.base_path}")
        n = n_buckets or self.num_file_groups
        tbl = mirror_name or (
            "mirror_"
            + hashlib.md5(self.base_path.encode()).hexdigest()[:10]
            + f"_{bucket_col}_{n}"
        )
        mirror_dir = os.path.join(self.base_path, ".mirror", tbl)
        stamp = os.path.join(mirror_dir, "_mirror_commit")
        try:
            with open(stamp) as f:  # local session-cache stamp, not table state
                fresh = f.read().strip() == latest
        except OSError:
            fresh = False
        if fresh and self.spark.catalog.tableExists(tbl):
            return self.spark.table(tbl)
        meta_cols = [c for c in self.snapshot().columns if c.startswith("_hoodie_")]
        (
            self.snapshot()
            .drop(*meta_cols)
            .write.format("parquet")
            .bucketBy(n, bucket_col)
            .sortBy(bucket_col)
            .option("path", mirror_dir)
            .mode("overwrite")
            .saveAsTable(tbl)
        )
        with open(stamp, "w") as f:
            f.write(latest)
        return self.spark.table(tbl)

    def cdc(
        self,
        begin_exclusive: str,
        end_inclusive: str | None = None,
        include_update_preimages: bool = False,
    ) -> DataFrame:
        """Net-effect change-data feed over (begin, end] — the Hudi
        CDC / Delta Change Data Feed analogue, collapsed per key:

        - ``op='insert'``: key absent at begin, present at end (after-image)
        - ``op='update'``: present at both, rewritten in range (after-image)
        - ``op='delete'``: present at begin, absent at end (BEFORE-image,
          stamped with the deleting commit via the range delete feed)

        With ``include_update_preimages`` each update additionally emits an
        ``op='update_preimage'`` row carrying the begin-boundary image
        (Delta CDF's preimage/postimage pair) — the retraction feed that
        lets a downstream consumer incrementally maintain aggregates:
        new_view = old_view + postimages - (preimages ∪ delete images).

        Scale shape: both snapshots are pruned to file groups touched in
        the range (untouched groups can't contribute changes), then each
        side is pruned to CHANGE-sized inputs — the end side by a pushed
        commit-time predicate (survivors keep their original stamp), the
        begin side by a stats-bounded semi-join against the contributing
        keys — and the diff is ONE full-outer join on (file_id, key),
        group-co-located, the same key AQE skew-splits on, with payloads
        travelling as single structs so the join never widens
        (``row_deletes.net_changes``). Cost is proportional to the changes
        in the range, not the table.

        Lazy up to a bound: past ``row_deletes.STAMPS_PERSIST_MIN_ROWS``
        delete stamps the call runs one Spark job eagerly to persist the
        stamps, which then stay cached until
        ``operators.util.unpersist_operator_caches()``.
        """
        end = end_inclusive or self.timeline.latest_timestamp()
        if end is not None:
            self.timeline.instant_for(end)
        # a partition-evolution (repartition) commit inside the range
        # renames every file group, so (a) fid pruning would wrongly drop
        # all old-layout rows from the begin side (its fids aren't in the
        # touched set) and (b) the (file_id, key) join would pair nothing
        # across the boundary, turning every unchanged key into a phantom
        # delete+insert. The evolution rewrote every group anyway, so
        # pruning saves nothing: fall back to full boundary snapshots and
        # join on the (table-unique) record key alone.
        crosses_evolution = any(
            (self.timeline.commit_metadata(i.timestamp).extra or {}).get(
                "replacesAllFileGroups"
            )
            for i in self.timeline.commits_in_range(begin_exclusive, end)
        )
        groups = touched_file_groups(self.timeline, begin_exclusive, end)
        fids = sorted({f for (_p, f) in groups})
        fid = file_id_expr(F.col(FILE_NAME_FIELD))
        prune = (lambda df: df) if crosses_evolution else (
            lambda df: df.filter(fid.isin(fids))
        )
        join_keys = (
            [RECORD_KEY_FIELD] if crosses_evolution else [_FID, RECORD_KEY_FIELD]
        )

        end_snap = prune(self.snapshot(end))
        # payload schema is the END snapshot's (authoritative): a before
        # slice predating a schema-evolution commit aligns with NULLs so
        # the two image structs are the same type
        payload_fields = [f for f in end_snap.schema.fields if f.name not in META_FIELDS]

        def _side(snap, img):
            for f_ in payload_fields:
                if f_.name not in snap.columns:
                    snap = snap.withColumn(f_.name, F.lit(None).cast(f_.dataType))
            # across an evolution the fid columns differ by construction,
            # so the key-only join leaves them out
            return snap.select(
                *([] if crosses_evolution else [fid.alias(_FID)]),
                F.col(RECORD_KEY_FIELD),
                F.col(COMMIT_TIME_FIELD).alias(f"__ct_{img}"),
                F.struct(*[F.col(f_.name) for f_ in payload_fields]).alias(f"__{img}"),
            )

        range_meta = [
            self.timeline.commit_metadata(i.timestamp)
            for i in self.timeline.commits_in_range(begin_exclusive, end)
        ]
        total_deleted = sum(m.total_records_deleted for m in range_meta)
        changed_rows = None
        if not crosses_evolution:
            # change-proportional diff (guide §2.2: shuffle the CHANGES,
            # not the table). End side: only rows rewritten in the range —
            # survivors keep their original commit stamp, so this is a
            # string predicate on the stored commit time that PUSHES INTO
            # the parquet scan (row groups of untouched rows skip on
            # min/max stats). The kernel then cuts the begin side to keys
            # rewritten at end or deleted in the range; record keys are
            # table-unique, so that semi-join keys on the record key.
            end_snap = end_snap.filter(
                F.col(COMMIT_TIME_FIELD) > F.lit(begin_exclusive)
            )
            # conservative driver-side bound on the contributor count:
            # trust per-commit insert/update counts when the writer
            # reported them; fall back to all rows written (COW rewrites,
            # MOR delta appends report zeros there)
            changed_rows = total_deleted
            for m in range_meta:
                stats = [s for _p, s in m.all_stats()]
                iu = sum(s.num_inserts + s.num_update_writes for s in stats)
                changed_rows += iu if iu > 0 else sum(s.num_writes for s in stats)
        return row_deletes.net_changes(
            _side(prune(self.snapshot(begin_exclusive)), "before"),
            _side(end_snap, "after"),
            join_keys,
            keys=[RECORD_KEY_FIELD],
            stamp="change_commit",
            # across an evolution every key pairs up: an untouched one is
            # the same slice on both sides, not rewritten
            updated=(
                F.col("__ct_after") > F.lit(begin_exclusive)
                if crosses_evolution else None
            ),
            after_stamp=F.col("__ct_after"),
            # exact deleting-commit stamps (net effect keeps the LAST
            # delete of a key in the range); commit stats bound their
            # rows before any data is read
            stamps=self._delete_stamps(begin_exclusive, end),
            stamp_rows=total_deleted,
            changed_rows=changed_rows,
            preimages=include_update_preimages,
        )

    def _delete_stamps(self, begin_exclusive: str, end: str | None) -> DataFrame:
        """(record_key, __stamp): the LAST commit in (begin, end] that
        deleted each key — COW derives it from the per-commit delete-view
        feed (MOR overrides with a tombstone-log scan)."""
        from .delete_view import delete_views_between

        return (
            delete_views_between(self.spark, self.base_path, begin_exclusive, end)
            .groupBy(RECORD_KEY_FIELD)
            .agg(F.max(COMMIT_TIME_FIELD).alias("__stamp"))
        )
