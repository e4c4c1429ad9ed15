"""Merge-on-read table: base slices + delta log slices, merged at read time.

The driver's north star names "Spark + Hudi MergeOnRead reader"
(BASELINE.json:6); the reference itself is COW-only (``README.md:5`` "COW is
supported now"), so the MOR model here follows the public Hudi convention:

- a *delta commit* appends a **log slice** per file group instead of
  rewriting the base file; delete tombstones are log rows flagged with the
  public ``_hoodie_is_deleted`` boolean column;
- the **snapshot read** merges base + newer logs per file group:
  latest-version-per-key wins (commit time, then seqno), tombstones drop
  the key (SURVEY §2 B4);
- **compaction** rewrites the merged view into fresh base slices, clearing
  the logs (a normal commit, so time travel across compaction works);
- the **read-optimized view** reads base files only (stale but log-free).

Scale: the merge is ONE window over ``(file_id, _hoodie_record_key)``.
Partitioning by the pair keeps every file group's merge co-located (the
stateless hash key->group assignment guarantees base and log rows of a key
share a file group), so skew splits by group under AQE and nothing is
collected to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from ..plans import row_deletes
from ..plans.pruning import bounds_filter
from ..plans.slices import resolve_slices
from ..plans.timeline import TimelineError
from .cow import (
    COMMIT_SEQNO_FIELD,
    COMMIT_TIME_FIELD,
    DELETED_FIELD,
    FILE_NAME_FIELD,
    RECORD_KEY_FIELD,
    CowTable,
    file_id_expr,
    footer_column_stats,
    _FID,
    _PP,
)


class MorTable(CowTable):
    """Merge-on-read variant: delta writes append logs; reads merge."""

    # ------------------------------------------------------------------
    # delta writes (log append — no base rewrite)
    # ------------------------------------------------------------------
    def upsert_delta(self, df: DataFrame, commit_ts: str) -> "CommitMetadata":
        """Append new row versions as log slices (one job, no base read).
        Incoming dedup keeps one version per key per delta batch (the
        merge's (commit_time, seqno) tiebreak is deterministic only across
        batches, not within one)."""
        read_ts = self.timeline.latest_timestamp()
        incoming = self._dedup_incoming(self._with_meta(
            self._as_table_types(df, read_ts), commit_ts, suffix=".log.parquet"
        )).withColumn(DELETED_FIELD, F.lit(False))
        return self._write_delta(
            incoming, commit_ts, operation="delta_commit", read_ts=read_ts
        )

    def delete_delta(self, keys_df: DataFrame, commit_ts: str) -> "CommitMetadata":
        """Append delete tombstones (full schema, null payload,
        ``_hoodie_is_deleted = true``)."""
        # read_ts BEFORE any table-state read: the live-key semi-join below
        # consults the merged snapshot, and a commit landing after that
        # read must trip the OCC gate, not slide inside it
        read_ts = self.timeline.latest_timestamp()
        if read_ts is None:
            raise TimelineError("delete on empty table")
        schema = self.timeline.commit_metadata(read_ts).published_schema()
        stamped = self._with_meta(keys_df, commit_ts, suffix=".log.parquet")
        cols = []
        for f_ in schema.fields:
            if f_.name in stamped.columns:
                cols.append(F.col(f_.name).cast(f_.dataType).alias(f_.name))
            else:
                cols.append(F.lit(None).cast(f_.dataType).alias(f_.name))
        tombstones = (
            stamped.select(*cols, F.col(_PP), F.col(_FID))
            .withColumn(DELETED_FIELD, F.lit(True))
        )
        # numDeletes must count records actually deleted, mirroring the
        # reference where totalRecordsDeleted drives the A14 footer check
        # (DeleteView.java:120-133 compares it to the materialized view):
        # dedupe tombstone keys and keep only keys live in the merged view,
        # so duplicate / phantom / already-deleted keys don't inflate stats.
        order = tombstones.columns
        affected = [r[_FID] for r in tombstones.select(_FID).distinct().collect()]
        live = (
            self.snapshot()
            .filter(file_id_expr(F.col(FILE_NAME_FIELD)).isin(affected))
            .select(RECORD_KEY_FIELD)
        )
        tombstones = (
            tombstones.dropDuplicates([RECORD_KEY_FIELD])
            .join(live, on=RECORD_KEY_FIELD, how="left_semi")
            .select(*order)
        )
        return self._write_delta(
            tombstones, commit_ts, operation="delta_commit", is_delete=True,
            read_ts=read_ts,
        )

    def merge_delta(
        self, source: DataFrame, commit_ts: str, delete_condition=None
    ) -> "CommitMetadata":
        """MERGE INTO, MOR-style: ONE delta commit whose log slices carry
        BOTH new row versions and delete tombstones — no base rewrite (the
        write shape that makes MOR the ingest-side table), one log append
        per affected group instead of the two commits an upsert_delta +
        delete_delta split would cost.

        Source rows satisfying ``delete_condition`` become tombstones for
        their target keys when matched (unmatched ones are dropped — MERGE
        no-ops — so ``numDeletes`` counts records actually deleted, the
        A14 contract); everything else appends as a new row version (the
        merged read resolves matched-update vs not-matched-insert by
        construction). The merge window and ``delete_view`` consume the
        mixed slice unchanged: tombstones drop keys, row versions win by
        (commit_time, seqno), per-group ``numDeletes > 0`` stats feed the
        delete-view pruning exactly like a pure delete delta.
        """
        read_ts = self.timeline.latest_timestamp()
        if read_ts is None:
            raise TimelineError("merge into empty table (bulk_insert first)")
        source = self._as_table_types(source, read_ts)
        if delete_condition is None:
            delete_condition = F.lit(False)
        elif isinstance(delete_condition, str):
            delete_condition = F.expr(delete_condition)
        stamped = self._with_meta(source, commit_ts, suffix=".log.parquet")
        deduped = self._dedup_incoming(stamped).withColumn(
            "__is_del", F.coalesce(delete_condition, F.lit(False))
        )
        upserts = deduped.filter(~F.col("__is_del")).drop("__is_del").withColumn(
            DELETED_FIELD, F.lit(False)
        )
        del_rows = deduped.filter(F.col("__is_del")).drop("__is_del")
        # matched-only tombstones: restrict to keys live in the merged
        # snapshot of the affected groups (same stats contract as
        # delete_delta — phantom keys must not inflate numDeletes)
        affected = [r[_FID] for r in del_rows.select(_FID).distinct().collect()]
        if affected:
            live = (
                self.snapshot()
                .filter(file_id_expr(F.col(FILE_NAME_FIELD)).isin(affected))
                .select(RECORD_KEY_FIELD)
            )
            tombstones = del_rows.join(live, on=RECORD_KEY_FIELD, how="left_semi")
        else:
            tombstones = del_rows
        tombstones = tombstones.withColumn(DELETED_FIELD, F.lit(True))
        delete_counts = {
            (r[_PP], r[_FID]): r["cnt"]
            for r in tombstones.groupBy(_PP, _FID).agg(F.count("*").alias("cnt")).collect()
        }
        combined = upserts.unionByName(tombstones)
        return self._write_delta(
            combined, commit_ts, operation="delta_commit", read_ts=read_ts,
            delete_counts=delete_counts,
        )

    def _as_table_types(self, df: DataFrame, read_ts: str | None) -> DataFrame:
        """``df`` with each column the table already has cast to the
        table's type: a delta declaring ``k int`` over an INT64 base would
        publish ``int`` and fail every merged read of the base."""
        schema = self._published_schema(read_ts)
        if schema is None:
            return df
        types = {f.name: f.dataType for f in schema.fields}
        return df.select(*[
            F.col(c).cast(types[c]).alias(c) if c in types else F.col(c)
            for c in df.columns
        ])

    def _delta_schema_json(self, stamped: DataFrame, read_ts: str | None) -> str:
        """Published schema for a delta commit: the incoming batch's
        schema UNIONED (additively, by name) with the schema published at
        ``read_ts``. A delta narrower than the table must not SHRINK the
        published schema — readers plan scans from it (metadata-only
        planning), so a shrink would silently drop base-file columns the
        old footer-merge read surfaced. No-op for full-width deltas; the
        tombstone flag stays last so the planned schema stays canonical."""
        new_schema = stamped.drop(_PP, _FID).schema
        prior = self._published_schema(read_ts) if read_ts else None
        if prior is not None:
            have = {f.name for f in new_schema.fields}
            extra = [
                f for f in prior.fields
                if f.name not in have and f.name != DELETED_FIELD
            ]
            if extra:
                data = [f for f in new_schema.fields if f.name != DELETED_FIELD]
                flag = [f for f in new_schema.fields if f.name == DELETED_FIELD]
                new_schema = StructType([*data, *extra, *flag])
        return new_schema.json()

    def _write_delta(
        self,
        stamped: DataFrame,
        commit_ts: str,
        operation: str,
        is_delete: bool = False,
        read_ts: str | None = None,
        delete_counts: dict[tuple[str, str], int] | None = None,
    ):
        from ..plans.metadata import CommitMetadata, WriteStat

        if read_ts is None:
            read_ts = self.timeline.latest_timestamp()
        self._ensure_new_commit_ts(commit_ts)
        prev_slices = resolve_slices(self.timeline)
        written = self._write_file_groups(
            stamped, commit_ts, suffix=".log.parquet"
        )
        # OCC gate BEFORE deriving stats: a conflict loser shouldn't pay
        # footer parsing for files the cleanup removes right after. Delta
        # appends never REWRITE another writer's slice, but a commit that
        # landed meanwhile on the same group (e.g. a compaction that
        # absorbed the logs this delta stacks on) still invalidates the
        # writer's view — same gate + cleanup as the COW publish path.
        try:
            self._occ_check(commit_ts, set(written), read_ts)
        except Exception:
            self._remove_written(written)
            raise
        # same active-layout stats contract as CowTable._publish
        active_pf, _n = self._active_layout()
        stats_cols = list(
            dict.fromkeys([*self.stats_columns, *([active_pf] if active_pf else [])])
        )
        p2ws: dict[str, list[WriteStat]] = {}
        total_deleted = 0
        for (partition, file_id), (rel_path, rows, *_stats) in sorted(written.items()):
            prev = prev_slices.get((partition, file_id))
            if delete_counts is not None:
                # mixed-action delta (merge): tombstones counted per group
                deletes = delete_counts.get((partition, file_id), 0)
            elif is_delete:
                deletes = rows
            else:
                deletes = 0
            total_deleted += deletes
            p2ws.setdefault(partition, []).append(
                WriteStat(
                    file_id=file_id,
                    path=rel_path,
                    prev_commit=prev.commit_ts if prev else None,
                    num_writes=rows,
                    num_update_writes=0,  # delta appends can't know update counts without a read
                    num_deletes=deletes,
                    num_inserts=0,
                    file_size_bytes=self.fs.size(os.path.join(self.base_path, rel_path)),
                    log_file=True,
                    column_stats=footer_column_stats(
                        os.path.join(self.base_path, rel_path), stats_cols
                    ),
                )
            )
        meta = CommitMetadata(
            commit_ts=commit_ts,
            operation=operation,
            partition_to_write_stats=p2ws,
            total_records_deleted=total_deleted,
            schema_json=self._delta_schema_json(stamped, read_ts),
        )
        meta.write(os.path.join(self.base_path, ".hoodie"))
        self.timeline.refresh()
        return meta

    # ------------------------------------------------------------------
    # merged reads
    # ------------------------------------------------------------------
    def read_optimized(
        self, as_of: str | None = None, partitions: list[str] | None = None
    ) -> DataFrame:
        """Base files only — Hudi's read-optimized view (stale, log-free).

        The internal tombstone flag never surfaces: base files don't carry
        it, but the pruned-to-nothing fallback rebuilds an empty frame
        from the latest commit's schema_json, which a delta commit records
        WITH the flag — drop it so the schema doesn't depend on whether
        pruning matched anything."""
        out = super().snapshot(as_of, partitions=partitions)
        return out.drop(DELETED_FIELD) if DELETED_FIELD in out.columns else out

    def _published_mor_schema(self, as_of: str | None = None):
        """The PUBLISHED commit schema with the tombstone flag last — the
        one StructType every MOR scan plans with (metadata-only planning,
        same contract as the COW ``_read_paths``): no driver footer I/O
        per MOR read. Log files carry the flag (appended last by every
        delta writer); base files do not, so they read it as NULL and the
        merge's ``coalesce`` filter covers them too — a base row that did
        carry a set flag stays deleted instead of coming back. None for
        pre-schema-payload tables; callers fall back to inference."""
        schema = self._published_schema(as_of)
        if schema is None:
            return None
        return StructType([
            *[f for f in schema.fields if f.name != DELETED_FIELD],
            StructField(DELETED_FIELD, BooleanType(), True),
        ])

    def _read_mor(self, paths: list[str], schema) -> DataFrame:
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def _merged_over(
        self, slices: dict, as_of: str | None = None, since: str | None = None
    ) -> DataFrame | None:
        """Merged view over a slice subset: latest version per key wins;
        tombstones drop rows. base ∪ logs → window rank on (file_id, key)
        by (commit_time, seqno) desc → keep rank 1 → drop deleted. One
        shuffle, group-co-located — and ONLY over groups that actually
        carry logs: a log-free group's base file already holds exactly
        one live version per key, so those files union AROUND the merge
        window untouched. On a mostly-compacted table this turns the
        snapshot into a near-pure scan (the shuffle covers just the
        logged tail); a fully-compacted table plans with no window at
        all. None when the subset has no files. Both sides plan with the
        PUBLISHED schema (``_published_mor_schema``) — at 100k files that
        removes every driver footer read from the plan.

        ``since`` keeps only versions written after it, filtered BELOW
        the window so that it shuffles only those. Each key's newest
        version is then the same as over all versions, or dropped: a
        key with any version after ``since`` has its newest there."""
        schema = self._published_mor_schema(as_of)
        logged = {g: s for g, s in slices.items() if s.log_paths}
        free_bases = [
            s.base_path
            for s in slices.values()
            if not s.log_paths and s.base_path
        ]
        merged = None
        if logged:
            base_paths = [s.base_path for s in logged.values() if s.base_path]
            log_paths = [p for s in logged.values() for p in s.log_paths]
            parts = []
            if base_paths:
                parts.append(self._read_mor(base_paths, schema))
            parts.append(self._read_mor(log_paths, schema))
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p, allowMissingColumns=True)
            if since is not None:
                df = df.filter(F.col(COMMIT_TIME_FIELD) > F.lit(since))
            w = Window.partitionBy(
                file_id_expr(F.col(FILE_NAME_FIELD)), F.col(RECORD_KEY_FIELD)
            ).orderBy(F.desc(COMMIT_TIME_FIELD), F.desc(COMMIT_SEQNO_FIELD))
            merged = (
                df.withColumn("__rank", F.row_number().over(w))
                .filter(F.col("__rank") == 1)
                .drop("__rank")
                .filter(~F.coalesce(F.col(DELETED_FIELD), F.lit(False)))
                .drop(DELETED_FIELD)
            )
        if free_bases:
            free = self._read_mor(free_bases, schema)
            if since is not None:
                free = free.filter(F.col(COMMIT_TIME_FIELD) > F.lit(since))
            if DELETED_FIELD in free.columns:
                free = free.filter(
                    ~F.coalesce(F.col(DELETED_FIELD), F.lit(False))
                ).drop(DELETED_FIELD)
            merged = (
                free
                if merged is None
                else merged.unionByName(free, allowMissingColumns=True)
            )
        return merged

    def _read_groups(
        self, slices: dict, groups: set, as_of: str | None = None,
        since: str | None = None,
    ) -> DataFrame | None:
        """Live rows of a group subset — read THROUGH the merge.

        The COW implementation reads base files raw; the inherited
        writers (upsert / delete / merge_into) use it as the survivors
        source, so on a MOR table with live delta logs they would rewrite
        groups from STALE base rows and silently drop every log-resident
        update and tombstone (a new base slice resets the group's log
        list, plans/slices.py). Reading the merged view makes a COW-style
        write on MOR an ABSORBING commit: correct data, logs folded in —
        targeted compaction semantics."""
        return self._merged_over(
            {g: slices[g] for g in groups if g in slices}, as_of, since
        )

    def snapshot(
        self, as_of: str | None = None, partitions: list[str] | None = None
    ) -> DataFrame:
        """Merged view of the whole table (see ``_merged_over``); same
        driver-side partition pruning contract as the COW snapshot."""
        if as_of is not None:
            self.timeline.instant_for(as_of)
        slices = resolve_slices(self.timeline, as_of)
        if partitions is not None:
            wanted = set(partitions)
            slices = {k: s for k, s in slices.items() if k[0] in wanted}
        merged = self._merged_over(slices, as_of)
        if merged is None:
            if partitions is not None:
                # pruned-to-nothing mirrors COW: empty frame, schema kept
                return self.snapshot(as_of).limit(0)
            raise TimelineError(f"table at {self.base_path} has no data at {as_of}")
        return merged

    def lookup(self, keys: list[tuple], as_of: str | None = None) -> DataFrame:
        """MOR point lookup: the key's newest version may live in a delta
        LOG slice (or be tombstoned there), so the hash-routed group subset
        must go through the merge — the base-only COW read would serve
        stale or deleted rows."""
        wanted, targets = self._lookup_probe(keys)
        if as_of is not None:
            self.timeline.instant_for(as_of)
        slices = resolve_slices(self.timeline, as_of)
        merged = self._merged_over(
            {g: s for g, s in slices.items() if g in targets}, as_of
        )
        if merged is None:
            return self.snapshot(as_of).limit(0)
        return merged.filter(F.col(RECORD_KEY_FIELD).isin(sorted(wanted)))

    def scan(self, between: dict[str, tuple], as_of: str | None = None) -> DataFrame:
        """Stats-pruned range scan with MERGE-correct semantics: a file
        group is skipped only when its BASE stats exclude the bounds AND
        it carries no log slices (a delta log may add or update any value,
        so logged groups always read through the merge). The inherited COW
        scan reads pruned base files directly and would serve stale or
        tombstoned rows — same trap ``lookup`` documents. Row-level
        filters re-apply after the merge (pruning is a superset
        guarantee)."""
        if as_of is not None:
            self.timeline.instant_for(as_of)
        slices = resolve_slices(self.timeline, as_of)
        kept = {}
        for g, sl in slices.items():
            if sl.log_paths:
                kept[g] = sl  # logs can hold anything — never prune
                continue
            meta = self.timeline.commit_metadata(sl.commit_ts)
            if self._stat_passes(meta.find_write_stat(g[1]), between):
                kept[g] = sl
        merged = self._merged_over(kept, as_of)
        if merged is None:
            return self.snapshot(as_of).limit(0)
        return bounds_filter(merged, between)

    def _tombstones(self, begin_exclusive: str, end: str | None):
        """(``_FID``, key, commit time) of every tombstone the commits in
        (begin, end] wrote: a scan of exactly the log files they published
        with numDeletes > 0 (metadata-pruned — other logs are never read).
        A log file's rows all carry its commit's time, so the window needs
        no row filter."""
        paths = []
        for ts in self.timeline.timestamps():
            if not (begin_exclusive < ts <= (end or ts)):
                continue
            for _p, stat in self.timeline.commit_metadata(ts).all_stats():
                if stat.log_file and stat.num_deletes > 0:
                    paths.append(os.path.join(self.base_path, stat.path))
        if not paths:
            return self.spark.createDataFrame([], ", ".join(
                f"{c} string" for c in (_FID, RECORD_KEY_FIELD, COMMIT_TIME_FIELD)
            ))
        return (
            self._read_mor(paths, self._published_mor_schema(end))
            .filter(F.coalesce(F.col(DELETED_FIELD), F.lit(False)))
            .select(
                file_id_expr(F.col(FILE_NAME_FIELD)).alias(_FID),
                RECORD_KEY_FIELD,
                COMMIT_TIME_FIELD,
            )
        )

    def _delete_stamps(self, begin_exclusive: str, end: str | None):
        """MOR override of the CDC delete-stamp source: the last tombstone
        per key in (begin, end] (``_tombstones``)."""
        return self._tombstones(begin_exclusive, end).groupBy(
            RECORD_KEY_FIELD
        ).agg(F.max(COMMIT_TIME_FIELD).alias("__stamp"))

    # ------------------------------------------------------------------
    # compaction: merge logs into fresh base slices
    # ------------------------------------------------------------------
    def schedule_compaction(
        self,
        min_log_files: int | None = 2,
        min_log_bytes: int = 0,
    ) -> list[tuple[str, str]]:
        """Compaction planner (Hudi's schedule-compaction analogue): the
        file groups whose accumulated delta logs cross either threshold —
        ``min_log_files`` stacked log slices, or ``min_log_bytes`` of log
        data (from the published write stats; no file system stat calls).
        ``min_log_files=None`` disables the file-count trigger entirely, so
        a bytes-only policy is ``schedule_compaction(min_log_files=None,
        min_log_bytes=...)`` — no sentinel-huge count needed. Disabling
        both triggers is a planner that never fires; raise instead.

        Pure driver-side metadata arithmetic over the resolved slices, so
        a table service can poll it cheaply and pass the result to
        ``compact(commit_ts, groups=...)``. Empty list = nothing worth
        compacting.

        Bytes are summed over each slice's LIVE log paths only — a log
        already absorbed by a compaction (resolve_slices clears it) must
        not keep counting toward the threshold forever."""
        if min_log_files is None and min_log_bytes <= 0:
            raise ValueError(
                "schedule_compaction with min_log_files=None needs min_log_bytes > 0"
            )
        slices = resolve_slices(self.timeline)
        path_bytes = self._published_path_bytes(log_only=True)
        due = []
        for g, s in sorted(slices.items()):
            if not s.log_paths:
                continue
            live_bytes = sum(path_bytes.get(p, 0) for p in s.log_paths)
            if (
                min_log_files is not None and len(s.log_paths) >= min_log_files
            ) or (0 < min_log_bytes <= live_bytes):
                due.append(g)
        return due

    def _published_path_bytes(self, log_only: bool = False) -> dict[str, int]:
        """{abs_path: published size} from ACTIVE commit stats plus the
        archive checkpoint's size map — compaction planners keep sizing
        live logs without filesystem stat calls even after their writing
        commits were archived."""
        path_bytes: dict[str, int] = {}
        cp = self.timeline.archive_checkpoint()
        for rel, n in (cp.get("path_bytes", {}) if cp else {}).items():
            path_bytes[os.path.join(self.base_path, rel)] = n
        for ts in self.timeline.timestamps():
            for _partition, stat in self.timeline.commit_metadata(ts).all_stats():
                if log_only and not stat.log_file:
                    continue
                path_bytes[os.path.join(self.base_path, stat.path)] = (
                    stat.file_size_bytes
                )
        return path_bytes

    def schedule_compaction_tiered(
        self,
        target_ratio: float = 0.5,
        io_budget_bytes: int | None = None,
        min_log_files: int = 1,
    ) -> list[tuple[str, str]]:
        """Size-tiered compaction planner (SURVEY §12.4): select file
        groups whose LIVE log bytes have accumulated to at least
        ``target_ratio`` × the base-file bytes, instead of firing on raw
        log count/bytes like ``schedule_compaction``.

        Why: compaction rewrites the whole base file to absorb its logs,
        so per-group write amplification is (base + logs) / logs. A hot
        wide group with a 1 GB base and one 1 MB log amplifies ~1000×;
        deferring it until logs reach ``target_ratio`` × base bounds
        amplification at 1 + 1/target_ratio for every group compacted —
        the LSM size-tier discipline applied to MOR file groups.
        Log-only groups (no base file yet) are always due: their
        "rewrite" IS the absorb, amplification 1.

        ``io_budget_bytes`` caps one run's total rewrite bytes
        (base + live logs of the cohort): due groups are taken greedily by
        descending absorbed-per-rewritten ratio (logs / (base + logs)), so
        a bounded table-service window always spends its IO on the
        highest-payoff groups first. At least one due group is always
        returned even if it alone exceeds the budget — otherwise a single
        over-budget group could starve forever.

        Same driver-side metadata arithmetic as ``schedule_compaction``:
        sizes come from published write stats, no filesystem stat calls.
        ``min_log_files`` keeps groups with fewer stacked logs out of
        consideration regardless of ratio (default 1 = any live log)."""
        if not 0 < target_ratio:
            raise ValueError("target_ratio must be > 0")
        slices = resolve_slices(self.timeline)
        path_bytes = self._published_path_bytes()
        due: list[tuple[float, int, int, tuple[str, str]]] = []
        for g, s in sorted(slices.items()):
            if len(s.log_paths) < max(min_log_files, 1):
                continue
            log_bytes = sum(path_bytes.get(p, 0) for p in s.log_paths)
            base_bytes = path_bytes.get(s.base_path, 0) if s.base_path else 0
            if base_bytes > 0 and log_bytes < target_ratio * base_bytes:
                continue  # deferred: absorbing now would over-amplify
            rewrite = base_bytes + log_bytes
            payoff = log_bytes / rewrite if rewrite else 1.0
            due.append((payoff, log_bytes, rewrite, g))
        if io_budget_bytes is None:
            return [g for _r, _l, _w, g in due]
        cohort, spent = [], 0
        for _payoff, _log_bytes, rewrite, g in sorted(
            due, key=lambda t: (-t[0], t[3])
        ):
            if cohort and spent + rewrite > io_budget_bytes:
                continue
            cohort.append(g)
            spent += rewrite
        return sorted(cohort)

    def compact(
        self, commit_ts: str, groups: list[tuple[str, str]] | None = None
    ) -> "CommitMetadata":
        """Rewrite the merged view as new base files (operation=compaction).

        Only file groups that currently carry logs are rewritten; groups
        without logs keep their existing base slice untouched (same
        affected-groups-only discipline as the COW writer). ``groups``
        restricts the rewrite further — pass ``schedule_compaction()``'s
        result to compact only the groups that crossed a threshold."""
        self._ensure_new_commit_ts(commit_ts)
        read_ts = self.timeline.latest_timestamp()
        prev_slices = resolve_slices(self.timeline)
        with_logs = {g for g, s in prev_slices.items() if s.log_paths}
        if groups is not None:
            with_logs &= set(groups)
        if not with_logs:
            raise TimelineError("nothing to compact: no file group has log slices")
        merged = self.snapshot()
        merged = merged.withColumn(_PP, F.col("_hoodie_partition_path")).withColumn(
            _FID, file_id_expr(F.col(FILE_NAME_FIELD))
        )
        merged = merged.filter(
            F.col(_FID).isin([fid for (_pp, fid) in with_logs])
        )
        written = self._write_file_groups(merged, commit_ts, expected_groups=sorted(with_logs))
        return self._publish(
            commit_ts, "compaction", written, prev_slices,
            schema_json=self.timeline.commit_metadata(read_ts).schema_json,
            read_ts=read_ts,
        )

    # ------------------------------------------------------------------
    # delete view over the merged timeline (SURVEY §7 M4 hard part #1)
    # ------------------------------------------------------------------
    def delete_view(self, timestamp: str) -> DataFrame:
        """Rows deleted by commit T over the *merged* view, stamped with T:
        ``row_deletes.delete_view`` over the groups T's stats mark
        ``numDeletes > 0``, merged at T-1 only (no merged view at T).

        - Log groups (a delta commit): the rows whose ``(file id, key)``
          T tombstoned (``_tombstones``), an exact part. Sound because
          ``delete_delta``/``merge_delta`` tombstone only keys live in the
          merged view, one action per key per commit.
        - Base-rewrite groups (a COW-style ``delete``/``merge_into``):
          their before-images (merged rows the rewrite deleted), an
          exact part; the keyed rewrite against the new base files' keys
          when a stat names none."""
        self.timeline.instant_for(timestamp)
        ts_list = self.timeline.timestamps()
        idx = ts_list.index(timestamp)
        prev_ts = ts_list[idx - 1] if idx else timestamp
        schema = self._published_mor_schema(prev_ts)
        meta = self.timeline.commit_metadata(timestamp)
        deleting = [s for _p, s in meta.all_stats() if idx and s.num_deletes > 0]
        prev_slices = resolve_slices(self.timeline, prev_ts) if deleting else {}
        fid = file_id_expr(F.col(FILE_NAME_FIELD))
        # (file id, key), not key alone, for parity with the COW path: keys
        # are unique table-wide, but the pair keeps each file group's probe
        # co-located (per-group partitioning is what AQE skew-splits on)
        keys = [_FID, RECORD_KEY_FIELD]

        def merged_before(stats):
            fids = {s.file_id for s in stats}
            merged = self._merged_over(
                {g: s for g, s in prev_slices.items() if g[1] in fids}, prev_ts
            )
            return None if merged is None else merged.withColumn(_FID, fid)

        exact = []
        logged = merged_before([s for s in deleting if s.log_file])
        if logged is not None:
            tombs = self._tombstones(prev_ts, timestamp)
            exact.append(logged.join(tombs.select(*keys), keys, "left_semi"))
        rewritten = [s for s in deleting if not s.log_file]
        if rewritten and all(s.before_image for s in rewritten):
            exact.append(self._read_mor(
                [os.path.join(self.base_path, s.before_image) for s in rewritten],
                StructType(schema.fields[:-1]),
            ).withColumn(_FID, fid))
            rewritten = []
        removed = merged_before(rewritten)
        added = None if removed is None else self._read_mor(
            [os.path.join(self.base_path, s.path) for s in rewritten], schema
        ).select(fid.alias(_FID), RECORD_KEY_FIELD)
        return (
            row_deletes.delete_view(
                self.spark, StructType(schema.fields[:-1]), exact=exact,
                removed=removed, added=added, key_cols=keys,
            )
            .drop(_FID)
            .withColumn(COMMIT_TIME_FIELD, F.lit(timestamp))
        )
