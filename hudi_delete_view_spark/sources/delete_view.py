"""Delete view: the rows deleted by commit T — the flagship.

Reference pipeline (SURVEY §2 A1-A15, ``DeleteView.java`` /
``DeleteSupport.java`` / ``HudiDeleteHandle.java``):

1. select the completed instant T (``DeleteView.java:51-55``),
2. keep write stats with ``numDeletes > 0 && prevCommit != null`` — file
   groups untouched by deletes are pruned before any data is read
   (``DeleteView.java:100``),
3. pair each new slice with its predecessor slice (``:112-163``); a
   missing predecessor is an explicit error,
4. materialize to ``<base>/.delete/<T>/`` (``DeleteSupport.java:83``,
   ``DeleteView.java:168-172``),
5. serve via ``spark.read.parquet`` (``DeleteSupport.java:94-95``), with a
   footer-count cache-validity check so repeat queries cost metadata only
   (``DeleteView.java:178-190``, ``DeleteUtils.java:27-48``).

Native commits carry the answer: the group rewrite that deleted the rows
wrote them once more, stamped with T, to one before-image file per
deleting group (``WriteStat.before_image``). When every deleting stat
names one, step 4 copies those files — no Spark job, and nothing read but
the rows returned. Hudi's CDC (RFC-51) and Delta's change data feed
persist deleted rows at write time the same way.

Commits without before-images (genuine Hudi layouts, tables written before
before-images) take the reference's keyed path (A6-A9): per pair,
anti-join old rows against new keys (``HudiDeleteHandle.java:44-81``
builds a per-task HashSet; we run ONE keyed anti-join on
``(file_id, _hoodie_record_key)`` instead — Catalyst picks broadcast-hash
vs shuffled join, AQE handles skew, hash tables spill), then stamp
``_hoodie_commit_time`` = T (``:73-74``). Its old/new sides are two
vectorized scans over all deleting groups (the new side column-pruned to
two string columns); nothing is collected to the driver. Both paths write
the view in the commit's published column order.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import row_deletes
from ..plans.timeline import Timeline, TimelineError
from .cow import (
    COMMIT_TIME_FIELD,
    RECORD_KEY_FIELD,
    file_id_expr,
    FILE_NAME_FIELD,
    footer_row_count_dir,
)

DELETE_DIR = ".delete"
_FID = "__fid"


def _delete_view_path(base_path: str, timestamp: str) -> str:
    # reference path builder: <base>/.delete/<timestamp>/ (DeleteView.java:168-172)
    return os.path.join(base_path, DELETE_DIR, timestamp)


class DeleteView:
    """``DeleteView(spark, path, T).dataset()`` == the reference's
    ``new DeleteSupport(path, T).getDeleteDataset()``."""

    def __init__(self, spark: SparkSession, base_path: str, timestamp: str):
        self.spark = spark
        self.base_path = base_path
        self.timestamp = timestamp
        self.timeline = Timeline(base_path)
        # instant selection up front — explicit error when T names nothing
        self.timeline.instant_for(timestamp)

    # -- A2-A4: metadata resolution -------------------------------------
    def _file_pairs(self) -> list[tuple[str, str, str, str | None]]:
        """[(file_id, old_path, new_path, before_image_path)] for stats
        with numDeletes>0 (the before-image None when the stat names none).

        Predecessor lookup mirrors ``findHoodieWriteStat``
        (``DeleteView.java:132-142``); a missing predecessor is an explicit
        error (reference behavior at ``:124-125``).
        """
        meta = self.timeline.commit_metadata(self.timestamp)
        pairs = []
        for _partition, stat in meta.all_stats():
            if stat.num_deletes <= 0 or stat.prev_commit is None:
                continue  # stats-based file pruning (DeleteView.java:100)
            prev_meta = self.timeline.commit_metadata(stat.prev_commit)
            prev_stat = prev_meta.find_write_stat(stat.file_id)
            if prev_stat is None:
                raise TimelineError(
                    f"no predecessor slice for file group {stat.file_id!r} in "
                    f"commit {stat.prev_commit!r} (required by delete commit "
                    f"{self.timestamp!r})"
                )
            pairs.append(
                (
                    stat.file_id,
                    os.path.join(self.base_path, prev_stat.path),
                    os.path.join(self.base_path, stat.path),
                    stat.before_image and os.path.join(self.base_path, stat.before_image),
                )
            )
        return pairs

    # -- A6-A9: the keyed path, for commits without before-images -------
    def _compute(self) -> DataFrame:
        pairs = self._file_pairs()
        if not pairs:
            return None  # nothing deleted at T
        old_paths = [p[1] for p in pairs]
        new_paths = [p[2] for p in pairs]
        # metadata-only planning: old slices straddling a schema evolution
        # read with the delete commit's published schema, the added columns
        # as NULLs — the union mergeSchema inferred, without a driver
        # footer read per predecessor slice
        meta = self.timeline.commit_metadata(self.timestamp)
        schema = meta.published_schema()
        reader = (
            self.spark.read.schema(schema)
            if schema is not None
            # fallback: old slices of different groups may straddle a schema
            # evolution (one group rewritten with a new column, another not)
            else self.spark.read.option("mergeSchema", "true")
        )
        # file-group tag from the stored file name (JVM regexp; no
        # input_file_name needed because the writer stamps _hoodie_file_name)
        old_df = reader.parquet(*old_paths).withColumn(
            _FID, file_id_expr(F.col(FILE_NAME_FIELD))
        )
        # build side: column-pruned to (file_id, key) — the scan reads two
        # string columns, the Catalyst analogue of the reference's key set
        # (HudiDeleteHandle.java:48-52)
        new_reader = (
            self.spark.read.schema(schema) if schema is not None else self.spark.read
        )
        new_keys = new_reader.parquet(*new_paths).select(
            file_id_expr(F.col(FILE_NAME_FIELD)).alias(_FID),
            F.col(RECORD_KEY_FIELD),
        )
        deleted = row_deletes.delete_view(
            self.spark, old_df.schema,
            removed=old_df, added=new_keys, key_cols=[_FID, RECORD_KEY_FIELD],
        )
        # A9: stamp the delete commit as the row's processing time; the
        # USING join put its keys first, so restore the table's order
        return deleted.withColumn(COMMIT_TIME_FIELD, F.lit(self.timestamp)).select(
            *[c for c in old_df.columns if c != _FID]
        )

    # -- A12-A15: materialize / cache / serve ----------------------------
    def view_path(self) -> str:
        return _delete_view_path(self.base_path, self.timestamp)

    def is_materialized(self) -> bool:
        """Cache-validity: dir exists, non-empty, footer count matches
        ``totalRecordsDeleted`` (``DeleteView.java:178-190``)."""
        path = self.view_path()
        fs = self.timeline.fs
        if not fs.isdir(path):
            return False
        if not any(f.endswith(".parquet") for f in fs.listdir(path)):
            return False
        expected = self.timeline.commit_metadata(self.timestamp).total_records_deleted
        return footer_row_count_dir(path) == expected

    def materialize(self, force: bool = False) -> str:
        path = self.view_path()
        if not force and self.is_materialized():
            return path
        fs = self.timeline.fs
        images = [p[3] for p in self._file_pairs()]
        if images and all(p and fs.exists(p) for p in images):
            # the rows T deleted, as its write left them: copy, no job
            fs.rmtree(path)
            fs.makedirs(path)
            for p in images:
                fs.copy(p, os.path.join(path, os.path.basename(p)))
            return path
        df = self._compute()
        if df is None:
            # empty view: publish an empty parquet dir with the table schema
            self.timeline.fs.rmtree(path)
            schema = self.timeline.commit_metadata(self.timestamp).published_schema()
            if schema is not None:
                empty = self.spark.createDataFrame([], schema)
                empty.write.mode("overwrite").parquet(path)
            else:
                self.timeline.fs.makedirs(path)
            return path
        df.write.mode("overwrite").parquet(path)
        return path

    def dataset(self) -> DataFrame:
        """Materialize if stale/missing, then serve the Parquet-backed view.
        The view files are in the commit's published schema (before-images
        are written in it; ``_compute`` reads with it), so the serve plan
        carries that schema explicitly — no footer inference on the hot
        repeat-query path."""
        path = self.materialize()
        schema = self.timeline.commit_metadata(self.timestamp).published_schema()
        if schema is not None:
            return self.spark.read.schema(schema).parquet(path)
        return self.spark.read.parquet(path)


def delete_view(spark: SparkSession, base_path: str, timestamp: str) -> DataFrame:
    """Functional entry point: the rows deleted by commit ``timestamp``."""
    return DeleteView(spark, base_path, timestamp).dataset()


def delete_views_between(
    spark: SparkSession,
    base_path: str,
    begin_exclusive: str,
    end_inclusive: str | None = None,
) -> DataFrame:
    """Rows deleted by ANY commit in (begin, end], each stamped with its
    own delete commit time — the incremental/audit feed built from the
    reference's per-commit views (a CDC-style delete stream for
    downstream sync jobs).

    COW tables only (per-commit reconstruction is the DeleteView file-pair
    pipeline; for MOR use ``MorTable.delete_view`` per commit over the
    merged timeline). Driver work is metadata-only: commits whose stats
    show no deletes are pruned without touching data (A2 generalized to a
    range), and each per-commit view reuses its materialized cache
    (A12-A15), so a repeated range query reads parquet only.

    Served as ONE multi-path parquet scan over the materialized view dirs
    (mergeSchema covers ranges straddling a schema evolution) — a
    per-commit ``unionByName`` loop would grow the driver-side plan
    linearly in the number of delete commits; the flat scan stays one
    node no matter how many commits the audit range spans."""
    timeline = Timeline(base_path)
    end = end_inclusive or timeline.latest_timestamp()
    if end is None:
        raise TimelineError(f"table at {base_path} has no commits")
    view_dirs = []
    for ts in timeline.timestamps():
        if not (begin_exclusive < ts <= end):
            continue
        if timeline.commit_metadata(ts).total_records_deleted <= 0:
            continue  # stats pruning: commit deleted nothing
        view_dirs.append(DeleteView(spark, base_path, ts).materialize())
    schema = timeline.commit_metadata(end).published_schema()
    if not view_dirs:
        # empty range: empty frame with the table's published schema + stamp
        return spark.createDataFrame([], schema)
    if schema is not None:
        # views are aligned to their commit's published schema at write;
        # the END commit's schema is the union under append-only evolution
        return spark.read.schema(schema).parquet(*view_dirs)
    return spark.read.option("mergeSchema", "true").parquet(*view_dirs)
