"""MOR reader queries (SURVEY §2 B4): merged snapshot, read-optimized view,
log-resident delete view — over the scripted ``orders_mor`` fixture."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.cow import COMMIT_TIME_FIELD, RECORD_KEY_FIELD
from ..sources.fixtures import (
    C2,
    C3,
    C5,
    MOR_DELETE2_PRED_SQL,
    MOR_DELETE_PRED_SQL,
    MOR_UPDATE_PRED_SQL,
    build_orders_mor,
    build_orders_mor_compacted,
)
from . import query

_PRICE_SQL = (
    f"CASE WHEN {MOR_UPDATE_PRED_SQL} THEN o_totalprice * 2 ELSE o_totalprice END"
)
_ORDERS_SQL = (
    "o_orderkey, o_custkey, o_orderstatus, {price} AS o_totalprice, "
    "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate, o_orderpriority"
)
_ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]


def _project(df: DataFrame) -> DataFrame:
    return df.select(
        *_ORDER_COLS,
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
        F.col("o_orderpriority"),
    )


@query(
    "mor_snapshot",
    oracle=f"""
SELECT {_ORDERS_SQL.format(price=_PRICE_SQL)}
FROM orders WHERE NOT ({MOR_DELETE_PRED_SQL})
""",
)
def mor_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged view: base ∪ logs, latest-per-key, tombstones dropped."""
    return _project(build_orders_mor(spark, sf_dir).snapshot())


@query(
    "mor_read_optimized",
    oracle=f"""
SELECT {_ORDERS_SQL.format(price="o_totalprice")}
FROM orders
""",
)
def mor_read_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base-files-only view: updates/deletes still live in the logs."""
    return _project(build_orders_mor(spark, sf_dir).read_optimized())


@query(
    "mor_delete_view",
    oracle=f"""
SELECT '{C3}' AS {COMMIT_TIME_FIELD},
       CAST(o_orderkey AS VARCHAR) AS {RECORD_KEY_FIELD},
       {_ORDERS_SQL.format(price=_PRICE_SQL)}
FROM orders WHERE {MOR_DELETE_PRED_SQL}
""",
)
def mor_delete_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows deleted by the tombstone commit, reconstructed from the merged
    timeline while the deletes still live only in logs (pre-compaction)."""
    table = build_orders_mor(spark, sf_dir)
    return _delete_view_projection(table.delete_view(C3))


def _delete_view_projection(dv: DataFrame) -> DataFrame:
    return dv.select(
        F.col(COMMIT_TIME_FIELD),
        F.col(RECORD_KEY_FIELD),
        *_ORDER_COLS,
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
        F.col("o_orderpriority"),
    )


@query(
    "mor_delete_view_log_only",
    late=True,  # variant; mor_delete_view + across_compaction stay windowed
    # M5 tombstones target o_orderkey % 13 = 0 but the % 11 keys were
    # already deleted at M3, so only the remainder is actually deleted
    oracle=f"""
SELECT '{C5}' AS {COMMIT_TIME_FIELD},
       CAST(o_orderkey AS VARCHAR) AS {RECORD_KEY_FIELD},
       {_ORDERS_SQL.format(price=_PRICE_SQL)}
FROM orders WHERE ({MOR_DELETE2_PRED_SQL}) AND NOT ({MOR_DELETE_PRED_SQL})
""",
)
def mor_delete_view_log_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete view of a commit whose tombstones live ONLY in un-compacted
    logs stacked on a compacted base (M4 compaction between the two delete
    commits); phantom tombstones for already-deleted keys must not appear."""
    table = build_orders_mor_compacted(spark, sf_dir)
    return _delete_view_projection(table.delete_view(C5))


@query(
    "mor_delete_view_across_compaction",
    oracle=f"""
SELECT '{C3}' AS {COMMIT_TIME_FIELD},
       CAST(o_orderkey AS VARCHAR) AS {RECORD_KEY_FIELD},
       {_ORDERS_SQL.format(price=_PRICE_SQL)}
FROM orders WHERE {MOR_DELETE_PRED_SQL}
""",
)
def mor_delete_view_across_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete view of the pre-compaction M3 commit AFTER M4 compaction
    rewrote every group: reconstruction must time-travel to the M2/M3
    merged views, not the compacted base."""
    table = build_orders_mor_compacted(spark, sf_dir)
    return _delete_view_projection(table.delete_view(C3))


@query(
    "mor_cdc",
    # net-effect CDC over (M1, M3]: updates = %7 keys still alive
    # (after-image, price doubled, stamped M2); deletes = %11 keys
    # (before-image at M1 = original price, stamped by the tombstone M3)
    oracle=f"""
SELECT 'update' AS op, CAST(o_orderkey AS VARCHAR) AS {RECORD_KEY_FIELD},
       '{C2}' AS change_commit, {_ORDERS_SQL.format(price="o_totalprice * 2")}
FROM orders WHERE ({MOR_UPDATE_PRED_SQL}) AND NOT ({MOR_DELETE_PRED_SQL})
UNION ALL
SELECT 'delete' AS op, CAST(o_orderkey AS VARCHAR) AS {RECORD_KEY_FIELD},
       '{C3}' AS change_commit, {_ORDERS_SQL.format(price="o_totalprice")}
FROM orders WHERE {MOR_DELETE_PRED_SQL}
""",
)
def mor_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net-effect CDC on merge-on-read: boundary-snapshot diff over the
    MERGED views; delete stamps scanned from the tombstone logs."""
    from ..sources.fixtures import C1

    table = build_orders_mor(spark, sf_dir)
    cdc = table.cdc(C1, C3)
    return cdc.select(
        "op",
        RECORD_KEY_FIELD,
        "change_commit",
        *_ORDER_COLS,
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
        F.col("o_orderpriority"),
    )


@query(
    "mor_ivm_aggregate",
    late=True,  # oracle-checked locally; driver window is budgeted to 50
    # final state per status: %7 keys at doubled price, %11 keys gone —
    # the maintained view must land exactly there from base + delta alone
    oracle=f"""
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(round(({_PRICE_SQL}) * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders WHERE NOT ({MOR_DELETE_PRED_SQL})
GROUP BY o_orderstatus
""",
)
def mor_ivm_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM over merge-on-read: the same base-plus-retraction algebra as
    lake_ivm_aggregate, fed by the MOR CDC (update postimages from merged
    log slices, delete before-images stamped from tombstone logs) — the
    maintenance path is table-format-generic."""
    from ..sources.fixtures import C1

    table = build_orders_mor(spark, sf_dir)
    cents = F.expr("cast(round(o_totalprice * 100) as bigint)")
    base = (
        table.snapshot(C1)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.sum(cents).alias("c"))
    )
    feed = table.cdc(C1, C3, include_update_preimages=True)
    sign = F.when(F.col("op").isin("insert", "update"), F.lit(1)).otherwise(F.lit(-1))
    delta = (
        feed.select("o_orderstatus", sign.alias("w"), cents.alias("__c"))
        .groupBy("o_orderstatus")
        .agg(F.sum("w").alias("n"), F.sum(F.col("w") * F.col("__c")).alias("c"))
    )
    return (
        base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(F.sum("n").alias("n_rows"), F.sum("c").alias("total_cents"))
        .filter(F.col("n_rows") > 0)
    )


@query(
    "mor_time_travel",
    oracle=f"""
SELECT {_ORDERS_SQL.format(price=_PRICE_SQL)}
FROM orders
""",
)
def mor_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged view as of the update delta (deletes not yet applied)."""
    return _project(build_orders_mor(spark, sf_dir).snapshot(as_of=C2))


@query(
    "mor_incremental",
    late=True,  # B3 keeps lake_incremental windowed; slot goes to mor_merge_delta
    # changes in (M1, M3]: the M2 updated versions minus keys tombstoned
    # at M3 (the tombstones themselves are dropped from the result)
    oracle=f"""
SELECT {_ORDERS_SQL.format(price="o_totalprice * 2")}
FROM orders WHERE ({MOR_UPDATE_PRED_SQL}) AND NOT ({MOR_DELETE_PRED_SQL})
""",
)
def mor_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental read over delta logs: latest changed version per key in
    (C1, C3], tombstoned keys dropped (B3 on MOR)."""
    table = build_orders_mor(spark, sf_dir)
    from ..sources.fixtures import C1

    return _project(table.incremental(C1, C3))


# --------------------------------------------------------------------------
# MOR MERGE: one mixed-action delta commit (row versions + tombstones in
# the SAME log slice). Section union proves merged snapshot AND the merge
# commit's delete view in one hash match.
# --------------------------------------------------------------------------
_MM_PRICE_SQL = (
    "CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END"
)
_MM_CT_SQL = (
    "CASE WHEN o_orderkey % 7 = 0 THEN '20260102000000' ELSE '20260101000000' END"
)


@query(
    "mor_merge_delta",
    oracle=f"""
SELECT 'post_snapshot' AS section,
       {_MM_CT_SQL} AS {COMMIT_TIME_FIELD},
       CAST(o_orderkey AS VARCHAR) AS {RECORD_KEY_FIELD},
       {_ORDERS_SQL.format(price=_MM_PRICE_SQL)}
FROM orders WHERE o_orderkey % 11 != 0
UNION ALL
SELECT 'post_snapshot' AS section,
       '20260102000000' AS {COMMIT_TIME_FIELD},
       CAST(o_orderkey + 11000000 AS VARCHAR) AS {RECORD_KEY_FIELD},
       o_orderkey + 11000000 AS o_orderkey, o_custkey, o_orderstatus,
       o_totalprice,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 19 = 0 AND o_orderkey % 11 != 0
UNION ALL
SELECT 'delete_view' AS section,
       '20260102000000' AS {COMMIT_TIME_FIELD},
       CAST(o_orderkey AS VARCHAR) AS {RECORD_KEY_FIELD},
       {_ORDERS_SQL.format(price="o_totalprice")}
FROM orders WHERE o_orderkey % 11 = 0
""",
)
def mor_merge_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO on merge-on-read (sources/mor.py ``merge_delta``): one
    delta commit appends log slices carrying updates, inserts AND delete
    tombstones; the merged read resolves all three and the same commit's
    delete view reconstructs exactly the tombstoned rows from the log —
    no base file was rewritten."""
    from ..sources.fixtures import build_orders_mor_merged

    table = build_orders_mor_merged(spark, sf_dir)
    snap = table.snapshot()
    post = snap.select(
        F.lit("post_snapshot").alias("section"),
        F.col(COMMIT_TIME_FIELD), F.col(RECORD_KEY_FIELD),
        *_ORDER_COLS,
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
        F.col("o_orderpriority"),
    )
    dv = table.delete_view(C2)
    dv = dv.select(
        F.lit("delete_view").alias("section"),
        F.col(COMMIT_TIME_FIELD), F.col(RECORD_KEY_FIELD),
        *_ORDER_COLS,
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
        F.col("o_orderpriority"),
    )
    return post.unionByName(dv)


import os as _hmor_os

_HUDI_MOR_FIXTURE = _hmor_os.path.abspath(_hmor_os.path.join(
    _hmor_os.path.dirname(__file__), "..", "..", "tests", "fixtures",
    "hudi_mor"))

# The authored log-block operations of tests/fixtures/hudi_mor (the same
# constants tools/make_hudi_mor_fixture.py serializes into binary
# HoodieLogFormat blocks): DuckDB cannot parse the binary log files, so
# the oracle re-states the authored ops as literals and independently
# recomputes the MERGE SEMANTICS (last-write-wins window + tombstone
# filtering) against the fixture's base parquet. The uncommitted block
# (id1 -> 999) and the rolled-back block (id6 -> 600) are deliberately
# NOT in this list — the Spark side must drop both to hash-match. The
# C4 op (id4 -> 440) rides in a PARQUET_DATA_BLOCK in the fixture; the
# C5 ops (id7 -> 77, insert id8) ride in an HFILE_DATA_BLOCK (a complete
# HBase HFile v3 image — GZ blocks, CRC32 checksums, protobuf trailer —
# parsed by plans/hfile.py).
_HUDI_MOR_LOG_OPS_SQL = """
    SELECT * FROM (VALUES
      ('id3', 'id3', 'charlie', CAST(333 AS BIGINT), '20210301100000', 1, FALSE),
      ('id7', 'id7', 'golf',    CAST(70  AS BIGINT), '20210301100000', 2, FALSE),
      ('id2', NULL, NULL, CAST(NULL AS BIGINT),      '20210301100000', 3, TRUE),
      ('id5', NULL, NULL, CAST(NULL AS BIGINT),      '20210301100000', 1, TRUE),
      ('id3', 'id3', 'charlie', CAST(444 AS BIGINT), '20210301110000', 1, FALSE),
      ('id6', 'id6', 'foxtrot', CAST(666 AS BIGINT), '20210301110000', 1, FALSE),
      ('id4', 'id4', 'delta',   CAST(440 AS BIGINT), '20210301130000', 1, FALSE),
      ('id7', 'id7', 'golf',    CAST(77  AS BIGINT), '20210301140000', 1, FALSE),
      ('id8', 'id8', 'hotel',   CAST(80  AS BIGINT), '20210301140000', 2, FALSE)
    ) AS t(k, id, name, value, ord_instant, ord_sub, is_del)
"""


@query(
    "mor_hudi_interop",
    oracle=f"""
WITH base AS (
  SELECT _hoodie_record_key AS k, id, name, value,
         '20210301090000' AS ord_instant, -1 AS ord_sub, FALSE AS is_del
  FROM read_parquet('{_HUDI_MOR_FIXTURE}/2021/03/01/*_20210301090000.parquet')
),
log AS ({_HUDI_MOR_LOG_OPS_SQL}),
merged AS (
  SELECT * FROM base UNION ALL SELECT * FROM log
),
snap AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY k ORDER BY ord_instant DESC, ord_sub DESC) AS rn
  FROM merged
),
snap_c2 AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY k ORDER BY ord_instant DESC, ord_sub DESC) AS rn
  FROM merged WHERE ord_instant <= '20210301100000'
)
SELECT 'snapshot' AS section, id, name, value FROM snap
WHERE rn = 1 AND NOT is_del
UNION ALL
SELECT 'time_travel' AS section, id, name, value FROM snap_c2
WHERE rn = 1 AND NOT is_del
UNION ALL
SELECT 'delete_view' AS section, id, name, value FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY k ORDER BY ord_instant DESC, ord_sub DESC) AS rn
  FROM merged WHERE ord_instant < '20210301100000'
) pre
WHERE rn = 1 AND NOT is_del AND k IN (
  SELECT k FROM log WHERE is_del AND ord_instant = '20210301100000')
""",
)
def mor_hudi_interop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot + time travel over a FOREIGN genuine-format Hudi MOR
    table: tests/fixtures/hudi_mor carries base parquet plus binary
    ``HoodieLogFormat`` ``.log`` files (Avro data blocks, an Avro
    HoodieDeleteRecordList delete block, a PARQUET_DATA_BLOCK, an
    HFILE_DATA_BLOCK — a full HBase HFile v3 image, plans/hfile.py — a
    rollback command block, and an uncommitted block) authored by an
    INDEPENDENT writer
    (tools/make_hudi_mor_fixture.py) — bytes the package reader
    (plans/hudi_log.py + sources/hudi.py) did not produce.

    THREE sections under one driver row: the latest merged snapshot
    (updates + log-borne insert + both tombstone forms resolved, the
    uncommitted and rolled-back blocks dropped), time travel to the
    middle delta commit, and the FLAGSHIP question asked of the
    foreign table — the delete view of the tombstoning commit (both
    tombstone forms reconstructed to their pre-delete images). The
    oracle recomputes the merge window in DuckDB from the fixture's
    base parquet + the authored log ops as literals (binary log blocks
    are not DuckDB-readable)."""
    from ..sources.hudi import read_hudi_mor_snapshot

    cols = [F.col("id"), F.col("name"), F.col("value")]
    snap = read_hudi_mor_snapshot(spark, _HUDI_MOR_FIXTURE).select(
        F.lit("snapshot").alias("section"), *cols)
    tt = read_hudi_mor_snapshot(
        spark, _HUDI_MOR_FIXTURE, as_of="20210301100000"
    ).select(F.lit("time_travel").alias("section"), *cols)
    from ..sources.hudi import read_hudi_mor_delete_view

    dv = read_hudi_mor_delete_view(
        spark, _HUDI_MOR_FIXTURE, "20210301100000"
    ).select(F.lit("delete_view").alias("section"), *cols)
    return snap.unionByName(tt).unionByName(dv)


@query(
    "mor_hudi_point_lookup",
    oracle=f"""
WITH base AS (
  SELECT _hoodie_record_key AS k, id, name, value,
         '20210301090000' AS ord_instant, -1 AS ord_sub, FALSE AS is_del
  FROM read_parquet('{_HUDI_MOR_FIXTURE}/2021/03/01/*_20210301090000.parquet')
),
log AS ({_HUDI_MOR_LOG_OPS_SQL}),
merged AS (
  SELECT * FROM base UNION ALL SELECT * FROM log
),
snap AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY k ORDER BY ord_instant DESC, ord_sub DESC) AS rn
  FROM merged
)
SELECT id, name, value FROM snap
WHERE rn = 1 AND NOT is_del AND k IN ('id3', 'id4', 'id8')
""",
)
def mor_hudi_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-index point lookup on the FOREIGN Hudi MOR table: the
    metadata table's ``record_index`` partition (HFile cells decoded
    through both HoodieRecordIndexInfo fileId encodings — UUID
    high/low-bits packing and the raw-string escape hatch, schema taken
    from the commit's extraMetadata) names each key's file group, and
    the merge window runs over ONLY those slices — at 100 TB a handful
    of files instead of the table, with base-HFile reads served through
    the root-index single-block path rather than a scan. id3 exercises
    a log-updated key (encoding 0), id4 a PARQUET-block-updated key
    (encoding 1), id8 an HFILE-block-born insert; the oracle recomputes
    the same keys' merge results from the authored ops."""
    from ..sources.hudi import read_hudi_mor_point_lookup

    return read_hudi_mor_point_lookup(
        spark, _HUDI_MOR_FIXTURE, ["id3", "id4", "id8"]
    ).select("id", "name", "value")


@query(
    "mor_hudi_data_skipping",
    oracle=f"""
WITH base AS (
  SELECT _hoodie_record_key AS k, id, name, value,
         '20210301090000' AS ord_instant, -1 AS ord_sub, FALSE AS is_del
  FROM read_parquet('{_HUDI_MOR_FIXTURE}/2021/03/01/*_20210301090000.parquet')
),
log AS ({_HUDI_MOR_LOG_OPS_SQL}),
merged AS (
  SELECT * FROM base UNION ALL SELECT * FROM log
),
snap AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY k ORDER BY ord_instant DESC, ord_sub DESC) AS rn
  FROM merged
)
SELECT id, name, value FROM snap
WHERE rn = 1 AND NOT is_del AND value BETWEEN 70 AND 100
""",
)
def mor_hudi_data_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-stats data skipping on the FOREIGN Hudi MOR table: the
    metadata table's ``column_stats`` partition (HoodieMetadataColumnStats
    with min/max through the NAMED-REFERENCE wrapper union the public
    avsc declares — resolved by the Avro layer) prunes file groups whose
    every file provably excludes the range [70, 100] — here file group 2
    entirely (its delete-only log carries valueCount=0: no values, still
    skippable), so the merge scans ONE group. Sound because Hudi keys
    never migrate between file groups; the residual row filter applies
    on top (stats are file-granular). The oracle recomputes the merge in
    DuckDB and filters by the same range."""
    from ..sources.hudi import read_hudi_mor_snapshot

    return read_hudi_mor_snapshot(
        spark, _HUDI_MOR_FIXTURE, bounds={"value": (70, 100)}
    ).select("id", "name", "value")


@query(
    "mor_hudi_incremental",
    oracle=f"""
WITH base AS (
  SELECT _hoodie_record_key AS k, id, name, value,
         '20210301090000' AS ord_instant, -1 AS ord_sub, FALSE AS is_del
  FROM read_parquet('{_HUDI_MOR_FIXTURE}/2021/03/01/*_20210301090000.parquet')
),
log AS ({_HUDI_MOR_LOG_OPS_SQL}),
merged AS (
  SELECT * FROM base UNION ALL SELECT * FROM log
  -- incremental as of C4: C5 ops are beyond the end boundary
),
snap AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY k ORDER BY ord_instant DESC, ord_sub DESC) AS rn
  FROM merged WHERE ord_instant <= '20210301130000'
)
SELECT id, name, value FROM snap
WHERE rn = 1 AND NOT is_del AND ord_instant > '20210301100000'
""",
)
def mor_hudi_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental pull on the FOREIGN Hudi MOR table (the downstream-
    sync contract, native B3 parity): rows whose latest version as of
    C4 was written in (C2, C4] — the C3 log updates and the C4
    parquet-block update, tombstoned keys absent. Commit metadata names
    the touched file groups, so the merge runs over only those groups
    (the day's slices, not the table); the oracle recomputes the merge
    at C4 and filters the winning row's instant into the window."""
    from ..sources.hudi import read_hudi_mor_incremental

    return read_hudi_mor_incremental(
        spark, _HUDI_MOR_FIXTURE, "20210301100000", "20210301130000"
    ).select("id", "name", "value")


@query(
    "mor_hudi_cdc",
    oracle=f"""
WITH base AS (
  SELECT _hoodie_record_key AS k, id, name, value,
         '20210301090000' AS ord_instant, -1 AS ord_sub, FALSE AS is_del
  FROM read_parquet('{_HUDI_MOR_FIXTURE}/2021/03/01/*_20210301090000.parquet')
),
log AS ({_HUDI_MOR_LOG_OPS_SQL}),
merged AS (
  SELECT * FROM base UNION ALL SELECT * FROM log
),
alive_b AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY k ORDER BY ord_instant DESC, ord_sub DESC) AS rn
    FROM merged WHERE ord_instant <= '20210301090000')
  WHERE rn = 1 AND NOT is_del
),
alive_e AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY k ORDER BY ord_instant DESC, ord_sub DESC) AS rn
    FROM merged)
  WHERE rn = 1 AND NOT is_del
)
SELECT 'insert' AS op, k AS _hoodie_record_key, ord_instant AS change_commit,
       id, name, value
FROM alive_e WHERE k NOT IN (SELECT k FROM alive_b)
UNION ALL
SELECT 'update', e.k, e.ord_instant, e.id, e.name, e.value
FROM alive_e e JOIN alive_b b ON e.k = b.k
WHERE e.ord_instant > '20210301090000'
UNION ALL
SELECT 'delete', b.k,
       (SELECT MAX(ord_instant) FROM log
        WHERE is_del AND k = b.k AND ord_instant > '20210301090000'),
       b.id, b.name, b.value
FROM alive_b b WHERE b.k NOT IN (SELECT k FROM alive_e)
""",
)
def mor_hudi_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net-effect CDC on the FOREIGN Hudi MOR table over (C1, C5] —
    native cdc parity: inserts (the log-borne id7 and the
    HFile-block-born id8, after-images at their latest commits),
    updates (id3/id4/id6 through three different block codecs,
    after-images), deletes (id2/id5 — BOTH tombstone forms — as
    before-images stamped with the tombstoning commit scanned from the
    window's logs). Commit metadata prunes both boundary snapshots to
    touched file groups (FG3 never appears in the diff); the oracle
    recomputes both boundary merges and the tombstone stamps from the
    authored ops."""
    from ..sources.hudi import read_hudi_mor_cdc

    return read_hudi_mor_cdc(
        spark, _HUDI_MOR_FIXTURE, "20210301090000"
    ).select("op", "_hoodie_record_key", "change_commit", "id", "name", "value")
