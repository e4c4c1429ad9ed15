"""Lake-table queries (SURVEY §2 B1-B6): delete view, snapshot, time travel,
incremental — each built on the scripted ``lineitem_cow`` fixture whose
commit predicates are deterministic, so every result is expressible as ANSI
SQL over the raw ``lineitem`` parquet for the DuckDB oracle.

Timestamps are rendered as strings on both sides (driver hashing must see
identical values); doubles pass through without re-computation except the
scripted ``+ 100.0`` update, which is the same IEEE-754 op in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.cow import (
    COMMIT_TIME_FIELD,
    PARTITION_PATH_FIELD,
    RECORD_KEY_FIELD,
)
from ..sources.delete_view import delete_view
from ..sources.fixtures import (
    C1,
    C2,
    C3,
    C4,
    LINEITEM_DEDUP_CTE,
    build_lineitem_cow,
)
from . import query

_PAYLOAD = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
]

# SQL fragments shared by the oracles --------------------------------------
_KEY_SQL = (
    "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR) || ':' || "
    "CAST(l_partkey AS VARCHAR) || ':' || CAST(l_suppkey AS VARCHAR)"
)
_QTY_SQL = "CASE WHEN l_partkey % 10 = 0 THEN l_quantity + 100.0 ELSE l_quantity END"
_PAYLOAD_SQL = (
    "l_orderkey, l_partkey, l_suppkey, l_linenumber, {qty} AS l_quantity, "
    "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
    "strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS l_shipdate"
)


def _project(df: DataFrame, with_meta: bool = True) -> DataFrame:
    """Canonical oracle-able projection: meta subset + payload, shipdate as
    string (deterministic hash-comparable rendering on both engines)."""
    cols = []
    if with_meta:
        cols += [F.col(COMMIT_TIME_FIELD), F.col(RECORD_KEY_FIELD), F.col(PARTITION_PATH_FIELD)]
    cols += [F.col(c) for c in _PAYLOAD]
    cols += [F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss").alias("l_shipdate")]
    return df.select(*cols)


# --------------------------------------------------------------------------
# B6 flagship: the rows deleted by commit C3 (reference's entire product)
# --------------------------------------------------------------------------
@query(
    "lake_delete_view",
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT '20260103000000' AS {COMMIT_TIME_FIELD},
       {_KEY_SQL} AS {RECORD_KEY_FIELD},
       l_returnflag AS {PARTITION_PATH_FIELD},
       {_PAYLOAD_SQL.format(qty=_QTY_SQL)}
FROM li WHERE l_suppkey % 17 = 0
""",
)
def lake_delete_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = build_lineitem_cow(spark, sf_dir)
    return _project(delete_view(spark, table.base_path, C3))


# --------------------------------------------------------------------------
# B1: snapshot read after all four commits
# --------------------------------------------------------------------------
@query(
    "lake_snapshot",
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT {_KEY_SQL} AS {RECORD_KEY_FIELD},
       {_PAYLOAD_SQL.format(qty=_QTY_SQL)}
FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
""",
)
def lake_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = build_lineitem_cow(spark, sf_dir)
    snap = table.snapshot()
    return snap.select(
        snap[RECORD_KEY_FIELD], *[F.col(c) for c in _PAYLOAD],
        F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss").alias("l_shipdate"),
    )


# --------------------------------------------------------------------------
# B2: time travel — the table as of C1 (before update/deletes)
# --------------------------------------------------------------------------
@query(
    "lake_time_travel",
    late=True,  # B2 keeps mor_time_travel + lake_partition_evolution pre_travel in-window
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT {_KEY_SQL} AS {RECORD_KEY_FIELD},
       {_PAYLOAD_SQL.format(qty="l_quantity")}
FROM li
""",
)
def lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = build_lineitem_cow(spark, sf_dir)
    snap = table.snapshot(as_of=C1)
    return snap.select(
        snap[RECORD_KEY_FIELD], *[F.col(c) for c in _PAYLOAD],
        F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss").alias("l_shipdate"),
    )


# --------------------------------------------------------------------------
# B3: incremental read — records changed in (C1, C2] (the C2 updates)
# --------------------------------------------------------------------------
@query(
    "lake_incremental",
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT '20260102000000' AS {COMMIT_TIME_FIELD},
       {_KEY_SQL} AS {RECORD_KEY_FIELD},
       {_PAYLOAD_SQL.format(qty=_QTY_SQL)}
FROM li WHERE l_partkey % 10 = 0
""",
)
def lake_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = build_lineitem_cow(spark, sf_dir)
    inc = table.incremental(C1, C2)
    return inc.select(
        inc[COMMIT_TIME_FIELD], inc[RECORD_KEY_FIELD], *[F.col(c) for c in _PAYLOAD],
        F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss").alias("l_shipdate"),
    )


# --------------------------------------------------------------------------
# range delete view: deletes from every commit in (C2, C4] — C3's rows
# stamped C3, C4's stamped C4 (C4 only deletes what C3 left alive)
# --------------------------------------------------------------------------
@query(
    "lake_delete_view_range",
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT CASE WHEN l_suppkey % 17 = 0 THEN '20260103000000' ELSE '20260104000000' END AS {COMMIT_TIME_FIELD},
       {_KEY_SQL} AS {RECORD_KEY_FIELD},
       l_returnflag AS {PARTITION_PATH_FIELD},
       {_PAYLOAD_SQL.format(qty=_QTY_SQL)}
FROM li WHERE l_suppkey % 17 = 0 OR l_suppkey % 23 = 0
""",
)
def lake_delete_view_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style delete feed: per-commit delete views over a commit range,
    unioned, each row stamped with its own delete commit (stats-pruned
    commit selection; cached per-commit materializations reused)."""
    from ..sources.delete_view import delete_views_between

    table = build_lineitem_cow(spark, sf_dir)
    return _project(delete_views_between(spark, table.base_path, C2, C4))


# --------------------------------------------------------------------------
# CDC read: net-effect change feed over (C1, C4] — updates surviving both
# deletes (after-image, stamped C2) and deletes (before-image, stamped
# with the deleting commit); inserts none in this script
# --------------------------------------------------------------------------
@query(
    "lake_cdc",
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT 'update' AS op, {_KEY_SQL} AS {RECORD_KEY_FIELD},
       '20260102000000' AS change_commit,
       {_PAYLOAD_SQL.format(qty=_QTY_SQL)}
FROM li WHERE l_partkey % 10 = 0 AND l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
UNION ALL
SELECT 'delete' AS op, {_KEY_SQL} AS {RECORD_KEY_FIELD},
       CASE WHEN l_suppkey % 17 = 0 THEN '20260103000000' ELSE '20260104000000' END AS change_commit,
       {_PAYLOAD_SQL.format(qty="l_quantity")}
FROM li WHERE l_suppkey % 17 = 0 OR l_suppkey % 23 = 0
""",
)
def lake_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net-effect CDC feed (Delta CDF / Hudi CDC analogue): one pruned
    full-outer diff of the boundary snapshots on (file_id, key)."""
    table = build_lineitem_cow(spark, sf_dir)
    cdc = table.cdc(C1, C4)
    return cdc.select(
        "op",
        RECORD_KEY_FIELD,
        "change_commit",
        *[F.col(c) for c in _PAYLOAD],
        F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss").alias("l_shipdate"),
    )


# --------------------------------------------------------------------------
# Partition evolution: the repartition commit mid-timeline. One query
# hash-verifies all three contracts at once — the post-evolution snapshot
# serves the NEW layout (partition path = l_linestatus, original commit
# stamps preserved), time travel to a pre-evolution instant serves the OLD
# layout untouched, and the post-evolution delete commit's delete view
# reconstructs across the boundary (prevCommit = the repartition commit).
# --------------------------------------------------------------------------
_CT_SQL = (
    "CASE WHEN l_partkey % 10 = 0 THEN '20260102000000' "
    "ELSE '20260101000000' END"
)


@query(
    "lake_partition_evolution",
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT 'post_snapshot' AS section,
       {_CT_SQL} AS {COMMIT_TIME_FIELD},
       {_KEY_SQL} AS {RECORD_KEY_FIELD},
       l_linestatus AS {PARTITION_PATH_FIELD},
       {_PAYLOAD_SQL.format(qty=_QTY_SQL)}
FROM li WHERE l_suppkey % 17 != 0
UNION ALL
SELECT 'pre_travel' AS section,
       {_CT_SQL} AS {COMMIT_TIME_FIELD},
       {_KEY_SQL} AS {RECORD_KEY_FIELD},
       l_returnflag AS {PARTITION_PATH_FIELD},
       {_PAYLOAD_SQL.format(qty=_QTY_SQL)}
FROM li
UNION ALL
SELECT 'delete_view' AS section,
       '20260104000000' AS {COMMIT_TIME_FIELD},
       {_KEY_SQL} AS {RECORD_KEY_FIELD},
       l_linestatus AS {PARTITION_PATH_FIELD},
       {_PAYLOAD_SQL.format(qty=_QTY_SQL)}
FROM li WHERE l_suppkey % 17 = 0
""",
)
def lake_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition evolution (the repartition commit): snapshot under the new
    layout, time travel under the old, and a cross-boundary delete view,
    unioned with a section tag so one hash match proves all three."""
    from ..sources.fixtures import build_lineitem_evolved

    table = build_lineitem_evolved(spark, sf_dir)
    post = _project(table.snapshot()).withColumn("section", F.lit("post_snapshot"))
    pre = _project(table.snapshot(as_of=C2)).withColumn("section", F.lit("pre_travel"))
    dv = _project(delete_view(spark, table.base_path, C4)).withColumn(
        "section", F.lit("delete_view")
    )
    return post.unionByName(pre).unionByName(dv)


# --------------------------------------------------------------------------
# Clustering (replacecommit): scan through the layout-rewritten table —
# identical rows, sorted files, range predicate pushed to the scan where
# tightened row-group stats make it cheap
# --------------------------------------------------------------------------
@query(
    "lake_clustered_scan",
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT {_KEY_SQL} AS {RECORD_KEY_FIELD},
       {_PAYLOAD_SQL.format(qty="l_quantity")}
FROM li WHERE l_orderkey BETWEEN 5000 AND 20000
""",
)
def lake_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range scan over the clustered table: the clustering commit rewrote
    every file group sorted by l_orderkey (rows unchanged — the oracle is
    the plain C1 data), so the pushed-down range touches one contiguous
    run of row groups per file instead of all of them."""
    from ..sources.fixtures import build_lineitem_clustered

    table = build_lineitem_clustered(spark, sf_dir)
    df = table.scan({"l_orderkey": (5000, 20000)})
    return df.select(
        df[RECORD_KEY_FIELD], *[F.col(c) for c in _PAYLOAD],
        F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss").alias("l_shipdate"),
    )


# --------------------------------------------------------------------------
# Incremental view maintenance: a per-flag aggregate kept in sync by the
# CDC retraction feed (postimages add, preimages/deletes subtract) — never
# recomputed from the full table. The oracle aggregates the FINAL state
# directly, so a hash match proves base + delta == recompute.
# --------------------------------------------------------------------------
@query(
    "lake_ivm_aggregate",
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       ROUND(SUM(CAST(round(({_QTY_SQL}) * 100) AS BIGINT)) / 100.0, 6) AS sum_qty
FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
GROUP BY l_returnflag
""",
)
def lake_ivm_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained aggregate: seed the view at C1, then apply
    only the CDC delta over (C1, C4]. Sums ride exact integer cents so the
    retraction algebra is associative regardless of partial order. At scale
    the delta is proportional to the CHANGES, not the table — the whole
    point of maintaining a 100 TB rollup from a GB-sized change feed."""
    table = build_lineitem_cow(spark, sf_dir)
    cents = F.expr("cast(round(l_quantity * 100) as bigint)")

    base = (
        table.snapshot(C1)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum(cents).alias("c"))
    )
    feed = table.cdc(C1, C4, include_update_preimages=True)
    sign = F.when(F.col("op").isin("insert", "update"), F.lit(1)).otherwise(F.lit(-1))
    delta = (
        feed.select("l_returnflag", sign.alias("w"), cents.alias("__c"))
        .groupBy("l_returnflag")
        .agg(F.sum("w").alias("n"), F.sum(F.col("w") * F.col("__c")).alias("c"))
    )
    return (
        base.unionByName(delta)
        .groupBy("l_returnflag")
        .agg(F.sum("n").alias("n_rows"), F.sum("c").alias("__cents"))
        .filter(F.col("n_rows") > 0)
        .select(
            "l_returnflag",
            "n_rows",
            F.round(F.col("__cents") / F.lit(100.0), 6).alias("sum_qty"),
        )
    )


# --------------------------------------------------------------------------
# A14/A15: the materialized view's metadata-only count (footer-driven)
# --------------------------------------------------------------------------
@query(
    "lake_delete_view_count",
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT COUNT(*) AS deleted_rows FROM li WHERE l_suppkey % 17 = 0
""",
)
def lake_delete_view_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = build_lineitem_cow(spark, sf_dir)
    dv = delete_view(spark, table.base_path, C3)
    return dv.agg(F.count("*").cast("long").alias("deleted_rows"))


# --------------------------------------------------------------------------
# stats-based file skipping: scan with a partition-column bound — metadata
# prunes the non-matching partitions' files before any scan is planned
# --------------------------------------------------------------------------
@query(
    "lake_pruned_scan",
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT {_KEY_SQL} AS {RECORD_KEY_FIELD},
       {_PAYLOAD_SQL.format(qty=_QTY_SQL)}
FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
  AND l_returnflag = 'R' AND l_orderkey BETWEEN 1000 AND 30000
""",
)
def lake_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping (Delta/Hudi column-stats style): per-file [min, max]
    published in commit metadata prunes files driver-side; here the
    l_returnflag bound keeps only the 'R' partition's file groups."""
    table = build_lineitem_cow(spark, sf_dir)
    df = table.scan({"l_returnflag": ("R", "R"), "l_orderkey": (1000, 30000)})
    return df.select(
        df[RECORD_KEY_FIELD], *[F.col(c) for c in _PAYLOAD],
        F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss").alias("l_shipdate"),
    )


# --------------------------------------------------------------------------
# explicit partition-path pruning (the stats-free complement of
# lake_pruned_scan): unselected partitions are never listed or planned
# --------------------------------------------------------------------------
@query(
    "lake_partition_scan",
    late=True,  # partition-path sibling of the windowed lake_pruned_scan
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT l_returnflag, COUNT(*) AS n_rows,
  CAST(SUM(CAST(round(({_QTY_SQL}) * 100) AS BIGINT)) AS BIGINT) AS qty_cents
FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
  AND l_returnflag IN ('A', 'R')
GROUP BY l_returnflag
""",
)
def lake_partition_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-side partition pruning: snapshot(partitions=['A','R']) never
    lists or plans the 'N' partition's files — exact leaf pruning with no
    stats consultation."""
    table = build_lineitem_cow(spark, sf_dir)
    df = table.snapshot(partitions=["A", "R"])
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.expr("cast(round(l_quantity * 100) as bigint)")).alias("qty_cents"),
    )


# --------------------------------------------------------------------------
# `show commits`: per-commit write-stat summary (the metadata the
# reference's delete pruning consumes, A2) — cross-checked against
# DATA-DERIVED truth: the fixture's scripted predicates recompute each
# commit's insert/update/delete counts from the source table alone, so a
# hash match proves the writer's published stats describe what the data
# says happened
# --------------------------------------------------------------------------
@query(
    "lake_commit_history",
    late=True,  # metadata-plane; every consumer of these stats is windowed
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT '20260101000000' AS commit_ts, 'bulk_insert' AS operation,
  (SELECT COUNT(*) FROM li) AS num_inserts,
  CAST(0 AS BIGINT) AS num_update_writes, CAST(0 AS BIGINT) AS num_deletes,
  CAST(0 AS BIGINT) AS total_records_deleted
UNION ALL
SELECT '20260102000000', 'upsert',
  0, (SELECT COUNT(*) FROM li WHERE l_partkey % 10 = 0), 0, 0
UNION ALL
SELECT '20260103000000', 'delete',
  0, 0,
  (SELECT COUNT(*) FROM li WHERE l_suppkey % 17 = 0),
  (SELECT COUNT(*) FROM li WHERE l_suppkey % 17 = 0)
UNION ALL
SELECT '20260104000000', 'delete',
  0, 0,
  (SELECT COUNT(*) FROM li WHERE l_suppkey % 23 = 0 AND l_suppkey % 17 != 0),
  (SELECT COUNT(*) FROM li WHERE l_suppkey % 23 = 0 AND l_suppkey % 17 != 0)
""",
)
def lake_commit_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queryable commit log: writer-published stats per commit, verified
    against counts recomputed from the source data + fixture predicates."""
    table = build_lineitem_cow(spark, sf_dir)
    return table.commit_history().select(
        "commit_ts", "operation", "num_inserts", "num_update_writes",
        "num_deletes", "total_records_deleted",
    )


# --------------------------------------------------------------------------
# incremental-pull replay (the Hudi incremental-source / streaming-consume
# contract): a consumer that checkpoints its last-seen commit and pulls
# each (prev, next] CDC batch in turn must converge to the same state as
# one full recompute — same oracle as lake_ivm_aggregate, reached through
# three sequential per-commit batches instead of one range batch
# --------------------------------------------------------------------------
@query(
    "lake_cdc_replay",
    late=True,  # convergence sibling of the windowed lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       ROUND(SUM(CAST(round(({_QTY_SQL}) * 100) AS BIGINT)) / 100.0, 6) AS sum_qty
FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
GROUP BY l_returnflag
""",
)
def lake_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-by-commit incremental consumption: seed at C1, then fold the
    per-commit CDC batches (C1,C2], (C2,C3], (C3,C4] through the
    retraction algebra. The driver loop iterates COMMIT TIMESTAMPS
    (metadata); every batch stays a lazy DataFrame unioned into one plan."""
    table = build_lineitem_cow(spark, sf_dir)
    cents = F.expr("cast(round(l_quantity * 100) as bigint)")
    parts = [
        table.snapshot(as_of=C1)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum(cents).alias("c"))
    ]
    commits = [C1, C2, C3, C4]
    for prev, ts in zip(commits, commits[1:]):
        feed = table.cdc(prev, ts, include_update_preimages=True)
        sign = F.when(F.col("op").isin("insert", "update"), F.lit(1)).otherwise(F.lit(-1))
        parts.append(
            feed.select("l_returnflag", sign.alias("w"), cents.alias("__c"))
            .groupBy("l_returnflag")
            .agg(F.sum("w").alias("n"), F.sum(F.col("w") * F.col("__c")).alias("c"))
        )
    acc = parts[0]
    for p in parts[1:]:
        acc = acc.unionByName(p)
    return (
        acc.groupBy("l_returnflag")
        .agg(F.sum("n").alias("n_rows"), F.sum("c").alias("__cents"))
        .filter(F.col("n_rows") > 0)
        .select(
            "l_returnflag",
            "n_rows",
            F.round(F.col("__cents") / F.lit(100.0), 6).alias("sum_qty"),
        )
    )


# --------------------------------------------------------------------------
# MERGE INTO: one mixed-action commit (matched update + matched delete +
# not-matched insert). The section union proves the post-merge snapshot AND
# the merge commit's delete view in a single hash match.
# --------------------------------------------------------------------------
_MERGE_QTY_SQL = "CASE WHEN l_partkey % 7 = 0 THEN l_quantity + 50.0 ELSE l_quantity END"
_MERGE_CT_SQL = (
    "CASE WHEN l_partkey % 7 = 0 THEN '20260102000000' ELSE '20260101000000' END"
)


@query(
    "lake_merge_into",
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT 'post_snapshot' AS section,
       {_MERGE_CT_SQL} AS {COMMIT_TIME_FIELD},
       {_KEY_SQL} AS {RECORD_KEY_FIELD},
       l_returnflag AS {PARTITION_PATH_FIELD},
       {_PAYLOAD_SQL.format(qty=_MERGE_QTY_SQL)}
FROM li WHERE l_orderkey % 13 != 0
UNION ALL
SELECT 'post_snapshot' AS section,
       '20260102000000' AS {COMMIT_TIME_FIELD},
       {_KEY_SQL} AS {RECORD_KEY_FIELD},
       l_returnflag AS {PARTITION_PATH_FIELD},
       {_PAYLOAD_SQL.format(qty="l_quantity")}
FROM (SELECT * REPLACE (l_linenumber + 100 AS l_linenumber) FROM li
      WHERE l_partkey % 19 = 0 AND l_orderkey % 13 != 0) li2
UNION ALL
SELECT 'delete_view' AS section,
       '20260102000000' AS {COMMIT_TIME_FIELD},
       {_KEY_SQL} AS {RECORD_KEY_FIELD},
       l_returnflag AS {PARTITION_PATH_FIELD},
       {_PAYLOAD_SQL.format(qty="l_quantity")}
FROM li WHERE l_orderkey % 13 = 0
""",
)
def lake_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL MERGE INTO as ONE commit (sources/cow.py ``merge_into``): the
    post-merge snapshot carries updates (qty+50, restamped), untouched
    survivors (original stamps), matched deletes removed, and new keys
    inserted — and the SAME commit's delete view reconstructs exactly the
    matched-delete rows (numDeletes > 0 stats prune + prevCommit anti-join,
    the flagship pipeline fed by a mixed-action writer)."""
    from ..sources.fixtures import build_lineitem_merged

    table = build_lineitem_merged(spark, sf_dir)
    post = _project(table.snapshot()).withColumn("section", F.lit("post_snapshot"))
    dv = _project(delete_view(spark, table.base_path, C2)).withColumn(
        "section", F.lit("delete_view")
    )
    return post.unionByName(dv)


# --------------------------------------------------------------------------
# Record-index point lookup: hash routing plans a scan over ONLY the file
# groups the requested keys can live in (one group per key), then the
# key-column bloom filters skip row groups inside those files.
# --------------------------------------------------------------------------
@query(
    "lake_point_lookup",
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT {_CT_SQL} AS {COMMIT_TIME_FIELD},
       {_KEY_SQL} AS {RECORD_KEY_FIELD},
       l_returnflag AS {PARTITION_PATH_FIELD},
       {_PAYLOAD_SQL.format(qty=_QTY_SQL)}
FROM li WHERE l_partkey % 251 = 0 AND l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
""",
)
def lake_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch point lookup through the record index (sources/cow.py
    ``lookup``): the key set (every li key with l_partkey % 251 = 0 —
    including keys the C3/C4 deletes removed, which must come back empty)
    routes driver-side to its hash-assigned file groups; only those files
    are planned. The oracle is the snapshot restricted to the same keys."""
    from ..sources.fixtures import LINEITEM_KEY, dedup_lineitem
    import os as _os

    table = build_lineitem_cow(spark, sf_dir)
    src = dedup_lineitem(spark.read.parquet(_os.path.join(sf_dir, "lineitem.parquet")))
    keys = [
        (r["l_orderkey"], r["l_linenumber"], r["l_partkey"], r["l_suppkey"], r["l_returnflag"])
        for r in src.filter("l_partkey % 251 = 0")
        .select(*LINEITEM_KEY, "l_returnflag")
        .collect()
    ]
    return _project(table.lookup(keys))


# --------------------------------------------------------------------------
# SQL surface: the same engine through spark.sql over registered views —
# live vs deleted row counts per partition in one SQL join.
# --------------------------------------------------------------------------
@query(
    "lake_sql_surface",
    late=True,  # API-surface proof; the underlying reads hold window slots
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
live AS (
  SELECT l_returnflag AS pp, COUNT(*) AS live_rows
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0 GROUP BY 1
),
dels AS (
  SELECT l_returnflag AS pp, COUNT(*) AS deleted_rows
  FROM li WHERE l_suppkey % 17 = 0 GROUP BY 1
)
SELECT live.pp, live.live_rows,
       COALESCE(dels.deleted_rows, 0) AS deleted_rows
FROM live LEFT JOIN dels USING (pp)
""",
)
def lake_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine through ``spark.sql``: register the table's snapshot and
    per-commit delete views as temp views (hudi_delete_view_spark/sql.py),
    then answer live-vs-deleted per partition with one SQL join — proving
    a SQL-first consumer can switch without touching the Python API."""
    from ..sql import register_views

    table = build_lineitem_cow(spark, sf_dir)
    name = "li_" + table.base_path.replace("/", "_").replace(".", "_").replace("-", "_")
    register_views(table, name)
    return spark.sql(f"""
        SELECT s.{PARTITION_PATH_FIELD} AS pp,
               COUNT(*) AS live_rows,
               COALESCE(MAX(d.deleted_rows), 0) AS deleted_rows
        FROM {name} s
        LEFT JOIN (
            SELECT {PARTITION_PATH_FIELD} AS dpp, COUNT(*) AS deleted_rows
            FROM {name}_deletes_{C3} GROUP BY 1
        ) d ON d.dpp = s.{PARTITION_PATH_FIELD}
        GROUP BY s.{PARTITION_PATH_FIELD}
    """)


# --------------------------------------------------------------------------
# Secondary value-bucket index: equality probe on a non-key column prunes
# files whose [min, max] all overlap (bitmap membership, no false
# negatives).
# --------------------------------------------------------------------------
@query(
    "lake_indexed_lookup",
    late=True,  # index family already windowed via pruned/point/clustered scans
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT {_KEY_SQL} AS {RECORD_KEY_FIELD},
       {_PAYLOAD_SQL.format(qty="l_quantity")}
FROM li WHERE l_partkey = (SELECT MIN(l_partkey) + 41 FROM li)
""",
)
def lake_indexed_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality scan through the secondary value-bucket index
    (sources/cow.py `_value_index_bitmaps` / `pruned_files`): the probe's
    md5 bucket is checked against each file's published bitmap
    driver-side, so files that cannot contain the value are never
    planned — the Hudi metadata-table bloom-index analogue for non-key
    columns whose [min, max] ranges all overlap."""
    from ..sources.fixtures import build_lineitem_indexed
    import os as _os

    table = build_lineitem_indexed(spark, sf_dir)
    src = spark.read.parquet(_os.path.join(sf_dir, "lineitem.parquet"))
    probe = src.agg((F.min("l_partkey") + 41).alias("v")).collect()[0]["v"]
    df = table.scan({"l_partkey": (probe, probe)})
    return df.select(
        df[RECORD_KEY_FIELD], *[F.col(c) for c in _PAYLOAD],
        F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss").alias("l_shipdate"),
    )


# --------------------------------------------------------------------------
# Co-located lake-to-lake join (SURVEY §12.5): bucketed mirrors of the COW
# lineitem table and the MOR orders table joined with ZERO Exchange.
# --------------------------------------------------------------------------
@query(
    "lake_colocated_join",
    late=True,  # join correctness is windowed via rel_*; this adds the layout
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT l_orderkey,
         CASE WHEN l_partkey % 10 = 0 THEN l_quantity + 100.0 ELSE l_quantity END AS qty
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
)
SELECT o2.o_orderkey, o2.o_orderstatus,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       MAX(o2.o_totalprice) AS o_totalprice
FROM l2 JOIN o2 ON l2.l_orderkey = o2.o_orderkey
GROUP BY 1, 2
""",
)
def lake_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake-to-lake join through ``bucketed_mirror`` (sources/cow.py): the
    COW lineitem snapshot and the MOR orders merged view are each
    materialized once per commit epoch as catalog-bucketed mirrors on
    their join keys (8 buckets both sides), so the fact-to-fact equi-join
    AND the following per-order aggregation plan with no Exchange — the
    partitioning flows from the bucketed scans through the sort-merge
    join into the groupBy. A pure-Python DSv2 scan cannot report
    KeyGroupedPartitioning to Catalyst (JVM interface), so catalog
    bucketing is the supported route to shuffle-free repeated joins; the
    mirror refresh is metadata-only while the source timeline is
    unchanged. The merge hint pins sort-merge at oracle scale (AQE would
    otherwise broadcast the small side; at production scale sort-merge is
    what the planner picks on its own)."""
    from ..sources.fixtures import build_orders_mor

    li = build_lineitem_cow(spark, sf_dir).bucketed_mirror("l_orderkey", n_buckets=8)
    om = build_orders_mor(spark, sf_dir).bucketed_mirror("o_orderkey", n_buckets=8)
    qty = F.col("l_quantity").cast("decimal(18,2)")
    return (
        li.hint("merge")
        .join(om, li.l_orderkey == om.o_orderkey)
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(qty).cast("double").alias("sum_qty"),
            F.max("o_totalprice").alias("o_totalprice"),
        )
    )


# --------------------------------------------------------------------------
# Incrementally-maintained JOIN view (IVM beyond aggregates): lineitem ⋈
# orders maintained from BOTH tables' CDC feeds.
# --------------------------------------------------------------------------
@query(
    "lake_ivm_join",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT {_KEY_SQL} AS {RECORD_KEY_FIELD}, l_orderkey, {_QTY_SQL} AS l_quantity,
         l_returnflag
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
)
SELECT l2.{RECORD_KEY_FIELD}, l2.l_orderkey, l2.l_quantity, l2.l_returnflag,
       o2.o_orderstatus, o2.o_totalprice
FROM l2 JOIN o2 ON l2.l_orderkey = o2.o_orderkey
""",
)
def lake_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained JOIN view — IVM beyond aggregates: the
    materialized join lineitem(COW) ⋈ orders(MOR) is seeded at C1 and
    then maintained from the two tables' CDC feeds, never recomputed.

    Delta rule for a key-equijoin with a unique right key: a view row is
    STALE iff its lineitem record changed (key in Δli) OR its order
    changed (orderkey in Δord). Maintenance = drop the stale slice from
    the seed (two anti-joins on the change-key sets) and re-derive ONLY
    the affected lineitem rows against the current orders snapshot — work
    proportional to the change volume on both sides, not to either
    table. At 100 TB the fact-side re-derivation prunes by the change-key
    semi-join (and by clustered layout when the fact is sorted on the
    join key); the dim-side change-key set is broadcast. The oracle
    recomputes the full join from scratch — a hash match proves the
    maintained view converged to it exactly."""
    from ..sources.fixtures import build_orders_mor

    from ..sources.delete_view import delete_views_between

    li = build_lineitem_cow(spark, sf_dir)
    om = build_orders_mor(spark, sf_dir)
    li_cols = [RECORD_KEY_FIELD, "l_orderkey", "l_quantity", "l_returnflag"]
    ord_cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]

    seed = (
        li.snapshot(C1).select(*li_cols)
        .join(om.snapshot(C1).select(*ord_cols),
              F.col("l_orderkey") == F.col("o_orderkey"))
    )
    # change-key feeds, cheapest-available form (not the full CDC diff):
    # after-images from the pruned incremental read + delete keys from the
    # MATERIALIZED per-commit delete views (A12-A15 cache: repeat
    # maintenance runs read the delete feed as plain parquet). The key set
    # may over-approximate (a rewritten-but-unchanged row re-derives to
    # an identical view row) — the drop+re-derive algebra is idempotent
    # per key, so over-approximation costs work, never correctness.
    d_li_keys = (
        li.incremental(C1).select(RECORD_KEY_FIELD)
        .union(
            delete_views_between(spark, li.base_path, C1).select(RECORD_KEY_FIELD)
        )
        .distinct()
    )
    d_ord_keys = om.cdc(C1).select("o_orderkey").distinct()

    clean = (
        seed.join(d_li_keys, RECORD_KEY_FIELD, "left_anti")
        .join(d_ord_keys, "o_orderkey", "left_anti")
        # anti-join drops the right-side join key from the frame; restore
        # column order for the union below
        .select(*li_cols, *ord_cols)
    )
    cur_li = li.snapshot().select(*li_cols)
    # affected fact rows: key changed, or (key unchanged but) order changed
    touched = cur_li.join(d_li_keys, RECORD_KEY_FIELD, "left_semi").unionByName(
        cur_li.join(d_li_keys, RECORD_KEY_FIELD, "left_anti").join(
            F.broadcast(d_ord_keys),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_semi",
        )
    )
    rederived = touched.join(
        om.snapshot().select(*ord_cols),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(*li_cols, *ord_cols)
    return clean.unionByName(rederived).drop("o_orderkey")


# --------------------------------------------------------------------------
# Python DataSource connector (sources/pyds.py): the same table served
# through `spark.read.format("lakeview")` — schema from the timeline,
# one partition per file slice, file-level stats pruning via pushFilters.
# --------------------------------------------------------------------------
@query(
    "lake_pyds_scan",
    late=True,  # serving-path sibling of the windowed lake_snapshot
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT {_KEY_SQL} AS {RECORD_KEY_FIELD},
       {_PAYLOAD_SQL.format(qty=_QTY_SQL)}
FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
""",
)
def lake_pyds_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot read through the Python DataSource connector
    (``spark.read.format("lakeview")``, sources/pyds.py): schema resolves
    from the commit timeline, executor parallelism follows the table's
    own file slices (one InputPartition each), and pushed filters prune
    whole slices through the published-stats test before any file opens.
    Hash-matching ``lake_snapshot``'s oracle proves the connector serves
    the identical table."""
    from ..sources import pyds

    table = build_lineitem_cow(spark, sf_dir)
    pyds.register(spark)
    df = spark.read.format("lakeview").option("path", table.base_path).load()
    return df.select(
        df[RECORD_KEY_FIELD], *[F.col(c) for c in _PAYLOAD],
        F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss").alias("l_shipdate"),
    )


@query(
    "lake_pyds_stream",
    late=True,  # streaming sibling; stream family windowed via stream_*
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT '{C1}' AS commit_ts, {_KEY_SQL} AS {RECORD_KEY_FIELD}, l_quantity FROM li
UNION ALL
SELECT '{C2}', {_KEY_SQL}, l_quantity + 100.0 FROM li WHERE l_partkey % 10 = 0
""",
)
def lake_pyds_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-tailing streaming source through the connector
    (``spark.readStream.format("lakeview")``): offset = commit timestamp,
    each micro-batch reads exactly the files WRITTEN by the commits in
    its offset range filtered to rows they stamped — Hudi
    incremental-source semantics (inserts + update after-images; the
    delete commits C3/C4 rewrite survivors under their ORIGINAL stamps,
    so they correctly emit zero rows; deletes flow through the delete
    view / CDC instead). The union of all batches must therefore be:
    every C1 row as inserted + the C2 after-images."""
    import os
    import shutil

    from ..sources import pyds
    from ..sources.fixtures import SCRATCH_ROOT, scratch_tag

    table = build_lineitem_cow(spark, sf_dir)
    pyds.register(spark)
    ckpt = os.path.join(SCRATCH_ROOT, "stream", scratch_tag(sf_dir), "pyds_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    name = "lakeview_tail"
    stream = spark.readStream.format("lakeview").option("path", table.base_path).load()
    q = (
        stream.writeStream.format("memory").queryName(name)
        .trigger(availableNow=True).option("checkpointLocation", ckpt).start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.col(COMMIT_TIME_FIELD).alias("commit_ts"),
        F.col(RECORD_KEY_FIELD),
        F.col("l_quantity"),
    )


# --------------------------------------------------------------------------
# Materialized maintained view AS A LAKE TABLE: the join-IVM delta applied
# through the COW writer, so the view has its own timeline (time travel,
# incremental reads, delete views) and downstream consumers tail it like
# any table.
# --------------------------------------------------------------------------
def _maintain_join_view(spark, sf_dir: str):
    """Incremental-materialized-view service: seed the lineitem ⋈ orders
    view table at (C1, C1), then advance it to the sources' latest
    commits by applying ONLY the change-key delta — a delete commit for
    vanished view rows, an upsert commit for re-derived affected rows.
    The advance anchor (source timestamps) rides in a sidecar; a
    fully-advanced view is served with zero writes (idempotent reruns —
    the gate's second run is a metadata check + snapshot)."""
    import json
    import os

    from ..sources.cow import CowTable
    from ..sources.delete_view import delete_views_between
    from ..sources.fixtures import SCRATCH_ROOT, build_orders_mor, scratch_tag

    li = build_lineitem_cow(spark, sf_dir)
    om = build_orders_mor(spark, sf_dir)
    li_latest, om_latest = (
        li.timeline.latest_timestamp(),
        om.timeline.latest_timestamp(),
    )
    path = os.path.join(SCRATCH_ROOT, "lake", scratch_tag(sf_dir), "ivm_view")
    anchor_path = os.path.join(path, "_view_anchor")
    view = CowTable(spark, path, key_fields=["lk"], partition_field=None,
                    num_file_groups=4)

    li_cols = [
        F.col(RECORD_KEY_FIELD).alias("lk"), F.col("l_orderkey"),
        F.col("l_quantity"), F.col("l_returnflag"),
    ]
    ord_cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]

    def _join(li_df, ord_df):
        return li_df.select(*li_cols).join(
            ord_df.select(*ord_cols), F.col("l_orderkey") == F.col("o_orderkey")
        )

    anchor = None
    try:
        with open(anchor_path) as f:
            anchor = json.load(f)
    except OSError:
        pass
    if anchor is None:
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        view.bulk_insert(_join(li.snapshot(C1), om.snapshot(C1)), C1)
        anchor = {"li": C1, "om": C1}
        os.makedirs(path, exist_ok=True)
        with open(anchor_path, "w") as f:
            json.dump(anchor, f)

    if anchor == {"li": li_latest, "om": om_latest}:
        return view  # fully advanced: zero writes

    d_li_keys = (
        li.incremental(anchor["li"]).select(F.col(RECORD_KEY_FIELD).alias("lk"))
        .union(
            delete_views_between(spark, li.base_path, anchor["li"])
            .select(F.col(RECORD_KEY_FIELD).alias("lk"))
        )
        .distinct()
    )
    d_ord_keys = om.cdc(anchor["om"]).select("o_orderkey").distinct()

    cur_li = li.snapshot().select(*li_cols)
    touched_li = cur_li.join(d_li_keys, "lk", "left_semi").unionByName(
        cur_li.join(d_li_keys, "lk", "left_anti").join(
            F.broadcast(d_ord_keys),
            F.col("l_orderkey") == F.col("o_orderkey"), "left_semi",
        )
    )
    rederived = touched_li.join(
        om.snapshot().select(*ord_cols), F.col("l_orderkey") == F.col("o_orderkey")
    )
    rederived = rederived.localCheckpoint(eager=True)

    snap = view.snapshot()
    affected_view = snap.select("lk", "o_orderkey").join(
        d_li_keys, "lk", "left_semi"
    ).unionByName(
        snap.select("lk", "o_orderkey")
        .join(d_li_keys, "lk", "left_anti")
        .join(F.broadcast(d_ord_keys), "o_orderkey", "left_semi")
    )
    # one maintenance commit stamped AFTER both source anchors: every
    # affected key is a delete marker, and the rederived ones end live
    view.apply_delta(
        rederived, affected_view.select("lk"),
        f"{int(max(li_latest, om_latest)) + 1:014d}",
    )
    with open(anchor_path, "w") as f:
        json.dump({"li": li_latest, "om": om_latest}, f)
    return view


@query(
    "lake_ivm_view_table",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT {_KEY_SQL} AS lk, l_orderkey, {_QTY_SQL} AS l_quantity, l_returnflag
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
)
SELECT l2.lk, l2.l_orderkey, l2.l_quantity, l2.l_returnflag,
       o2.o_orderstatus, o2.o_totalprice
FROM l2 JOIN o2 ON l2.l_orderkey = o2.o_orderkey
""",
)
def lake_ivm_view_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained join view MATERIALIZED AS A LAKE TABLE
    (``_maintain_join_view``): seeded at C1, advanced to the sources'
    latest commits with one delete + one upsert commit carrying exactly
    the change-key delta, anchor tracked in a sidecar so a fully-advanced
    view serves with zero writes. Because the view is a real COW table it
    gets the whole table surface for free — its own delete views, time
    travel to pre-maintenance states, incremental tailing for downstream
    consumers. The oracle recomputes the join from scratch; a hash match
    proves the committed view state converged exactly."""
    view = _maintain_join_view(spark, sf_dir)
    snap = view.snapshot()
    return snap.select(
        "lk", "l_orderkey", "l_quantity", "l_returnflag",
        "o_orderstatus", "o_totalprice",
    )


# --------------------------------------------------------------------------
# STREAM-DRIVEN view maintenance: the connector's commit tail advances the
# materialized view table one source commit at a time.
# --------------------------------------------------------------------------
@query(
    "stream_ivm_view",
    late=True,  # composition sibling of lake_ivm_view_table (same oracle
    # family); IVM + stream families already windowed
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT {_KEY_SQL} AS lk, l_orderkey, {_QTY_SQL} AS l_quantity, l_returnflag
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
)
SELECT l2.lk, l2.l_orderkey, l2.l_quantity, l2.l_returnflag,
       o2.o_orderstatus, o2.o_totalprice
FROM l2 JOIN o2 ON l2.l_orderkey = o2.o_orderkey
""",
)
def stream_ivm_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the materialized join view (SURVEY §12
    round-6 item 1, shipped early): the lakeview connector TAILS the
    lineitem table's commits — one checkpointed drain per source commit,
    bounded by the ``end_ts`` admission knob — and each micro-batch's
    after-images drive one maintenance advance of the view table
    (delete commit for vanished rows via the materialized delete feed,
    upsert commit for re-derived rows against the orders snapshot).

    Composition under test: Python DSv2 stream source -> foreachBatch ->
    change-key IVM algebra -> COW view-table commits. The view converges
    through FOUR independent advances (seed + 3 commit-driven), and the
    oracle recomputes the join from scratch — a hash match proves every
    intermediate advance was exact, since each later advance only touches
    that commit's change keys. At 100 TB: per-advance work ∝ one
    commit's changes; the stream checkpoint makes restarts resume at the
    right commit for free."""
    import os
    import shutil

    from ..sources import pyds
    from ..sources.cow import CowTable
    from ..sources.delete_view import delete_views_between
    from ..sources.fixtures import SCRATCH_ROOT, build_orders_mor, scratch_tag

    li = build_lineitem_cow(spark, sf_dir)
    om = build_orders_mor(spark, sf_dir)
    pyds.register(spark)
    root = os.path.join(SCRATCH_ROOT, "stream", scratch_tag(sf_dir), "ivm_view")
    shutil.rmtree(root, ignore_errors=True)
    ckpt = os.path.join(root, "ckpt")
    view = CowTable(spark, os.path.join(root, "view"), key_fields=["lk"],
                    partition_field=None, num_file_groups=4)

    li_cols = [
        F.col(RECORD_KEY_FIELD).alias("lk"), F.col("l_orderkey"),
        F.col("l_quantity"), F.col("l_returnflag"),
    ]
    ord_cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    ord_snap = om.snapshot().select(*ord_cols)

    # seed at the first source commit
    view.bulk_insert(
        li.snapshot(C1).select(*li_cols).join(
            ord_snap, F.col("l_orderkey") == F.col("o_orderkey")),
        C1,
    )

    state = {"anchor": C1}

    def advance(batch_df, batch_id):
        ts = state["ts"]
        keys = (
            batch_df.select(F.col(RECORD_KEY_FIELD).alias("lk"))
            .union(
                delete_views_between(spark, li.base_path, state["anchor"], ts)
                .select(F.col(RECORD_KEY_FIELD).alias("lk"))
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        rederived = (
            li.snapshot(ts).select(*li_cols).join(keys, "lk", "left_semi")
            .join(ord_snap, F.col("l_orderkey") == F.col("o_orderkey"))
            .localCheckpoint(eager=True)
        )
        # the rederived keys end live; the other touched keys delete
        view.apply_delta(rederived, keys, f"{int(ts) + 1:014d}")
        state["anchor"] = ts

    for ts in li.timeline.timestamps()[1:]:
        state["ts"] = ts
        stream = (
            spark.readStream.format("lakeview")
            .option("path", li.base_path).option("end_ts", ts).load()
        )
        q = (
            stream.writeStream.foreachBatch(advance)
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
        q.awaitTermination()

    snap = view.snapshot()
    return snap.select(
        "lk", "l_orderkey", "l_quantity", "l_returnflag",
        "o_orderstatus", "o_totalprice",
    )


# --------------------------------------------------------------------------
# Materialized AGGREGATE view as a lake table: the retraction algebra
# applied through the COW writer (the aggregate sibling of
# lake_ivm_view_table — together they are the general IVM surface:
# change-key re-derivation for joins, signed retraction for aggregates).
# --------------------------------------------------------------------------
@query(
    "lake_ivm_agg_table",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       ROUND(SUM(CAST(round(({_QTY_SQL}) * 100) AS BIGINT)) / 100.0, 6) AS sum_qty
FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
GROUP BY l_returnflag
""",
)
def lake_ivm_agg_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained AGGREGATE materialized as a lake table: seed the
    per-returnflag rollup at C1 into a COW table keyed by the group, then
    advance with ONE upsert commit carrying the retraction-merged rows
    (exact integer cents, so the algebra is order-free) and ONE delete
    commit for groups whose count net to zero. Anchor in a sidecar —
    fully-advanced reruns serve the table with zero writes. The group
    table gets time travel to any maintenance epoch and its own change
    feeds; at 100 TB the upsert touches only groups the CDC delta
    mentions (hash-routed file groups), never the full rollup."""
    import json
    import os
    import shutil

    from ..sources.cow import CowTable
    from ..sources.fixtures import SCRATCH_ROOT, scratch_tag

    li = build_lineitem_cow(spark, sf_dir)
    latest = li.timeline.latest_timestamp()
    path = os.path.join(SCRATCH_ROOT, "lake", scratch_tag(sf_dir), "ivm_agg")
    anchor_path = os.path.join(path, "_view_anchor")
    view = CowTable(spark, path, key_fields=["l_returnflag"],
                    partition_field=None, num_file_groups=2)
    cents = F.expr("cast(round(l_quantity * 100) as bigint)")

    anchor = None
    try:
        with open(anchor_path) as f:
            anchor = json.load(f)["li"]
    except OSError:
        pass
    if anchor is None:
        shutil.rmtree(path, ignore_errors=True)
        seed = (
            li.snapshot(C1).groupBy("l_returnflag")
            .agg(F.count("*").alias("n_rows"), F.sum(cents).alias("sum_cents"))
        )
        view.bulk_insert(seed, C1)
        anchor = C1
        with open(anchor_path, "w") as f:
            json.dump({"li": C1}, f)

    if anchor != latest:
        feed = li.cdc(anchor, latest, include_update_preimages=True)
        sign = F.when(F.col("op").isin("insert", "update"), F.lit(1)).otherwise(F.lit(-1))
        delta = (
            feed.select("l_returnflag", sign.alias("w"), cents.alias("__c"))
            .groupBy("l_returnflag")
            .agg(F.sum("w").alias("n_rows"),
                 F.sum(F.col("w") * F.col("__c")).alias("sum_cents"))
        )
        merged = (
            view.snapshot().select("l_returnflag", "n_rows", "sum_cents")
            .unionByName(delta)
            .groupBy("l_returnflag")
            .agg(F.sum("n_rows").alias("n_rows"),
                 F.sum("sum_cents").alias("sum_cents"))
        ).localCheckpoint(eager=True)
        live = merged.filter(F.col("n_rows") > 0)
        dead = merged.filter(F.col("n_rows") <= 0).select("l_returnflag")
        view.apply_delta(live, dead, f"{int(latest) + 1:014d}")
        with open(anchor_path, "w") as f:
            json.dump({"li": latest}, f)

    snap = view.snapshot()
    return snap.select(
        "l_returnflag", "n_rows",
        F.round(F.col("sum_cents") / F.lit(100.0), 6).alias("sum_qty"),
    )


# --------------------------------------------------------------------------
# UNIFIED IVM ENTRY POINT (SURVEY §12 round-6 item 5): one
# AutoMaterializedView that CLASSIFIES the analyzed Catalyst plan and
# picks the algebra — signed retraction for aggregates, change-key
# re-derivation for joins and project/filter views (plans/ivm.py).  The
# three queries below cover all three classifications end-to-end; each
# seeds at C1 and advances to latest in ONE refresh() call, and the
# oracle recomputes the view from scratch — a hash match proves the
# classifier picked a convergent algebra.
# --------------------------------------------------------------------------
def _auto_mv(spark, sf_dir: str, name: str, sources, plan_fn):
    import os

    from ..plans.ivm import AutoMaterializedView
    from ..sources.fixtures import SCRATCH_ROOT, scratch_tag

    path = os.path.join(SCRATCH_ROOT, "lake", scratch_tag(sf_dir), name)
    mv = AutoMaterializedView(spark, path, sources, plan_fn)
    mv.refresh(seed_as_of={n: C1 for n in sources})
    return mv


@query(
    "lake_mv_auto_agg",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       COUNT(CASE WHEN l_suppkey % 19 = 0 THEN NULL ELSE 1 END) AS n_priced,
       CAST(SUM(CASE WHEN l_suppkey % 19 = 0 THEN NULL
                ELSE CAST(round(l_extendedprice * 100) AS BIGINT) END) AS BIGINT)
         AS sum_price_cents
FROM li
WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0 AND l_linenumber <= 5
GROUP BY l_returnflag, l_linestatus
""",
)
def lake_mv_auto_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate view through the UNIFIED entry point: the plan (filter →
    groupBy count/count(x)/sum) is classified off the Catalyst tree and
    maintained by signed retraction over the CDC feed, with hidden
    non-null counters so an all-NULL group serves SQL-correct NULL.  The
    ``l_suppkey % 19`` NULL-injection exercises exactly that path; sums
    ride as exact integer cents so retraction is order-free.  Seeded at
    C1, advanced to C4 in one refresh; the oracle recomputes from
    scratch."""

    def plan(t):
        s = t["li"].filter("l_linenumber <= 5")
        price = (
            "CASE WHEN l_suppkey % 19 = 0 THEN CAST(NULL AS BIGINT) "
            "ELSE cast(round(l_extendedprice * 100) as bigint) END"
        )
        return s.groupBy("l_returnflag", "l_linestatus").agg(
            F.count("*").alias("n_rows"),
            F.count(F.expr(price)).alias("n_priced"),
            F.sum(F.expr(price)).alias("sum_price_cents"),
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_agg",
                  {"li": build_lineitem_cow(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_join",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT {_KEY_SQL} AS vk, l_orderkey, {_QTY_SQL} AS l_quantity
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
)
SELECT l2.vk, l2.l_orderkey, l2.l_quantity, o2.o_totalprice
FROM l2 JOIN o2 ON l2.l_orderkey = o2.o_orderkey
""",
)
def lake_mv_auto_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join view through the UNIFIED entry point: the INNER equi-join is
    classified off the Catalyst tree (fact source found by expression-ID
    lineage of the view key to lineitem's record key, dim by the other
    join side) and maintained by change-key re-derivation — fact keys
    from touched file groups, dim changes (incl. deletes) from CDC
    before-images, broadcast into the affected-row semi-join."""
    from ..sources.fixtures import build_orders_mor

    def plan(t):
        f = t["li"].select(
            F.col(RECORD_KEY_FIELD).alias("vk"), "l_orderkey", "l_quantity")
        d = t["om"].select("o_orderkey", "o_totalprice")
        return f.join(d, F.col("l_orderkey") == F.col("o_orderkey")).select(
            "vk", "l_orderkey", "l_quantity", "o_totalprice")

    mv = _auto_mv(
        spark, sf_dir, "mv_auto_join",
        {"li": build_lineitem_cow(spark, sf_dir),
         "om": build_orders_mor(spark, sf_dir)},
        plan,
    )
    return mv.serve()


@query(
    "lake_mv_auto_select",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT {_KEY_SQL} AS vk, l_orderkey, {_QTY_SQL} AS l_quantity,
       l_extendedprice * (1 - l_discount) AS net_price
FROM li
WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0 AND l_returnflag = 'R'
""",
)
def lake_mv_auto_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project/filter view through the UNIFIED entry point — the everyday
    materialized view: classified as change-key-maintainable off the
    plan (single source, no join/aggregate), advanced by re-deriving
    exactly the touched record keys, with rows the filter now rejects
    becoming view deletes.  ``net_price`` is one IEEE-754 multiply —
    bit-identical in DuckDB."""

    def plan(t):
        return t["li"].filter("l_returnflag = 'R'").select(
            F.col(RECORD_KEY_FIELD).alias("vk"), "l_orderkey", "l_quantity",
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            .alias("net_price"),
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_select",
                  {"li": build_lineitem_cow(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "stream_ivm_view_multi",
    late=True,  # composition sibling of stream_ivm_view; IVM + stream
    # families already windowed
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT {_KEY_SQL} AS lk, l_orderkey, {_QTY_SQL} AS l_quantity, l_returnflag
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
)
SELECT l2.lk, l2.l_orderkey, l2.l_quantity, l2.l_returnflag,
       o2.o_orderstatus, o2.o_totalprice
FROM l2 JOIN o2 ON l2.l_orderkey = o2.o_orderkey
""",
)
def stream_ivm_view_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-source streaming view maintenance (the round-6 refinement of
    ``stream_ivm_view``, whose orders side was static at latest): the
    MERGED commit timeline of lineitem (COW, via the lakeview connector's
    checkpointed tail) and orders (MOR, via its commit tail) replays in
    timestamp order, and EVERY source commit drives one bounded
    ``AutoMaterializedView.refresh(to=...)`` — fact commits re-derive
    their touched keys against the dim AS OF ITS CURRENT ANCHOR, dim
    commits retract/re-derive exactly the fact rows joining a changed
    dim key.  Seven independent advances (seed + 3 fact + 3 dim) must
    each be exact for the final hash to match the from-scratch oracle.
    At 100 TB: per-advance work ∝ one commit's changes on either side;
    the stream checkpoint resumes fact-side replay at the right commit,
    and maintenance commits self-stamp past the view's tail so
    same-timestamp advances from the two sources never collide."""
    import os
    import shutil

    from ..plans.ivm import AutoMaterializedView
    from ..sources import pyds
    from ..sources.fixtures import SCRATCH_ROOT, build_orders_mor, scratch_tag

    li = build_lineitem_cow(spark, sf_dir)
    om = build_orders_mor(spark, sf_dir)
    pyds.register(spark)
    root = os.path.join(SCRATCH_ROOT, "stream", scratch_tag(sf_dir), "ivm_view_multi")
    shutil.rmtree(root, ignore_errors=True)
    ckpt = os.path.join(root, "ckpt")

    def plan(t):
        f = t["li"].select(
            F.col(RECORD_KEY_FIELD).alias("lk"), "l_orderkey", "l_quantity",
            "l_returnflag",
        )
        d = t["om"].select("o_orderkey", "o_orderstatus", "o_totalprice")
        return f.join(d, F.col("l_orderkey") == F.col("o_orderkey")).select(
            "lk", "l_orderkey", "l_quantity", "l_returnflag",
            "o_orderstatus", "o_totalprice",
        )

    mv = AutoMaterializedView(
        spark, os.path.join(root, "view"), {"li": li, "om": om}, plan
    )
    seed = {"li": C1, "om": C1}
    mv.refresh(seed_as_of=seed, to=seed)

    anchors = dict(seed)
    events = sorted(
        [("li", ts) for ts in li.timeline.timestamps()[1:]]
        + [("om", ts) for ts in om.timeline.timestamps()[1:]],
        key=lambda e: (e[1], e[0]),
    )
    for src, ts in events:
        if src == "li":
            # the connector tail drives the fact-side advance: one
            # checkpointed drain per commit (its batch images are the
            # same after-images refresh re-reads via incremental())
            state = {"ts": ts}

            def advance(batch_df, batch_id, _s=state):
                mv.refresh(to={"li": _s["ts"], "om": anchors["om"]})

            q = (
                spark.readStream.format("lakeview")
                .option("path", li.base_path).option("end_ts", ts).load()
                .writeStream.foreachBatch(advance)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination()
        else:
            mv.refresh(to={"li": anchors["li"], "om": ts})
        anchors[src] = ts
    return mv.serve()


@query(
    "lake_mv_auto_minmax",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       MIN({_QTY_SQL}) AS min_qty,
       MAX({_QTY_SQL}) AS max_qty,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / COUNT(l_extendedprice) AS avg_price_cents
FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
GROUP BY l_returnflag
""",
)
def lake_mv_auto_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/avg through the unified entry point — the aggregates
    retraction CANNOT maintain: C2's quantity updates retract preimages
    (making every touched group dirty for min/max re-derivation) and
    C3/C4's deletes remove rows that may have been extremes.  avg is
    auto-decomposed to hidden exact-cents sum + count and served as the
    ratio (matching the oracle's CAST(SUM)/COUNT exactly — one division
    each).  Work shape at 100 TB: dirty-group re-derivation touches
    only rows of groups a retraction hit; the clean-insert path never
    reads the source."""

    def plan(t):
        cents = F.expr("cast(round(l_extendedprice * 100) as bigint)")
        return t["li"].groupBy("l_returnflag").agg(
            F.count("*").alias("n_rows"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.avg(cents).alias("avg_price_cents"),
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_minmax",
                  {"li": build_lineitem_cow(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_variance",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
q AS (
  SELECT l_returnflag, CAST(round(({_QTY_SQL}) * 100) AS BIGINT) AS qc
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
m AS (
  SELECT l_returnflag, COUNT(qc) AS n_q,
         CAST(SUM(qc) AS DOUBLE) AS s1,
         CAST(SUM(qc * qc) AS DOUBLE) AS s2
  FROM q GROUP BY l_returnflag
)
SELECT l_returnflag, n_q,
       CASE WHEN n_q > 1
            THEN sqrt(GREATEST(s2 - s1 * s1 / n_q, 0) / (n_q - 1)) END
         AS sd_qty_cents,
       CASE WHEN n_q > 0
            THEN GREATEST(s2 - s1 * s1 / n_q, 0) / n_q END
         AS var_pop_qty_cents
FROM m
""",
)
def lake_mv_auto_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance family through the unified entry point: stddev/var_pop
    over integer quantity cents decompose to hidden signed power sums
    (Σx, Σx², non-null n) — plain summable state, so C2's update
    retractions and C3/C4's deletes maintain them exactly (integral
    argument ⇒ the sums never round) — and serve through the textbook
    moment formula.  The oracle spells the SAME expression tree
    (greatest-guarded sqrt of the corrected sum of squares) so both
    engines perform identical IEEE double ops on identical integer
    moments.  At 100 TB the per-advance cost is the CDC change set
    grouped once — variance adds two summable columns, not a rescan."""

    def plan(t):
        qc = F.expr("cast(round(l_quantity * 100) as bigint)")
        return t["li"].groupBy("l_returnflag").agg(
            F.count(qc).alias("n_q"),
            F.stddev(qc).alias("sd_qty_cents"),
            F.var_pop(qc).alias("var_pop_qty_cents"),
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_variance",
                  {"li": build_lineitem_cow(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_count_distinct",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_suppkey) AS d_supp,
       COUNT(DISTINCT {_QTY_SQL}) AS d_qty
FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
GROUP BY l_returnflag
""",
)
def lake_mv_auto_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) through the unified entry point: each distinct
    output gets a nested per-value aux lake table (group keys + value →
    signed row count).  C2's quantity updates MOVE rows between values
    (preimage retracts one value, postimage lands another) and C3/C4's
    deletes retract carriers — every advance merges the feed's
    per-value deltas and recounts only the touched groups, so the work
    is change-set-sized while the aux storage is Σ distinct values per
    group (the honest lower bound for exact distinct maintenance; the
    approximate alternative is the registry's HLL sketches).  The
    oracle recomputes both distincts from scratch."""

    def plan(t):
        return t["li"].groupBy("l_returnflag").agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("l_suppkey").alias("d_supp"),
            F.countDistinct("l_quantity").alias("d_qty"),
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_count_distinct",
                  {"li": build_lineitem_cow(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_having",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
q AS (
  SELECT CAST({_QTY_SQL} AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
a AS (
  SELECT qty, COUNT(*) AS n_rows, SUM(cents) AS s_cents
  FROM q GROUP BY qty
)
SELECT qty, n_rows, CAST(s_cents AS DOUBLE) / n_rows AS avg_price_cents
FROM a WHERE n_rows >= 500
""",
)
def lake_mv_auto_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING + derived outputs above a maintained aggregate: the
    classifier peels the Project/Filter chain ABOVE the Aggregate and
    re-applies it at SERVE time over stored state that keeps every
    group.  C2's quantity updates MOVE rows between qty groups (the
    +100 groups are ~10× sparser, so ``n_rows >= 500`` genuinely
    splits the served set) and groups can enter or leave the HAVING
    set as deletes shift their counts — with zero maintenance work,
    because membership is a serve-time filter.  The ratio column is
    computed at serve from the exact maintained sum and count, spelled
    identically in the oracle."""

    def plan(t):
        qty = F.expr("cast(l_quantity as bigint)").alias("qty")
        cents = F.expr("cast(round(l_extendedprice * 100) as bigint)")
        a = t["li"].groupBy(qty).agg(
            F.count("*").alias("n_rows"), F.sum(cents).alias("s_cents"))
        return (
            a.filter("n_rows >= 500")
            .select("qty", "n_rows",
                    (F.col("s_cents").cast("double") / F.col("n_rows"))
                    .alias("avg_price_cents"))
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_having",
                  {"li": build_lineitem_cow(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_staged",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT {_KEY_SQL} AS vk2, l_orderkey, {_QTY_SQL} AS l_quantity
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
),
c2 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 1000 ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE NOT (c_custkey % 19 = 0)
)
SELECT vk2, o_custkey, l_quantity, o_totalprice, c_acctbal
FROM l2
JOIN o2 ON l_orderkey = o_orderkey
JOIN c2 ON o_custkey = c_custkey
""",
)
def lake_mv_auto_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED multi-join: the single-join algebra composes as
    view-over-view (exactly what the classifier's multi-join refusal
    prescribes).  Stage 1 maintains lineitem ⋈ orders; its backing
    table is a REAL lake table, so stage 2 declares (stage-1 ⋈
    customer) with stage 1 as its fact source — record-key lineage,
    CDC dim feeds, and the change-key semi-joins all work unchanged on
    the view table's own commits.  Refreshing in dependency order
    (stage 1, then stage 2) propagates base-source changes through
    both hops with change-set-sized work at each; the oracle recomputes
    the three-way join from scratch over all three change scripts."""
    from ..sources.fixtures import build_customer_cow, build_orders_mor

    def plan1(t):
        f = t["li"].select(
            F.col(RECORD_KEY_FIELD).alias("vk"), "l_orderkey", "l_quantity")
        d = t["om"].select("o_orderkey", "o_custkey", "o_totalprice")
        return f.join(d, F.col("l_orderkey") == F.col("o_orderkey")).select(
            "vk", "l_orderkey", "o_custkey", "l_quantity", "o_totalprice")

    mv1 = _auto_mv(
        spark, sf_dir, "mv_staged_1",
        {"li": build_lineitem_cow(spark, sf_dir),
         "om": build_orders_mor(spark, sf_dir)},
        plan1,
    )

    def plan2(t):
        f = t["v1"].select(
            F.col(RECORD_KEY_FIELD).alias("vk2"),
            "o_custkey", "l_quantity", "o_totalprice")
        d = t["cu"].select("c_custkey", "c_acctbal")
        return f.join(d, F.col("o_custkey") == F.col("c_custkey")).select(
            "vk2", "o_custkey", "l_quantity", "o_totalprice", "c_acctbal")

    mv2 = _auto_mv(
        spark, sf_dir, "mv_staged_2",
        {"v1": mv1.table, "cu": build_customer_cow(spark, sf_dir)},
        plan2,
    )
    return mv2.serve()


@query(
    "lake_mv_auto_left_join",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT {_KEY_SQL} AS vk, l_orderkey, {_QTY_SQL} AS l_quantity
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
)
SELECT vk, l_orderkey, l_quantity, o_totalprice
FROM l2 LEFT JOIN o2 ON l_orderkey = o_orderkey
""",
)
def lake_mv_auto_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join view through the unified entry point: orders'
    C3 delta-deletes (o_orderkey % 11) flip their lineitems to
    NULL-EXTENDED rows instead of retracting them — the semantics the
    inner-join view cannot express — with zero extra bookkeeping,
    because change-key re-derivation runs the user's own left-join
    plan over the affected fact keys.  The preserved side must be the
    fact (a preserved dim row has no record-key identity; the
    classifier refuses that shape).  Oracle recomputes the left join
    from scratch over both change scripts."""
    from ..sources.fixtures import build_orders_mor

    def plan(t):
        f = t["li"].select(
            F.col(RECORD_KEY_FIELD).alias("vk"), "l_orderkey", "l_quantity")
        d = t["om"].select("o_orderkey", "o_totalprice")
        return f.join(d, F.col("l_orderkey") == F.col("o_orderkey"), "left")\
            .select("vk", "l_orderkey", "l_quantity", "o_totalprice")

    mv = _auto_mv(
        spark, sf_dir, "mv_auto_left_join",
        {"li": build_lineitem_cow(spark, sf_dir),
         "om": build_orders_mor(spark, sf_dir)},
        plan,
    )
    return mv.serve()


@query(
    "lake_mv_auto_window",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT {_KEY_SQL} AS vk, l_returnflag, l_extendedprice
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
r AS (
  SELECT vk, l_returnflag, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC, vk) AS rn
  FROM l2
)
SELECT vk, l_returnflag, l_extendedprice, rn FROM r WHERE rn <= 10
""",
)
def lake_mv_auto_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k-per-group WINDOW view through the unified entry point:
    maintained by whole-partition re-derivation, because one changed
    row reshuffles every rank in its partition — C3/C4's deletes
    PROMOTE previously-hidden rows into the top 10, the displacement
    case row-granular maintenance cannot see.  Touched partitions come
    from the stored view (old location) and the source (new location);
    the re-rank runs over the SOURCE restricted to those partitions —
    input restriction, because an output semi-join is not pushed below
    the top-k filter — so advance work is rows of touched partitions,
    never the table.  Deterministic rank:
    price desc, record key as the total tiebreak — identical in
    DuckDB's ROW_NUMBER."""
    from pyspark.sql import Window as W

    def plan(t):
        w = W.partitionBy("l_returnflag").orderBy(
            F.desc("l_extendedprice"), F.asc("vk"))
        return (
            t["li"]
            .select(F.col(RECORD_KEY_FIELD).alias("vk"),
                    "l_returnflag", "l_extendedprice")
            .withColumn("rn", F.row_number().over(w))
            .filter("rn <= 10")
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_window",
                  {"li": build_lineitem_cow(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_agg_join",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT l_orderkey, {_QTY_SQL} AS l_quantity, l_extendedprice
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey, o_orderpriority
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
)
SELECT o_orderpriority, COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty,
       MIN(l_extendedprice) AS min_price
FROM l2 JOIN o2 ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def lake_mv_auto_agg_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-over-join in ONE declaration through the unified entry
    point — no manual staging: the classifier finds the inner equi-join
    below the aggregate (a one-join agg_tree) and maintains it by the
    signed delta-join rule Δ(F⋈D) = ΔF⋈D_target ∪ F_anchor⋈ΔD.
    Each side's CDC (lineitem's C2 updates / C3+C4 deletes, orders' C2
    delta-updates / C3 delta-deletes) joins the other side pruned to
    its join keys, and the signed rows merge into the stored groups;
    min_price re-derives only the groups a retraction touched.  The
    group key lives on the DIM side (o_orderpriority) — the case a
    fact-only change feed cannot resolve, and the reason the delta
    goes through the join.  Oracle recomputes the join + GROUP BY from
    scratch over both change scripts."""
    from ..sources.fixtures import build_orders_mor

    def plan(t):
        f = t["li"].select("l_orderkey", "l_quantity", "l_extendedprice")
        d = t["om"].select("o_orderkey", "o_orderpriority")
        return (
            f.join(d, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum("l_quantity").alias("sum_qty"),
                 F.min("l_extendedprice").alias("min_price"))
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_agg_join",
                  {"li": build_lineitem_cow(spark, sf_dir),
                   "om": build_orders_mor(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_approx_distinct",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT l_returnflag, l_partkey
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
)
SELECT l_returnflag, COUNT(*) AS n_rows,
       COUNT(DISTINCT l_partkey) AS exact_parts, TRUE AS sketch_ok
FROM l2 GROUP BY l_returnflag
""",
)
def lake_mv_auto_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct maintained as MERGEABLE HLL STATE through
    the unified entry point: insert-only advances union the stored
    Datasketches sketch with the delta's sketch (no re-scan); any
    retraction (C3/C4's deletes here) flags the group dirty and
    re-derives its sketch from the source — sketches cannot subtract.
    Sketch values are engine-specific, so the hash contract follows
    rel_approx_sketches: exact baselines + an in-engine error-bound
    verdict (served estimate within 5% of exact; the maintained sketch
    drifting past its published bound flips the boolean and fails the
    hash)."""

    def plan(t):
        return (
            t["li"].groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.approx_count_distinct("l_partkey").alias("ad_parts"))
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_approx_distinct",
                  {"li": build_lineitem_cow(spark, sf_dir)}, plan)
    served = mv.serve()
    exact = (
        build_lineitem_cow(spark, sf_dir).snapshot()
        .groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("exact_parts"))
    )
    return served.join(exact, "l_returnflag").select(
        "l_returnflag", "n_rows", "exact_parts",
        (F.abs(F.col("ad_parts") - F.col("exact_parts"))
         <= 0.05 * F.col("exact_parts")).alias("sketch_ok"),
    )


@query(
    "lake_mv_sql_ddl",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT l_orderkey, {_QTY_SQL} AS l_quantity
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey, o_orderstatus
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
)
SELECT o_orderstatus, COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty
FROM l2 JOIN o2 ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
""",
)
def lake_mv_sql_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE MATERIALIZED VIEW declared in SQL TEXT — the switch-over
    surface for SQL-first users: the SELECT is planned by spark.sql
    over temp-view-registered lake snapshots, classified off the same
    analyzed tree (here: a one-join agg_tree — qualified attribute
    references are stripped against the plan's own SubqueryAlias names
    so the maintenance replays resolve), maintained by the signed
    delta-join rule across both change scripts, and served back as a
    temp view SQL consumers query by name."""
    import os as _os

    from ..sources.fixtures import SCRATCH_ROOT, build_orders_mor, scratch_tag
    from ..sql import create_materialized_view, refresh_materialized_view

    name, mv = create_materialized_view(
        spark,
        _os.path.join(SCRATCH_ROOT, "lake", scratch_tag(sf_dir), "mv_sql_ddl"),
        {"li_tbl": build_lineitem_cow(spark, sf_dir),
         "om_tbl": build_orders_mor(spark, sf_dir)},
        """CREATE MATERIALIZED VIEW order_status_rollup AS
           SELECT o_orderstatus, count(1) AS n_items,
                  sum(l_quantity) AS sum_qty
           FROM li_tbl JOIN om_tbl ON l_orderkey = o_orderkey
           GROUP BY o_orderstatus""",
    )
    refresh_materialized_view(
        name, mv, seed_as_of={"li_tbl": C1, "om_tbl": C1})
    refresh_materialized_view(name, mv)
    return spark.sql(f"SELECT * FROM {name}")


@query(
    "lake_mv_auto_agg_left_join",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT l_orderkey, {_QTY_SQL} AS l_quantity
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey, o_orderpriority
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
)
SELECT o_orderpriority, COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty
FROM l2 LEFT JOIN o2 ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def lake_mv_auto_agg_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a LEFT OUTER join in one declaration: orders'
    C3 delta-deletes (o_orderkey % 11) flip their lineitems into the
    NULL-priority group instead of dropping them — dirty-group
    detection restricts only the PRESERVED side (null-safe), so the
    flip registers at both states and the NULL group re-derives along
    with the vacated named groups.  Group key on the null-extended
    side, so re-derivation takes the documented full-join-pass
    fallback.  Oracle recomputes the left join + GROUP BY from scratch
    over both change scripts."""
    from ..sources.fixtures import build_orders_mor

    def plan(t):
        f = t["li"].select("l_orderkey", "l_quantity")
        d = t["om"].select("o_orderkey", "o_orderpriority")
        return (
            f.join(d, F.col("l_orderkey") == F.col("o_orderkey"), "left")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum("l_quantity").alias("sum_qty"))
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_agg_left_join",
                  {"li": build_lineitem_cow(spark, sf_dir),
                   "om": build_orders_mor(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_distinct",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT DISTINCT l_returnflag, l_linestatus,
       CAST(FLOOR(({_QTY_SQL}) / 10) AS BIGINT) AS qty_decade
FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
""",
)
def lake_mv_auto_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT as a maintained view — the degenerate aggregate:
    group by every output column with only the hidden signed row count,
    so a (flag, status, decade) combination leaves the view when C3/C4
    retract its last row and enters when C2's +100 quantity shift
    creates a new decade.  Oracle recomputes DISTINCT from scratch over
    the full change script."""

    def plan(t):
        return (
            t["li"].select(
                "l_returnflag", "l_linestatus",
                F.floor(F.col("l_quantity") / 10).cast("bigint")
                .alias("qty_decade"))
            .distinct()
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_distinct",
                  {"li": build_lineitem_cow(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_union",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT 'li' AS src, {_KEY_SQL} AS vk, {_QTY_SQL} AS val
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT 'om' AS src, CAST(o_orderkey AS VARCHAR) AS vk,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS val
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
)
SELECT * FROM l2 UNION ALL SELECT * FROM o2
""",
)
def lake_mv_auto_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL view fusing TWO ingest feeds (COW lineitem + MOR
    orders) into one maintained table: each branch advances
    independently by change-key re-derivation over its own chain under
    a (tag, record key) identity — lineitem's C2 update / C3+C4
    deletes touch only the 'li' branch, orders' delta update / delete
    only 'om'.  Oracle recomputes both feeds from scratch and unions."""
    from ..sources.fixtures import build_orders_mor

    def plan(t):
        a = t["li"].select(
            F.lit("li").alias("src"),
            F.col(RECORD_KEY_FIELD).alias("vk"),
            F.col("l_quantity").alias("val"))
        b = t["om"].select(
            F.lit("om").alias("src"),
            F.col(RECORD_KEY_FIELD).alias("vk"),
            F.col("o_totalprice").alias("val"))
        return a.unionByName(b)

    mv = _auto_mv(spark, sf_dir, "mv_auto_union",
                  {"li": build_lineitem_cow(spark, sf_dir),
                   "om": build_orders_mor(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_self_join",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
s AS (
  SELECT l_orderkey, l_returnflag, {_QTY_SQL} AS qty
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
)
SELECT a.l_returnflag,
       COUNT(*) AS n_pairs,
       CAST(SUM(CAST(round(b.qty * 100) AS BIGINT)) AS BIGINT)
         AS sum_qty_cents
FROM s a JOIN s b ON a.l_orderkey = b.l_orderkey
GROUP BY a.l_returnflag
""",
)
def lake_mv_auto_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a SELF-join (line-pair rollup per return flag —
    the same-table correlation shape): one source on BOTH join sides,
    maintained by the occurrence-based delta-join identity
    Δ(A⋈B) = ΔA⋈B_target + A_anchor⋈ΔB, where A and B replay the SAME
    table's CDC through their own side chains — one commit correctly
    produces BOTH terms (a changed row re-pairs with every line of its
    order, including itself).  Sums ride as integer cents; the oracle
    recomputes the self-join from scratch."""

    def plan(t):
        a = t["li"].select("l_orderkey", "l_returnflag")
        b = t["li"].select(F.col("l_orderkey").alias("ok_b"),
                           F.col("l_quantity").alias("qty_b"))
        return (a.join(b, F.col("l_orderkey") == F.col("ok_b"))
                .groupBy("l_returnflag")
                .agg(F.count(F.lit(1)).alias("n_pairs"),
                     F.sum(F.expr("cast(round(qty_b * 100) as bigint)"))
                     .alias("sum_qty_cents")))

    mv = _auto_mv(spark, sf_dir, "mv_auto_self_join",
                  {"li": build_lineitem_cow(spark, sf_dir)}, plan)
    return mv.serve()


import os as _hudi_os

_HUDI_FIXTURE = _hudi_os.path.abspath(_hudi_os.path.join(
    _hudi_os.path.dirname(__file__), "..", "..", "tests", "fixtures",
    "hudi_cow"))


@query(
    "lake_hudi_interop",
    late=True,  # format-interop sibling of the windowed lake_delete_view
    oracle=f"""
WITH old AS (
  SELECT * FROM read_parquet('{_HUDI_FIXTURE}/2020/12/12/*_20201212121212.parquet')
),
new AS (
  SELECT _hoodie_record_key
  FROM read_parquet('{_HUDI_FIXTURE}/2020/12/12/*_20201213101010.parquet')
)
SELECT old.id, old.name, old.value
FROM old
WHERE old._hoodie_record_key NOT IN (SELECT _hoodie_record_key FROM new)
""",
)
def lake_hudi_interop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-view over a FOREIGN-layout table: tests/fixtures/hudi_cow
    is a genuine Apache Hudi 0.x COW layout (hand-authored to the public
    0.6 format — HoodieCommitMetadata JSON framing, prevCommit "null",
    operationType, extraMetadata Avro schema, nested date partitions)
    that this repo's writers did NOT produce.  The reader stack —
    timeline, commit metadata, fileId/prevCommit pairing
    (DeleteView.java:112-163), anti-join reconstruction — answers the
    reference's headline question over it; the oracle recomputes the
    anti-join straight off the fixture's parquet files."""
    import shutil

    from ..sources.fixtures import SCRATCH_ROOT, scratch_tag

    import os

    dst = os.path.join(SCRATCH_ROOT, "lake", scratch_tag(sf_dir),
                       "hudi_interop")
    if not os.path.isdir(os.path.join(dst, ".hoodie")):
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(_HUDI_FIXTURE, dst)
    return delete_view(spark, dst, "20201213101010").select(
        "id", "name", "value")


@query(
    "lake_mv_auto_window_union",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT 'li' AS src, {_KEY_SQL} AS vk, l_returnflag AS part,
         l_extendedprice AS val
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT 'om' AS src, CAST(o_orderkey AS VARCHAR) AS vk, o_orderstatus AS part,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS val
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
),
u AS (SELECT * FROM l2 UNION ALL SELECT * FROM o2),
r AS (
  SELECT src, vk, part, val,
         ROW_NUMBER() OVER (PARTITION BY part ORDER BY val DESC, src, vk) AS rn
  FROM u
)
SELECT src, vk, part, val, rn FROM r WHERE rn <= 10
""",
)
def lake_mv_auto_window_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WINDOW over a UNION ALL of two ingest feeds (COW lineitem +
    MOR orders) — the union × window composition closing the IVM
    lattice (SURVEY §12 lead 1): rank across merged feeds, partitioned
    by a column that maps to DIFFERENT source columns per branch
    (l_returnflag vs o_orderstatus).  Maintained by per-branch image
    replay (each branch's changed keys name the partitions its rows
    enter and leave) + whole-partition re-derivation with each source
    input restricted to its branches' touched partitions, post-trimmed
    to exactly those partitions; identity is the union's (tag, key).
    Deterministic rank: value desc, then tag, then key — identical in
    DuckDB's ROW_NUMBER.  Oracle recomputes both feeds and the rank
    from scratch."""
    from pyspark.sql import Window as W

    from ..sources.fixtures import build_orders_mor

    def plan(t):
        a = t["li"].select(
            F.lit("li").alias("src"),
            F.col(RECORD_KEY_FIELD).alias("vk"),
            F.col("l_returnflag").alias("part"),
            F.col("l_extendedprice").alias("val"))
        b = t["om"].select(
            F.lit("om").alias("src"),
            F.col(RECORD_KEY_FIELD).alias("vk"),
            F.col("o_orderstatus").alias("part"),
            F.col("o_totalprice").alias("val"))
        w = W.partitionBy("part").orderBy(
            F.desc("val"), F.asc("src"), F.asc("vk"))
        return (a.unionByName(b)
                .withColumn("rn", F.row_number().over(w))
                .filter("rn <= 10"))

    mv = _auto_mv(spark, sf_dir, "mv_auto_window_union",
                  {"li": build_lineitem_cow(spark, sf_dir),
                   "om": build_orders_mor(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_snowflake",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT {_KEY_SQL} AS vk, l_orderkey, {_QTY_SQL} AS l_quantity
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey, o_custkey, o_orderpriority
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
),
c2 AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 1000.0
              ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE NOT (c_custkey % 19 = 0)
)
SELECT vk, l_orderkey, l_quantity, o_custkey, o_orderpriority,
       c_mktsegment, c_acctbal
FROM l2
JOIN o2 ON l_orderkey = o_orderkey
JOIN c2 ON o_custkey = c_custkey
""",
)
def lake_mv_auto_snowflake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNOWFLAKE view in one declaration: lineitem (fact) ⋈ orders on
    the fact's l_orderkey, customer ⋈ orders on o_custkey — a column
    that never touches the fact.  The customer arm's changes (C2
    acctbal update, C3 delete) probe the stored view through the
    OUTPUT column o_custkey (dim lineage): the change-key machinery is
    indifferent to which source a probe column came from, so the
    classic fact→orders→customer normalization maintains with one
    probe per source and NO staging table.  Oracle recomputes the
    3-way join from scratch over all three change scripts."""
    from ..sources.fixtures import build_customer_cow, build_orders_mor

    def plan(t):
        f = t["li"].select(
            F.col(RECORD_KEY_FIELD).alias("vk"), "l_orderkey", "l_quantity")
        o = t["ord"].select("o_orderkey", "o_custkey", "o_orderpriority")
        c = t["cu"].select("c_custkey", "c_mktsegment", "c_acctbal")
        return (
            f.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(c, F.col("o_custkey") == F.col("c_custkey"))
            .select("vk", "l_orderkey", "l_quantity", "o_custkey",
                    "o_orderpriority", "c_mktsegment", "c_acctbal")
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_snowflake",
                  {"li": build_lineitem_cow(spark, sf_dir),
                   "ord": build_orders_mor(spark, sf_dir),
                   "cu": build_customer_cow(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_agg_tree",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT l_orderkey, CAST(round(({_QTY_SQL}) * 100) AS BIGINT) AS qty_c
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey, o_custkey
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
),
c2 AS (
  SELECT c_custkey, c_mktsegment
  FROM customer WHERE NOT (c_custkey % 19 = 0)
)
SELECT c_mktsegment, COUNT(*) AS n_items,
       CAST(SUM(qty_c) AS BIGINT) AS sum_qty_cents,
       MIN(qty_c) AS min_qty_cents,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM l2
JOIN o2 ON l_orderkey = o_orderkey
JOIN c2 ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def lake_mv_auto_agg_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a MULTI-JOIN tree in ONE declaration — the TPC-H
    Q5 rollup (lineitem ⋈ orders ⋈ customer GROUP BY market segment),
    maintained by image-replay dirty-group detection: each changed
    source's CDC images re-run the user's own join tree at both
    boundaries to name the touched segments, and exactly those rebuild
    from the target snapshots with the customer leaf's INPUT restricted
    to the dirty segments.  Quantities ride as exact integer cents;
    COUNT DISTINCT exercises the per-value aux over the tree.  Oracle
    recomputes the 3-way rollup from scratch over all three change
    scripts (COW lineitem C2-C4, MOR orders deltas, customer C2-C3)."""
    from ..sources.fixtures import build_customer_cow, build_orders_mor

    def plan(t):
        f = t["li"].select(
            "l_orderkey",
            F.expr("cast(round(l_quantity * 100) as bigint)").alias("qty_c"))
        o = t["ord"].select("o_orderkey", "o_custkey")
        c = t["cu"].select("c_custkey", "c_mktsegment")
        return (
            f.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(c, F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum("qty_c").alias("sum_qty_cents"),
                 F.min("qty_c").alias("min_qty_cents"),
                 F.count_distinct("l_orderkey").alias("n_orders"))
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_agg_tree",
                  {"li": build_lineitem_cow(spark, sf_dir),
                   "ord": build_orders_mor(spark, sf_dir),
                   "cu": build_customer_cow(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_window_tree",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT {_KEY_SQL} AS vk, l_orderkey, {_QTY_SQL} AS l_quantity
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey, o_custkey
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
),
c2 AS (
  SELECT c_custkey, c_mktsegment
  FROM customer WHERE NOT (c_custkey % 19 = 0)
),
r AS (
  SELECT vk, l_quantity, c_mktsegment,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY l_quantity DESC, vk) AS rn
  FROM l2
  JOIN o2 ON l_orderkey = o_orderkey
  JOIN c2 ON o_custkey = c_custkey
)
SELECT vk, l_quantity, c_mktsegment, rn FROM r WHERE rn <= 10
""",
)
def lake_mv_auto_window_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window view over a JOIN TREE: top-10 lineitems per market
    segment across lineitem ⋈ orders ⋈ customer — touched partitions
    detected by image-replay through the tree (a customer delete
    re-ranks its segment; an order moving customers re-ranks both
    segments), re-derived by the user's own plan with the customer
    snapshot restricted to the touched segments.  Oracle recomputes
    the ROW_NUMBER over the 3-way join from scratch."""
    from pyspark.sql import Window as W

    from ..sources.fixtures import build_customer_cow, build_orders_mor

    def plan(t):
        f = t["li"].select(
            F.col(RECORD_KEY_FIELD).alias("vk"), "l_orderkey", "l_quantity")
        j = (f.join(t["ord"].select("o_orderkey", "o_custkey"),
                    F.col("l_orderkey") == F.col("o_orderkey"))
             .join(t["cu"].select("c_custkey", "c_mktsegment"),
                   F.col("o_custkey") == F.col("c_custkey")))
        w = W.partitionBy("c_mktsegment").orderBy(
            F.desc("l_quantity"), F.asc("vk"))
        return (j.withColumn("rn", F.row_number().over(w))
                .filter("rn <= 10")
                .select("vk", "l_quantity", "c_mktsegment", "rn"))

    mv = _auto_mv(spark, sf_dir, "mv_auto_window_tree",
                  {"li": build_lineitem_cow(spark, sf_dir),
                   "ord": build_orders_mor(spark, sf_dir),
                   "cu": build_customer_cow(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_agg_stage",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT l_orderkey, CAST(round(({_QTY_SQL}) * 100) AS BIGINT) AS qty_c
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
per_order AS (
  SELECT l_orderkey, COUNT(*) AS n_items,
         CAST(SUM(qty_c) AS BIGINT) AS order_qty_cents
  FROM l2 GROUP BY l_orderkey
)
SELECT n_items, COUNT(*) AS n_orders,
       CAST(SUM(order_qty_cents) AS BIGINT) AS total_qty_cents,
       MIN(order_qty_cents) AS min_order_cents
FROM per_order GROUP BY n_items
""",
)
def lake_mv_auto_agg_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate OVER an aggregate in one declaration — the order-size
    distribution (per-order item counts and totals, rolled up by item
    count): the inner per-order aggregate AUTO-STAGES as a hidden child
    view on a real lake table, whose CDC feed (old order rows
    retracted, new asserted) is exactly the outer's signed delta — a
    lineitem delete that shrinks an order moves that order between
    n_items groups in one refresh.  Oracle recomputes the two-level
    GROUP BY from scratch over the full change script."""

    def plan(t):
        per_order = (
            t["li"].select(
                "l_orderkey",
                F.expr("cast(round(l_quantity * 100) as bigint)")
                .alias("qty_c"))
            .groupBy("l_orderkey")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum("qty_c").alias("order_qty_cents"))
        )
        return (
            per_order.groupBy("n_items")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("order_qty_cents").alias("total_qty_cents"),
                 F.min("order_qty_cents").alias("min_order_cents"))
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_agg_stage",
                  {"li": build_lineitem_cow(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_agg_union",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT l_orderkey % 5 AS grp,
         CAST(round(({_QTY_SQL}) * 100) AS BIGINT) AS val
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey % 5 AS grp,
         CAST(round((CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                     ELSE o_totalprice END) * 100) AS BIGINT) AS val
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
),
u AS (SELECT * FROM l2 UNION ALL SELECT * FROM o2)
SELECT grp, COUNT(*) AS n, CAST(SUM(val) AS BIGINT) AS sv,
       MIN(val) AS mn, COUNT(DISTINCT val) AS nd
FROM u GROUP BY grp
""",
)
def lake_mv_auto_agg_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY over UNION ALL in ONE declaration: the view's delta is
    the union of each branch's signed CDC delta replayed through that
    branch's own chain (Δ(∪all) = ∪all Δ — union-all is a multiset
    sum), fed into the shared retraction merge.  No staging table, no
    per-branch literal tags, and untouched branches contribute nothing:
    lineitem's C2/C3/C4 changes advance through the l2 branch alone,
    orders' MOR delta through o2 alone.  min exercises the dirty
    re-derivation over the UNION full feed; COUNT DISTINCT the
    per-value aux path.  Values ride as exact integer cents so
    retraction sums are order-free; oracle recomputes the union +
    GROUP BY from scratch over both change scripts."""
    from ..sources.fixtures import build_orders_mor

    def plan(t):
        a = t["li"].select(
            (F.col("l_orderkey") % 5).alias("grp"),
            F.expr("cast(round(l_quantity * 100) as bigint)").alias("val"))
        b = t["om"].select(
            (F.col("o_orderkey") % 5).alias("grp"),
            F.expr("cast(round(o_totalprice * 100) as bigint)").alias("val"))
        return (
            a.unionByName(b)
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("val").alias("sv"),
                 F.min("val").alias("mn"),
                 F.count_distinct("val").alias("nd"))
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_agg_union",
                  {"li": build_lineitem_cow(spark, sf_dir),
                   "om": build_orders_mor(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_agg_full_join",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT l_orderkey, {_QTY_SQL} AS l_quantity
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey, o_orderpriority
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
)
SELECT o_orderpriority, COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty
FROM l2 FULL JOIN o2 ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def lake_mv_auto_agg_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a FULL OUTER join: orders' C3 deletes flip their
    lineitems into the NULL-priority group AND lineitem's C3/C4
    deletes strand their orders as lineitem-less null-extended rows —
    both directions of null-extension, which is why dirty-group
    detection runs one preserved-side-restricted pass per side
    (null-safe) instead of a single probe.  Oracle recomputes the full
    join + GROUP BY from scratch over both change scripts."""
    from ..sources.fixtures import build_orders_mor

    def plan(t):
        f = t["li"].select("l_orderkey", "l_quantity")
        d = t["om"].select("o_orderkey", "o_orderpriority")
        return (
            f.join(d, F.col("l_orderkey") == F.col("o_orderkey"), "full")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum("l_quantity").alias("sum_qty"))
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_agg_full_join",
                  {"li": build_lineitem_cow(spark, sf_dir),
                   "om": build_orders_mor(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_star",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT {_KEY_SQL} AS vk, l_orderkey, l_partkey, {_QTY_SQL} AS l_quantity
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey, o_orderpriority
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
),
p2 AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 5 = 0 THEN p_retailprice + 100.0
              ELSE p_retailprice END AS p_retailprice
  FROM part WHERE NOT (p_partkey % 23 = 0)
)
SELECT vk, l_orderkey, l_partkey, l_quantity, o_orderpriority,
       p_retailprice
FROM l2
JOIN o2 ON l_orderkey = o_orderkey
JOIN p2 ON l_partkey = p_partkey
""",
)
def lake_mv_auto_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAR view — TWO dims joined on FACT columns in one declaration,
    no staging: orders probes through l_orderkey, part through
    l_partkey, each dim's CDC (orders' MOR delta update+delete, part's
    COW update+delete) re-derives only the fact rows its own join
    columns name, with rows hit through both dims deduped before the
    write.  This is the TPC-H shape (lineitem star); snowflake arms
    (customer via o_custkey) still stage, and the refusal says so.
    Oracle recomputes the 3-way star from scratch over all three
    change scripts."""
    from ..sources.fixtures import build_orders_mor, build_part_cow

    def plan(t):
        f = t["li"].select(
            F.col(RECORD_KEY_FIELD).alias("vk"),
            "l_orderkey", "l_partkey", "l_quantity")
        return (
            f.join(t["om"].select("o_orderkey", "o_orderpriority"),
                   F.col("l_orderkey") == F.col("o_orderkey"))
            .join(t["pt"].select("p_partkey", "p_retailprice"),
                  F.col("l_partkey") == F.col("p_partkey"))
            .select("vk", "l_orderkey", "l_partkey", "l_quantity",
                    "o_orderpriority", "p_retailprice")
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_star",
                  {"li": build_lineitem_cow(spark, sf_dir),
                   "om": build_orders_mor(spark, sf_dir),
                   "pt": build_part_cow(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_snowflake_expr",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT {_KEY_SQL} AS vk, l_orderkey, {_QTY_SQL} AS l_quantity
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey, o_custkey, o_orderpriority
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
),
c2 AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 1000.0
              ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE NOT (c_custkey % 19 = 0)
)
SELECT vk, l_orderkey, l_quantity, o_orderpriority,
       c_mktsegment, c_acctbal
FROM l2
JOIN o2 ON l_orderkey = o_orderkey
JOIN c2 ON (o_custkey % 800) + 1 = c_custkey
""",
)
def lake_mv_auto_snowflake_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNOWFLAKE view whose customer arm joins on an EXPRESSION over
    the mid dim ((o_custkey % 800) + 1 = c_custkey) that is projected
    NOWHERE — the mid-plan join-key shape (SURVEY §12 lead 3, round
    7): changed customer keys probe TRANSITIVELY — they map to
    affected orders rows through the orders snapshot's own expression
    values, then fold into the orders arm's ordinary probe route
    (the projected l_orderkey column) — no hidden stored column.
    The customer change script (C2 acctbal update, C3 delete) drives
    that probe in the gate run.  Oracle recomputes the 3-way join from
    scratch over all three change scripts."""
    from ..sources.fixtures import build_customer_cow, build_orders_mor

    def plan(t):
        f = t["li"].select(
            F.col(RECORD_KEY_FIELD).alias("vk"), "l_orderkey", "l_quantity")
        o = t["ord"].select("o_orderkey", "o_custkey", "o_orderpriority")
        c = t["cu"].select("c_custkey", "c_mktsegment", "c_acctbal")
        return (
            f.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(c, F.expr("o_custkey % 800 + 1") == F.col("c_custkey"))
            .select("vk", "l_orderkey", "l_quantity",
                    "o_orderpriority", "c_mktsegment", "c_acctbal")
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_snowflake_expr",
                  {"li": build_lineitem_cow(spark, sf_dir),
                   "ord": build_orders_mor(spark, sf_dir),
                   "cu": build_customer_cow(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_window_self_join",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
s AS (
  SELECT {_KEY_SQL} AS rk, l_orderkey, l_returnflag, {_QTY_SQL} AS qty
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
p AS (
  SELECT a.rk AS vk, b.rk AS pk, a.l_returnflag, b.qty AS pv
  FROM s a JOIN s b ON a.l_orderkey = b.l_orderkey
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
           ORDER BY pv DESC, vk, pk) AS rn
  FROM p
)
SELECT vk, pk, l_returnflag, pv, rn FROM r WHERE rn <= 5
""",
)
def lake_mv_auto_window_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WINDOW over a SELF-JOIN (round 7, lifting the F15
    refusal): line pairs within each order, ranked per return flag.
    Row identity is the COMPOSITE (vk, pk) tuple — each occurrence of
    the self-joined table projects its own record key, so several
    output rows per fact key no longer collapse in the stored state;
    maintenance is whole-partition re-rank over the touched
    partitions named by occurrence-keyed image replay.  Deterministic
    rank: quantity desc, then both record keys.  Oracle recomputes the
    pairs and the rank from scratch."""
    from pyspark.sql import Window as W

    def plan(t):
        a = t["li"].select(F.col(RECORD_KEY_FIELD).alias("vk"),
                           "l_orderkey", "l_returnflag")
        b = t["li"].select(F.col("l_orderkey").alias("ok_b"),
                           F.col("l_quantity").alias("pv"),
                           F.col(RECORD_KEY_FIELD).alias("pk"))
        w = W.partitionBy("l_returnflag").orderBy(
            F.desc("pv"), F.asc("vk"), F.asc("pk"))
        return (a.join(b, F.col("l_orderkey") == F.col("ok_b"))
                .withColumn("rn", F.row_number().over(w))
                .filter("rn <= 5")
                .select("vk", "pk", "l_returnflag", "pv", "rn"))

    mv = _auto_mv(spark, sf_dir, "mv_auto_window_self_join",
                  {"li": build_lineitem_cow(spark, sf_dir)}, plan)
    return mv.serve()


@query(
    "lake_mv_auto_agg_full_tree",
    late=True,  # IVM family windowed via lake_ivm_aggregate
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE}),
l2 AS (
  SELECT l_orderkey, CAST(round(({_QTY_SQL}) * 100) AS BIGINT) AS qty_c
  FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
),
o2 AS (
  SELECT o_orderkey, o_custkey
  FROM orders WHERE NOT (o_orderkey % 11 = 0)
),
c2 AS (
  SELECT c_custkey, c_mktsegment
  FROM customer WHERE NOT (c_custkey % 19 = 0)
)
SELECT c_mktsegment, COUNT(*) AS n_rows,
       CAST(SUM(qty_c) AS BIGINT) AS sum_qty_cents
FROM (SELECT l2.l_orderkey, l2.qty_c, o2.o_custkey
      FROM l2 JOIN o2 ON l_orderkey = o_orderkey)
FULL JOIN c2 ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def lake_mv_auto_agg_full_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a tree whose customer arm is a FULL OUTER join
    (round 7, closing the last composition gap): customers with no
    surviving orders form dim-only groups (zero fact rows), fact rows
    whose customer was deleted (the C3 script) land in the NULL
    segment, and every advance rides the signed identity — the
    left-join part plus the R-anti summand's own delta plus BOTH
    presence-flip corrections.  Sum/count only, so no full-feed
    re-derivation is ever triggered.  Oracle recomputes the FULL join
    rollup from scratch over all three change scripts."""
    from ..sources.fixtures import build_customer_cow, build_orders_mor

    def plan(t):
        f = t["li"].select(
            "l_orderkey",
            F.expr("cast(round(l_quantity * 100) as bigint)").alias("qty_c"))
        o = t["ord"].select("o_orderkey", "o_custkey")
        c = t["cu"].select("c_custkey", "c_mktsegment")
        return (
            f.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(c, F.col("o_custkey") == F.col("c_custkey"), "full")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("qty_c").alias("sum_qty_cents"))
        )

    mv = _auto_mv(spark, sf_dir, "mv_auto_agg_full_tree",
                  {"li": build_lineitem_cow(spark, sf_dir),
                   "ord": build_orders_mor(spark, sf_dir),
                   "cu": build_customer_cow(spark, sf_dir)}, plan)
    return mv.serve()


# --------------------------------------------------------------------------
# H17/H8 exports under the oracle: a native COW table migrates to GENUINE
# Iceberg v2 and Delta layouts, reads back through the FOREIGN readers,
# and DuckDB recomputes every section from raw lineitem — a hash match
# proves the exported metadata (manifests / transaction log) resolves
# exactly the right files at every probed state.
# --------------------------------------------------------------------------
def _build_exports(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """Export the scripted COW lineitem and MOR orders tables to
    genuine foreign layouts under .scratch (once per
    sf_dir; rebuilt when the marker's source-timeline tag mismatches)."""
    import os as _os
    import shutil as _shutil

    from ..sources.delta import DELTA_EXPORT_LAYOUT_VERSION, export_delta
    from ..sources.fixtures import (
        SCRATCH_ROOT,
        build_orders_mor,
        scratch_tag,
    )
    from ..sources.hudi import HUDI_EXPORT_LAYOUT_VERSION, export_hudi_mor
    from ..sources.iceberg import (
        ICEBERG_EXPORT_LAYOUT_VERSION,
        export_iceberg,
    )

    li = build_lineitem_cow(spark, sf_dir)
    om = build_orders_mor(spark, sf_dir)
    tag = scratch_tag(sf_dir)
    root = _os.path.join(SCRATCH_ROOT, "lake", tag)
    out = {}
    for fmt, export, table, layout_ver in (
        ("iceberg", export_iceberg, li, ICEBERG_EXPORT_LAYOUT_VERSION),
        ("delta", export_delta, li, DELTA_EXPORT_LAYOUT_VERSION),
        ("hudi", export_hudi_mor, om, HUDI_EXPORT_LAYOUT_VERSION),
    ):
        d = _os.path.join(root, f"export_{fmt}")
        marker = _os.path.join(d, ".export_ok")
        # the marker keys on the exporter's layout version AND the full
        # timeline (not just the last instant), so layout changes and
        # mid-timeline fixture changes both invalidate cached exports
        want = "v2:layout{}:{}".format(
            layout_ver, ",".join(table.timeline.timestamps())
        )
        have = None
        if _os.path.exists(marker):
            with open(marker) as f:
                have = f.read().strip()
        if have != want:
            _shutil.rmtree(d, ignore_errors=True)
            export(table, d)
            with open(marker, "w") as f:
                f.write(want)
        out[fmt] = d
    return out["iceberg"], out["delta"], out["hudi"]


_EXPORT_KEY_COLS = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
_EXPORT_RK = (
    "CAST(l_orderkey AS STRING) || ':' || CAST(l_linenumber AS STRING) || "
    "':' || CAST(l_partkey AS STRING) || ':' || CAST(l_suppkey AS STRING)"
)


@query(
    "lake_export_interop",
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT 'ice_snap' AS section, {_KEY_SQL} AS rk,
       CAST({_QTY_SQL} AS DOUBLE) AS qty
FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
UNION ALL
SELECT 'ice_travel' AS section, {_KEY_SQL} AS rk,
       CAST({_QTY_SQL} AS DOUBLE) AS qty
FROM li
UNION ALL
SELECT 'delta_snap' AS section, {_KEY_SQL} AS rk,
       CAST({_QTY_SQL} AS DOUBLE) AS qty
FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
UNION ALL
SELECT 'delta_dv' AS section, {_KEY_SQL} AS rk,
       CAST({_QTY_SQL} AS DOUBLE) AS qty
FROM li WHERE l_suppkey % 17 = 0
UNION ALL
SELECT 'hudi_snap' AS section, CAST(o_orderkey AS VARCHAR) AS rk,
       CAST(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                 ELSE o_totalprice END AS DOUBLE) AS qty
FROM orders WHERE NOT (o_orderkey % 11 = 0)
""",
)
def lake_export_interop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five sections over the three exports: Iceberg final snapshot,
    Iceberg time travel to the post-upsert state (C2), Delta final
    snapshot, the flagship delete view of the C3-deleting Delta
    version, and the Hudi MOR snapshot (orders: base parquet + binary
    HoodieLogFormat delta logs the export wrote) — each read by the
    FOREIGN reader over layouts this package WROTE
    (sources/iceberg.export_iceberg: per-snapshot OCF manifests via
    the golden-pinned Avro encoder; sources/delta.export_delta:
    transaction log + checkpoint; sources/hudi.export_hudi_mor:
    log blocks encoded executor-side)."""
    from ..sources.delta import read_delta_delete_view, read_delta_snapshot
    from ..sources.iceberg import _load_metadata, read_iceberg_snapshot

    ice, dl, hu = _build_exports(spark, sf_dir)

    # resolve the CURRENT metadata (version-hint / max v*) rather than
    # hardcoding a version file — the fixture's commit count may change
    meta = _load_metadata(ice)
    snaps = sorted(meta["snapshots"], key=lambda s: s["sequence-number"])

    def proj(df: DataFrame, section: str) -> DataFrame:
        return df.select(
            F.lit(section).alias("section"),
            F.expr(_EXPORT_RK).alias("rk"),
            F.col("l_quantity").cast("double").alias("qty"),
        )

    ice_snap = proj(read_iceberg_snapshot(spark, ice), "ice_snap")
    ice_travel = proj(
        read_iceberg_snapshot(spark, ice, snapshot_id=snaps[1]["snapshot-id"]),
        "ice_travel",
    )
    delta_snap = proj(read_delta_snapshot(spark, dl), "delta_snap")
    delta_dv = proj(
        read_delta_delete_view(spark, dl, 2, _EXPORT_KEY_COLS), "delta_dv"
    )
    from ..sources.hudi import read_hudi_mor_snapshot

    hudi_snap = read_hudi_mor_snapshot(spark, hu).select(
        F.lit("hudi_snap").alias("section"),
        F.col("o_orderkey").cast("string").alias("rk"),
        F.col("o_totalprice").cast("double").alias("qty"),
    )
    return (
        ice_snap.unionByName(ice_travel)
        .unionByName(delta_snap)
        .unionByName(delta_dv)
        .unionByName(hudi_snap)
    )


def _build_exports_staged(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """STAGED exports for the incremental-sync driver row: each foreign
    layout is first exported up to a MID-timeline instant, then the
    remaining native commits land via a second (incremental) export
    call into the same directory — so every byte the query reads went
    through the append-only sync path (r8 verdict item 4). Cached under
    .scratch with the same marker discipline as ``_build_exports``."""
    import os as _os
    import shutil as _shutil

    from ..sources.delta import DELTA_EXPORT_LAYOUT_VERSION, export_delta
    from ..sources.fixtures import (
        SCRATCH_ROOT,
        build_orders_mor,
        scratch_tag,
    )
    from ..sources.hudi import HUDI_EXPORT_LAYOUT_VERSION, export_hudi_mor
    from ..sources.iceberg import (
        ICEBERG_EXPORT_LAYOUT_VERSION,
        export_iceberg,
    )

    li = build_lineitem_cow(spark, sf_dir)
    om = build_orders_mor(spark, sf_dir)
    tag = scratch_tag(sf_dir)
    root = _os.path.join(SCRATCH_ROOT, "lake", tag)
    out = {}
    for fmt, export, table, layout_ver in (
        ("iceberg", export_iceberg, li, ICEBERG_EXPORT_LAYOUT_VERSION),
        ("delta", export_delta, li, DELTA_EXPORT_LAYOUT_VERSION),
        ("hudi", export_hudi_mor, om, HUDI_EXPORT_LAYOUT_VERSION),
    ):
        d = _os.path.join(root, f"export_sync_{fmt}")
        marker = _os.path.join(d, ".export_ok")
        ts_all = table.timeline.timestamps()
        want = "v1sync:layout{}:{}".format(layout_ver, ",".join(ts_all))
        have = None
        if _os.path.exists(marker):
            with open(marker) as f:
                have = f.read().strip()
        if have != want:
            _shutil.rmtree(d, ignore_errors=True)
            export(table, d, up_to=ts_all[1])  # stage 1: prefix
            export(table, d)                   # stage 2: incremental sync
            with open(marker, "w") as f:
                f.write(want)
        out[fmt] = d
    return out["iceberg"], out["delta"], out["hudi"]


@query(
    "lake_export_incremental",
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT 'ice_snap' AS section, {_KEY_SQL} AS rk,
       CAST({_QTY_SQL} AS DOUBLE) AS qty
FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
UNION ALL
SELECT 'ice_travel' AS section, {_KEY_SQL} AS rk,
       CAST({_QTY_SQL} AS DOUBLE) AS qty
FROM li
UNION ALL
SELECT 'delta_snap' AS section, {_KEY_SQL} AS rk,
       CAST({_QTY_SQL} AS DOUBLE) AS qty
FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
UNION ALL
SELECT 'delta_dv' AS section, {_KEY_SQL} AS rk,
       CAST({_QTY_SQL} AS DOUBLE) AS qty
FROM li WHERE l_suppkey % 17 = 0
UNION ALL
SELECT 'hudi_snap' AS section, CAST(o_orderkey AS VARCHAR) AS rk,
       CAST(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                 ELSE o_totalprice END AS DOUBLE) AS qty
FROM orders WHERE NOT (o_orderkey % 11 = 0)
""",
)
def lake_export_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (append-only) export SYNC under the oracle (r8
    verdict item 4): every foreign layout here was built in two calls —
    a prefix export up to the mid-timeline instant, then a second call
    that appended only the remaining commits (new data files, new log
    versions / manifests / log blocks; pre-existing bytes untouched,
    pinned byte-level by tests/test_export_incremental.py). The
    sections then ask the same questions as ``lake_export_interop`` —
    final snapshots of all three stacks, Iceberg time travel BACK
    ACROSS the sync boundary, and the flagship delete view of a
    DELETE commit that landed via sync against base files from the
    original export — and must hash-match the from-SQL oracle."""
    from ..sources.delta import read_delta_delete_view, read_delta_snapshot
    from ..sources.hudi import read_hudi_mor_snapshot
    from ..sources.iceberg import _load_metadata, read_iceberg_snapshot

    ice, dl, hu = _build_exports_staged(spark, sf_dir)

    meta = _load_metadata(ice)
    snaps = sorted(meta["snapshots"], key=lambda s: s["sequence-number"])

    def proj(df: DataFrame, section: str) -> DataFrame:
        return df.select(
            F.lit(section).alias("section"),
            F.expr(_EXPORT_RK).alias("rk"),
            F.col("l_quantity").cast("double").alias("qty"),
        )

    ice_snap = proj(read_iceberg_snapshot(spark, ice), "ice_snap")
    ice_travel = proj(
        read_iceberg_snapshot(spark, ice, snapshot_id=snaps[1]["snapshot-id"]),
        "ice_travel",
    )
    delta_snap = proj(read_delta_snapshot(spark, dl), "delta_snap")
    delta_dv = proj(
        read_delta_delete_view(spark, dl, 2, _EXPORT_KEY_COLS), "delta_dv"
    )
    hudi_snap = read_hudi_mor_snapshot(spark, hu).select(
        F.lit("hudi_snap").alias("section"),
        F.col("o_orderkey").cast("string").alias("rk"),
        F.col("o_totalprice").cast("double").alias("qty"),
    )
    return (
        ice_snap.unionByName(ice_travel)
        .unionByName(delta_snap)
        .unionByName(delta_dv)
        .unionByName(hudi_snap)
    )


def _build_cm_export(spark: SparkSession, sf_dir: str) -> str:
    """Column-mapped Delta export of the scripted lineitem COW table
    (write direction of r9's column-mapping support), marker-cached
    like the other export fixtures."""
    import os as _os
    import shutil as _shutil

    from ..sources.delta import DELTA_EXPORT_LAYOUT_VERSION, export_delta
    from ..sources.fixtures import SCRATCH_ROOT, scratch_tag

    li = build_lineitem_cow(spark, sf_dir)
    d = _os.path.join(SCRATCH_ROOT, "lake", scratch_tag(sf_dir),
                      "export_delta_cm")
    marker = _os.path.join(d, ".export_ok")
    want = "v1cm:layout{}:{}".format(
        DELTA_EXPORT_LAYOUT_VERSION, ",".join(li.timeline.timestamps()))
    have = None
    if _os.path.exists(marker):
        with open(marker) as f:
            have = f.read().strip()
    if have != want:
        _shutil.rmtree(d, ignore_errors=True)
        export_delta(li, d, column_mapping="name")
        with open(marker, "w") as f:
            f.write(want)
    return d


@query(
    "delta_cm_export",
    oracle=f"""
WITH li AS ({LINEITEM_DEDUP_CTE})
SELECT 'snapshot' AS section, {_KEY_SQL} AS rk,
       CAST({_QTY_SQL} AS DOUBLE) AS qty
FROM li WHERE l_suppkey % 17 != 0 AND l_suppkey % 23 != 0
UNION ALL
SELECT 'travel_c2' AS section, {_KEY_SQL} AS rk,
       CAST({_QTY_SQL} AS DOUBLE) AS qty
FROM li
UNION ALL
SELECT 'delete_view' AS section, {_KEY_SQL} AS rk,
       CAST({_QTY_SQL} AS DOUBLE) AS qty
FROM li WHERE l_suppkey % 17 = 0
""",
)
def delta_cm_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE direction of Delta column mapping (r9): the scripted
    lineitem COW table exports with column_mapping='name' — data files
    under physical 'col-NN' names with parquet field ids, physical
    partitionValues/stats/hive dirs, schemaString carrying the
    columnMapping metadata, protocol 2/5 — and the foreign reader
    round-trips it: final snapshot, time travel to the post-upsert
    version, and the flagship delete view of the C3 DELETE commit,
    each hash-matched against the from-SQL lineitem oracle."""
    from ..sources.delta import read_delta_delete_view, read_delta_snapshot

    d = _build_cm_export(spark, sf_dir)

    def proj(df: DataFrame, section: str) -> DataFrame:
        return df.select(
            F.lit(section).alias("section"),
            F.expr(_EXPORT_RK).alias("rk"),
            F.col("l_quantity").cast("double").alias("qty"),
        )

    snap = proj(read_delta_snapshot(spark, d), "snapshot")
    tt = proj(read_delta_snapshot(spark, d, version=1), "travel_c2")
    dv = proj(read_delta_delete_view(spark, d, 2, _EXPORT_KEY_COLS),
              "delete_view")
    return snap.unionByName(tt).unionByName(dv)
