"""Deterministic lake-table fixtures derived from the driver's TPC-H-ish
parquet (FIXTURES.md §2). Built once per (sf_dir, name) under a scratch
root and reused — the commit timeline makes staleness detection trivial.

The synthetic ``lineitem`` is dirty on purpose: ``(l_orderkey,
l_linenumber)`` is not unique (and at sf0.001 even the 4-column key has one
duplicate pair), so lake ingestion applies a deterministic exact dedup
(operator B8) first — ``row_number() = 1`` per key ordered by the remaining
payload columns. The same dedup is expressed as a DuckDB CTE so every lake
query stays oracle-checkable.

The scripted timeline (lineitem_cow), FIXTURES.md §2.1-shaped:

- C1 bulk-insert dedup(lineitem)  (key = orderkey:linenumber:partkey:suppkey,
  partition = l_returnflag → 3 partitions x 4 file groups)
- C2 update rows where ``l_partkey % 10 = 0``  (quantity += 100)
- C3 **delete** rows where ``l_suppkey % 17 = 0``  ← delete-view target
- C4 delete rows where ``l_suppkey % 23 = 0``  (second delete commit)

Every predicate is deterministic over the source table, which is what makes
the lake operators DuckDB-oracle-checkable end to end.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .cow import CowTable

C1, C2, C3, C4 = "20260101000000", "20260102000000", "20260103000000", "20260104000000"
C5 = "20260105000000"
SCRATCH_ROOT = os.environ.get(
    "SPARK_GRAFT_SCRATCH",
    os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch"),
)

LINEITEM_KEY = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
LINEITEM_REST = [
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
]

# oracle-side equivalents (DuckDB SQL) of the scripted commit predicates
UPDATE_PRED_SQL = "l_partkey % 10 = 0"
DELETE_C3_PRED_SQL = "l_suppkey % 17 = 0"
DELETE_C4_PRED_SQL = "l_suppkey % 23 = 0"

# deterministic exact dedup of the raw table, as a DuckDB CTE body
LINEITEM_DEDUP_CTE = (
    "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
    "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate "
    "FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber, "
    "l_partkey, l_suppkey ORDER BY l_quantity, l_extendedprice, l_discount, "
    "l_tax, l_returnflag, l_linestatus, l_shipdate) AS __rn FROM lineitem) "
    "WHERE __rn = 1"
)


def dedup_lineitem(df: DataFrame) -> DataFrame:
    """Exact dedup with a deterministic winner (B8's canonical form)."""
    w = Window.partitionBy(*LINEITEM_KEY).orderBy(*LINEITEM_REST)
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


def scratch_tag(sf_dir: str) -> str:
    """Scratch-dir tag for an sf_dir (single definition — every scratch
    path helper and query derives its layout from this)."""
    return os.path.basename(os.path.normpath(sf_dir)) or "sf"


def lineitem_cow_path(sf_dir: str) -> str:
    tag = scratch_tag(sf_dir)
    return os.path.join(SCRATCH_ROOT, "lake", tag, "lineitem_cow")


def build_lineitem_cow(spark: SparkSession, sf_dir: str, base_path: str | None = None) -> CowTable:
    """Build (or reuse) the scripted 4-commit COW table from lineitem."""
    base_path = base_path or lineitem_cow_path(sf_dir)
    table = CowTable(
        spark,
        base_path,
        key_fields=LINEITEM_KEY,
        partition_field="l_returnflag",
        num_file_groups=4,
    )
    if table.timeline.timestamps() == [C1, C2, C3, C4]:
        return table  # already built for this sf_dir
    import shutil

    shutil.rmtree(base_path, ignore_errors=True)
    os.makedirs(base_path, exist_ok=True)

    src = dedup_lineitem(spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")))
    table.bulk_insert(src, C1)

    updates = src.filter(F.expr(UPDATE_PRED_SQL)).withColumn(
        "l_quantity", F.col("l_quantity") + F.lit(100.0)
    )
    table.upsert(updates, C2)

    # deletes are issued against the *current snapshot* keys matching the
    # predicate (rows already carry updated values from C2)
    table.delete_where(F.expr(DELETE_C3_PRED_SQL), C3)
    table.delete_where(F.expr(DELETE_C4_PRED_SQL), C4)
    return table


def lineitem_clustered_path(sf_dir: str) -> str:
    tag = scratch_tag(sf_dir)
    return os.path.join(SCRATCH_ROOT, "lake", tag, "lineitem_clustered")


def build_lineitem_clustered(spark: SparkSession, sf_dir: str, base_path: str | None = None) -> CowTable:
    """Two-commit fixture for the clustering service: C1 bulk-insert
    dedup(lineitem), C2 clustering rewrite sorted by ``l_orderkey`` with
    small row groups (so sorted files have skippable granularity even at
    test scale). Data identical across both commits by construction."""
    base_path = base_path or lineitem_clustered_path(sf_dir)
    table = CowTable(
        spark,
        base_path,
        key_fields=LINEITEM_KEY,
        partition_field="l_returnflag",
        num_file_groups=4,
    )
    if table.timeline.timestamps() == [C1, C2]:
        table.stats_columns = list(dict.fromkeys([*table.stats_columns, "l_orderkey"]))
        return table
    import shutil

    shutil.rmtree(base_path, ignore_errors=True)
    os.makedirs(base_path, exist_ok=True)
    src = dedup_lineitem(spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")))
    table.bulk_insert(src, C1)
    table.cluster(C2, sort_cols=["l_orderkey"], parquet_block_bytes=256 * 1024)
    return table


# --------------------------------------------------------------------------
# lineitem_evolved — partition-evolution fixture: the scripted repartition
# commit mid-timeline.
#   E1 bulk-insert dedup(lineitem)   (partition l_returnflag, 4 groups)
#   E2 update l_partkey % 10 = 0 → quantity += 100
#   E3 REPARTITION → partition l_linestatus, 3 file groups (rows unchanged,
#      commit stamps preserved; old layout stays time-travelable)
#   E4 delete l_suppkey % 17 = 0     (under the NEW layout — its delete
#      view must reconstruct against the repartition commit's slices)
# --------------------------------------------------------------------------
def lineitem_evolved_path(sf_dir: str) -> str:
    tag = scratch_tag(sf_dir)
    return os.path.join(SCRATCH_ROOT, "lake", tag, "lineitem_evolved")


def build_lineitem_evolved(spark: SparkSession, sf_dir: str, base_path: str | None = None) -> CowTable:
    """Build (or reuse) the scripted evolution timeline from lineitem."""
    base_path = base_path or lineitem_evolved_path(sf_dir)
    table = CowTable(
        spark,
        base_path,
        key_fields=LINEITEM_KEY,
        partition_field="l_returnflag",
        num_file_groups=4,
    )
    if table.timeline.timestamps() == [C1, C2, C3, C4]:
        return table
    import shutil

    shutil.rmtree(base_path, ignore_errors=True)
    os.makedirs(base_path, exist_ok=True)

    src = dedup_lineitem(spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")))
    table.bulk_insert(src, C1)
    updates = src.filter(F.expr(UPDATE_PRED_SQL)).withColumn(
        "l_quantity", F.col("l_quantity") + F.lit(100.0)
    )
    table.upsert(updates, C2)
    table.evolve_partitioning(C3, partition_field="l_linestatus", num_file_groups=3)
    table.delete_where(F.expr(DELETE_C3_PRED_SQL), C4)
    return table


# --------------------------------------------------------------------------
# orders_mor — MOR fixture (FIXTURES.md §2.2): base + delta logs
#   M1 bulk-insert orders; M2 delta-update (o_orderkey % 7 = 0 →
#   o_totalprice * 2); M3 delta-delete (o_orderkey % 11 = 0)
# --------------------------------------------------------------------------
MOR_UPDATE_PRED_SQL = "o_orderkey % 7 = 0"
MOR_DELETE_PRED_SQL = "o_orderkey % 11 = 0"


def orders_mor_path(sf_dir: str) -> str:
    tag = scratch_tag(sf_dir)
    return os.path.join(SCRATCH_ROOT, "lake", tag, "orders_mor")


def build_orders_mor(spark: SparkSession, sf_dir: str, base_path: str | None = None):
    from .mor import MorTable

    base_path = base_path or orders_mor_path(sf_dir)
    table = MorTable(
        spark,
        base_path,
        key_fields=["o_orderkey"],
        partition_field="o_orderstatus",
        num_file_groups=4,
    )
    if table.timeline.timestamps() == [C1, C2, C3]:
        return table
    import shutil

    shutil.rmtree(base_path, ignore_errors=True)
    os.makedirs(base_path, exist_ok=True)
    src = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    table.bulk_insert(src, C1)
    updates = src.filter(F.expr(MOR_UPDATE_PRED_SQL)).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    table.upsert_delta(updates, C2)
    table.delete_delta(
        src.filter(F.expr(MOR_DELETE_PRED_SQL)).select("o_orderkey", "o_orderstatus"), C3
    )
    return table


# --------------------------------------------------------------------------
# orders_mor_compacted — MOR fixture with a compaction mid-timeline:
#   M1 bulk-insert; M2 delta-update (o_orderkey % 7 = 0 → price * 2);
#   M3 delta-delete (o_orderkey % 11 = 0); M4 COMPACTION (logs → new base);
#   M5 delta-delete (o_orderkey % 13 = 0) — lives ONLY in fresh logs.
# Exercises (a) delete-view reconstruction across a compaction boundary
# (time travel to pre-compaction merged views) and (b) a log-resident
# delete stacked on a compacted base.
# --------------------------------------------------------------------------
MOR_DELETE2_PRED_SQL = "o_orderkey % 13 = 0"


def orders_mor_compacted_path(sf_dir: str) -> str:
    tag = scratch_tag(sf_dir)
    return os.path.join(SCRATCH_ROOT, "lake", tag, "orders_mor_compacted")


def build_orders_mor_compacted(spark: SparkSession, sf_dir: str, base_path: str | None = None):
    from .mor import MorTable

    base_path = base_path or orders_mor_compacted_path(sf_dir)
    table = MorTable(
        spark,
        base_path,
        key_fields=["o_orderkey"],
        partition_field="o_orderstatus",
        num_file_groups=4,
    )
    if table.timeline.timestamps() == [C1, C2, C3, C4, C5]:
        return table
    import shutil

    shutil.rmtree(base_path, ignore_errors=True)
    os.makedirs(base_path, exist_ok=True)
    src = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    table.bulk_insert(src, C1)
    updates = src.filter(F.expr(MOR_UPDATE_PRED_SQL)).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    table.upsert_delta(updates, C2)
    table.delete_delta(
        src.filter(F.expr(MOR_DELETE_PRED_SQL)).select("o_orderkey", "o_orderstatus"), C3
    )
    table.compact(C4)
    # deliberately includes keys already deleted at M3 (o_orderkey % 11 AND
    # % 13): delete_delta must drop those phantom tombstones so numDeletes
    # counts records actually deleted
    table.delete_delta(
        src.filter(F.expr(MOR_DELETE2_PRED_SQL)).select("o_orderkey", "o_orderstatus"), C5
    )
    return table


# --------------------------------------------------------------------------
# lineitem_merged — MERGE INTO fixture: one mixed-action commit.
#   G1 bulk-insert dedup(lineitem)
#   G2 MERGE: matched update  (l_partkey % 7 = 0 AND l_orderkey % 13 != 0,
#                              quantity += 50),
#             matched delete  (l_orderkey % 13 = 0),
#             not-matched insert (l_partkey % 19 = 0 AND l_orderkey % 13 != 0,
#                                 l_linenumber += 100 → guaranteed-new key)
# The three source parts are key-disjoint by construction, so the commit's
# per-row action is a pure function of the source predicates — the whole
# post-merge state (and the merge commit's delete view) is DuckDB-SQL.
# --------------------------------------------------------------------------
MERGE_UPDATE_PRED_SQL = "l_partkey % 7 = 0 AND l_orderkey % 13 != 0"
MERGE_DELETE_PRED_SQL = "l_orderkey % 13 = 0"
MERGE_INSERT_PRED_SQL = "l_partkey % 19 = 0 AND l_orderkey % 13 != 0"


def lineitem_merged_path(sf_dir: str) -> str:
    tag = scratch_tag(sf_dir)
    return os.path.join(SCRATCH_ROOT, "lake", tag, "lineitem_merged")


def build_lineitem_merged(spark: SparkSession, sf_dir: str, base_path: str | None = None) -> CowTable:
    base_path = base_path or lineitem_merged_path(sf_dir)
    table = CowTable(
        spark,
        base_path,
        key_fields=LINEITEM_KEY,
        partition_field="l_returnflag",
        num_file_groups=4,
    )
    if table.timeline.timestamps() == [C1, C2]:
        return table
    import shutil

    shutil.rmtree(base_path, ignore_errors=True)
    os.makedirs(base_path, exist_ok=True)
    src = dedup_lineitem(spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")))
    table.bulk_insert(src, C1)

    updates = src.filter(F.expr(MERGE_UPDATE_PRED_SQL)).withColumn(
        "l_quantity", F.col("l_quantity") + F.lit(50.0)
    )
    deletes = src.filter(F.expr(MERGE_DELETE_PRED_SQL))
    inserts = src.filter(F.expr(MERGE_INSERT_PRED_SQL)).withColumn(
        "l_linenumber", F.col("l_linenumber") + F.lit(100)
    )
    source = updates.unionByName(deletes).unionByName(inserts)
    table.merge_into(source, C2, delete_condition=MERGE_DELETE_PRED_SQL)
    return table


# --------------------------------------------------------------------------
# orders_mor_merged — MOR MERGE fixture: one mixed-action delta commit.
#   N1 bulk-insert orders
#   N2 merge_delta: update (o_orderkey % 7 = 0 AND % 11 != 0, price * 2),
#                   delete (o_orderkey % 11 = 0),
#                   insert (o_orderkey % 19 = 0 AND % 11 != 0,
#                           key + 11_000_000 — offset divisible by 11 so
#                           insert rows can never match the delete flag)
# --------------------------------------------------------------------------
MOR_MERGE_UPDATE_PRED_SQL = "o_orderkey % 7 = 0 AND o_orderkey % 11 != 0"
MOR_MERGE_DELETE_PRED_SQL = "o_orderkey % 11 = 0"
MOR_MERGE_INSERT_PRED_SQL = "o_orderkey % 19 = 0 AND o_orderkey % 11 != 0"
MOR_MERGE_INSERT_OFFSET = 11_000_000


def orders_mor_merged_path(sf_dir: str) -> str:
    tag = scratch_tag(sf_dir)
    return os.path.join(SCRATCH_ROOT, "lake", tag, "orders_mor_merged")


def build_orders_mor_merged(spark: SparkSession, sf_dir: str, base_path: str | None = None):
    from .mor import MorTable

    base_path = base_path or orders_mor_merged_path(sf_dir)
    table = MorTable(
        spark,
        base_path,
        key_fields=["o_orderkey"],
        partition_field="o_orderstatus",
        num_file_groups=4,
    )
    if table.timeline.timestamps() == [C1, C2]:
        return table
    import shutil

    shutil.rmtree(base_path, ignore_errors=True)
    os.makedirs(base_path, exist_ok=True)
    src = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    table.bulk_insert(src, C1)
    updates = src.filter(F.expr(MOR_MERGE_UPDATE_PRED_SQL)).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    deletes = src.filter(F.expr(MOR_MERGE_DELETE_PRED_SQL))
    inserts = src.filter(F.expr(MOR_MERGE_INSERT_PRED_SQL)).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(MOR_MERGE_INSERT_OFFSET)
    )
    table.merge_delta(
        updates.unionByName(deletes).unionByName(inserts),
        C2,
        delete_condition=MOR_MERGE_DELETE_PRED_SQL,
    )
    return table


# --------------------------------------------------------------------------
# lineitem_indexed — secondary value-bucket index fixture: one commit with
# index_columns=["l_partkey"] so equality probes prune files whose
# [min, max] ranges all overlap.
# --------------------------------------------------------------------------
def lineitem_indexed_path(sf_dir: str) -> str:
    tag = scratch_tag(sf_dir)
    return os.path.join(SCRATCH_ROOT, "lake", tag, "lineitem_indexed")


def build_lineitem_indexed(spark: SparkSession, sf_dir: str, base_path: str | None = None) -> CowTable:
    base_path = base_path or lineitem_indexed_path(sf_dir)
    table = CowTable(
        spark,
        base_path,
        key_fields=LINEITEM_KEY,
        partition_field="l_returnflag",
        num_file_groups=4,
        index_columns=["l_partkey"],
    )
    if table.timeline.timestamps() == [C1]:
        return table
    import shutil

    shutil.rmtree(base_path, ignore_errors=True)
    os.makedirs(base_path, exist_ok=True)
    src = dedup_lineitem(spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")))
    table.bulk_insert(src, C1)
    return table


# --------------------------------------------------------------------------
# signature_store — the incremental-dedup "persisted asset" as a REAL lake
# table: MinHash signatures/bands and the document text keyed by doc_id.
#   S1 bulk-insert signatures(base docs: doc_id % 5 != 0)
#   S2 upsert signatures of the increment's SURVIVORS (doc_id % 5 = 0 docs
#      that dedup against the store via minhash_dedup_incremental)
# The asset stays current commit-over-commit, and `incremental(S1)` reads
# exactly the survivor ids — the lake format and the dedup funnel closing
# the loop.
# --------------------------------------------------------------------------
def signature_store_path(sf_dir: str) -> str:
    tag = scratch_tag(sf_dir)
    return os.path.join(SCRATCH_ROOT, "lake", tag, "signature_store")


def build_signature_store(spark: SparkSession, sf_dir: str, base_path: str | None = None) -> CowTable:
    from ..operators.dedup import _signature_table, minhash_dedup_incremental

    base_path = base_path or signature_store_path(sf_dir)
    store = CowTable(
        spark, base_path, key_fields=["__id"], partition_field=None, num_file_groups=4
    )
    # a store written before signature tables carried __text is rebuilt
    if store.timeline.timestamps() == [C1, C2] and "__text" in store.snapshot().columns:
        return store
    import shutil

    shutil.rmtree(base_path, ignore_errors=True)
    os.makedirs(base_path, exist_ok=True)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base = docs.filter(F.col("doc_id") % 5 != 0)
    inc = docs.filter(F.col("doc_id") % 5 == 0)
    store.bulk_insert(_signature_table(base, "doc_id", "text", 5, 64, 16), C1)
    base_sig = store.snapshot().select("__id", "__text", "__sig", "__bands")
    survivors = minhash_dedup_incremental(base, inc, "doc_id", "text", base_sig=base_sig)
    store.upsert(_signature_table(survivors, "doc_id", "text", 5, 64, 16), C2)
    return store


# --------------------------------------------------------------------------
# Persisted VECTOR store (SURVEY §12 round-6 item 3): the embeddings
# analogue of the signature store — the ANN/SemDeDup corpus state as TWO
# real lake tables: per-vector rows (assignment + raw vector + int8
# codes) keyed by vec_id, and the KB-sized centroid table keyed by cid.
# C1 bulk-inserts the settled base corpus; the increment dedups against
# the STORE's snapshot (centroids and base assignments READ, never
# re-trained/re-assigned) and C2 upserts the surviving increment rows —
# so ``incremental(C1)`` is exactly the admitted vectors and the
# snapshot is the current serving asset (raw vectors = source of truth
# for exact re-scoring, int8 codes = the 4x-smaller serving tier).
# --------------------------------------------------------------------------
def vector_store_path(sf_dir: str) -> str:
    tag = scratch_tag(sf_dir)
    return os.path.join(SCRATCH_ROOT, "lake", tag, "vector_store")


def build_vector_store(
    spark: SparkSession, sf_dir: str, base_path: str | None = None
) -> tuple[CowTable, CowTable]:
    from ..operators.similarity import (
        _assign,
        as_double_array,
        ivf_centroids,
        quantize_int8,
        semantic_dedup_incremental,
    )

    root = base_path or vector_store_path(sf_dir)
    store = CowTable(
        spark, os.path.join(root, "vectors"), key_fields=["vec_id"],
        partition_field=None, num_file_groups=4,
    )
    cents = CowTable(
        spark, os.path.join(root, "centroids"), key_fields=["cid"],
        partition_field=None, num_file_groups=1,
    )
    if store.timeline.timestamps() == [C1, C2] and cents.timeline.timestamps() == [C1]:
        return store, cents
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    base = emb.filter(F.col("vec_id") % 5 != 0)
    inc = emb.filter(F.col("vec_id") % 5 == 0)
    cents.bulk_insert(ivf_centroids(base, "vec_id", "embedding", nlist=16, iters=2), C1)
    cent_read = cents.snapshot().select("cid", "cvec")

    def _rows(df):
        v = df.select(F.col("vec_id").alias("__vid"), as_double_array("embedding").alias("__v"))
        asg = _assign(v, cent_read)
        q = quantize_int8(df, "vec_id", "embedding")
        return asg.select(
            F.col("__vid").alias("vec_id"), "cid", F.col("__v").alias("embedding")
        ).join(q.select("vec_id", "scale", "qvec"), "vec_id")

    store.bulk_insert(_rows(base), C1)
    base_asg = store.snapshot().select(
        F.col("vec_id").alias("__vid"), F.col("embedding").alias("__v"), "cid"
    )
    surv = semantic_dedup_incremental(
        base, inc, "vec_id", "embedding", nlist=16, iters=2, threshold=0.4,
        centroids=cent_read, base_asg=base_asg,
    )
    inc_keep = inc.join(surv.select("vec_id"), "vec_id", "left_semi")
    store.upsert(_rows(inc_keep), C2)
    return store, cents


# --------------------------------------------------------------------------
# customer_cow — 3-commit COW dim from customer (the staged-view third
# table): C1 bulk-insert; C2 update (c_custkey % 13 = 0 → c_acctbal
# + 1000); C3 delete (c_custkey % 19 = 0).  Oracles replay the same
# script over the raw parquet.
# --------------------------------------------------------------------------
CUST_UPDATE_PRED_SQL = "c_custkey % 13 = 0"
CUST_DELETE_PRED_SQL = "c_custkey % 19 = 0"


def customer_cow_path(sf_dir: str) -> str:
    tag = scratch_tag(sf_dir)
    return os.path.join(SCRATCH_ROOT, "lake", tag, "customer_cow")


def build_customer_cow(spark: SparkSession, sf_dir: str, base_path: str | None = None) -> CowTable:
    base_path = base_path or customer_cow_path(sf_dir)
    table = CowTable(
        spark,
        base_path,
        key_fields=["c_custkey"],
        partition_field=None,
        num_file_groups=4,
    )
    if table.timeline.timestamps() == [C1, C2, C3]:
        return table
    import shutil

    shutil.rmtree(base_path, ignore_errors=True)
    os.makedirs(base_path, exist_ok=True)
    src = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    table.bulk_insert(src, C1)
    updates = src.filter(F.expr(CUST_UPDATE_PRED_SQL)).withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(1000.0)
    )
    table.upsert(updates, C2)
    table.delete_where(F.expr(CUST_DELETE_PRED_SQL), C3)
    return table


# --------------------------------------------------------------------------
# part_cow — scripted 3-commit part dimension (star-join fixture):
#   C1 bulk-insert; C2 update (p_partkey % 5 = 0 → retailprice + 100);
#   C3 delete (p_partkey % 23 = 0).
# --------------------------------------------------------------------------
PART_UPDATE_PRED_SQL = "p_partkey % 5 = 0"
PART_DELETE_PRED_SQL = "p_partkey % 23 = 0"


def part_cow_path(sf_dir: str) -> str:
    tag = scratch_tag(sf_dir)
    return os.path.join(SCRATCH_ROOT, "lake", tag, "part_cow")


def build_part_cow(spark: SparkSession, sf_dir: str, base_path: str | None = None) -> CowTable:
    base_path = base_path or part_cow_path(sf_dir)
    table = CowTable(
        spark,
        base_path,
        key_fields=["p_partkey"],
        partition_field=None,
        num_file_groups=4,
    )
    if table.timeline.timestamps() == [C1, C2, C3]:
        return table
    import shutil

    shutil.rmtree(base_path, ignore_errors=True)
    os.makedirs(base_path, exist_ok=True)
    src = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    table.bulk_insert(src, C1)
    updates = src.filter(F.expr(PART_UPDATE_PRED_SQL)).withColumn(
        "p_retailprice", F.col("p_retailprice") + F.lit(100.0)
    )
    table.upsert(updates, C2)
    table.delete_where(F.expr(PART_DELETE_PRED_SQL), C3)
    return table
