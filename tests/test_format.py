"""Table-format core: bulk insert, upsert, delete, snapshot, time travel,
incremental — golden lifecycle tests (SURVEY §5 item 2)."""

import os

import pytest
from pyspark.sql import functions as F

from hudi_delete_view_spark.sources.fixtures import LINEITEM_KEY
from hudi_delete_view_spark.plans.timeline import Timeline, TimelineError
from hudi_delete_view_spark.sources.cow import (
    COMMIT_TIME_FIELD,
    FILE_NAME_FIELD,
    META_FIELDS,
    RECORD_KEY_FIELD,
    CowTable,
)

C1, C2, C3 = "20260101000000", "20260102000000", "20260103000000"


@pytest.fixture()
def table(spark, lineitem, scratch):
    t = CowTable(
        spark,
        os.path.join(scratch, "tbl"),
        key_fields=LINEITEM_KEY,
        partition_field="l_returnflag",
        num_file_groups=4,
    )
    t.bulk_insert(lineitem, C1)
    return t


def test_bulk_insert_snapshot_roundtrip(table, lineitem):
    snap = table.snapshot()
    assert snap.count() == lineitem.count()
    assert [c for c in snap.columns[:5]] == META_FIELDS
    # payload survives byte-for-byte
    assert (
        snap.select(*lineitem.columns).exceptAll(lineitem).count() == 0
        and lineitem.exceptAll(snap.select(*lineitem.columns)).count() == 0
    )
    # record keys unique
    assert snap.select(RECORD_KEY_FIELD).distinct().count() == lineitem.count()


def test_commit_stats_bulk_insert(table, lineitem):
    meta = table.timeline.commit_metadata(C1)
    stats = [s for _, s in meta.all_stats()]
    assert sum(s.num_writes for s in stats) == lineitem.count()
    assert all(s.prev_commit is None for s in stats)
    assert all(s.num_deletes == 0 for s in stats)
    # 3 partitions (A/N/R) x up to 4 file groups
    assert set(meta.partition_to_write_stats) == {"A", "N", "R"}


def test_upsert_updates_and_inserts(table, lineitem, spark):
    updates = lineitem.filter("l_partkey % 10 = 0").withColumn(
        "l_quantity", F.col("l_quantity") + F.lit(100.0)
    )
    n_updates = updates.count()
    meta = table.upsert(updates, C2)
    stats = [s for _, s in meta.all_stats()]
    assert sum(s.num_update_writes for s in stats) == n_updates
    assert sum(s.num_inserts for s in stats) == 0
    snap = table.snapshot()
    assert snap.count() == lineitem.count()
    got = snap.filter("l_partkey % 10 = 0").agg(F.sum("l_quantity")).first()[0]
    want = lineitem.filter("l_partkey % 10 = 0").agg(F.sum("l_quantity") + 100.0 * F.count("*")).first()[0]
    assert abs(got - want) < 1e-6
    # unchanged rows keep their original commit time (incremental contract)
    unchanged = snap.filter("l_partkey % 10 != 0")
    assert unchanged.filter(F.col(COMMIT_TIME_FIELD) != C1).count() == 0


def test_delete_and_stats(table, lineitem):
    n_del = lineitem.filter("l_suppkey % 17 = 0").count()
    meta = table.delete_where("l_suppkey % 17 = 0", C2)
    assert meta.total_records_deleted == n_del
    snap = table.snapshot()
    assert snap.count() == lineitem.count() - n_del
    assert snap.filter("l_suppkey % 17 = 0").count() == 0


def test_time_travel_and_incremental(table, lineitem):
    updates = lineitem.filter("l_partkey % 10 = 0").withColumn(
        "l_quantity", F.col("l_quantity") + F.lit(100.0)
    )
    table.upsert(updates, C2)
    table.delete_where("l_suppkey % 17 = 0", C3)

    # as-of C1: the original table
    asof1 = table.snapshot(as_of=C1)
    assert asof1.count() == lineitem.count()
    assert asof1.filter(F.col(COMMIT_TIME_FIELD) != C1).count() == 0
    # as-of C2: updates applied, nothing deleted
    asof2 = table.snapshot(as_of=C2)
    assert asof2.count() == lineitem.count()
    # incremental (C1, C2]: exactly the updated rows
    inc = table.incremental(C1, C2)
    assert inc.count() == updates.count()
    assert inc.filter("l_partkey % 10 != 0").count() == 0

    with pytest.raises(TimelineError):
        table.snapshot(as_of="19990101000000")


def test_new_partition_and_new_keys_upsert(table, lineitem, spark):
    newrows = (
        lineitem.limit(5)
        .withColumn("l_orderkey", F.col("l_orderkey") + F.lit(10_000_000))
        .withColumn("l_returnflag", F.lit("Z"))
    )
    meta = table.upsert(newrows, C2)
    stats = [s for _, s in meta.all_stats()]
    assert sum(s.num_inserts for s in stats) == 5
    assert sum(s.num_update_writes for s in stats) == 0
    snap = table.snapshot()
    assert snap.count() == lineitem.count() + 5
    assert snap.filter("l_returnflag = 'Z'").count() == 5


def test_empty_table_errors(spark, scratch):
    t = CowTable(spark, os.path.join(scratch, "none"), key_fields=["x"])
    with pytest.raises(TimelineError):
        t.snapshot()
    assert Timeline(os.path.join(scratch, "none")).instants() == []


def test_schema_evolution_add_column(spark, scratch):
    """A later commit may add columns (SURVEY §1.2: schema is fixed within
    a commit, evolvable across commits): old rows surface the new column
    as null; old slices and new slices merge in one snapshot."""
    from hudi_delete_view_spark.sources.cow import CowTable

    t = CowTable(spark, os.path.join(scratch, "evo"), key_fields=["k"],
                 partition_field="p", num_file_groups=2)
    t.bulk_insert(spark.createDataFrame([(i, "p0", i * 10) for i in range(10)],
                                        ["k", "p", "v"]), "20280101000000")
    t.upsert(spark.createDataFrame([(3, "p0", 999, "extra")],
                                   ["k", "p", "v", "note"]), "20280102000000")
    snap = t.snapshot()
    assert "note" in snap.columns
    rows = {r["k"]: (r["v"], r["note"]) for r in snap.select("k", "v", "note").collect()}
    assert rows[3] == (999, "extra")
    assert rows[2] == (20, None)
    assert snap.count() == 10
    # time travel before the evolution sees the old schema
    old = t.snapshot(as_of="20280101000000")
    assert "note" not in old.columns


def test_stats_pruned_scan(spark, scratch):
    """File-level data skipping: a range predicate on a clustered column
    must skip files whose [min, max] cannot match, and the scan result
    must equal the full snapshot filter."""
    from hudi_delete_view_spark.sources.cow import CowTable

    t = CowTable(spark, os.path.join(scratch, "pruned"), key_fields=["k"],
                 partition_field="band", num_file_groups=1, stats_columns=["k", "band"])
    # 4 partitions x 1 group; k clustered by partition -> tight per-file stats
    rows = [(k, f"b{k // 100}", k * 2) for k in range(400)]
    t.bulk_insert(spark.createDataFrame(rows, ["k", "band", "v"]), "20290101000000")

    kept, total = t.pruned_files({"k": (120, 180)})
    assert total == 4
    assert len(kept) == 1  # only the b1 file overlaps [120, 180]

    got = sorted(r["k"] for r in t.scan({"k": (120, 180)}).select("k").collect())
    want = sorted(r["k"] for r in t.snapshot().filter("k between 120 and 180").select("k").collect())
    assert got == want == list(range(120, 181))

    # string column pruning (partition value is min == max per file)
    kept_b, _ = t.pruned_files({"band": ("b2", "b2")})
    assert len(kept_b) == 1

    # conservative: unknown column prunes nothing
    kept_u, _ = t.pruned_files({"unknown_col": (0, 1)})
    assert len(kept_u) == 4


def test_cleaner_retention(spark, scratch, lineitem):
    """clean(retain_last_n=2) removes only files that no retained snapshot
    references; recent snapshots and time travel within retention work;
    older time travel loses its files (by design)."""
    from hudi_delete_view_spark.sources.cow import CowTable

    t = CowTable(spark, os.path.join(scratch, "cleaned"), key_fields=["k"],
                 partition_field="p", num_file_groups=2)
    df = spark.createDataFrame([(i, "p0", i) for i in range(100)], ["k", "p", "v"])
    t.bulk_insert(df, "20300101000000")
    t.upsert(df.withColumn("v", F.col("v") + 1), "20300102000000")  # rewrites all groups
    t.upsert(df.withColumn("v", F.col("v") + 2), "20300103000000")

    doomed = t.clean(retain_last_n=2, dry_run=True)
    assert len(doomed) == 2  # the two C1 slices, superseded twice
    assert all("20300101000000" in p for p in doomed)

    deleted = t.clean(retain_last_n=2)
    assert deleted == doomed
    assert all(not os.path.exists(p) for p in deleted)
    # retained snapshots intact
    assert t.snapshot().count() == 100
    assert t.snapshot(as_of="20300102000000").count() == 100
    assert {r["v"] for r in t.snapshot().filter("k = 5").collect()} == {7}


def test_partition_values_with_underscores(spark, scratch):
    """File ids embed the partition value verbatim (fg-<partition>-<n>),
    so extraction must survive '_' in partition values: upsert must rewrite
    the SAME file group (no duplicate rows), delete must prune the right
    group, and the delete view must reconstruct."""
    t = CowTable(
        spark,
        os.path.join(scratch, "uscore"),
        key_fields=["k"],
        partition_field="p",
        num_file_groups=2,
    )
    rows = [(i, f"P_{i % 3}_X", i * 10) for i in range(60)]
    df = spark.createDataFrame(rows, "k int, p string, v int")
    t.bulk_insert(df, "20260101000000")

    # upsert: survivors must land back in their original file group
    ups = spark.createDataFrame([(5, "P_2_X", 999)], "k int, p string, v int")
    t.upsert(ups, "20260102000000")
    snap = t.snapshot()
    assert snap.count() == 60  # a truncated fid would duplicate rows
    assert snap.filter("k = 5").first()["v"] == 999

    # delete + delete view over an underscore partition
    from hudi_delete_view_spark.sources.delete_view import delete_view

    t.delete(df.filter("k % 10 = 0"), "20260103000000")
    assert t.snapshot().count() == 54
    dv = delete_view(spark, t.base_path, "20260103000000")
    assert dv.count() == 6
    assert {r["k"] for r in dv.select("k").collect()} == {0, 10, 20, 30, 40, 50}


def test_cdc_net_effect(spark, scratch):
    """cdc(begin, end): inserts carry after-images, updates after-images,
    deletes before-images at the range start, each stamped with its
    change commit; schema evolution mid-range aligns with NULLs."""
    t = CowTable(
        spark, os.path.join(scratch, "cdc"), key_fields=["k"],
        partition_field="p", num_file_groups=2,
    )
    T1, T2, T3 = "20270101000000", "20270102000000", "20270103000000"
    df = spark.createDataFrame(
        [(k, f"p{k % 2}", k * 10) for k in range(10)], "k int, p string, v int"
    )
    t.bulk_insert(df, T1)
    # T2: update k=1 (v -> 999), insert k=100/101, add column 'extra'
    t.upsert(
        spark.createDataFrame(
            [(1, "p1", 999, "x1"), (100, "p0", 1000, "x100"), (101, "p1", 1010, None)],
            "k int, p string, v int, extra string",
        ),
        T2,
    )
    # T3: delete k=2 (never updated) and k=100 (inserted in range)
    t.delete(spark.createDataFrame([(2, "p0"), (100, "p0")], "k int, p string"), T3)

    rows = {r["k"]: r for r in t.cdc(T1, T3).collect()}
    # k=1 updated; k=101 inserted; k=2 deleted; k=100 inserted-then-deleted
    # nets to NOTHING (absent at both boundaries); untouched keys absent
    assert rows[1]["op"] == "update" and rows[1]["v"] == 999 and rows[1]["extra"] == "x1"
    assert rows[1]["change_commit"] == T2
    assert rows[101]["op"] == "insert" and rows[101]["v"] == 1010
    assert rows[101]["change_commit"] == T2
    assert rows[2]["op"] == "delete" and rows[2]["v"] == 20
    assert rows[2]["extra"] is None  # before-image predates the column
    assert rows[2]["change_commit"] == T3
    assert 100 not in rows
    assert set(rows) == {1, 2, 101}


def test_cdc_update_preimages(spark, scratch):
    """include_update_preimages adds a retraction row per update carrying
    the begin-boundary image, stamped like its postimage."""
    t = CowTable(
        spark, os.path.join(scratch, "cdc_pre"), key_fields=["k"],
        partition_field="p", num_file_groups=2,
    )
    T1, T2 = "20270201000000", "20270202000000"
    t.bulk_insert(
        spark.createDataFrame([(k, "p0", k * 10) for k in range(4)], "k int, p string, v int"),
        T1,
    )
    t.upsert(spark.createDataFrame([(1, "p0", 999)], "k int, p string, v int"), T2)

    rows = t.cdc(T1, T2, include_update_preimages=True).collect()
    by_op = {}
    for r in rows:
        by_op.setdefault(r["op"], []).append(r)
    assert len(by_op["update"]) == 1 and by_op["update"][0]["v"] == 999
    pre = by_op["update_preimage"][0]
    assert pre["v"] == 10 and pre["k"] == 1
    assert pre["change_commit"] == T2
    assert set(by_op) == {"update", "update_preimage"}


def test_cdc_change_pruned_plan(spark, scratch):
    """Plan pin for the change-proportional CDC diff: the end-side scan
    carries the commit-time predicate as a PUSHED parquet filter (survivors
    keep their original stamp, so untouched row groups skip on min/max
    stats), and the begin side is pruned by a LeftSemi join against the
    contributing keys. If either disappears, the diff silently degrades to
    shuffling both FULL boundary snapshots."""
    import io
    from contextlib import redirect_stdout

    t = CowTable(
        spark, os.path.join(scratch, "cdc_plan"), key_fields=["k"],
        partition_field="p", num_file_groups=2,
    )
    T1, T2 = "20270101000000", "20270102000000"
    t.bulk_insert(
        spark.createDataFrame([(k, f"p{k % 2}", k * 10) for k in range(10)],
                              "k int, p string, v int"),
        T1,
    )
    t.upsert(spark.createDataFrame([(1, "p1", 999)], "k int, p string, v int"), T2)
    buf = io.StringIO()
    with redirect_stdout(buf):
        t.cdc(T1, T2).explain("formatted")
    plan = buf.getvalue()
    assert "LeftSemi" in plan, plan
    pushed = [ln for ln in plan.splitlines()
              if "PushedFilters" in ln and "GreaterThan(_hoodie_commit_time" in ln]
    assert pushed, plan


def test_snapshot_plans_published_schema(spark, scratch):
    """Metadata-only scan planning: snapshot reads with the schema the
    table PUBLISHED at the commit (no footer inference / mergeSchema union
    pass), so a partition-pruned snapshot whose files all predate a column
    addition still surfaces the column — as NULLs — exactly like the full
    snapshot. Pins both the behavior and the schema source."""
    import json

    from pyspark.sql.types import StructType

    t = CowTable(
        spark, os.path.join(scratch, "pubsch"), key_fields=["k"],
        partition_field="p", num_file_groups=2,
    )
    T1, T2 = "20270101000000", "20270102000000"
    t.bulk_insert(
        spark.createDataFrame([(k, f"p{k % 2}", k * 10) for k in range(10)],
                              "k int, p string, v int"),
        T1,
    )
    # adds column 'extra', rewriting ONLY the p1 group
    t.upsert(
        spark.createDataFrame([(1, "p1", 999, "x1")], "k int, p string, v int, extra string"),
        T2,
    )
    published = StructType.fromJson(
        json.loads(t.timeline.commit_metadata(T2).schema_json)
    )
    snap = t.snapshot()
    assert snap.schema == published
    pruned = t.snapshot(partitions=["p0"])  # p0 files predate 'extra'
    assert "extra" in pruned.columns
    rows = pruned.select("k", "extra").collect()
    assert rows and all(r["extra"] is None for r in rows)
    # time travel to T1 serves the schema published THEN (no 'extra')
    assert "extra" not in t.snapshot(as_of=T1).columns


def test_clustering_rewrite(spark, scratch):
    """cluster(): rows identical (meta stamps included), files sorted by
    the cluster key, per-row-group min/max spans disjoint after the
    rewrite, and incremental reads see no changes from the commit."""
    import pyarrow.parquet as pq
    from hudi_delete_view_spark.sources.cow import resolve_slices

    t = CowTable(
        spark, os.path.join(scratch, "clus"), key_fields=["k"],
        partition_field=None, num_file_groups=1,
    )
    T1, T2 = "20270301000000", "20270302000000"
    import random
    rnd = random.Random(7)
    rows = [(k, rnd.randint(0, 10**6)) for k in range(20000)]
    t.bulk_insert(spark.createDataFrame(rows, "k int, v int"), T1)
    before = sorted(r["k"] for r in t.snapshot().select("k").collect())

    t.cluster(T2, sort_cols=["v"], parquet_block_bytes=64 * 1024)
    after = t.snapshot()
    assert sorted(r["k"] for r in after.select("k").collect()) == before
    # commit stamps preserved -> incremental over (T1, T2] is empty
    assert t.incremental(T1, T2).count() == 0
    # the clustered file is sorted by v with non-overlapping row groups
    slices = resolve_slices(t.timeline)
    path = os.path.join(t.base_path, next(iter(slices.values())).base_path)
    md = pq.ParquetFile(path).metadata
    assert md.num_row_groups > 1, "block size should force multiple row groups"
    col = next(i for i in range(md.num_columns)
               if md.row_group(0).column(i).path_in_schema == "v")
    spans = [
        (md.row_group(g).column(col).statistics.min,
         md.row_group(g).column(col).statistics.max)
        for g in range(md.num_row_groups)
    ]
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"row groups overlap: {(lo1, hi1)} then {(lo2, hi2)}"
    # stats-based scan on the cluster key returns exact rows
    got = sorted(r["k"] for r in t.scan({"v": (0, 1000)}).select("k").collect())
    want = sorted(k for k, v in rows if v <= 1000)
    assert got == want


def test_rollback_and_restore(spark, scratch):
    """rollback() retires the latest commit (files + timeline, audit
    record kept); restore() unwinds to an older instant; mid-timeline
    rollback is refused."""
    from hudi_delete_view_spark.plans.timeline import TimelineError

    t = CowTable(
        spark, os.path.join(scratch, "rb"), key_fields=["k"],
        partition_field=None, num_file_groups=2,
    )
    T1, T2, T3 = "20270401000000", "20270402000000", "20270403000000"
    t.bulk_insert(
        spark.createDataFrame([(k, k * 10) for k in range(10)], "k int, v int"), T1
    )
    t.upsert(spark.createDataFrame([(1, 999), (100, 1000)], "k int, v int"), T2)
    t.delete(spark.createDataFrame([(2,)], "k int"), T3)
    assert t.snapshot().count() == 10  # 10 + 1 insert - 1 delete

    with pytest.raises(TimelineError):
        t.rollback(T2)  # not the latest

    removed = t.rollback(T3)
    assert removed and t.timeline.timestamps() == [T1, T2]
    vals = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert vals[2] == 20 and vals[1] == 999 and vals[100] == 1000
    # audit record survives
    assert os.path.exists(os.path.join(t.base_path, ".hoodie", f"{T3}.commit.rolledback"))

    t.restore(T1)
    assert t.timeline.timestamps() == [T1]
    vals = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert vals == {k: k * 10 for k in range(10)}


def test_rollback_mor_delta(spark, scratch):
    """MOR: rolling back a delta commit removes only its log file; the
    merged view reverts."""
    from hudi_delete_view_spark.sources.mor import MorTable

    t = MorTable(
        spark, os.path.join(scratch, "rbm"), key_fields=["k"],
        partition_field=None, num_file_groups=1,
    )
    T1, T2 = "20270405000000", "20270406000000"
    t.bulk_insert(
        spark.createDataFrame([(k, k) for k in range(6)], "k int, v int"), T1
    )
    t.upsert_delta(spark.createDataFrame([(0, 99)], "k int, v int"), T2)
    assert {r["v"] for r in t.snapshot().filter("k = 0").collect()} == {99}
    t.rollback(T2)
    assert {r["v"] for r in t.snapshot().filter("k = 0").collect()} == {0}
    assert t.timeline.timestamps() == [T1]


def test_zorder_clustering_prunes_both_dims(spark, scratch):
    """Z-order vs linear sort: for a 2-D range predicate, count the row
    groups whose [min, max] stats overlap BOTH bounds. A linear x-sort
    leaves y full-range in every row group; the Morton layout must skip
    strictly more row groups, with rows identical."""
    import pyarrow.parquet as pq
    from hudi_delete_view_spark.sources.cow import resolve_slices

    import random
    rnd = random.Random(11)
    rows = [(k, rnd.randint(0, 999), rnd.randint(0, 999)) for k in range(30000)]

    def build(name, **cluster_kw):
        t = CowTable(
            spark, os.path.join(scratch, name), key_fields=["k"],
            partition_field=None, num_file_groups=1,
        )
        t.bulk_insert(spark.createDataFrame(rows, "k int, x int, y int"), "20270501000000")
        t.cluster("20270502000000", parquet_block_bytes=48 * 1024, **cluster_kw)
        return t

    def overlapping_row_groups(t, x_rng, y_rng):
        s = next(iter(resolve_slices(t.timeline).values()))
        md = pq.ParquetFile(os.path.join(t.base_path, s.base_path)).metadata
        idx = {md.row_group(0).column(i).path_in_schema: i for i in range(md.num_columns)}
        n = 0
        for g in range(md.num_row_groups):
            sx = md.row_group(g).column(idx["x"]).statistics
            sy = md.row_group(g).column(idx["y"]).statistics
            if sx.min <= x_rng[1] and sx.max >= x_rng[0] and sy.min <= y_rng[1] and sy.max >= y_rng[0]:
                n += 1
        return n, md.num_row_groups

    linear = build("zl", sort_cols=["x", "y"])
    zord = build("zz", sort_cols=["x", "y"], zorder=True)
    # same rows either way
    assert sorted(r["k"] for r in zord.snapshot().select("k").collect()) == sorted(
        r["k"] for r in linear.snapshot().select("k").collect()
    )
    x_rng, y_rng = (100, 200), (100, 200)
    n_lin, total_lin = overlapping_row_groups(linear, x_rng, y_rng)
    n_z, total_z = overlapping_row_groups(zord, x_rng, y_rng)
    assert total_lin > 4 and total_z > 4
    # linear: x prunes (~10% of groups) but y never does; zorder prunes on
    # both dims, so it must touch strictly fewer row groups
    assert n_z < n_lin, f"zorder {n_z}/{total_z} vs linear {n_lin}/{total_lin}"
    # the decisive case — a predicate on the SECOND dimension only: the
    # linear layout cannot prune at all (every row group spans full y),
    # while the Z-curve keeps y moderately tight everywhere
    full = (0, 999)
    n_lin_y, _ = overlapping_row_groups(linear, full, y_rng)
    n_z_y, _ = overlapping_row_groups(zord, full, y_rng)
    assert n_lin_y == total_lin, "x-sorted layout should be unable to prune on y"
    assert n_z_y < total_z / 2, f"zorder y-only pruning too weak: {n_z_y}/{total_z}"
    # and the scan itself returns the exact predicate rows
    got = zord.scan({"x": x_rng, "y": y_rng}).count()
    want = sum(1 for _k, x, y in rows if 100 <= x <= 200 and 100 <= y <= 200)
    assert got == want


def test_point_lookup_reads_one_group(spark, scratch):
    """lookup() routes each key to its single hash-assigned file group and
    scans only those files."""
    t = CowTable(
        spark, os.path.join(scratch, "pl"), key_fields=["a", "b"],
        partition_field="p", num_file_groups=8,
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(k, k * 2, f"p{k % 3}", k * 10) for k in range(300)],
            "a int, b int, p string, v int",
        ),
        "20270601000000",
    )
    got = {(r["a"], r["b"]): r["v"] for r in t.lookup([(5, 10, "p2"), (7, 14, "p1")]).collect()}
    assert got == {(5, 10): 50, (7, 14): 70}
    # a key that was never written returns nothing (its group exists)
    assert t.lookup([(999, 999, "p0")]).count() == 0
    # the planned scan touches at most one file group per key
    plan = t.lookup([(5, 10, "p2")])._jdf.queryExecution().executedPlan().toString()
    import re as _re
    n_files = len(set(_re.findall(r"fg-[^,\]\s]+_\d+-\d+-\d+_\d+\.parquet", plan)))
    assert n_files <= 1 or "fg-p2" in plan


def test_mor_cdc_preimages(spark, scratch):
    """MOR inherits CDC preimages: the before-image of a delta update is
    the merged view at the range start."""
    from hudi_delete_view_spark.sources.mor import MorTable

    t = MorTable(
        spark, os.path.join(scratch, "morpre"), key_fields=["k"],
        partition_field=None, num_file_groups=1,
    )
    T1, T2 = "20270701000000", "20270702000000"
    t.bulk_insert(spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"), T1)
    t.upsert_delta(spark.createDataFrame([(1, 99)], "k int, v int"), T2)
    rows = {(r["op"]): r for r in t.cdc(T1, T2, include_update_preimages=True).collect()}
    assert rows["update"]["v"] == 99
    assert rows["update_preimage"]["v"] == 10
    assert rows["update_preimage"]["change_commit"] == T2


def test_mor_point_lookup_sees_log_updates_and_tombstones(spark, scratch):
    """MOR lookup must merge delta logs: a base-only read would serve
    stale values and resurrect deleted keys."""
    from hudi_delete_view_spark.sources.mor import MorTable

    t = MorTable(
        spark, os.path.join(scratch, "plm"), key_fields=["k"],
        partition_field=None, num_file_groups=4,
    )
    T1, T2, T3 = "20270801000000", "20270802000000", "20270803000000"
    t.bulk_insert(spark.createDataFrame([(k, k) for k in range(20)], "k int, v int"), T1)
    t.upsert_delta(spark.createDataFrame([(3, 999)], "k int, v int"), T2)
    t.delete_delta(spark.createDataFrame([(4,)], "k int"), T3)

    assert {r["v"] for r in t.lookup([(3,)]).collect()} == {999}
    assert t.lookup([(4,)]).count() == 0
    # log-only group: first write of a fresh key via delta commit
    t.upsert_delta(spark.createDataFrame([(1000, 7)], "k int, v int"), "20270804000000")
    assert {r["v"] for r in t.lookup([(1000,)]).collect()} == {7}


def test_occ_conflicting_writers(spark, scratch):
    """Two writers from the same snapshot: the second to publish loses iff
    it touches a file group the first rewrote; group-disjoint commits both
    land. Simulated by interleaving operations on two table handles."""
    from hudi_delete_view_spark.sources.cow import ConcurrentCommitError

    base = os.path.join(scratch, "occ")
    a = CowTable(spark, base, key_fields=["k"], partition_field="p", num_file_groups=2)
    a.bulk_insert(
        spark.createDataFrame([(k, f"p{k % 2}", k) for k in range(20)], "k int, p string, v int"),
        "20270901000000",
    )
    b = CowTable(spark, base, key_fields=["k"], partition_field="p", num_file_groups=2)

    # writer A commits first; writer B (same read snapshot, overlapping
    # key -> same group) must be rejected at publish
    a.upsert(spark.createDataFrame([(0, "p0", 100)], "k int, p string, v int"), "20270902000000")
    # b's handle still holds the old timeline view; its upsert re-reads the
    # timeline at operation start, so emulate a stale read by racing the
    # same logical operation through the OCC gate directly
    with pytest.raises(ConcurrentCommitError):
        b._publish(
            "20270901500000", "upsert", written={}, prev_slices={},
        )  # not newer than A's commit -> monotonicity conflict

    # stale-view overlap conflict: B resolved before A's commit
    with pytest.raises(ConcurrentCommitError):
        b._occ_check(
            "20270903000000",
            groups={("p0", "fg-p0-0"), ("p0", "fg-p0-1")},
            read_ts="20270901000000",
        )
    # disjoint groups from the same stale view pass
    b._occ_check(
        "20270903000000", groups={("p1", "fg-p1-0")}, read_ts="20270901000000"
    )


def test_occ_mor_delta_vs_compaction(spark, scratch):
    """A delta writer whose view predates a compaction of the same group
    conflicts; a delta on an untouched group does not."""
    from hudi_delete_view_spark.sources.cow import ConcurrentCommitError
    from hudi_delete_view_spark.sources.mor import MorTable

    t = MorTable(
        spark, os.path.join(scratch, "occm"), key_fields=["k"],
        partition_field="p", num_file_groups=1,
    )
    t.bulk_insert(
        spark.createDataFrame([(k, f"p{k % 2}", k) for k in range(10)], "k int, p string, v int"),
        "20271001000000",
    )
    t.upsert_delta(
        spark.createDataFrame([(0, "p0", 99)], "k int, p string, v int"), "20271002000000"
    )
    t.compact("20271003000000")
    with pytest.raises(ConcurrentCommitError):
        t._occ_check(
            "20271004000000", groups={("p0", "fg-p0-0")}, read_ts="20271002000000"
        )
    t._occ_check("20271004000000", groups={("p9", "fg-p9-0")}, read_ts="20271002000000")


def test_same_timestamp_retry_cannot_clobber_published_commit(spark, scratch):
    """A retry reusing an already-published commit timestamp must fail at
    the pre-flight, BEFORE any file write — and the published commit's
    data must remain fully readable afterwards."""
    from hudi_delete_view_spark.sources.cow import ConcurrentCommitError

    t = CowTable(
        spark, os.path.join(scratch, "samets"), key_fields=["k"],
        partition_field=None, num_file_groups=2,
    )
    T1, T2 = "20271101000000", "20271102000000"
    t.bulk_insert(
        spark.createDataFrame([(k, k) for k in range(10)], "k int, v int"), T1
    )
    t.upsert(spark.createDataFrame([(1, 99)], "k int, v int"), T2)

    # same-ts retry with DIFFERENT data: rejected up front
    with pytest.raises(ConcurrentCommitError):
        t.upsert(spark.createDataFrame([(1, -1)], "k int, v int"), T2)
    with pytest.raises(ConcurrentCommitError):
        t.delete(spark.createDataFrame([(1,)], "k int"), T1)

    # published state untouched and fully readable
    vals = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert vals[1] == 99 and len(vals) == 10


def test_record_key_bloom_filter_written(spark, scratch):
    """Every data file carries a bloom filter on _hoodie_record_key (the
    within-file complement of the hash-routed file-group pruning).
    Checked via the JVM parquet footer (pyarrow 16 doesn't expose bloom
    offsets); absent filters read back as -1."""
    import os

    from hudi_delete_view_spark.sources.cow import CowTable

    t = CowTable(spark, os.path.join(scratch, "bloom_t"), key_fields=["k"])
    df = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k long, v string")
    t.bulk_insert(df, "20240101000000")
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(t.base_path)
        for f in fs
        if f.endswith(".parquet") and ".hoodie" not in dp and ".staging" not in dp
    ]
    assert files
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for fp in files:
        footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            conf, jvm.org.apache.hadoop.fs.Path(fp)
        )
        offsets = {
            col.getPath().toDotString(): col.getBloomFilterOffset()
            for block in footer.getBlocks()
            for col in block.getColumns()
        }
        assert offsets["_hoodie_record_key"] > 0, f"no bloom filter in {fp}"
        assert offsets["v"] == -1  # only the key column pays the footprint


def test_snapshot_partition_pruning(spark, scratch):
    """snapshot(partitions=...) plans only the selected partitions' files
    and matches a post-hoc filter of the full snapshot."""
    import os

    from hudi_delete_view_spark.sources.cow import CowTable

    t = CowTable(
        spark, os.path.join(scratch, "ppt"), key_fields=["k"], partition_field="p"
    )
    df = spark.createDataFrame(
        [(i, f"p{i % 3}", i * 10) for i in range(60)], "k long, p string, x long"
    )
    t.bulk_insert(df, "20240101000000")
    pruned = t.snapshot(partitions=["p0", "p2"])
    # planned files come only from the selected leaf dirs
    files = pruned.inputFiles()
    assert files and all("/p0/" in f or "/p2/" in f for f in files)
    full = t.snapshot().filter(F.col("p").isin("p0", "p2"))
    assert sorted(r.k for r in pruned.collect()) == sorted(r.k for r in full.collect())
    # unknown partition: empty result (schema preserved), nothing planned
    assert t.snapshot(partitions=["nope"]).count() == 0


def test_savepoint_pins_commit_against_cleaner(spark, scratch):
    from hudi_delete_view_spark.sources.cow import CowTable

    t = CowTable(spark, os.path.join(scratch, "sp"), key_fields=["k"],
                 partition_field="p", num_file_groups=2)
    df = spark.createDataFrame([(i, "p0", i) for i in range(50)], ["k", "p", "v"])
    t.bulk_insert(df, "20300101000000")
    t.upsert(df.withColumn("v", F.col("v") + 1), "20300102000000")
    t.upsert(df.withColumn("v", F.col("v") + 2), "20300103000000")

    t.savepoint("20300101000000")
    assert t.clean(retain_last_n=2) == []  # pinned: nothing reclaimable
    # pinned time travel still works after cleaning
    assert t.snapshot(as_of="20300101000000").count() == 50

    t.release_savepoint("20300101000000")
    deleted = t.clean(retain_last_n=2)
    assert len(deleted) == 2 and all("20300101000000" in p for p in deleted)

    with pytest.raises(TimelineError):
        t.release_savepoint("20300101000000")  # already released
    with pytest.raises(TimelineError):
        t.savepoint("19990101000000")  # not a commit


def test_occ_truly_concurrent_writers(spark, scratch):
    """Two threads race REAL upserts to the same key (same file group)
    with distinct timestamps. Any interleaving is acceptable iff the
    table stays consistent: monotonic timeline, no lost/duplicated rows,
    the key holds one writer's value, and no staging debris survives."""
    from concurrent.futures import ThreadPoolExecutor

    from hudi_delete_view_spark.sources.cow import ConcurrentCommitError

    base = os.path.join(scratch, "occ_race")
    t0 = CowTable(spark, base, key_fields=["k"], partition_field="p", num_file_groups=2)
    t0.bulk_insert(
        spark.createDataFrame([(k, f"p{k % 2}", k) for k in range(20)], "k int, p string, v int"),
        "20270901000000",
    )

    def writer(ts, val):
        t = CowTable(spark, base, key_fields=["k"], partition_field="p", num_file_groups=2)
        try:
            t.upsert(spark.createDataFrame([(0, "p0", val)], "k int, p string, v int"), ts)
            return ("ok", val)
        except ConcurrentCommitError:
            return ("conflict", val)

    for rnd in range(3):
        ts_a = f"2027091{rnd}100000"
        ts_b = f"2027091{rnd}200000"
        with ThreadPoolExecutor(max_workers=2) as ex:
            fa = ex.submit(writer, ts_a, 1000 + rnd)
            fb = ex.submit(writer, ts_b, 2000 + rnd)
            round_outcomes = [fa.result(), fb.result()]
        # invariants after every round
        tl = t0.timeline.timestamps()
        assert tl == sorted(tl) and len(tl) == len(set(tl))
        snap = t0.snapshot()
        assert snap.count() == 20
        # liveness PER ROUND: at least one writer must land each round,
        # and the key must hold one of THIS round's winning values
        winners = {val for st, val in round_outcomes if st == "ok"}
        assert winners, f"both writers failed in round {rnd}"
        assert snap.filter("k = 0").first().v in winners
        assert not [d for d in os.listdir(base) if d.startswith(".staging")]


def test_savepoint_guards(spark, scratch):
    """Rollback refuses a savepointed commit; savepointing an
    already-cleaned commit refuses; clean(0) is an explicit error."""
    from hudi_delete_view_spark.sources.cow import CowTable

    t = CowTable(spark, os.path.join(scratch, "spg"), key_fields=["k"],
                 partition_field="p", num_file_groups=1)
    df = spark.createDataFrame([(i, "p0", i) for i in range(10)], ["k", "p", "v"])
    t.bulk_insert(df, "20300101000000")
    t.upsert(df.withColumn("v", F.col("v") + 1), "20300102000000")
    t.upsert(df.withColumn("v", F.col("v") + 2), "20300103000000")

    t.savepoint("20300103000000")
    with pytest.raises(TimelineError, match="savepointed"):
        t.rollback("20300103000000")
    t.release_savepoint("20300103000000")
    with pytest.raises(ValueError):
        t.clean(retain_last_n=0)
    t.clean(retain_last_n=2)  # reclaims C1's slice
    with pytest.raises(TimelineError, match="already cleaned"):
        t.savepoint("20300101000000")


def test_merge_into_mixed_actions_one_commit(spark, scratch):
    """MERGE: matched update + matched delete + not-matched insert land in
    ONE commit with per-action stats, the delete view reconstructs the
    matched deletes, and unmatched deletes are no-ops."""
    from hudi_delete_view_spark.sources.delete_view import delete_view

    t = CowTable(
        spark, os.path.join(scratch, "mrg"), key_fields=["k"],
        partition_field="p", num_file_groups=2,
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(k, f"p{k % 2}", k * 10) for k in range(1, 11)], "k int, p string, v int"
        ),
        "20270601000000",
    )
    src = spark.createDataFrame(
        [(1, "p1", 999, False), (4, "p0", 999, False),   # matched updates
         (3, "p1", 0, True), (6, "p0", 0, True),         # matched deletes
         (21, "p1", 210, False),                         # not-matched insert
         (99, "p1", 0, True)],                           # unmatched delete: no-op
        "k int, p string, v int, is_del boolean",
    )
    meta = t.merge_into(src, "20270602000000", delete_condition="is_del")
    assert meta.operation == "merge"
    assert t.timeline.timestamps() == ["20270601000000", "20270602000000"]
    got = {r["k"]: r["v"] for r in t.snapshot().select("k", "v").collect()}
    assert got == {1: 999, 2: 20, 4: 999, 5: 50, 7: 70, 8: 80, 9: 90, 10: 100, 21: 210}
    u = sum(s.num_update_writes for _p, s in meta.all_stats())
    i = sum(s.num_inserts for _p, s in meta.all_stats())
    d = sum(s.num_deletes for _p, s in meta.all_stats())
    assert (u, i, d) == (2, 1, 2)
    assert meta.total_records_deleted == 2
    dv = {r["k"] for r in delete_view(spark, t.base_path, "20270602000000").collect()}
    assert dv == {3, 6}
    # untouched rows keep their original commit stamp; updated rows restamp
    ct = {r["k"]: r[COMMIT_TIME_FIELD] for r in t.snapshot().collect()}
    assert ct[2] == "20270601000000" and ct[1] == "20270602000000"


def test_merge_into_unmatched_delete_only_group_not_rewritten(spark, scratch):
    """A file group whose only source rows are unmatched deletes must not
    be rewritten (no orphan file, slice ownership unchanged)."""
    t = CowTable(
        spark, os.path.join(scratch, "mrg2"), key_fields=["k"],
        partition_field=None, num_file_groups=1,
    )
    t.bulk_insert(spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"), "20270601000000")
    src = spark.createDataFrame([(77, 0, True)], "k int, v int, is_del boolean")
    meta = t.merge_into(src, "20270602000000", delete_condition="is_del")
    # nothing written, nothing deleted; snapshot unchanged and still owned
    # by the first commit
    assert not meta.partition_to_write_stats or all(
        not stats for stats in meta.partition_to_write_stats.values()
    )
    snap = t.snapshot()
    assert {r["k"] for r in snap.collect()} == {1, 2}
    assert {r[COMMIT_TIME_FIELD] for r in snap.collect()} == {"20270601000000"}


def test_merge_into_schema_evolution(spark, scratch):
    """A merge whose source adds a column evolves the schema: survivors
    surface the new column as NULL."""
    t = CowTable(
        spark, os.path.join(scratch, "mrg3"), key_fields=["k"],
        partition_field=None, num_file_groups=1,
    )
    t.bulk_insert(spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"), "20270601000000")
    src = spark.createDataFrame([(1, 11, "x", False)], "k int, v int, tag string, is_del boolean")
    t.merge_into(src, "20270602000000", delete_condition="is_del")
    rows = {r["k"]: (r["v"], r["tag"]) for r in t.snapshot().select("k", "v", "tag").collect()}
    assert rows == {1: (11, "x"), 2: (20, None)}


def test_register_views_sql_surface(spark, scratch):
    from hudi_delete_view_spark.sql import register_views

    t = CowTable(
        spark, os.path.join(scratch, "sqlv"), key_fields=["k"],
        partition_field="p", num_file_groups=2,
    )
    t.bulk_insert(
        spark.createDataFrame([(k, f"p{k % 2}", k) for k in range(20)], "k int, p string, v int"),
        "20270601000000",
    )
    t.delete_where(F.col("k") < 5, "20270602000000")
    names = register_views(t, "tv")
    assert "tv" in names and "tv_history" in names and "tv_deletes_20270602000000" in names
    assert spark.sql("SELECT COUNT(*) c FROM tv").collect()[0]["c"] == 15
    assert spark.sql("SELECT COUNT(*) c FROM tv_deletes_20270602000000").collect()[0]["c"] == 5
    ops = {r["operation"] for r in spark.sql("SELECT operation FROM tv_history").collect()}
    assert ops == {"bulk_insert", "delete"}


def test_rollback_merge_commit(spark, scratch):
    """Rolling back a MERGE restores the pre-merge snapshot exactly
    (updates reverted, deletes restored, inserts gone)."""
    t = CowTable(
        spark, os.path.join(scratch, "mrg_rb"), key_fields=["k"],
        partition_field="p", num_file_groups=2,
    )
    t.bulk_insert(
        spark.createDataFrame([(k, f"p{k % 2}", k * 10) for k in range(1, 8)],
                              "k int, p string, v int"),
        "20270601000000",
    )
    before = {(r["k"], r["v"]) for r in t.snapshot().select("k", "v").collect()}
    src = spark.createDataFrame(
        [(1, "p1", 999, False), (2, "p0", 0, True), (31, "p1", 310, False)],
        "k int, p string, v int, is_del boolean",
    )
    t.merge_into(src, "20270602000000", delete_condition="is_del")
    assert {r["k"] for r in t.snapshot().select("k").collect()} == {1, 3, 4, 5, 6, 7, 31}
    t.rollback("20270602000000")
    after = {(r["k"], r["v"]) for r in t.snapshot().select("k", "v").collect()}
    assert after == before
    assert t.timeline.timestamps() == ["20270601000000"]


def test_value_bucket_index_prunes_equality(spark, scratch):
    """Secondary value-bucket index: equality probes prune files whose
    [min, max] all overlap; no false negatives; absent values prune
    everything; reader handles without the config still prune (the index
    rides in published metadata); a saturated bitmap degrades to keeping
    the file, never dropping it."""
    t = CowTable(
        spark, os.path.join(scratch, "vix"), key_fields=["k"],
        partition_field="p", num_file_groups=8, index_columns=["cat"],
    )
    df = spark.createDataFrame(
        [(i, f"p{i % 2}", f"cat{i % 5000}") for i in range(20000)],
        "k int, p string, cat string",
    )
    t.bulk_insert(df, "20270601000000")
    kept, total = t.pruned_files({"cat": ("cat3777", "cat3777")})
    assert total == 16 and 0 < len(kept) < total / 2, (len(kept), total)
    assert t.scan({"cat": ("cat3777", "cat3777")}).count() == 4
    # absent values: bloom-style false positives possible (~10% fill), but
    # the scan over whatever survives must return nothing
    assert len(t.pruned_files({"cat": ("no-such", "no-such")})[0]) <= 4
    assert t.scan({"cat": ("no-such", "no-such")}).count() == 0
    # exhaustive no-false-negative check over a value sample
    for v in ["cat0", "cat1234", "cat4999"]:
        got = t.scan({"cat": (v, v)}).count()
        want = df.filter(F.col("cat") == v).count()
        assert got == want, v
    # reader handle without index_columns prunes identically
    t2 = CowTable(spark, os.path.join(scratch, "vix"), key_fields=["k"],
                  partition_field="p", num_file_groups=8)
    assert len(t2.pruned_files({"cat": ("cat3777", "cat3777")})[0]) == len(kept)
    # range probes ignore the bitmap (stats only — still correct)
    assert t.scan({"cat": ("cat3777", "cat3778")}).count() == 8


def test_value_bucket_index_survives_upsert(spark, scratch):
    """Rewritten file groups republish their bitmaps; probes for values
    added by the upsert find them."""
    t = CowTable(
        spark, os.path.join(scratch, "vix2"), key_fields=["k"],
        partition_field=None, num_file_groups=4, index_columns=["cat"],
    )
    t.bulk_insert(
        spark.createDataFrame([(i, f"cat{i}") for i in range(1000)], "k int, cat string"),
        "20270601000000",
    )
    t.upsert(
        spark.createDataFrame([(5, "brandnew")], "k int, cat string"), "20270602000000"
    )
    kept, total = t.pruned_files({"cat": ("brandnew", "brandnew")})
    assert len(kept) == 1 and total == 4
    assert t.scan({"cat": ("brandnew", "brandnew")}).count() == 1
    # the old value of the rewritten key is gone from data; the bitmap may
    # conservatively keep its file but the scan must return nothing
    assert t.scan({"cat": ("cat5", "cat5")}).count() == 0
    # REGRESSION PIN: survivors in the rewritten file keep their OLD
    # _hoodie_file_name, but the fresh bitmap must still carry their
    # values (grouping by physical file, not the stored meta column) —
    # probe survivor values co-resident with the upserted key's group
    from hudi_delete_view_spark.sources.cow import file_id_expr, FILE_NAME_FIELD
    fid5 = t.lookup([(5,)]).select(file_id_expr(F.col(FILE_NAME_FIELD))).first()[0]
    neighbors = [
        r["cat"] for r in t.snapshot()
        .filter(file_id_expr(F.col(FILE_NAME_FIELD)) != "__none__")
        .withColumn("__f", file_id_expr(F.col(FILE_NAME_FIELD)))
        .filter(F.col("__f") == fid5).filter("k != 5").limit(3).collect()
    ]
    assert neighbors, "no survivor rows share key 5's group?"
    for v in neighbors:
        got = t.scan({"cat": (v, v)}).count()
        assert got >= 1, f"survivor value {v} lost from the rewritten file's bitmap"



def test_occ_concurrent_merge_writers(spark, scratch):
    """Two threads race REAL MERGEs touching the same file group; any
    interleaving must leave a consistent table: monotonic timeline, no
    lost rows outside the merge actions, deletes/inserts from winners
    only, no staging debris."""
    from concurrent.futures import ThreadPoolExecutor

    from hudi_delete_view_spark.sources.cow import ConcurrentCommitError

    base = os.path.join(scratch, "occ_mrg")
    t0 = CowTable(spark, base, key_fields=["k"], partition_field="p", num_file_groups=2)
    t0.bulk_insert(
        spark.createDataFrame([(k, f"p{k % 2}", k) for k in range(20)], "k int, p string, v int"),
        "20270901000000",
    )

    def writer(ts, val, del_key):
        t = CowTable(spark, base, key_fields=["k"], partition_field="p", num_file_groups=2)
        src = spark.createDataFrame(
            [(0, "p0", val, False), (del_key, f"p{del_key % 2}", 0, True)],
            "k int, p string, v int, is_del boolean",
        )
        try:
            t.merge_into(src, ts, delete_condition="is_del")
            return ("ok", val, del_key)
        except ConcurrentCommitError:
            return ("conflict", val, del_key)

    with ThreadPoolExecutor(max_workers=2) as ex:
        fa = ex.submit(writer, "20270902100000", 111, 2)
        fb = ex.submit(writer, "20270902200000", 222, 4)
        outcomes = [fa.result(), fb.result()]
    tl = t0.timeline.timestamps()
    assert tl == sorted(tl) and len(tl) == len(set(tl))
    winners = [(v, d) for st, v, d in outcomes if st == "ok"]
    assert winners, "both merges failed"
    snap = {r["k"]: r["v"] for r in t0.snapshot().select("k", "v").collect()}
    # key 0 holds a winner's value; each winner's delete landed
    assert snap[0] in {v for v, _d in winners}
    for _v, d in winners:
        assert d not in snap
    # losers' deletes must NOT have landed
    for st, _v, d in outcomes:
        if st == "conflict":
            assert d in snap
    assert len(snap) == 20 - len(winners)
    assert not [d for d in os.listdir(base) if d.startswith(".staging")]


def test_find_orphans_detects_crashed_writer_debris(spark, scratch):
    """A data file dropped into a partition dir outside any commit (the
    crashed-writer shape) is reported and removable; referenced files and
    service dirs are never touched; reads are unaffected throughout."""
    import shutil as _sh

    t = CowTable(spark, os.path.join(scratch, "orph"), key_fields=["k"],
                 partition_field="p", num_file_groups=2)
    t.bulk_insert(
        spark.createDataFrame([(k, f"p{k % 2}", k) for k in range(10)], "k int, p string, v int"),
        "20270601000000",
    )
    assert t.find_orphans() == []
    # simulate a writer killed after staging-rename, before publish
    src = t.pruned_files({}, None)[0][0]
    debris = os.path.join(os.path.dirname(src), "fg-p0-9_0-0-0_20270699000000.parquet")
    _sh.copyfile(src, debris)
    found = t.find_orphans()
    assert found == [os.path.abspath(debris)]
    assert t.snapshot().count() == 10  # snapshot plans only referenced files
    t.find_orphans(remove=True)
    assert not os.path.exists(debris) and t.find_orphans() == []
    assert t.snapshot().count() == 10


def test_value_bucket_index_survives_clustering(spark, scratch):
    """A clustering rewrite republished from an indexed handle refreshes
    every file's bitmap; equality probes stay false-negative-free and the
    SORTED layout makes them sharper (values now cluster per file)."""
    t = CowTable(
        spark, os.path.join(scratch, "vixc"), key_fields=["k"],
        partition_field=None, num_file_groups=8, index_columns=["cat"],
    )
    df = spark.createDataFrame(
        [(i, f"cat{i % 4000:04d}") for i in range(16000)], "k int, cat string"
    )
    t.bulk_insert(df, "20270601000000")
    pre_kept, total = t.pruned_files({"cat": ("cat0777", "cat0777")})
    t.cluster("20270602000000", sort_cols=["cat"])
    post_kept, post_total = t.pruned_files({"cat": ("cat0777", "cat0777")})
    assert post_total == total == 8
    # sorted-by-cat files have tight [min, max] ranges: stats alone prune
    # to ~1 file, and the refreshed bitmaps never drop a true match
    assert len(post_kept) <= len(pre_kept)
    assert t.scan({"cat": ("cat0777", "cat0777")}).count() == 4
    for v in ("cat0000", "cat3999"):
        assert t.scan({"cat": (v, v)}).count() == df.filter(F.col("cat") == v).count()


def _reread_value_index(t, meta):
    """Reference bitmaps for one commit: re-read the files it wrote and
    group their rows by PHYSICAL file name (the writer's former post-write
    pass). {rel_path: {col: base64_bitmap}}."""
    import base64

    from hudi_delete_view_spark.operators.util import md5_prefix60_sql

    by_name = {os.path.basename(s.path): s.path for _p, s in meta.all_stats()}
    df = t.spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(t.base_path, rel) for rel in by_name.values()]
    )
    cols = [c for c in t.index_columns if c in df.columns]
    nb = t.index_bits
    aggs = [
        F.collect_set(
            F.expr(f"pmod({md5_prefix60_sql(f'cast(`{c}` as string)')}, {nb})")
        ).alias(f"__b_{i}")
        for i, c in enumerate(cols)
    ]
    phys = F.element_at(F.split(F.input_file_name(), "/"), -1).alias("__file")
    out = {}
    for r in df.select(phys, *cols).groupBy("__file").agg(*aggs).collect():
        per_col = {}
        for i, c in enumerate(cols):
            raw = bytearray(nb // 8)
            for b in r[f"__b_{i}"]:
                raw[b // 8] |= 1 << (b % 8)
            per_col[c] = base64.b64encode(bytes(raw)).decode("ascii")
        out[by_name[r["__file"]]] = per_col
    return out


def test_value_index_observed_equals_file_reread(spark, scratch):
    """Bitmaps the writer observes on the write equal a re-read of the
    files each commit wrote: bulk insert, upsert (survivors keep OLD
    ``_hoodie_file_name`` values), delete, merge and clustering, over a
    string and an int column with NULLs, including a group emptied by a
    delete."""
    t = CowTable(
        spark, os.path.join(scratch, "vixeq"), key_fields=["k"],
        partition_field="p", num_file_groups=3, index_columns=["cat", "n"],
    )
    schema = "k int, p string, cat string, n int"
    rows = [
        (i, f"p{i % 3}", f"cat{i % 97}", None if i % 11 == 0 else i % 13)
        for i in range(600)
    ]
    t.bulk_insert(spark.createDataFrame(rows, schema), "20270601000000")
    t.upsert(
        spark.createDataFrame(
            [(i, f"p{i % 3}", f"new{i}", i) for i in range(0, 600, 40)], schema
        ),
        "20270602000000",
    )
    t.delete(
        spark.createDataFrame([(r[0], r[1]) for r in rows if r[0] % 5 == 0], "k int, p string"),
        "20270603000000",
    )
    src = spark.createDataFrame(
        [(i, f"p{i % 3}", f"m{i}", None, i % 4 == 0) for i in range(1, 700, 9)],
        "k int, p string, cat string, n int, is_del boolean",
    )
    t.merge_into(src, "20270604000000", delete_condition="is_del")
    # empty the group holding key 2: every one of its rows is deleted
    snap = t.snapshot()
    fid2 = t.lookup([(2, "p2")]).select(FILE_NAME_FIELD).first()[0].split("_")[0]
    doomed = snap.filter(F.col(FILE_NAME_FIELD).startswith(fid2 + "_")).select("k", "p")
    t.delete(doomed, "20270605000000")
    t.cluster("20270606000000", sort_cols=["cat"])
    survivors_checked = False
    for ts in t.timeline.timestamps():
        meta = t.timeline.commit_metadata(ts)
        want = _reread_value_index(t, meta)
        for _p, stat in meta.all_stats():
            assert stat.value_index == want.get(stat.path, {}), (ts, stat.path)
        if ts == "20270602000000":
            files = [os.path.join(t.base_path, s.path) for _p, s in meta.all_stats()]
            stamps = {
                r[0] for r in spark.read.parquet(*files).select(FILE_NAME_FIELD).distinct().collect()
            }
            survivors_checked = any(not f.endswith(f"_{ts}.parquet") for f in stamps)
    assert survivors_checked, "fixture has no upsert survivors with old file names"
    emptied = [
        s for _p, s in t.timeline.commit_metadata("20270605000000").all_stats()
        if s.num_writes == 0
    ]
    assert len(emptied) == 1 and emptied[0].value_index == {}


def test_delete_missing_partition_column_named_error(spark, scratch):
    t = CowTable(spark, os.path.join(scratch, "delerr"), key_fields=["k"],
                 partition_field="p", num_file_groups=2)
    t.bulk_insert(
        spark.createDataFrame([(1, "p0", 1)], "k int, p string, v int"), "20280101000000"
    )
    with pytest.raises(ValueError, match="routing column"):
        t.delete(spark.createDataFrame([(1,)], "k int"), "20280102000000")


def test_commit_history_reports_merge_counters(spark, scratch):
    """The queryable history row for a MERGE commit carries all three
    action counters (the audit surface downstream jobs reconcile)."""
    t = CowTable(spark, os.path.join(scratch, "hist_m"), key_fields=["k"],
                 partition_field="p", num_file_groups=2)
    t.bulk_insert(
        spark.createDataFrame([(k, f"p{k % 2}", k) for k in range(1, 9)],
                              "k int, p string, v int"),
        "20280101000000",
    )
    src = spark.createDataFrame(
        [(1, "p1", 99, False), (2, "p0", 0, True), (31, "p1", 310, False)],
        "k int, p string, v int, is_del boolean",
    )
    t.merge_into(src, "20280102000000", delete_condition="is_del")
    row = {r["commit_ts"]: r for r in t.commit_history().collect()}["20280102000000"]
    assert row["operation"] == "merge"
    assert (row["num_update_writes"], row["num_inserts"], row["num_deletes"]) == (1, 1, 1)
    assert row["total_records_deleted"] == 1


def test_value_index_probe_skipped_for_unportable_types(spark):
    """The bitmap probe only fires for int/str probes (where Python's
    str(v) is bit-identical to Spark's cast-to-string). A float / bool /
    date probe must FALL BACK to [min, max] overlap — never compute a
    mismatched bucket and falsely prune a file that contains the value."""
    import base64
    import datetime

    from hudi_delete_view_spark.plans.metadata import WriteStat
    from hudi_delete_view_spark.sources.cow import CowTable, _value_bucket

    n_bits = 256
    bm = bytearray(n_bits // 8)
    # index the STRING form Spark would produce for a double column: "1.5"
    b = _value_bucket("1.5", n_bits)
    bm[b // 8] |= 1 << (b % 8)
    stat = WriteStat(
        file_id="f0", path="x.parquet",
        column_stats={"v": [0.0, 9.0]},
        value_index={"v": base64.b64encode(bytes(bm)).decode()},
    )
    # float probe: Python str(1.5)=="1.5" here matches, but e.g.
    # str(1e20) vs Spark's "1.0E20" would not — the guard must skip the
    # bitmap for ALL floats, so even a value NOT in the bitmap survives
    # as long as [min, max] overlaps
    assert CowTable._stat_passes(stat, {"v": (2.5, 2.5)}) is True
    assert CowTable._stat_passes(stat, {"v": (True, True)}) is True
    # date probe on a date column (no range stats published): only the
    # bitmap could prune, and the guard must refuse to consult it
    dstat = WriteStat(file_id="f1", path="y.parquet",
                      value_index={"d": stat.value_index["v"]})
    assert CowTable._stat_passes(
        dstat, {"d": (datetime.date(2027, 1, 1), datetime.date(2027, 1, 1))}
    ) is True
    # int/str probes still consult the bitmap (absent bucket -> prune)
    assert CowTable._stat_passes(stat, {"v": (7, 7)}) is False
    sstat = WriteStat(file_id="f2", path="z.parquet",
                      column_stats={"v": ["0", "9"]},
                      value_index=dict(stat.value_index))
    assert CowTable._stat_passes(sstat, {"v": ("1.5", "1.5")}) is True
    assert CowTable._stat_passes(sstat, {"v": ("2.5", "2.5")}) is False
    # a cross-type bound against string stats proves nothing: kept
    assert CowTable._stat_passes(
        sstat, {"v": (datetime.date(2021, 1, 1), None)}
    ) is True
    # range stats still prune regardless of probe type
    assert CowTable._stat_passes(stat, {"v": (10.5, 11.0)}) is False


def test_bucketed_mirror_colocated_join_no_exchange(spark, scratch):
    """Two lake tables mirrored with equal bucket counts join with ZERO
    Exchange in the plan; the mirror refreshes only when the timeline
    advances; results track the snapshot."""
    from hudi_delete_view_spark.sources.cow import CowTable

    a = CowTable(spark, os.path.join(scratch, "ta"), key_fields=["k"],
                 partition_field=None, num_file_groups=4)
    b = CowTable(spark, os.path.join(scratch, "tb"), key_fields=["k"],
                 partition_field=None, num_file_groups=4)
    a.bulk_insert(spark.createDataFrame(
        [(i, f"a{i}") for i in range(500)], "k long, va string"), "20270101000000")
    b.bulk_insert(spark.createDataFrame(
        [(i, i * 10) for i in range(0, 500, 2)], "k long, vb long"), "20270101000000")

    ma = a.bucketed_mirror("k", mirror_name="m_ta")
    mb = b.bucketed_mirror("k", mirror_name="m_tb")
    # force sort-merge (at test scale Spark would broadcast, which hides
    # the bucketing; at the scales this serves, both sides exceed the
    # broadcast threshold and sort-merge is what the planner picks anyway)
    joined = ma.hint("merge").join(mb, "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan, plan
    assert joined.count() == 250

    # metadata-only on repeat: the mirror parquet files keep their mtimes
    import glob
    mdir = os.path.join(scratch, "ta", ".mirror", "m_ta")
    before = sorted(os.path.getmtime(p) for p in glob.glob(mdir + "/part-*"))
    a.bucketed_mirror("k", mirror_name="m_ta")
    after = sorted(os.path.getmtime(p) for p in glob.glob(mdir + "/part-*"))
    assert before == after

    # timeline advance invalidates: upsert k=1000, mirror refresh sees it
    a.upsert(spark.createDataFrame([(1000, "new")], "k long, va string"),
             "20270102000000")
    ma2 = a.bucketed_mirror("k", mirror_name="m_ta")
    assert ma2.filter("k = 1000").count() == 1
    # meta columns are dropped from the join-serving projection
    assert not [c for c in ma2.columns if c.startswith("_hoodie_")]


def test_timeline_archive_checkpoint(spark, scratch):
    """Archiving old instants bounds the active timeline without changing
    any current read: snapshot, pruned scan (stats of checkpoint slices
    load from the archive), incremental after the boundary, and full
    commit history are identical; travel/incremental before the boundary
    raise naming the boundary."""
    t = CowTable(spark, os.path.join(scratch, "arch"), key_fields=["k"],
                 partition_field=None, num_file_groups=2,
                 stats_columns=["k"])
    t.bulk_insert(spark.createDataFrame([(i, i * 10) for i in range(100)],
                                        "k long, v long"), "20250101000000")
    t.upsert(spark.createDataFrame([(1, 111)], "k long, v long"), "20250102000000")
    t.delete_where("k % 10 = 0", "20250103000000")
    t.upsert(spark.createDataFrame([(200, 2000)], "k long, v long"), "20250104000000")

    before_snap = t.snapshot().select("k", "v").orderBy("k").collect()
    before_hist = t.commit_history().collect()
    before_inc = t.incremental("20250103000000").select("k").collect()
    kept_files, total = t.pruned_files({"k": (0, 10)})

    archived = t.archive_timeline(keep_last_n=2)
    assert archived == ["20250101000000", "20250102000000"]
    assert t.timeline.timestamps() == ["20250103000000", "20250104000000"]
    assert t.timeline.all_timestamps()[0] == "20250101000000"

    assert t.snapshot().select("k", "v").orderBy("k").collect() == before_snap
    assert t.commit_history().collect() == before_hist
    assert t.incremental("20250103000000").select("k").collect() == before_inc
    # stats pruning still consults the ARCHIVED commit's write stats
    kept2, total2 = t.pruned_files({"k": (0, 10)})
    assert (sorted(kept2), total2) == (sorted(kept_files), total)

    with pytest.raises(TimelineError, match="ARCHIVED|archive boundary"):
        t.snapshot(as_of="20250101000000")
    with pytest.raises(TimelineError, match="archive boundary"):
        t.incremental("20250101000000").collect()

    # a second archive merges into the same checkpoint and rolls its own
    # range-named batch file
    t.upsert(spark.createDataFrame([(300, 3000)], "k long, v long"), "20250105000000")
    t.archive_timeline(keep_last_n=1)
    assert t.timeline.timestamps() == ["20250105000000"]
    assert len(t.timeline.all_timestamps()) == 5
    snap = {r["k"]: r["v"] for r in t.snapshot().select("k", "v").collect()}
    assert snap[300] == 3000 and snap[1] == 111 and 10 not in snap
    batches = t.timeline._archive_batches()
    assert [(f, l) for f, l, _p in batches] == [
        ("20250101000000", "20250102000000"),
        ("20250103000000", "20250104000000"),
    ]
    # point lookup loads ONLY the covering batch
    t.timeline.refresh()
    t.timeline.archived_metadata_for("20250103000000")
    loaded = list(t.timeline._archived or {})
    assert len(loaded) == 1 and loaded[0].endswith(
        "instants-20250103000000-20250104000000.jsonl"
    )


def test_archive_crash_between_checkpoint_and_removal(spark, scratch):
    """archive() publishes the checkpoint, THEN removes the archived
    .commit files. A crash between the two must not double-count: the
    archive copy wins — the stale active file is hidden from
    timestamps()/all_timestamps(), and the next archive() removes it
    instead of rolling it into a second batch."""
    import shutil as _sh

    from hudi_delete_view_spark.plans.timeline import COMMIT_SUFFIX

    t = CowTable(spark, os.path.join(scratch, "acr"), key_fields=["k"],
                 partition_field=None, num_file_groups=1)
    for i, ts in enumerate(["20250101000000", "20250102000000",
                            "20250103000000"]):
        (t.bulk_insert if i == 0 else t.upsert)(
            spark.createDataFrame([(i, i)], "k long, v long"), ts)
    # stash a pre-archive copy of the oldest commit file
    oldest = os.path.join(t.base_path, ".hoodie",
                          "20250101000000" + COMMIT_SUFFIX)
    stash = oldest + ".stash"
    _sh.copyfile(oldest, stash)
    t.archive_timeline(keep_last_n=2)
    # simulate the crash: the archived commit's active file reappears
    _sh.copyfile(stash, oldest)
    os.remove(stash)
    t.timeline.refresh()
    assert t.timeline.timestamps() == ["20250102000000", "20250103000000"]
    assert t.timeline.all_timestamps() == [
        "20250101000000", "20250102000000", "20250103000000"]
    assert t.snapshot().count() == 3  # reads unaffected
    # the next archive removes the leftover instead of re-archiving it
    t.archive_timeline(keep_last_n=1)
    assert not os.path.exists(oldest)
    assert t.timeline.all_timestamps() == [
        "20250101000000", "20250102000000", "20250103000000"]
    batches = t.timeline._archive_batches()
    assert [(f, l) for f, l, _p in batches] == [
        ("20250101000000", "20250101000000"),
        ("20250102000000", "20250102000000"),
    ]


def test_ivm_view_table_service(spark, sf_dir):
    """The materialized join view is a REAL lake table: maintenance writes
    one commit holding its deletes and upserts, the view's OWN delete view
    reconstructs the vanished rows, time travel reaches the seed state,
    and a rerun at the same anchors performs zero writes."""
    from hudi_delete_view_spark.queries.lake import _maintain_join_view
    from hudi_delete_view_spark.sources.delete_view import delete_view

    view = _maintain_join_view(spark, sf_dir)
    tss = view.timeline.timestamps()
    assert len(tss) == 2  # seed + one maintenance commit
    hist = {r["commit_ts"]: r for r in view.commit_history().collect()}
    assert hist[tss[1]]["total_records_deleted"] > 0
    assert hist[tss[1]]["num_update_writes"] + hist[tss[1]]["num_inserts"] > 0

    # the view's own delete view = rows the maintenance removed
    dv = delete_view(spark, view.base_path, tss[1])
    assert dv.count() == hist[tss[1]]["total_records_deleted"]

    # time travel to the seed = the C1-as-of join
    seed = view.snapshot(as_of=tss[0])
    assert seed.count() > view.snapshot().count()  # deletes shrank the view

    # idempotent rerun: anchors already at the sources' latest -> no commits
    again = _maintain_join_view(spark, sf_dir)
    assert again.timeline.timestamps() == tss


def test_archive_clean_interplay(spark, scratch):
    """Files superseded BEFORE the archive boundary stay clean-able after
    their writing commits were archived (the checkpoint byte map keeps
    them enumerable); archiving past a savepoint is refused."""
    t = CowTable(spark, os.path.join(scratch, "ac"), key_fields=["k"],
                 partition_field=None, num_file_groups=1)
    t.bulk_insert(spark.createDataFrame([(i, i) for i in range(50)],
                                        "k long, v long"), "20250101000000")
    t.upsert(spark.createDataFrame([(1, 11)], "k long, v long"), "20250102000000")
    t.upsert(spark.createDataFrame([(2, 22)], "k long, v long"), "20250103000000")
    t.upsert(spark.createDataFrame([(3, 33)], "k long, v long"), "20250104000000")

    # savepoint pins 01: archiving past it must refuse
    t.savepoint("20250101000000")
    with pytest.raises(TimelineError, match="savepoint"):
        t.archive_timeline(keep_last_n=2)
    t.release_savepoint("20250101000000")

    t.archive_timeline(keep_last_n=2)
    # the 01 and 02 base files are superseded and pre-boundary: clean
    # must still find and remove them
    doomed = t.clean(retain_last_n=2, dry_run=True)
    assert any("20250101000000" in p for p in doomed)
    assert any("20250102000000" in p for p in doomed)
    removed = t.clean(retain_last_n=2)
    assert sorted(removed) == sorted(doomed)
    snap = {r["k"]: r["v"] for r in t.snapshot().select("k", "v").collect()}
    assert snap[1] == 11 and snap[2] == 22 and snap[3] == 33


def test_archive_rollback_restore_guards(spark, scratch):
    """Rollback/restore x archival: the last active commit cannot be
    rolled back past an archive checkpoint (it would strand the archived
    state); restore to an archived timestamp raises the ARCHIVED error;
    rollback of a newer active commit still works normally."""
    t = CowTable(spark, os.path.join(scratch, "ar"), key_fields=["k"],
                 partition_field=None, num_file_groups=1)
    for i, ts in enumerate(["20250101000000", "20250102000000", "20250103000000"]):
        t.upsert(spark.createDataFrame([(i, i)], "k long, v long"), ts) \
            if i else t.bulk_insert(
                spark.createDataFrame([(0, 0)], "k long, v long"), ts)
    t.archive_timeline(keep_last_n=2)

    with pytest.raises(TimelineError, match="ARCHIVED"):
        t.restore("20250101000000")
    # normal rollback of the newest active commit is fine
    t.rollback("20250103000000")
    assert t.timeline.timestamps() == ["20250102000000"]
    assert t.snapshot().count() == 2  # keys 0, 1
    # the one remaining active commit is the anchor: refuse to strand
    with pytest.raises(TimelineError, match="strand"):
        t.rollback("20250102000000")


def test_archive_delete_view_across_boundary(spark, scratch):
    """A delete view of an ACTIVE commit whose predecessor slices were
    written by ARCHIVED commits still reconstructs exactly (predecessor
    write stats load lazily from the archive)."""
    from hudi_delete_view_spark.sources.delete_view import delete_view

    t = CowTable(spark, os.path.join(scratch, "adv"), key_fields=["k"],
                 partition_field=None, num_file_groups=2)
    t.bulk_insert(spark.createDataFrame([(i, i) for i in range(100)],
                                        "k long, v long"), "20250101000000")
    t.delete_where("k % 10 = 0", "20250102000000")
    before = sorted(r["k"] for r in
                    delete_view(spark, t.base_path, "20250102000000").collect())
    assert before == list(range(0, 100, 10))
    t.archive_timeline(keep_last_n=1)  # archives the bulk insert
    # force recompute: the materialized cache would mask the archive path
    import shutil
    shutil.rmtree(os.path.join(t.base_path, ".delete"), ignore_errors=True)
    after = sorted(r["k"] for r in
                   delete_view(spark, t.base_path, "20250102000000").collect())
    assert after == before


def test_cdc_stamps_single_execution(spark, scratch, monkeypatch):
    """Plan pin for the cdc() stamps barrier: the delete-stamps relation
    feeds two differently-projected consumers (begin-side contributor set,
    delete-stamp join). Past the stats gate it persists — the delete-view
    scan + aggregation appears ONCE in the plan (inside the
    InMemoryRelation) instead of executing twice per CDC call; below the
    gate (few deletes) the plain double-scan plan is kept (a persist job
    costs more than the small duplicated scan). Values identical on both
    paths."""
    import io
    from contextlib import redirect_stdout

    from hudi_delete_view_spark.plans import row_deletes

    t = CowTable(
        spark, os.path.join(scratch, "cdc_stamps"), key_fields=["k"],
        partition_field="p", num_file_groups=2,
    )
    T1, T2, T3 = "20270101000000", "20270102000000", "20270103000000"
    t.bulk_insert(
        spark.createDataFrame([(k, f"p{k % 2}", k * 10) for k in range(10)],
                              "k int, p string, v int"),
        T1,
    )
    t.upsert(spark.createDataFrame([(1, "p1", 999)], "k int, p string, v int"), T2)
    t.delete(spark.createDataFrame([(2, "p0")], "k int, p string"), T3)

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    # below the gate: no barrier, stamps subtree planned twice
    ungated = t.cdc(T1, T3)
    assert plan_of(ungated).count(".delete/") == 2
    rows_ungated = sorted((r["op"], r["k"]) for r in ungated.collect())
    # force the gate: barrier engages, subtree planned once behind a cache
    monkeypatch.setattr(row_deletes, "STAMPS_PERSIST_MIN_ROWS", 0)
    df = t.cdc(T1, T3)
    plan = plan_of(df)
    assert "InMemoryTableScan" in plan, plan
    assert plan.count(".delete/") == 1, plan
    rows = sorted((r["op"], r["k"]) for r in df.collect())
    assert rows == rows_ungated == [("delete", 2), ("update", 1)]


def test_foreign_cdc_single_diff_pass(spark):
    """Shape pin for the shared net-change kernel on the two foreign
    fixtures: the Hudi MOR CDC diffs its boundaries in exactly one
    full-outer join, the Delta CDC in one plus one per version that both
    removed and added data (its per-version stamp diffs), and neither
    assembles op branches a second or third time — each stays within
    the jobs the three-branch union took (13 and 12)."""
    from hudi_delete_view_spark.sources.delta import (
        _window_file_events,
        read_delta_cdc,
    )
    from hudi_delete_view_spark.sources.hudi import read_hudi_mor_cdc

    fixtures = os.path.join(os.path.dirname(__file__), "fixtures")
    sc = spark.sparkContext

    def run(group, df):
        sc.setJobGroup(group, "cdc shape audit")
        try:
            df.collect()
        finally:
            sc.setJobGroup(None, None)
        # the adaptive plan prints its initial plan after the final one
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        return len(sc.statusTracker().getJobIdsForGroup(group)), final

    jobs, plan = run("hudi-cdc-shape", read_hudi_mor_cdc(
        spark, os.path.join(fixtures, "hudi_mor"), "20210301090000"))
    assert plan.count("FullOuter") == 1, plan
    assert jobs <= 13, jobs

    delta = os.path.join(fixtures, "delta_tbl")
    per_version, _moved = _window_file_events(delta, 0, 4)
    # an append-only version (v4) diffs against an empty side, a join
    # Catalyst folds away
    diffs = sum(1 for adds, rms in per_version.values() if adds and rms)
    assert diffs == 2
    jobs, plan = run("delta-cdc-shape", read_delta_cdc(spark, delta, ["id"], 0, 4))
    assert plan.count("FullOuter") == 1 + diffs, plan
    assert jobs <= 12, jobs
