"""MOR table: delta writes, merged snapshot, tombstones, compaction,
read-optimized view, delete view over logs (FIXTURES.md §2.2)."""

import os
import re

import pytest
from pyspark.sql import functions as F

from hudi_delete_view_spark.plans.slices import resolve_slices
from hudi_delete_view_spark.plans.timeline import TimelineError
from hudi_delete_view_spark.sources.cow import RECORD_KEY_FIELD
from hudi_delete_view_spark.sources.mor import MorTable

C1, C2, C3, C4 = "20260101000000", "20260102000000", "20260103000000", "20260104000000"


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    df = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    df.cache().count()
    return df


@pytest.fixture()
def table(spark, orders, scratch):
    t = MorTable(
        spark,
        os.path.join(scratch, "orders_mor"),
        key_fields=["o_orderkey"],
        partition_field="o_orderstatus",
        num_file_groups=4,
    )
    t.bulk_insert(orders, C1)
    return t


def test_delta_upsert_merged_snapshot(table, orders):
    updates = orders.filter("o_orderkey % 7 = 0").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    table.upsert_delta(updates, C2)
    # base untouched: read-optimized still shows old values
    ro = table.read_optimized()
    assert ro.count() == orders.count()
    got_ro = ro.filter("o_orderkey % 7 = 0").agg(F.sum("o_totalprice")).first()[0]
    want_old = orders.filter("o_orderkey % 7 = 0").agg(F.sum("o_totalprice")).first()[0]
    assert got_ro == pytest.approx(want_old)
    # merged snapshot shows new values, same cardinality
    snap = table.snapshot()
    assert snap.count() == orders.count()
    got = snap.filter("o_orderkey % 7 = 0").agg(F.sum("o_totalprice")).first()[0]
    assert got == pytest.approx(want_old * 2)


def test_tombstones_drop_rows(table, orders):
    victims = table.snapshot().filter("o_orderkey % 11 = 0")
    n = victims.count()
    meta = table.delete_delta(victims.select("o_orderkey", "o_orderstatus"), C2)
    assert meta.total_records_deleted == n
    snap = table.snapshot()
    assert snap.count() == orders.count() - n
    assert snap.filter("o_orderkey % 11 = 0").count() == 0
    # read-optimized view still contains them (deletes live in logs)
    assert table.read_optimized().filter("o_orderkey % 11 = 0").count() == n


def test_multiple_log_versions_latest_wins(table, orders):
    for i, ts in enumerate([C2, C3], start=1):
        upd = orders.filter("o_orderkey % 5 = 0").withColumn(
            "o_totalprice", F.lit(float(i))
        )
        table.upsert_delta(upd, ts)
    snap = table.snapshot()
    vals = snap.filter("o_orderkey % 5 = 0").select("o_totalprice").distinct().collect()
    assert [r[0] for r in vals] == [2.0]
    # time travel to C2 sees version 1
    vals2 = table.snapshot(as_of=C2).filter("o_orderkey % 5 = 0").select("o_totalprice").distinct().collect()
    assert [r[0] for r in vals2] == [1.0]


def test_compaction_preserves_merged_view(table, orders):
    updates = orders.filter("o_orderkey % 7 = 0").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    table.upsert_delta(updates, C2)
    table.delete_delta(orders.filter("o_orderkey % 11 = 0").select("o_orderkey", "o_orderstatus"), C3)
    before = table.snapshot()
    before_cnt = before.count()
    before_sum = before.agg(F.sum("o_totalprice")).first()[0]

    table.compact(C4)
    # logs cleared for all groups
    slices = resolve_slices(table.timeline)
    assert all(not s.log_paths for s in slices.values())
    after = table.snapshot()
    assert after.count() == before_cnt
    assert after.agg(F.sum("o_totalprice")).first()[0] == pytest.approx(before_sum)
    # read-optimized == merged after compaction
    assert table.read_optimized().count() == before_cnt
    # compacting again with no logs is an explicit error
    with pytest.raises(TimelineError, match="nothing to compact"):
        table.compact("20260105000000")


def test_log_free_groups_bypass_merge_window(spark, scratch):
    """The merge window covers ONLY groups carrying logs: a delta that
    touches one key puts one group through the (file_id, key) shuffle
    while every log-free group's base file unions around it untouched,
    and a fully-compacted table plans with NO window at all — the
    mostly-compacted-table scan cost the routing exists for."""
    t = MorTable(spark, os.path.join(scratch, "lf"), key_fields=["k"],
                 partition_field=None, num_file_groups=8)
    t.bulk_insert(spark.range(400).selectExpr(
        "cast(id as long) as k", "cast(id as double) as v"), C1)
    # one key's worth of logs: exactly one group is logged
    t.upsert_delta(spark.createDataFrame([(7, 777.0)], "k long, v double"), C2)
    t.delete_delta(spark.createDataFrame([(8,)], "k long"), C3)
    logged = sum(1 for s in resolve_slices(t.timeline).values() if s.log_paths)
    assert 1 <= logged <= 2  # k=7 and k=8 hash to at most two groups

    snap = t.snapshot()
    plan_str = snap._jdf.queryExecution().analyzed().treeString()
    assert plan_str.count("row_number()") == 1  # ONE window...
    assert "Union" in plan_str  # ...with log-free bases around it
    rows = {r["k"]: r["v"] for r in snap.collect()}
    assert len(rows) == 399 and rows[7] == 777.0 and 8 not in rows
    assert rows[100] == 100.0  # log-free group row served raw

    t.compact(C4)
    plan_str2 = t.snapshot()._jdf.queryExecution().analyzed().treeString()
    assert "row_number()" not in plan_str2  # pure scan, zero shuffle
    rows2 = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert rows2 == rows


def test_flagged_base_rows_stay_deleted(spark, scratch):
    """Base files are not meant to carry the tombstone flag, but one
    that does must fail safe: a base row flagged deleted stays out of
    the snapshot, in a logged group (through the merge) and in a
    log-free one (around it)."""
    t = MorTable(spark, os.path.join(scratch, "flagged"), key_fields=["k"],
                 partition_field=None, num_file_groups=2)
    t.bulk_insert(spark.range(20).selectExpr(
        "cast(id as long) as k", "cast(id as double) as v",
        "id % 2 = 0 as _hoodie_is_deleted"), C1)
    odd = set(range(1, 20, 2))
    assert {r["k"] for r in t.snapshot().collect()} == odd
    t.upsert_delta(spark.createDataFrame([(1, 100.0)], "k long, v double"),
                   C2)
    slices = resolve_slices(t.timeline).values()
    assert sum(1 for s in slices if s.log_paths) == 1  # one logged group
    snap = t.snapshot()
    assert "_hoodie_is_deleted" not in snap.columns
    rows = {r["k"]: r["v"] for r in snap.collect()}
    assert set(rows) == odd and rows[1] == 100.0


def _executed(df) -> str:
    """The executed plan, read before any action (the adaptive plan then
    prints only its initial tree)."""
    return df._jdf.queryExecution().executedPlan().toString()


def _merge_windows(df) -> int:
    return len(re.findall(r"\bWindow \[", _executed(df)))


def test_mor_delete_view(table, orders):
    victims = orders.filter("o_orderkey % 11 = 0")
    n = victims.count()
    table.delete_delta(victims.select("o_orderkey", "o_orderstatus"), C2)
    dv = table.delete_view(C2)
    # tombstones semi-select the rows at T-1: no anti-join, and no merge
    # at all while T-1 is log-free
    assert "LeftAnti" not in _executed(dv) and _merge_windows(dv) == 0
    assert dv.count() == n
    got = {r[0] for r in dv.select(RECORD_KEY_FIELD).collect()}
    want = {str(r.o_orderkey) for r in victims.select("o_orderkey").collect()}
    assert got == want
    # deleted rows carry their last-known payload (from the base slice)
    assert dv.filter(F.col("o_totalprice").isNull()).count() == 0

    # over a logged T-1: one merge window (T-1's), none at T, no anti-join
    victims3 = orders.filter("o_orderkey % 13 = 0 AND NOT o_orderkey % 11 = 0")
    table.delete_delta(victims3.select("o_orderkey", "o_orderstatus"), C3)
    dv3 = table.delete_view(C3)
    assert "LeftAnti" not in _executed(dv3) and _merge_windows(dv3) == 1
    got3 = {r[0] for r in dv3.select(RECORD_KEY_FIELD).collect()}
    assert got3 == {str(r.o_orderkey) for r in victims3.collect()}


def test_mor_incremental_reads_log_changes(table, orders):
    """incremental (M1, M2] = exactly the delta-updated versions;
    (M1, M3] additionally drops keys tombstoned at M3."""
    updates = orders.filter("o_orderkey % 7 = 0").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    table.upsert_delta(updates, C2)
    table.delete_delta(
        orders.filter("o_orderkey % 11 = 0").select("o_orderkey", "o_orderstatus"), C3
    )

    inc2 = table.incremental(C1, C2)
    got2 = {r["o_orderkey"] for r in inc2.select("o_orderkey").collect()}
    want2 = {r["o_orderkey"] for r in orders.filter("o_orderkey % 7 = 0").collect()}
    assert got2 == want2
    # updated values visible
    prices = {r["o_orderkey"]: r["o_totalprice"] for r in inc2.collect()}
    base = {r["o_orderkey"]: r["o_totalprice"] for r in orders.filter("o_orderkey % 7 = 0").collect()}
    assert all(abs(prices[k] - 2 * base[k]) < 1e-9 for k in want2)

    inc3 = table.incremental(C1, C3)
    got3 = {r["o_orderkey"] for r in inc3.select("o_orderkey").collect()}
    assert got3 == {k for k in want2 if k % 11 != 0}


def test_log_only_file_group(spark, orders, scratch):
    """A delta upsert introducing keys in a NEW partition creates a
    log-only slice (no base file); the merged snapshot must surface those
    rows, and compaction must give them a base file."""
    t = MorTable(
        spark,
        os.path.join(scratch, "logonly"),
        key_fields=["o_orderkey"],
        partition_field="o_orderstatus",
        num_file_groups=2,
    )
    t.bulk_insert(orders.filter("o_orderstatus = 'F'"), C1)
    # keys in partition 'O' never had a base file
    newpart = orders.filter("o_orderstatus = 'O'").limit(50)
    t.upsert_delta(newpart, C2)
    snap = t.snapshot()
    assert snap.filter("o_orderstatus = 'O'").count() == 50
    # read-optimized view (base only) must NOT see them yet
    assert t.read_optimized().filter("o_orderstatus = 'O'").count() == 0
    t.compact(C3)
    assert t.read_optimized().filter("o_orderstatus = 'O'").count() == 50
    assert t.snapshot().count() == snap.count()


def test_delete_view_across_compaction(spark, orders, sf_dir, scratch):
    """Compaction mid-timeline: delete views on both sides of it stay
    reconstructable; phantom tombstones (already-deleted keys) are dropped;
    compaction publishes no-change stats."""
    from hudi_delete_view_spark.sources.fixtures import build_orders_mor_compacted

    C5 = "20260105000000"
    t = build_orders_mor_compacted(spark, sf_dir, base_path=os.path.join(scratch, "mor_c"))

    # compaction commit reports no data change
    cmeta = t.timeline.commit_metadata(C4)
    assert cmeta.operation == "compaction"
    for _p, stat in cmeta.all_stats():
        assert stat.num_deletes == 0 and stat.num_inserts == 0 and stat.num_update_writes == 0
    assert cmeta.total_records_deleted == 0

    # M5 delete view: %13 keys minus those already deleted at M3 (%11)
    want_m5 = orders.filter("o_orderkey % 13 = 0 AND NOT o_orderkey % 11 = 0").count()
    dv5 = t.delete_view(C5)
    assert dv5.count() == want_m5
    # A14-style consistency: stats match the view exactly (phantom
    # tombstones for already-deleted keys must not be counted or written)
    assert t.timeline.commit_metadata(C5).total_records_deleted == want_m5

    # M3 delete view still reconstructs after M4 rewrote every group
    want_m3 = orders.filter("o_orderkey % 11 = 0").count()
    dv3 = t.delete_view(C3)
    assert dv3.count() == want_m3
    # deleted rows carry the M2-updated payload
    doubled = dv3.filter("o_orderkey % 7 = 0").agg(F.sum("o_totalprice")).first()[0]
    want_doubled = (
        orders.filter("o_orderkey % 11 = 0 AND o_orderkey % 7 = 0")
        .agg(F.sum("o_totalprice"))
        .first()[0]
    )
    assert doubled == pytest.approx(want_doubled * 2)

    # snapshot after everything: all deletes applied
    assert t.snapshot().count() == orders.count() - want_m3 - want_m5


def test_duplicate_and_phantom_tombstones_not_counted(table, orders):
    """delete_delta dedupes tombstone keys and drops keys not live in the
    merged view, so numDeletes reflects records actually deleted."""
    victims = orders.filter("o_orderkey % 11 = 0").select("o_orderkey", "o_orderstatus")
    n = victims.count()
    # duplicate every tombstone and add phantom keys that don't exist
    phantom = victims.withColumn("o_orderkey", F.col("o_orderkey") + 1000000000)
    noisy = victims.union(victims).union(phantom)
    meta = table.delete_delta(noisy, C2)
    assert meta.total_records_deleted == n
    assert table.snapshot().count() == orders.count() - n


def test_mor_snapshot_partition_pruning(spark, scratch):
    import os

    from pyspark.sql import functions as F

    from hudi_delete_view_spark.sources.mor import MorTable

    t = MorTable(
        spark, os.path.join(scratch, "morpp"), key_fields=["k"], partition_field="p"
    )
    df = spark.createDataFrame(
        [(i, f"p{i % 2}", i) for i in range(40)], "k long, p string, x long"
    )
    t.bulk_insert(df, "20250101000000")
    # delta upsert into p1 so the merged view includes log rows
    t.upsert_delta(
        spark.createDataFrame([(1, "p1", 999)], "k long, p string, x long"),
        "20250102000000",
    )
    pruned = t.snapshot(partitions=["p1"])
    rows = {r.k: r.x for r in pruned.collect()}
    assert set(rows) == {i for i in range(40) if i % 2 == 1}
    assert rows[1] == 999  # merged log row visible through the pruned read
    assert t.snapshot(partitions=["nope"]).count() == 0
    assert t.read_optimized(partitions=["p0"]).filter(F.col("p") != "p0").count() == 0


def test_schedule_compaction_thresholds(spark, scratch):
    import os

    from hudi_delete_view_spark.sources.mor import MorTable

    t = MorTable(
        spark, os.path.join(scratch, "sched"), key_fields=["k"], num_file_groups=2
    )
    df = spark.createDataFrame([(i, i) for i in range(40)], "k long, x long")
    t.bulk_insert(df, "20250101000000")
    assert t.schedule_compaction() == []  # no logs yet

    # one delta: below the 2-log-file default threshold
    t.upsert_delta(spark.createDataFrame([(1, 100)], "k long, x long"), "20250102000000")
    assert t.schedule_compaction(min_log_files=2) == []
    # but a 1-byte size threshold catches it
    due_small = t.schedule_compaction(min_log_files=99, min_log_bytes=1)
    assert len(due_small) >= 1

    # second delta on the same key's group: crosses the file-count threshold
    t.upsert_delta(spark.createDataFrame([(1, 200)], "k long, x long"), "20250103000000")
    due = t.schedule_compaction(min_log_files=2)
    assert len(due) == 1
    # compacting clears the schedule
    t.compact("20250104000000")
    assert t.schedule_compaction(min_log_files=1) == []
    assert t.snapshot().filter("k = 1").first().x == 200


def test_compact_only_scheduled_groups(spark, scratch):
    import os

    from hudi_delete_view_spark.sources.mor import MorTable

    t = MorTable(
        spark, os.path.join(scratch, "schedsub"), key_fields=["k"], num_file_groups=4
    )
    rows = [(i, i) for i in range(80)]
    t.bulk_insert(spark.createDataFrame(rows, "k long, x long"), "20250101000000")
    # stack 2 logs on one key's group, 1 log on another group
    t.upsert_delta(spark.createDataFrame([(1, 100)], "k long, x long"), "20250102000000")
    t.upsert_delta(spark.createDataFrame([(1, 101)], "k long, x long"), "20250103000000")
    t.upsert_delta(spark.createDataFrame([(2, 200)], "k long, x long"), "20250104000000")
    due = t.schedule_compaction(min_log_files=2)
    assert len(due) == 1
    t.compact("20250105000000", groups=due)
    # the scheduled group's logs are absorbed; the other group keeps its log
    from hudi_delete_view_spark.plans.slices import resolve_slices

    slices = resolve_slices(t.timeline)
    remaining_logs = {g: len(s.log_paths) for g, s in slices.items() if s.log_paths}
    assert due[0] not in remaining_logs
    assert sum(remaining_logs.values()) == 1
    # stale absorbed log bytes no longer count toward the size threshold
    assert due[0] not in t.schedule_compaction(min_log_files=99, min_log_bytes=1)
    # data is intact either way
    vals = {r.k: r.x for r in t.snapshot().filter("k in (1, 2)").collect()}
    assert vals == {1: 101, 2: 200}


def test_merge_delta_mixed_actions(spark, scratch):
    """One mixed-action delta commit: updates + tombstones + inserts in
    the same log slices; merged read resolves all three; stats count only
    matched deletes; delete view reconstructs the tombstoned rows."""
    t = MorTable(
        spark, os.path.join(scratch, "mor_mrg"), key_fields=["k"],
        partition_field="p", num_file_groups=2,
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(k, f"p{k % 2}", k * 10) for k in range(1, 11)], "k int, p string, v int"
        ),
        "20270601000000",
    )
    src = spark.createDataFrame(
        [(1, "p1", 999, False), (4, "p0", 999, False),   # updates
         (3, "p1", 0, True), (6, "p0", 0, True),         # matched deletes
         (21, "p1", 210, False),                         # insert
         (99, "p1", 0, True)],                           # unmatched delete: no-op
        "k int, p string, v int, is_del boolean",
    )
    meta = t.merge_delta(src, "20270602000000", delete_condition="is_del")
    assert meta.operation == "delta_commit"
    assert meta.total_records_deleted == 2
    got = {r["k"]: r["v"] for r in t.snapshot().select("k", "v").collect()}
    assert got == {1: 999, 2: 20, 4: 999, 5: 50, 7: 70, 8: 80, 9: 90, 10: 100, 21: 210}
    dv_df = t.delete_view("20270602000000")
    # only the groups holding k=3 and k=6 are read, at T-1 and in T's logs
    deleting = {
        s.file_id for _p, s in meta.all_stats() if s.num_deletes > 0
    }
    untouched = {
        os.path.basename(f)
        for g, sl in resolve_slices(t.timeline).items() if g[1] not in deleting
        for f in [sl.base_path, *sl.log_paths] if f
    }
    assert untouched  # the commit deleted from a strict subset of groups
    assert not untouched & {os.path.basename(f) for f in dv_df.inputFiles()}
    dv = {r["k"] for r in dv_df.collect()}
    assert dv == {3, 6}
    # base files untouched: read-optimized still serves the original rows
    ro = {r["k"]: r["v"] for r in t.read_optimized().select("k", "v").collect()}
    assert ro == {k: k * 10 for k in range(1, 11)}
    # compaction after the mixed commit converges to the merged view
    t.compact("20270603000000")
    got2 = {r["k"]: r["v"] for r in t.snapshot().select("k", "v").collect()}
    assert got2 == got


def test_delta_source_takes_table_types(spark, scratch):
    """A merge or upsert delta narrower than the table (``k int, v int``
    over a base bulk-inserted from Python ints, INT64) is cast to the
    table schema: the merged snapshot stays readable, typed as the base."""
    t = MorTable(
        spark, os.path.join(scratch, "mor_mrg_types"), key_fields=["k"],
        partition_field="p", num_file_groups=2,
    )
    t.bulk_insert(
        spark.createDataFrame([(k, f"p{k % 2}", k * 10) for k in range(4)],
                              ["k", "p", "v"]),
        "20270601000000",
    )
    src = spark.createDataFrame(
        [(1, "p1", 7001, False), (2, "p0", 0, True), (10, "p0", 9010, False)],
        "k int, p string, v int, is_del boolean",
    )
    t.merge_delta(src, "20270602000000", delete_condition="is_del")
    t.upsert_delta(
        spark.createDataFrame([(3, "p1", 33)], "k int, p string, v int"),
        "20270603000000",
    )
    snap = t.snapshot()
    assert dict(snap.dtypes)["k"] == dict(snap.dtypes)["v"] == "bigint"
    got = {r["k"]: r["v"] for r in snap.select("k", "v").collect()}
    assert got == {0: 0, 1: 7001, 3: 33, 10: 9010}


def test_mor_scan_merges_logs(spark, scratch):
    """MOR scan must read THROUGH the merge: log updates move rows into
    the scanned range (and tombstones remove them) even when the base
    file's stats would exclude or include the group."""
    t = MorTable(
        spark, os.path.join(scratch, "mscan"), key_fields=["k"],
        partition_field=None, num_file_groups=2,
    )
    t.bulk_insert(
        spark.createDataFrame([(k, k * 10) for k in range(1, 9)], "k int, v int"),
        "20270601000000",
    )
    # log: k=1 jumps to v=500 (into range); k=4 (v=40, in range) tombstoned
    t.upsert_delta(spark.createDataFrame([(1, 500)], "k int, v int"), "20270602000000")
    t.delete_delta(spark.createDataFrame([(4,)], "k int"), "20270603000000")
    got = {r["k"]: r["v"] for r in t.scan({"v": (40, 600)}).select("k", "v").collect()}
    assert got == {1: 500, 5: 50, 6: 60, 7: 70, 8: 80}
    # stats still prune when a group is log-free: as-of the initial commit
    got0 = {r["k"] for r in t.scan({"v": (10, 30)}, as_of="20270601000000").collect()}
    assert got0 == {1, 2, 3}


def test_cow_writers_on_mor_absorb_logs(spark, scratch):
    """Inherited COW-style writers on a MOR table must read the MERGED
    view as their survivors source: a key-delete after log updates keeps
    the log values of untouched keys and honors prior tombstones (a base
    rewrite from stale base rows would silently drop both)."""
    t = MorTable(
        spark, os.path.join(scratch, "mabs"), key_fields=["k"],
        partition_field=None, num_file_groups=1,
    )
    t.bulk_insert(spark.createDataFrame([(k, k * 10) for k in range(1, 6)], "k int, v int"),
                  "20270601000000")
    t.upsert_delta(spark.createDataFrame([(2, 222)], "k int, v int"), "20270602000000")
    t.delete_delta(spark.createDataFrame([(3,)], "k int"), "20270603000000")
    # COW-style delete of k=1: the group rewrite must absorb the logs
    t.delete(spark.createDataFrame([(1,)], "k int"), "20270604000000")
    got = {r["k"]: r["v"] for r in t.snapshot().select("k", "v").collect()}
    assert got == {2: 222, 4: 40, 5: 50}
    # the delete view of a base rewrite: merged rows at T-1 whose keys the
    # new base file lacks
    dv = t.delete_view("20270604000000").select("k", "v").collect()
    assert {(r["k"], r["v"]) for r in dv} == {(1, 10)}
    # and the same through a COW-style merge
    t.merge_into(
        spark.createDataFrame([(4, 444, False), (5, 0, True)], "k int, v int, is_del boolean"),
        "20270605000000", delete_condition="is_del",
    )
    got = {r["k"]: r["v"] for r in t.snapshot().select("k", "v").collect()}
    assert got == {2: 222, 4: 444}
    dv = t.delete_view("20270605000000").select("k", "v").collect()
    assert {(r["k"], r["v"]) for r in dv} == {(5, 50)}


def test_cow_writers_on_mor_publish_merged_row_stats(spark, scratch):
    """An absorbing COW-style write on MOR counts against the MERGED rows
    it rewrote, not the base footer: a delete after a log tombstone of
    another key deletes one row, and an upsert after a log insert of its
    key is an update."""
    t = MorTable(
        spark, os.path.join(scratch, "mstats"), key_fields=["k"],
        partition_field=None, num_file_groups=1,
    )
    t.bulk_insert(spark.createDataFrame([(k, k * 10) for k in range(1, 6)], "k int, v int"),
                  "20270601000000")
    t.delete_delta(spark.createDataFrame([(3,)], "k int"), "20270602000000")
    meta = t.delete(spark.createDataFrame([(1,)], "k int"), "20270603000000")
    (stat,) = [s for _p, s in meta.all_stats()]
    assert (stat.num_deletes, meta.total_records_deleted, stat.num_writes) == (1, 1, 3)
    t.upsert_delta(spark.createDataFrame([(6, 60)], "k int, v int"), "20270604000000")
    meta = t.upsert(spark.createDataFrame([(6, 66), (7, 70)], "k int, v int"), "20270605000000")
    (stat,) = [s for _p, s in meta.all_stats()]
    assert (stat.num_update_writes, stat.num_inserts, stat.num_deletes) == (1, 1, 0)
    assert {r["k"]: r["v"] for r in t.snapshot().collect()} == {
        2: 20, 4: 40, 5: 50, 6: 66, 7: 70}


def test_size_tiered_compaction_rewrites_fewer_bytes(spark, scratch):
    """Size-tiered policy (SURVEY 12.4): a huge-base group carrying one
    tiny log is DEFERRED (absorbing it now would over-amplify), while a
    small-base group whose logs rival its base compacts — measurably fewer
    bytes rewritten than the count-trigger cohort, with the merged view
    identical either way."""
    import shutil

    from hudi_delete_view_spark.sources.mor import MorTable

    def _mk(path):
        return MorTable(
            spark, path, key_fields=["k"], partition_field="p", num_file_groups=1
        )

    t = _mk(os.path.join(scratch, "tiered"))
    fat = "x" * 2000
    big = spark.createDataFrame(
        [(i, "big", fat + str(i)) for i in range(40000)], "k long, p string, s string"
    )
    small = spark.createDataFrame(
        [(i + 100000, "small", "y") for i in range(200)], "k long, p string, s string"
    )
    t.bulk_insert(big.unionByName(small), "20250101000000")
    # two log stacks: 'big' gets 1-row deltas (tiny vs its base), 'small'
    # gets 150-row deltas (log bytes rival its base)
    for i, ts in enumerate(["20250102000000", "20250103000000"]):
        d_big = spark.createDataFrame([(i, "big", fat)], "k long, p string, s string")
        d_small = spark.createDataFrame(
            [(j + 100000, "small", f"z{i}") for j in range(150)],
            "k long, p string, s string",
        )
        t.upsert_delta(d_big.unionByName(d_small), ts)

    due_count = t.schedule_compaction(min_log_files=2)
    assert len(due_count) == 2  # old policy: both groups fire
    due_tiered = t.schedule_compaction_tiered(target_ratio=0.5)
    assert len(due_tiered) == 1 and due_tiered[0][0] == "small"

    # compact a byte-identical copy with the count cohort for comparison
    t2_path = os.path.join(scratch, "tiered_copy")
    shutil.copytree(os.path.join(scratch, "tiered"), t2_path)
    t2 = _mk(t2_path)

    merged_before = t.snapshot().select("k", "p", "s").orderBy("k").collect()
    m_tiered = t.compact("20250104000000", groups=due_tiered)
    m_count = t2.compact("20250104000000", groups=due_count)
    bytes_tiered = sum(s.file_size_bytes for _p, s in m_tiered.all_stats())
    bytes_count = sum(s.file_size_bytes for _p, s in m_count.all_stats())
    assert bytes_tiered < bytes_count / 5, (bytes_tiered, bytes_count)
    # both views stay correct
    assert t.snapshot().select("k", "p", "s").orderBy("k").collect() == merged_before
    assert t2.snapshot().select("k", "p", "s").orderBy("k").collect() == merged_before
    # the deferred big group still carries its logs; small is clean
    left = t.schedule_compaction(min_log_files=1)
    assert left == [("big", left[0][1])]


def test_size_tiered_budget_and_log_only(spark, scratch):
    """io_budget_bytes picks the highest-payoff due groups first and never
    returns an empty cohort when something is due; log-only groups are
    always due (amplification 1)."""
    from hudi_delete_view_spark.sources.mor import MorTable

    t = MorTable(
        spark, os.path.join(scratch, "budget"), key_fields=["k"],
        partition_field="p", num_file_groups=1,
    )
    t.bulk_insert(
        spark.createDataFrame([(1, "a", "x" * 500), (2, "b", "y")],
                              "k long, p string, s string"),
        "20250101000000",
    )
    # partition 'c' never had a base file -> log-only group
    t.upsert_delta(
        spark.createDataFrame(
            [(10, "c", "new"), (1, "a", "upd"), (2, "b", "upd")],
            "k long, p string, s string",
        ),
        "20250102000000",
    )
    due = t.schedule_compaction_tiered(target_ratio=10.0)
    # ratio 10 defers any group with a base file; log-only 'c' is still due
    assert [g[0] for g in due] == ["c"]
    due_all = t.schedule_compaction_tiered(target_ratio=0.0001)
    assert len(due_all) == 3
    # budget of 1 byte: greedy keeps the single best-payoff group (the
    # log-only one, payoff 1.0) rather than returning nothing
    cohort = t.schedule_compaction_tiered(target_ratio=0.0001, io_budget_bytes=1)
    assert [g[0] for g in cohort] == ["c"]
    with pytest.raises(ValueError):
        t.schedule_compaction_tiered(target_ratio=0)


def test_archive_preserves_live_logs_and_compaction_sizing(spark, scratch):
    """MOR + archival: delta logs written by ARCHIVED commits stay in the
    checkpoint slices (the merged snapshot still sees them) and the
    compaction planners still size them from the checkpoint's published
    byte map — no filesystem stat calls."""
    from hudi_delete_view_spark.sources.mor import MorTable

    t = MorTable(spark, os.path.join(scratch, "morarch"), key_fields=["k"],
                 partition_field=None, num_file_groups=1)
    t.bulk_insert(spark.createDataFrame([(i, i) for i in range(50)],
                                        "k long, x long"), "20250101000000")
    t.upsert_delta(spark.createDataFrame([(1, 100)], "k long, x long"), "20250102000000")
    t.upsert_delta(spark.createDataFrame([(2, 200)], "k long, x long"), "20250103000000")

    merged_before = t.snapshot().select("k", "x").orderBy("k").collect()
    due_before = t.schedule_compaction(min_log_files=2)

    t.archive_timeline(keep_last_n=1)
    assert t.timeline.timestamps() == ["20250103000000"]
    assert t.snapshot().select("k", "x").orderBy("k").collect() == merged_before
    # planners still see both live logs with their published sizes
    assert t.schedule_compaction(min_log_files=2) == due_before
    tiered = t.schedule_compaction_tiered(target_ratio=0.0001)
    assert tiered == due_before
    # compaction across the archive boundary still folds the logs
    t.compact("20250104000000")
    assert t.read_optimized().filter("k = 1").first().x == 100
    assert t.snapshot().select("k", "x").orderBy("k").collect() == merged_before


def test_mor_snapshot_plans_published_schema(spark, scratch):
    """Metadata-only MOR scan planning: base and log sides of the merged
    view plan with per-side StructTypes derived from the commit-published
    schema (no footer inference / mergeSchema pass), so a partition-pruned
    snapshot whose kept files all PREDATE a column addition still surfaces
    the column as NULLs — impossible under footer inference over the kept
    subset. Also pins per-side shape: the flag never reaches the output."""
    import json

    from pyspark.sql.types import StructType

    from hudi_delete_view_spark.sources.mor import DELETED_FIELD

    t = MorTable(spark, os.path.join(scratch, "morpub"), key_fields=["k"],
                 partition_field="p", num_file_groups=2)
    T1, T2 = "20270101000000", "20270102000000"
    t.bulk_insert(
        spark.createDataFrame([(k, f"p{k % 2}", k * 10) for k in range(10)],
                              "k int, p string, v int"),
        T1,
    )
    # delta adds column 'extra', logging ONLY into p1's group
    t.upsert_delta(
        spark.createDataFrame([(1, "p1", 999, "x1")],
                              "k int, p string, v int, extra string"),
        T2,
    )
    published = StructType.fromJson(
        json.loads(t.timeline.commit_metadata(T2).schema_json)
    )
    data_fields = StructType(
        [f for f in published.fields if f.name != DELETED_FIELD]
    )
    snap = t.snapshot()
    # the merge window relaxes meta-field nullability; names+types are
    # the planning contract
    assert [(f.name, f.dataType) for f in snap.schema.fields] == [
        (f.name, f.dataType) for f in data_fields.fields
    ]
    rows = {r["k"]: r for r in snap.collect()}
    assert rows[1]["extra"] == "x1" and rows[1]["v"] == 999
    assert rows[2]["extra"] is None
    # p0's files all predate 'extra': only published-schema planning can
    # surface the column over that subset
    pruned = t.snapshot(partitions=["p0"])
    assert "extra" in pruned.columns
    prows = pruned.select("k", "extra").collect()
    assert prows and all(r["extra"] is None for r in prows)
    # time travel serves the schema published THEN (no 'extra')
    assert "extra" not in t.snapshot(as_of=T1).columns
    # incremental + the log-only stamps path plan from published schema too
    inc = t.incremental(T1, T2)
    assert "extra" in inc.columns and DELETED_FIELD not in inc.columns


def test_mor_narrow_delta_keeps_published_width(spark, scratch):
    """A delta BATCH narrower than the table must not shrink the published
    schema: metadata-only planning reads scans from schema_json, so a
    shrink would silently drop base-file columns the footer-merge read
    surfaced. The delta's published schema is the additive union; merged
    rows updated by the narrow delta carry NULL for the missing column
    (latest-version-wins, same as the old unionByName semantics)."""
    t = MorTable(spark, os.path.join(scratch, "mornarrow"), key_fields=["k"],
                 partition_field=None, num_file_groups=1)
    T1, T2 = "20270101000000", "20270102000000"
    t.bulk_insert(
        spark.createDataFrame([(k, k * 10, f"w{k}") for k in range(6)],
                              "k int, v int, w string"),
        T1,
    )
    t.upsert_delta(
        spark.createDataFrame([(1, 999)], "k int, v int"), T2  # no 'w'
    )
    snap = t.snapshot()
    assert "w" in snap.columns
    rows = {r["k"]: r for r in snap.collect()}
    assert rows[1]["v"] == 999 and rows[1]["w"] is None
    assert rows[2]["w"] == "w2" and rows[2]["v"] == 20
