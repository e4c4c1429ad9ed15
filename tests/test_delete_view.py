"""Delete-view flagship: golden expectations + cache semantics + edge cases
(reference invariants from DeleteView.java / FIXTURES.md §2.1/2.3)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from hudi_delete_view_spark.sources.fixtures import LINEITEM_KEY
from hudi_delete_view_spark.plans.timeline import TimelineError
from hudi_delete_view_spark.sources.cow import COMMIT_TIME_FIELD, RECORD_KEY_FIELD, CowTable
from hudi_delete_view_spark.sources.delete_view import DeleteView, delete_view

C1, C2, C3, C4 = "20260101000000", "20260102000000", "20260103000000", "20260104000000"


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
    updates = lineitem.filter("l_partkey % 10 = 0").withColumn(
        "l_quantity", F.col("l_quantity") + F.lit(100.0)
    )
    t.upsert(updates, C2)
    t.delete_where("l_suppkey % 17 = 0", C3)
    return t


def test_delete_view_golden(table, spark, lineitem):
    dv = delete_view(spark, table.base_path, C3)
    meta = table.timeline.commit_metadata(C3)
    # reference invariant: |view| == totalRecordsDeleted (DeleteView.java:184-186)
    assert dv.count() == meta.total_records_deleted > 0
    # exactly the deleted keys
    expected_keys = {
        f"{r.l_orderkey}:{r.l_linenumber}:{r.l_partkey}:{r.l_suppkey}"
        for r in lineitem.filter("l_suppkey % 17 = 0").collect()
    }
    got_keys = {r[0] for r in dv.select(RECORD_KEY_FIELD).collect()}
    assert got_keys == expected_keys
    # stamped with the delete commit (HudiDeleteHandle.java:73-74)
    assert dv.filter(F.col(COMMIT_TIME_FIELD) != C3).count() == 0
    # payload reflects the C2 update (deleted rows were the *current* versions)
    got_qty = dv.filter("l_partkey % 10 = 0").agg(F.sum("l_quantity")).first()[0]
    want_qty = (
        lineitem.filter("l_suppkey % 17 = 0 and l_partkey % 10 = 0")
        .agg(F.sum("l_quantity") + 100.0 * F.count("*"))
        .first()[0]
    )
    assert got_qty == pytest.approx(want_qty)


def test_cache_hit_and_invalidation(table, spark):
    view = DeleteView(spark, table.base_path, C3)
    path = view.materialize()
    assert view.is_materialized()
    # corrupt the cache: drop one parquet file -> row count mismatch -> recompute
    victim = next(f for f in os.listdir(path) if f.endswith(".parquet"))
    os.remove(os.path.join(path, victim))
    assert not view.is_materialized()
    dv = view.dataset()
    assert dv.count() == table.timeline.commit_metadata(C3).total_records_deleted
    assert view.is_materialized()
    # wiping the dir also invalidates
    shutil.rmtree(path)
    assert not view.is_materialized()


def test_empty_delete_commit(table, spark):
    # a delete matching nothing -> numDeletes==0 everywhere -> empty view
    meta = table.delete_where("l_suppkey = -1", C4)
    assert meta.total_records_deleted == 0
    dv = delete_view(spark, table.base_path, C4)
    assert dv.count() == 0


def test_full_file_group_delete(spark, lineitem, scratch):
    # single file group: deleting everything empties the group; the new
    # slice is a 0-row file and the view holds every old row
    t = CowTable(spark, os.path.join(scratch, "one"), key_fields=LINEITEM_KEY, num_file_groups=1)
    small = lineitem.limit(100)
    t.bulk_insert(small, C1)
    t.delete_where("1 = 1", C2)
    assert t.snapshot().count() == 0
    dv = delete_view(spark, t.base_path, C2)
    assert dv.count() == 100


def test_missing_instant_is_explicit(table, spark):
    with pytest.raises(TimelineError, match="no completed commit instant"):
        DeleteView(spark, table.base_path, "20991231000000")


def test_second_delete_commit_views_are_independent(table, spark, lineitem):
    table.delete_where("l_suppkey % 23 = 0", C4)
    dv3 = delete_view(spark, table.base_path, C3)
    dv4 = delete_view(spark, table.base_path, C4)
    want4 = lineitem.filter("l_suppkey % 23 = 0 and l_suppkey % 17 != 0").count()
    assert dv4.count() == want4
    assert dv3.count() == lineitem.filter("l_suppkey % 17 = 0").count()
    # no key overlap between the two views
    overlap = (
        dv3.select(RECORD_KEY_FIELD).intersect(dv4.select(RECORD_KEY_FIELD)).count()
    )
    assert overlap == 0


def test_delete_view_range_includes_merge_commits(spark, scratch):
    """delete_views_between must surface rows removed by MERGE commits
    alongside plain delete commits, each stamped with its own instant."""
    import os

    from hudi_delete_view_spark.sources.cow import CowTable
    from hudi_delete_view_spark.sources.delete_view import delete_views_between

    t = CowTable(spark, os.path.join(scratch, "dvr_m"), key_fields=["k"],
                 partition_field="p", num_file_groups=2)
    t.bulk_insert(
        spark.createDataFrame([(k, f"p{k % 2}", k * 10) for k in range(1, 11)],
                              "k int, p string, v int"),
        "20280101000000",
    )
    t.delete(
        spark.createDataFrame([(2, "p0"), (3, "p1")], "k int, p string"),
        "20280102000000",
    )
    src = spark.createDataFrame(
        [(5, "p1", 999, False), (6, "p0", 0, True), (21, "p1", 210, False)],
        "k int, p string, v int, is_del boolean",
    )
    t.merge_into(src, "20280103000000", delete_condition="is_del")
    got = {
        (r["k"], r["_hoodie_commit_time"])
        for r in delete_views_between(spark, t.base_path, "20280101000000")
        .select("k", "_hoodie_commit_time").collect()
    }
    assert got == {
        (2, "20280102000000"), (3, "20280102000000"), (6, "20280103000000")
    }


def _jobs_for(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "delete view job audit")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return sc.statusTracker().getJobIdsForGroup(group)


def _strip_before_images(base_path, ts):
    """Rewrite commit ``ts`` as a writer without before-images left it."""
    import json

    meta = os.path.join(base_path, ".hoodie", f"{ts}.commit")
    with open(meta) as f:
        d = json.load(f)
    for stats in d["partitionToWriteStats"].values():
        for s in stats:
            s.pop("beforeImage", None)
    with open(meta, "w") as f:
        json.dump(d, f)


def _same_rows(a, b):
    """Equal as row multisets over all columns (``b`` in ``a``'s order)."""
    b = b.select(*a.columns)
    return a.count() == b.count() and a.exceptAll(b).count() == 0 == b.exceptAll(a).count()


def test_native_view_materializes_without_spark_jobs(table, spark):
    """A native delete commit names one before-image per deleting group;
    the view copies them into ``.delete/<T>`` and runs no Spark job. The
    files keep the commit's published column order."""
    meta = table.timeline.commit_metadata(C3)
    deleting = [s for _p, s in meta.all_stats() if s.num_deletes > 0]
    assert deleting and all(s.before_image for s in deleting)
    view = DeleteView(spark, table.base_path, C3)
    assert _jobs_for(spark, "dv-native-materialize", view.materialize) == []
    assert view.is_materialized()
    published = meta.published_schema().fieldNames()
    assert spark.read.parquet(view.view_path()).columns == published
    assert _same_rows(view.dataset(), view._compute())


def test_commit_without_before_images_takes_keyed_path(table, spark):
    """A commit whose stats name no before-image (a Hudi layout, or a
    table written before before-images) is served by the keyed anti-join:
    the same rows, in the same published column order."""
    native = DeleteView(spark, table.base_path, C3)
    want = native.dataset().collect()
    _strip_before_images(table.base_path, C3)
    keyed = DeleteView(spark, table.base_path, C3)
    assert all(p[3] is None for p in keyed._file_pairs())
    jobs = _jobs_for(spark, "dv-keyed-materialize", lambda: keyed.materialize(force=True))
    assert jobs  # the anti-join ran
    published = table.timeline.commit_metadata(C3).published_schema().fieldNames()
    assert spark.read.parquet(keyed.view_path()).columns == published
    assert _same_rows(keyed.dataset(), spark.createDataFrame(want, keyed.dataset().schema))


T1, T2, T3, T4 = "20280201000000", "20280202000000", "20280203000000", "20280204000000"


def _small(spark, base, n=60):
    t = CowTable(spark, base, key_fields=["k"], partition_field="p", num_file_groups=2)
    df = spark.createDataFrame(
        [(k, f"p{k % 3}", k * 10) for k in range(n)], "k int, p string, v int"
    )
    t.bulk_insert(df, T1)
    return t, df


def _cross_partition(spark, base):
    t, df = _small(spark, base)
    t.delete(df.filter("k % 7 = 0").select("k", "p"), T2)
    return t, T2


def _merge_with_deletes(spark, base):
    t, _df = _small(spark, base)
    src = spark.createDataFrame(
        [(1, "p1", 5, False), (2, "p2", 0, True), (9, "p0", 0, True), (100, "p1", 1, False)],
        "k int, p string, v int, d boolean",
    )
    t.merge_into(src, T2, delete_condition="d")
    return t, T2


def _group_emptied(spark, base):
    t, df = _small(spark, base)
    t.delete(df.filter("p = 'p0'").select("k", "p"), T2)
    return t, T2


def _schema_evolved(spark, base):
    t, df = _small(spark, base)
    # adds column w on the groups of p1 only; the delete then spans
    # groups with and without it
    t.upsert(df.filter("p = 'p1'").withColumn("w", F.col("k") * 2), T2)
    t.delete(df.filter("k % 4 = 0").select("k", "p"), T3)
    return t, T3


def _archived_predecessor(spark, base):
    t, df = _small(spark, base)
    t.upsert(df.filter("k = 1").withColumn("v", F.lit(-1)), T2)
    t.archive_timeline(keep_last_n=1)  # T1, the delete's predecessor, archives
    t.delete(df.filter("k % 5 = 0").select("k", "p"), T3)
    return t, T3


@pytest.mark.parametrize("build", [
    _cross_partition, _merge_with_deletes, _group_emptied, _schema_evolved,
    _archived_predecessor,
], ids=lambda f: f.__name__.strip("_"))
def test_before_image_view_equals_keyed_view(spark, scratch, build):
    """On native commits the before-image view and the keyed anti-join
    (``_compute``) give the same rows over all columns."""
    t, ts = build(spark, os.path.join(scratch, "eq"))
    view = DeleteView(spark, t.base_path, ts)
    assert all(p[3] for p in view._file_pairs())
    got = view.dataset()
    assert got.count() == t.timeline.commit_metadata(ts).total_records_deleted > 0
    assert _same_rows(got, view._compute())


def test_table_services_handle_before_images(spark, scratch, monkeypatch):
    """Before-image files are table files: rollback and restore remove
    them, clean reclaims them once their commit leaves retention,
    find_orphans reports a stray one, and a conflict loser's cleanup
    removes its own; no read sees them as data."""
    from hudi_delete_view_spark.sources.cow import BEFORE_DIR, ConcurrentCommitError

    t, df = _small(spark, os.path.join(scratch, "svc"))
    before = os.path.join(t.base_path, BEFORE_DIR)

    def images(ts):
        d = os.path.join(before, ts)
        return sorted(os.listdir(d)) if os.path.isdir(d) else []

    t.delete(df.filter("k % 7 = 0").select("k", "p"), T2)
    assert images(T2)
    assert t.snapshot().count() == 60 - 9 and t.find_orphans() == []
    # rollback (and restore through it) removes the commit's before-images
    t.delete(df.filter("k % 11 = 0").select("k", "p"), T3)
    assert images(T3)
    removed = t.rollback(T3)
    assert not os.path.exists(os.path.join(before, T3))
    assert any(BEFORE_DIR in p for p in removed)
    t.delete(df.filter("k % 11 = 0").select("k", "p"), T3)
    t.restore(T2)
    assert not os.path.exists(os.path.join(before, T3)) and images(T2)
    # a stray before-image is an orphan
    stray = os.path.join(before, T2, "fg-p9-0_0-0-0_20280299000000.parquet")
    shutil.copyfile(os.path.join(before, T2, images(T2)[0]), stray)
    assert t.find_orphans() == [os.path.abspath(stray)]
    t.find_orphans(remove=True)
    assert t.find_orphans() == []
    # a conflict loser removes its before-images with its data files:
    # another writer's upsert lands on a shared group during its write
    other = CowTable(spark, t.base_path, key_fields=["k"], partition_field="p",
                     num_file_groups=2)
    write = t._write_file_groups

    def racing(*args, **kwargs):
        out = write(*args, **kwargs)
        other.upsert(df.filter("k = 3").withColumn("v", F.lit(-3)), T3)
        return out

    monkeypatch.setattr(t, "_write_file_groups", racing)
    with pytest.raises(ConcurrentCommitError):
        t.delete(df.filter("p = 'p0'").select("k", "p"), T4)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(before, T4)) and t.find_orphans() == []
    # clean keeps a retained commit's before-images and reclaims them
    # with the commit
    t.clean(retain_last_n=2)
    assert images(T2)
    assert DeleteView(spark, t.base_path, T2).dataset().count() == 9
    doomed = t.clean(retain_last_n=1)
    assert any(BEFORE_DIR in p for p in doomed)
    assert not os.path.exists(os.path.join(before, T2))
    # reads never see them; the archive keeps every live file known
    assert t.snapshot().count() == 51 and t.incremental(T1).count() == 1
    t.archive_timeline(keep_last_n=1)
    assert t.find_orphans() == []
