"""Partition evolution (the repartition commit) + writer job-count tests.

Covers the round-4 table-service frontier: layout rewrite across a commit
boundary with time-travel / delete-view / CDC continuity, OCC in both
directions, rollback, and the bulk-insert single-job contract."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hudi_delete_view_spark.plans.timeline import TimelineError
from hudi_delete_view_spark.sources.cow import (
    ConcurrentCommitError,
    CowTable,
    PARTITION_PATH_FIELD,
    RECORD_KEY_FIELD,
)
from hudi_delete_view_spark.sources.delete_view import delete_view
from hudi_delete_view_spark.sources.mor import MorTable

from conftest import _jobs_for

T1, T2, T3, T4, T5 = (
    "20270101000000",
    "20270102000000",
    "20270103000000",
    "20270104000000",
    "20270105000000",
)


def _mk_df(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("grp"),
        F.when(F.col("id") % 2 == 0, F.lit("even")).otherwise(F.lit("odd")).alias("par"),
        (F.col("id") * 10).cast("double").alias("v"),
    )


@pytest.fixture()
def evolved(spark, tmp_path):
    """k-keyed table: T1 insert (partition grp, 4 groups), T2 update,
    T3 repartition -> (partition par, 2 groups), T4 delete k % 7 == 0."""
    t = CowTable(
        spark, str(tmp_path / "t"), key_fields=["k"],
        partition_field="grp", num_file_groups=4,
    )
    src = _mk_df(spark)
    t.bulk_insert(src, T1)
    t.upsert(src.filter("k % 5 = 0").withColumn("v", F.col("v") + 1.0), T2)
    t.evolve_partitioning(T3, partition_field="par", num_file_groups=2)
    t.delete_where(F.expr("k % 7 = 0"), T4)
    return t


def test_post_evolution_snapshot_new_layout(evolved, spark):
    snap = evolved.snapshot()
    rows = snap.select(RECORD_KEY_FIELD, PARTITION_PATH_FIELD, "k", "v").collect()
    assert len(rows) == 200 - len([k for k in range(200) if k % 7 == 0])
    # partition path follows the NEW field
    assert {r[PARTITION_PATH_FIELD] for r in rows} == {"even", "odd"}
    for r in rows:
        assert r[PARTITION_PATH_FIELD] == ("even" if r["k"] % 2 == 0 else "odd")
    # updated values survived the layout rewrite
    assert all(r["v"] == r["k"] * 10 + (1.0 if r["k"] % 5 == 0 else 0.0) for r in rows)


def test_commit_stamps_preserved_and_incremental_silent(evolved, spark):
    from hudi_delete_view_spark.sources.cow import COMMIT_TIME_FIELD

    snap = evolved.snapshot()
    cts = {r["k"]: r[COMMIT_TIME_FIELD] for r in snap.select("k", COMMIT_TIME_FIELD).collect()}
    for k, ct in cts.items():
        assert ct == (T2 if k % 5 == 0 else T1)
    # the repartition commit itself contributes NOTHING to incremental reads
    assert evolved.incremental(T2, T3).count() == 0


def test_time_travel_serves_old_layout(evolved):
    pre = evolved.snapshot(as_of=T2)
    assert pre.count() == 200
    assert {r[0] for r in pre.select(PARTITION_PATH_FIELD).distinct().collect()} == {
        "0", "1", "2"
    }


def test_delete_view_across_boundary(evolved, spark):
    dv = delete_view(spark, evolved.base_path, T4)
    ks = sorted(r["k"] for r in dv.select("k").collect())
    assert ks == [k for k in range(200) if k % 7 == 0]
    # deleted rows were resident in the NEW layout when deleted
    assert {r[0] for r in dv.select(PARTITION_PATH_FIELD).distinct().collect()} == {
        "even", "odd"
    }
    # predecessor of the delete commit is the repartition commit
    meta = evolved.timeline.commit_metadata(T4)
    prevs = {s.prev_commit for _p, s in meta.all_stats()}
    assert prevs == {T3}


def test_writes_after_evolution_route_new_layout(evolved, spark):
    extra = _mk_df(spark, 300).filter("k >= 200")
    evolved.upsert(extra, T5)
    snap = evolved.snapshot()
    assert snap.count() == 200 - len([k for k in range(200) if k % 7 == 0]) + 100
    # new rows landed in the new layout's partitions/groups
    new_rows = snap.filter("k >= 200").select(PARTITION_PATH_FIELD).distinct().collect()
    assert {r[0] for r in new_rows} == {"even", "odd"}
    fids = {
        s.file_id
        for _p, s in evolved.timeline.commit_metadata(T5).all_stats()
    }
    assert all(f.startswith("fg-even-") or f.startswith("fg-odd-") for f in fids)
    assert all(int(f.rsplit("-", 1)[1]) < 2 for f in fids)


def test_cdc_across_boundary_no_phantoms(evolved):
    feed = evolved.cdc(T1, T4).select("op", RECORD_KEY_FIELD).collect()
    by_op: dict[str, set] = {}
    for r in feed:
        by_op.setdefault(r["op"], set()).add(r[RECORD_KEY_FIELD])
    # no phantom delete+insert pairs from the fid rename
    assert "insert" not in by_op
    assert by_op["delete"] == {str(k) for k in range(200) if k % 7 == 0}
    assert by_op["update"] == {
        str(k) for k in range(200) if k % 5 == 0 and k % 7 != 0
    }


def test_occ_both_directions(spark, tmp_path):
    base = str(tmp_path / "occ")
    a = CowTable(spark, base, key_fields=["k"], partition_field="grp", num_file_groups=2)
    src = _mk_df(spark, 50)
    a.bulk_insert(src, T1)
    # writer-vs-evolution: a handle that read before the evolution landed
    b = CowTable(spark, base, key_fields=["k"], partition_field="grp", num_file_groups=2)
    b.timeline.refresh()
    a.evolve_partitioning(T2, partition_field="par")
    with pytest.raises(ConcurrentCommitError):
        # b's view was read at T1; the evolution invalidated every group
        b._publish(
            T3, "upsert", written={}, prev_slices={}, read_ts=T1,
        )
    # evolution-vs-writer: an evolution whose read point predates a commit
    with pytest.raises(ConcurrentCommitError):
        a._occ_check(T4, {("even", "fg-even-0")}, read_ts=T1, conflict_any=True)


def test_evolution_rollback_restores_old_layout(spark, tmp_path):
    t = CowTable(
        spark, str(tmp_path / "rb"), key_fields=["k"],
        partition_field="grp", num_file_groups=4,
    )
    t.bulk_insert(_mk_df(spark, 60), T1)
    t.evolve_partitioning(T2, partition_field="par", num_file_groups=2)
    assert {r[0] for r in t.snapshot().select(PARTITION_PATH_FIELD).distinct().collect()} == {"even", "odd"}
    t.rollback(T2)
    snap = t.snapshot()
    assert snap.count() == 60
    assert {r[0] for r in snap.select(PARTITION_PATH_FIELD).distinct().collect()} == {"0", "1", "2"}
    # routing reverts with the layout marker gone
    assert t._active_layout() == ("grp", 4)


def test_evolution_guards(spark, tmp_path):
    t = CowTable(
        spark, str(tmp_path / "g"), key_fields=["k"],
        partition_field="grp", num_file_groups=4,
    )
    with pytest.raises(TimelineError):
        t.evolve_partitioning(T1, partition_field="par")
    t.bulk_insert(_mk_df(spark, 20), T1)
    with pytest.raises(ValueError):
        t.evolve_partitioning(T2)  # same layout
    with pytest.raises(ValueError):
        t.evolve_partitioning(T2, num_file_groups=0)


def test_mor_evolution_merges_logs(spark, tmp_path):
    t = MorTable(
        spark, str(tmp_path / "m"), key_fields=["k"],
        partition_field="grp", num_file_groups=4,
    )
    src = _mk_df(spark, 80)
    t.bulk_insert(src, T1)
    t.upsert_delta(src.filter("k % 4 = 0").withColumn("v", F.lit(-1.0)), T2)
    t.delete_delta(src.filter("k % 9 = 0").select("k", "grp"), T3)
    t.evolve_partitioning(T4, partition_field="par", num_file_groups=2)
    snap = t.snapshot()
    rows = {r["k"]: r for r in snap.collect()}
    assert set(rows) == {k for k in range(80) if k % 9 != 0}
    assert all(
        r["v"] == (-1.0 if k % 4 == 0 else k * 10.0) for k, r in rows.items()
    )
    # evolution absorbed the logs: the new slices are base-only
    from hudi_delete_view_spark.plans.slices import resolve_slices

    slices = resolve_slices(t.timeline)
    assert all(s.base_path and not s.log_paths for s in slices.values())
    assert {p for (p, _f) in slices} == {"even", "odd"}


def test_clean_after_evolution_keeps_retained_travel(spark, tmp_path):
    t = CowTable(
        spark, str(tmp_path / "c"), key_fields=["k"],
        partition_field="grp", num_file_groups=2,
    )
    t.bulk_insert(_mk_df(spark, 40), T1)
    t.evolve_partitioning(T2, partition_field="par")
    t.upsert(_mk_df(spark, 40).filter("k < 5").withColumn("v", F.lit(0.0)), T3)
    doomed = t.clean(retain_last_n=2)
    # old-layout files (only T1's snapshot uses them) are reclaimed
    assert doomed and all(os.path.basename(p).startswith("fg-") for p in doomed)
    with pytest.raises(Exception):
        t.snapshot(as_of=T1).count()  # pre-evolution travel gone after clean
    assert t.snapshot(as_of=T2).count() == 40  # retained boundary still serves
    assert t.snapshot().count() == 40


@pytest.fixture()
def no_aqe(spark):
    """AQE materializes each query stage as its own Spark job, which hides
    the logical job count the writer contract is about — pin it off for
    the job-audit tests only."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_bulk_insert_is_single_job(spark, tmp_path, no_aqe):
    t = CowTable(
        spark, str(tmp_path / "j"), key_fields=["k"],
        partition_field="grp", num_file_groups=4,
    )
    df = _mk_df(spark, 100)
    df.count()  # materialize source outside the measured group
    ids = _jobs_for(spark, "bulk-insert-job-count", lambda: t.bulk_insert(df, T1))
    assert len(ids) == 1, f"bulk_insert ran {len(ids)} jobs, expected 1"


def test_delete_job_budget(spark, tmp_path, no_aqe):
    """Delete's fixed job budget: (1) the affected-group collect, (2) the
    group rewrite's write, whose one shuffle brings the old rows and the
    delete markers together by group (no anti-join, no broadcast)."""
    t = CowTable(
        spark, str(tmp_path / "jd"), key_fields=["k"],
        partition_field="grp", num_file_groups=4,
    )
    df = _mk_df(spark, 100)
    t.bulk_insert(df, T1)
    keys = df.filter("k % 5 = 0").select("k", "grp")
    keys.count()
    ids = _jobs_for(spark, "delete-job-count", lambda: t.delete(keys, T2))
    assert len(ids) <= 2, f"delete ran {len(ids)} jobs, expected <= 2"


def test_upsert_job_budget(spark, tmp_path, no_aqe):
    """Upsert's fixed job budget: (1) the affected-group collect, which
    must precede planning the old-rows read, (2) the write, whose stages
    are the incoming dedup and the one repartition by group, and which
    observes the per-group counts. The old-rows read plans with the
    published schema, so it reads no footers. A pre-write stats pass
    coming back would push this above 2."""
    t = CowTable(
        spark, str(tmp_path / "j2"), key_fields=["k"],
        partition_field="grp", num_file_groups=4,
    )
    df = _mk_df(spark, 100)
    t.bulk_insert(df, T1)
    upd = df.filter("k % 3 = 0").withColumn("v", F.lit(9.0))
    upd.count()
    ids = _jobs_for(spark, "upsert-job-count", lambda: t.upsert(upd, T2))
    assert len(ids) <= 2, f"upsert ran {len(ids)} jobs, expected <= 2"


def test_stats_cover_new_partition_column(spark, tmp_path):
    """After evolution, published column stats must include the NEW
    partition field even from a handle constructed with the old args —
    otherwise file skipping on the evolved layout goes conservative."""
    base = str(tmp_path / "s")
    t = CowTable(spark, base, key_fields=["k"], partition_field="grp", num_file_groups=2)
    t.bulk_insert(_mk_df(spark, 60), T1)
    t.evolve_partitioning(T2, partition_field="par")
    t2 = CowTable(spark, base, key_fields=["k"], partition_field="grp", num_file_groups=2)
    t2.upsert(_mk_df(spark, 80).filter("k >= 60"), T3)
    kept, total = t2.pruned_files({"par": ("even", "even")})
    assert total > len(kept) > 0, f"no pruning on evolved column ({len(kept)}/{total})"
    got = t2.scan({"par": ("even", "even")})
    assert {r[0] for r in got.select("par").distinct().collect()} == {"even"}
    assert got.count() == 40  # evens among k < 80


def test_merge_into_job_budget(spark, tmp_path, no_aqe):
    """MERGE's fixed job budget is upsert's: (1) affected-group
    discovery, (2) the group rewrite's write. Matched updates and deletes
    are told apart inside the write, so a classification pass or a join
    coming back pushes this above 2."""
    t = CowTable(
        spark, str(tmp_path / "jm"), key_fields=["k"],
        partition_field="grp", num_file_groups=4,
    )
    df = _mk_df(spark, 100)
    t.bulk_insert(df, T1)
    src = (
        df.filter("k % 3 = 0").withColumn("v", F.lit(9.0))
        .withColumn("is_del", F.col("k") % 2 == 0)
    )
    src.count()
    ids = _jobs_for(
        spark, "merge-job-count",
        lambda: t.merge_into(src, T2, delete_condition="is_del"),
    )
    assert len(ids) <= 2, f"merge_into ran {len(ids)} jobs, expected <= 2"


@pytest.fixture()
def with_aqe(spark):
    """AQE on, as lakebench and users run it: each query stage is then
    its own Spark job."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", prev)


@pytest.mark.parametrize("index_columns", [None, ["v"]], ids=["plain", "indexed"])
def test_commit_job_budgets_with_aqe(spark, tmp_path, with_aqe, index_columns):
    """Spark jobs per COW group rewrite with AQE on, on a 4-group table:
    delete <= 4, upsert <= 5, merge_into <= 5 (each query stage is a job:
    the collect's two, then the dedup exchange, which delete lacks, the
    repartition and the write). The value index rides on the write as an
    observation, so an indexed table runs the same jobs."""
    t = CowTable(
        spark, str(tmp_path / "ja"), key_fields=["k"],
        partition_field="grp", num_file_groups=4, index_columns=index_columns,
    )
    df = _mk_df(spark, 100)
    t.bulk_insert(df, T1)
    keys = df.filter("k % 5 = 0").select("k", "grp")
    upd = df.filter("k % 3 = 0").withColumn("v", F.lit(9.0))
    src = (
        df.filter("k % 3 = 1").withColumn("v", F.lit(9.0))
        .withColumn("is_del", F.col("k") % 2 == 0)
    )
    for frame in (keys, upd, src):
        frame.count()
    tag = f"aqe-{index_columns}"  # job groups accumulate: one per case
    got = {
        "delete": len(_jobs_for(spark, f"{tag}-delete", lambda: t.delete(keys, T2))),
        "upsert": len(_jobs_for(spark, f"{tag}-upsert", lambda: t.upsert(upd, T3))),
        "merge_into": len(_jobs_for(
            spark, f"{tag}-merge",
            lambda: t.merge_into(src, T4, delete_condition="is_del"),
        )),
    }
    budget = {"delete": 4, "upsert": 5, "merge_into": 5}
    assert all(got[op] <= budget[op] for op in budget), (got, budget)


def test_rewrite_counts_exact_over_many_groups(spark, tmp_path, no_aqe, monkeypatch):
    """A rewrite's published per-group updates, inserts and deletes (one
    ``histogram_numeric`` each, observed after the repartition by group)
    equal a ``groupBy().count()`` of the rows each group changed, with
    over 1,000 affected groups across 8 write tasks; and the observation
    holds as many aggregates for 1,000 groups as for a handful."""
    from hudi_delete_view_spark.sources.cow import FILE_NAME_FIELD, file_id_expr

    sizes = []
    frame_cls = type(spark.range(1))
    observe = frame_cls.observe

    def counting_observe(self, observation, *exprs):
        sizes.append(len(exprs))
        return observe(self, observation, *exprs)

    monkeypatch.setattr(frame_cls, "observe", counting_observe)
    # 8 write tasks
    prev = {k: spark.conf.get(k) for k in ("spark.sql.shuffle.partitions",)}
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        t = CowTable(spark, str(tmp_path / "many"), key_fields=["k"],
                     partition_field="p", num_file_groups=4)
        rows = spark.range(8400).select(
            F.col("id").alias("k"), (F.col("id") % 256).alias("p"),
            F.col("id").cast("double").alias("v"))
        t.bulk_insert(rows.filter("k < 8192"), T1)
        src = rows.filter("k % 3 != 2").withColumn("d", F.col("k") % 3 == 1)
        old = t.snapshot()
        meta = t.merge_into(src, T2, delete_condition="d")
        small = CowTable(spark, str(tmp_path / "few"), key_fields=["k"],
                         partition_field=None, num_file_groups=4)
        small.bulk_insert(rows.filter("k < 40"), T1)
        small.merge_into(src.filter("k < 50"), T2, delete_condition="d")
        assert sizes == [3, 3]
        # one counting job over the old rows the merge named and the rows
        # it inserted, each counted in the file group its file name gives
        changed = old.filter("k % 3 != 2").select("k", FILE_NAME_FIELD).unionByName(
            t.snapshot().filter("k >= 8192").select("k", FILE_NAME_FIELD))
        kind = F.when(F.col("k") >= 8192, "i").when(F.col("k") % 3 == 0, "u").otherwise("d")
        want = {"u": {}, "i": {}, "d": {}}
        for r in changed.groupBy(
            kind.alias("kind"), file_id_expr(F.col(FILE_NAME_FIELD)).alias("fid")
        ).count().collect():
            want[r["kind"]][r["fid"]] = r["count"]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    stats = {s.file_id: s for _p, s in meta.all_stats()}
    assert len(stats) >= 1000
    got = {
        "u": {f: s.num_update_writes for f, s in stats.items() if s.num_update_writes},
        "i": {f: s.num_inserts for f, s in stats.items() if s.num_inserts},
        "d": {f: s.num_deletes for f, s in stats.items() if s.num_deletes},
    }
    assert got == want
    assert meta.total_records_deleted == 2731


def test_upsert_stats_count_deduplicated_rows(spark, tmp_path):
    """A batch repeating a key under two partition values lands one row
    (the dedup winner); the losing partition's group is rewritten
    unchanged and must publish no update and no insert."""
    t = CowTable(
        spark, str(tmp_path / "ph"), key_fields=["k"],
        partition_field="grp", num_file_groups=2,
    )
    schema = "k int, grp string, v double"
    t.bulk_insert(
        spark.createDataFrame([(k, "1" if k % 2 else "2", float(k)) for k in range(10)], schema),
        T1,
    )
    meta = t.upsert(spark.createDataFrame([(1, "1", 5.0), (1, "2", 6.0)], schema), T2)
    stats = {p: s for p, s in meta.all_stats()}
    assert set(stats) == {"1", "2"}
    assert (stats["1"].num_update_writes, stats["1"].num_inserts) == (1, 0)
    assert (stats["2"].num_update_writes, stats["2"].num_inserts) == (0, 0)
    before = t.timeline.commit_metadata(T1).find_write_stat(stats["2"].file_id)
    assert stats["2"].num_writes == before.num_writes
    rows = t.snapshot().filter("k = 1").select("grp", "v").collect()
    assert [tuple(r) for r in rows] == [("1", 5.0)]


def test_delete_repeated_keys_publish_same_stats(spark, tmp_path):
    """The delete anti-join's build side takes no distinct: keys repeated
    in ``keys_df`` must publish the same numDeletes and leave the same
    rows as the same keys given once."""
    df = _mk_df(spark, 100)
    keys = df.filter("k % 7 = 0").select("k", "grp")
    out = []
    for name, frame in (("once", keys), ("twice", keys.unionByName(keys).unionByName(keys))):
        t = CowTable(
            spark, str(tmp_path / name), key_fields=["k"],
            partition_field="grp", num_file_groups=4,
        )
        t.bulk_insert(df, T1)
        meta = t.delete(frame, T2)
        stats = sorted(
            (p, s.file_id, s.num_writes, s.num_deletes) for p, s in meta.all_stats()
        )
        rows = sorted(r["k"] for r in t.snapshot().select("k").collect())
        out.append((meta.total_records_deleted, stats, rows))
    assert out[0][0] == 15
    assert out[0] == out[1]


def test_merge_into_after_partition_evolution(spark, tmp_path):
    """A MERGE issued after a repartition commit routes through the NEW
    layout (published metadata, not the constructor args): updates,
    matched deletes, and inserts all land correctly, the merge's delete
    view works across the boundary, and pre-evolution travel still serves
    the old layout."""
    from hudi_delete_view_spark.sources.delete_view import delete_view

    t = CowTable(
        spark, str(tmp_path / "me"), key_fields=["k"],
        partition_field="grp", num_file_groups=4,
    )
    df = _mk_df(spark, 60)
    t.bulk_insert(df, T1)
    t.evolve_partitioning(T2, partition_field="par", num_file_groups=2)
    src = (
        df.filter("k < 6")
        .withColumn("v", F.lit(999.0))
        .withColumn("is_del", F.col("k") % 2 == 1)   # delete odd, update even
    )
    ins = _mk_df(spark, 70).filter("k >= 60").withColumn("is_del", F.lit(False))
    meta = t.merge_into(src.unionByName(ins), T3, delete_condition="is_del")
    # routed under the evolved layout: every touched partition is par-valued
    assert set(meta.partition_to_write_stats) <= {"even", "odd"}
    got = {r["k"]: r["v"] for r in t.snapshot().select("k", "v").collect()}
    assert got[0] == 999.0 and got[2] == 999.0 and got[4] == 999.0
    assert all(k not in got for k in (1, 3, 5))
    assert all(got[k] == k * 10 for k in range(60, 70))
    assert len(got) == 60 - 3 + 10
    dv = {r["k"] for r in delete_view(spark, t.base_path, T3).collect()}
    assert dv == {1, 3, 5}
    # old layout still time-travels
    assert t.snapshot(as_of=T1).count() == 60
