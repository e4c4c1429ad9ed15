"""AutoMaterializedView: plan classification + the three maintenance
algebras (signed retraction, change-key join, change-key select), each
checked for exact convergence against a from-scratch recompute, plus
zero-write idempotence and the documented unsupported-shape refusals."""

import os

import pyspark.sql.functions as F
import pytest

from hudi_delete_view_spark.plans.ivm import (
    AutoMaterializedView,
    UnsupportedViewError,
    classify_view,
)
from hudi_delete_view_spark.sources.cow import META_FIELDS, CowTable

from conftest import _jobs_for


@pytest.fixture(scope="session")
def _tables_seed(spark, tmp_path_factory):
    """Build the scripted fact/dim tables ONCE; per-test isolation comes
    from a filesystem copy (fixture setup was ~5s of lake commits × ~60
    tests — the copy is milliseconds and byte-identical)."""
    root = str(tmp_path_factory.mktemp("ivm_seed"))
    fact = CowTable(spark, os.path.join(root, "fact"), key_fields=["k"],
                    partition_field=None, num_file_groups=2)
    rows = spark.range(20).selectExpr(
        "concat('k', id) as k", "cast(id % 4 as long) as g",
        "cast(id as double) as v",
        "case when id % 7 = 0 then cast(null as long) else id * 10 end as nv",
    )
    fact.bulk_insert(rows, "20260101000000")
    fact.upsert(
        spark.range(5).selectExpr(
            "concat('k', id) as k", "cast(id % 4 as long) as g",
            "cast(id + 100 as double) as v", "cast(id as long) as nv"),
        "20260102000000",
    )
    fact.delete(spark.createDataFrame([("k15",), ("k16",)], "k string"),
                "20260103000000")
    fact.upsert(
        spark.createDataFrame([("k99", 9, 9.0, None)],
                              "k string, g long, v double, nv long"),
        "20260104000000",
    )
    dim = CowTable(spark, os.path.join(root, "dim"), key_fields=["gk"],
                   partition_field=None, num_file_groups=1)
    dim.bulk_insert(
        spark.range(4).selectExpr("cast(id as long) as gk",
                                  "concat('name', id) as gname"),
        "20260101000000",
    )
    dim.upsert(spark.createDataFrame([(1, "RENAMED")], "gk long, gname string"),
               "20260103000000")
    dim.delete(spark.createDataFrame([(3,)], "gk long"), "20260104000000")
    return root


@pytest.fixture()
def tables(spark, scratch, _tables_seed):
    """A scripted fact table (insert/update/delete/insert commits, NULLs
    in ``nv``) and a dim table (update + delete commits) — a private
    filesystem copy of the session seed (tests append commits freely)."""
    import shutil

    shutil.copytree(os.path.join(_tables_seed, "fact"),
                    os.path.join(scratch, "fact"))
    shutil.copytree(os.path.join(_tables_seed, "dim"),
                    os.path.join(scratch, "dim"))
    fact = CowTable(spark, os.path.join(scratch, "fact"), key_fields=["k"],
                    partition_field=None, num_file_groups=2)
    dim = CowTable(spark, os.path.join(scratch, "dim"), key_fields=["gk"],
                   partition_field=None, num_file_groups=1)
    return fact, dim


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def agg_plan(t):
    return (
        t["fact"].filter("g != 2").groupBy("g")
        .agg(F.count("*").alias("n"), F.count("nv").alias("n_nv"),
             F.sum(F.expr("cast(v * 100 as bigint)")).alias("sum_cents"))
    )


def join_plan(t):
    f = t["fact"].select(F.col("_hoodie_record_key").alias("vk"), "k", "g", "v")
    return f.join(t["dim"].select("gk", "gname"), F.col("g") == F.col("gk"))


def sel_plan(t):
    return t["fact"].filter("v < 50").select(
        F.col("_hoodie_record_key").alias("vk"), "v",
        (F.col("v") * 2).alias("v2"))


def test_classify_all_kinds(spark, tables):
    fact, dim = tables
    fs, ds = fact.snapshot(), dim.snapshot()
    a = classify_view(agg_plan({"fact": fs}), {"fact": fs})
    assert a["kind"] == "aggregate" and a["source"] == "fact"
    assert [x[0] for x in a["group"]] == ["g"]
    assert [(x[0], x[1]) for x in a["aggs"]] == [
        ("n", "count"), ("n_nv", "count"), ("sum_cents", "sum")]
    assert a["chain"][0][0] == "filter"
    j = classify_view(join_plan({"fact": fs, "dim": ds}),
                      {"fact": fs, "dim": ds})
    assert (j["kind"], j["fact"]) == ("join", "fact")
    assert [(d["name"], d["probe_out_cols"], d["dim_join_cols"])
            for d in j["dims"]] == [("dim", ["g"], ["gk"])]
    assert j["key"] == {"name": "vk", "source": "fact"}
    s = classify_view(sel_plan({"fact": fs}), {"fact": fs})
    assert s["kind"] == "select" and s["key"]["name"] == "vk"


@pytest.mark.parametrize("bad,msg", [
    (lambda t: t.groupBy("g").agg(F.sum_distinct(F.col("v")).alias("d")),
     "only COUNT.DISTINCT"),
    (lambda t: t.groupBy("g").agg(F.collect_list("v").alias("l")),
     "supported aggregates"),
    (lambda t: t.groupBy("g").agg(F.skewness("v").alias("sk")),
     "supported aggregates"),
], ids=["distinct", "collect_list", "skewness"])
def test_unsupported_aggregates_raise(spark, tables, bad, msg):
    fact, _ = tables
    fs = fact.snapshot()
    with pytest.raises(UnsupportedViewError, match=msg):
        classify_view(bad(fs), {"fact": fs})


def test_outer_join_and_missing_key_raise(spark, tables):
    fact, dim = tables
    fs, ds = fact.snapshot(), dim.snapshot()
    outer = fs.select(F.col("_hoodie_record_key").alias("vk"), "g").join(
        ds.select("gk"), F.col("g") == F.col("gk"), "full")
    with pytest.raises(UnsupportedViewError, match="INNER and LEFT OUTER"):
        classify_view(outer, {"fact": fs, "dim": ds})
    # no record-key lineage in the output -> no row identity
    nokey = fs.select("g", "v").join(
        ds.select("gk", "gname"), F.col("g") == F.col("gk"))
    with pytest.raises(UnsupportedViewError, match="row identity"):
        classify_view(nokey, {"fact": fs, "dim": ds})


@pytest.mark.parametrize("plan,srcs", [
    (agg_plan, ("fact",)),
    (join_plan, ("fact", "dim")),
    (sel_plan, ("fact",)),
], ids=["agg", "join", "select"])
def test_refresh_converges_and_is_idempotent(spark, scratch, tables, plan, srcs):
    fact, dim = tables
    sources = {"fact": fact, "dim": dim}
    sources = {n: sources[n] for n in srcs}
    mv = AutoMaterializedView(spark, os.path.join(scratch, "mv"), sources, plan)
    seed = {n: "20260101000000" for n in srcs}
    r = mv.refresh(seed_as_of=seed)
    assert r["advanced"] is True
    want = _rows(plan({n: t.snapshot() for n, t in sources.items()}))
    assert _rows(mv.serve()) == want
    # fully advanced: zero writes (timeline unchanged)
    before = mv.table.timeline.timestamps()
    r2 = mv.refresh()
    assert r2["advanced"] is False
    assert mv.table.timeline.timestamps() == before
    assert _rows(mv.serve()) == want


def test_aggregate_null_semantics(spark, scratch, tables):
    """A group whose sum inputs are all NULL serves NULL (not 0), and a
    group whose rows all vanish is deleted from the view table."""
    fact, _ = tables

    def plan(t):
        return t["fact"].groupBy("g").agg(
            F.count("nv").alias("n_nv"), F.sum("nv").alias("sum_nv"))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mv0"),
                              {"fact": fact}, plan)
    mv.refresh(seed_as_of={"fact": "20260101000000"})
    got = {r["g"]: (r["n_nv"], r["sum_nv"]) for r in mv.serve().collect()}
    # g=9 is the single k99 row with nv NULL: count 0, sum NULL
    assert got[9] == (0, None)
    # now delete every g=9 row -> the group row must leave the view
    fact.delete(spark.createDataFrame([("k99",)], "k string"), "20260105000000")
    mv.refresh()
    assert 9 not in {r["g"] for r in mv.serve().collect()}
    want = _rows(plan({"fact": fact.snapshot()}))
    assert _rows(mv.serve()) == want


def test_join_view_tracks_dim_changes(spark, scratch, tables):
    """Dim updates AND dim deletes propagate: gk=1 renamed rows carry the
    new name, gk=3 rows leave the view."""
    fact, dim = tables
    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvj"),
                              {"fact": fact, "dim": dim}, join_plan)
    mv.refresh(seed_as_of={"fact": "20260101000000", "dim": "20260101000000"})
    rows = mv.serve().collect()
    by_g = {}
    for r in rows:
        by_g.setdefault(r["g"], set()).add(r["gname"])
    assert by_g[1] == {"RENAMED"}
    assert 3 not in by_g  # dim delete retracted the whole group's rows


def agg_join_stepwise_plan(t):
    f = t["fact"].select("k", "g", "v")
    d = t["dim"].select("gk", "gname")
    return (f.join(d, F.col("g") == F.col("gk"))
            .groupBy("gname")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")))


def agg_union_stepwise_plan(t):
    a = t["fact"].select("g", "v")
    b = t["dim"].select(F.col("gk").alias("g"),
                        F.col("gk").cast("double").alias("v"))
    return (a.unionByName(b).groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")))


@pytest.mark.parametrize(
    "plan", [join_plan, agg_join_stepwise_plan, agg_union_stepwise_plan],
    ids=["join", "agg_join", "agg_union"])
def test_stepwise_bounded_refresh_converges(spark, scratch, tables, plan):
    """Replaying the MERGED fact+dim commit timeline through bounded
    refresh(to=...) — one advance per source commit, same-timestamp
    commits on both sources — converges to the from-scratch recompute,
    and every maintenance commit gets a unique timestamp (the view
    self-stamps past its own tail).  This IS the streaming-maintenance
    driver's mechanism, so both change-key (join) and dirty-group
    (agg_join) algebras are pinned stepwise."""
    fact, dim = tables
    sources = {"fact": fact, "dim": dim}
    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvs"), sources,
                              plan)
    seed = {"fact": "20260101000000", "dim": "20260101000000"}
    mv.refresh(seed_as_of=seed, to=seed)
    anchors = dict(seed)
    events = sorted(
        [("fact", ts) for ts in fact.timeline.timestamps()[1:]]
        + [("dim", ts) for ts in dim.timeline.timestamps()[1:]],
        key=lambda e: (e[1], e[0]),
    )
    for src, ts in events:
        other = "dim" if src == "fact" else "fact"
        mv.refresh(to={src: ts, other: anchors[other]})
        anchors[src] = ts
    want = _rows(plan({n: t.snapshot() for n, t in sources.items()}))
    assert _rows(mv.serve()) == want
    stamps = mv.table.timeline.timestamps()
    assert len(stamps) == len(set(stamps))  # no commit-ts collisions
    assert len(stamps) > 3  # the replay actually produced stepwise commits


def test_minmax_avg_maintenance(spark, scratch, tables):
    """min/max under deletes and updates (the retraction-hostile cases):
    a deleted extreme re-derives from the dirty group, an inserted
    extreme combines monotonically without touching the source, avg
    serves the exact sum/count ratio, and a fully-deleted group leaves
    the view."""
    fact, _ = tables

    def plan(t):
        return t["fact"].groupBy("g").agg(
            F.count("*").alias("n"), F.min("v").alias("min_v"),
            F.max("v").alias("max_v"), F.avg("nv").alias("avg_nv"))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvmm"),
                              {"fact": fact}, plan)
    mv.refresh(seed_as_of={"fact": "20260101000000"})
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    # delete the current max of g=3 (k19 v=19) -> dirty re-derivation
    fact.delete(spark.createDataFrame([("k19",)], "k string"),
                "20260105000000")
    # and insert a new clean max for g=0
    fact.upsert(
        spark.createDataFrame([("k200", 0, 900.0, 3)],
                              "k string, g long, v double, nv long"),
        "20260106000000",
    )
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    # wipe an entire group -> its row must leave the view
    gone = [r["k"] for r in fact.snapshot().filter("g = 2")
            .select("k").collect()]
    fact.delete(spark.createDataFrame([(k,) for k in gone], "k string"),
                "20260107000000")
    mv.refresh()
    got = mv.serve()
    assert 2 not in {r["g"] for r in got.collect()}
    assert _rows(got) == _rows(plan({"fact": fact.snapshot()}))


def test_variance_family_maintenance(spark, scratch, tables):
    """stddev/variance (samp + pop) through signed power sums: the
    maintained view must equal a from-scratch seed BIT-exactly (both
    serve through the same moment formula over integer sums), track
    deletes/updates that shift the moments, and approximate Spark's own
    stddev/variance to float tolerance."""
    import math

    fact, _ = tables

    def plan(t):
        return t["fact"].groupBy("g").agg(
            F.count("nv").alias("n_nv"),
            F.stddev("nv").alias("sd"),
            F.stddev_pop("nv").alias("sd_pop"),
            F.variance("nv").alias("var"),
            F.var_pop("nv").alias("var_pop"))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvvar"),
                              {"fact": fact}, plan)
    mv.refresh(seed_as_of={"fact": "20260101000000"})
    # shift the moments: delete two rows, re-insert one with a new value
    fact.delete(spark.createDataFrame([("k3",), ("k8",)], "k string"),
                "20260105000000")
    fact.upsert(
        spark.createDataFrame([("k8", 0, 8.0, 7000)],
                              "k string, g long, v double, nv long"),
        "20260106000000",
    )
    mv.refresh()
    fresh = AutoMaterializedView(spark, os.path.join(scratch, "mvvar2"),
                                 {"fact": fact}, plan)
    fresh.refresh()
    assert _rows(mv.serve()) == _rows(fresh.serve())  # bit-exact convergence
    # and both agree with Spark's native variance kernels to tolerance
    want = {r["g"]: r for r in plan({"fact": fact.snapshot()}).collect()}
    for r in mv.serve().collect():
        w = want[r["g"]]
        for c in ("sd", "sd_pop", "var", "var_pop"):
            if w[c] is None:
                assert r[c] is None
            else:
                assert math.isclose(r[c], w[c], rel_tol=1e-9, abs_tol=1e-9)
    # single-row group: samp must serve NULL, pop must serve 0.0
    fact.upsert(
        spark.createDataFrame([("solo", 7, 1.0, 42)],
                              "k string, g long, v double, nv long"),
        "20260107000000",
    )
    mv.refresh()
    solo = [r for r in mv.serve().collect() if r["g"] == 7][0]
    assert solo["sd"] is None and solo["var"] is None
    assert solo["sd_pop"] == 0.0 and solo["var_pop"] == 0.0


def test_count_distinct_maintenance(spark, scratch, tables):
    """COUNT(DISTINCT x) through the per-value aux table: an update that
    moves a row between values, a delete removing a group's only
    instance of a value, a brand-new group, and whole-group death must
    all converge to the from-scratch recompute."""
    fact, _ = tables

    def plan(t):
        return t["fact"].groupBy("g").agg(
            F.count("*").alias("n"),
            F.countDistinct("nv").alias("d_nv"))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvcd"),
                              {"fact": fact}, plan)
    mv.refresh(seed_as_of={"fact": "20260101000000"})
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    # collide two rows onto one value (k1 joins k2's nv), delete the only
    # carrier of another value, add a row with a NULL (ignored by DISTINCT)
    fact.upsert(
        spark.createDataFrame(
            [("k1", 1, 1.0, 2), ("knull", 1, 5.0, None)],
            "k string, g long, v double, nv long"),
        "20260105000000",
    )
    fact.delete(spark.createDataFrame([("k7",)], "k string"), "20260106000000")
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    # idempotent: fully advanced refresh writes nothing
    before = mv.table.timeline.timestamps()
    mv.refresh()
    assert mv.table.timeline.timestamps() == before
    # wipe group g=3 entirely; its aux rows and view row must both go
    gone = [r["k"] for r in fact.snapshot().filter("g = 3")
            .select("k").collect()]
    fact.delete(spark.createDataFrame([(k,) for k in gone], "k string"),
                "20260107000000")
    mv.refresh()
    got = mv.serve()
    assert 3 not in {r["g"] for r in got.collect()}
    assert _rows(got) == _rows(plan({"fact": fact.snapshot()}))
    # aux table state is exactly the live (g, nv) pairs of the source
    aux = mv._aux_table("d_nv").snapshot()
    want_pairs = _rows(fact.snapshot().filter("nv is not null")
                       .selectExpr("g", "cast(nv as string) as v").distinct())
    got_pairs = _rows(aux.selectExpr("g", "__mv_val as v"))
    assert got_pairs == want_pairs


def test_aggregate_over_mor_source(spark, scratch):
    """The maintenance algebra composes with MERGE-ON-READ sources: the
    inherited cdc() resolves through MorTable's merge-correct snapshot,
    so log-resident updates and delta tombstones retract correctly —
    including changes a compaction later absorbs."""
    from hudi_delete_view_spark.sources.mor import MorTable

    fact = MorTable(spark, os.path.join(scratch, "morfact"),
                    key_fields=["k"], partition_field=None, num_file_groups=2)
    fact.bulk_insert(
        spark.range(12).selectExpr(
            "concat('k', id) as k", "cast(id % 3 as long) as g",
            "id * 10 as nv"),
        "20260101000000")

    def plan(t):
        return t["fact"].groupBy("g").agg(
            F.count("*").alias("n"), F.sum("nv").alias("s"),
            F.max("nv").alias("mx"), F.countDistinct("nv").alias("d"))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvmor"),
                              {"fact": fact}, plan)
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    # log-resident update (moves k3's value) + tombstone of the g=1 max
    fact.upsert_delta(
        spark.createDataFrame([("k3", 0, 77)], "k string, g long, nv long"),
        "20260102000000")
    fact.delete_delta(spark.createDataFrame([("k10",)], "k string"),
                      "20260103000000")
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    # compact, then keep changing: the view must stay convergent across
    # the compaction boundary
    fact.schedule_compaction(min_log_files=1)
    fact.compact("20260104000000")
    fact.upsert_delta(
        spark.createDataFrame([("k0", 0, 1), ("knew", 1, 999)],
                              "k string, g long, nv long"),
        "20260105000000")
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))


def test_having_and_derived_outputs(spark, scratch, tables):
    """A Project/Filter chain above the aggregate (HAVING + derived
    ratio column) classifies and serves correctly, and groups ENTER and
    LEAVE the HAVING set as deletes shift their counts — possible only
    because the stored state keeps every group."""
    fact, _ = tables

    def plan(t):
        return (
            t["fact"].groupBy("g")
            .agg(F.count("*").alias("n"), F.sum("nv").alias("s"))
            .filter("n >= 5")
            .select("g", "n", (F.col("s") / F.col("n")).alias("avg_nv"))
        )

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvh"),
                              {"fact": fact}, plan)
    spec = mv.spec()
    assert spec["kind"] == "aggregate" and len(spec["post"]) == 2
    mv.refresh(seed_as_of={"fact": "20260101000000"})
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    served = {r["g"] for r in mv.serve().collect()}
    # k99's singleton group and the delete-shrunk g∈{0,3} fail n >= 5
    assert served == {1, 2}
    # drop g=1 below the threshold: it must LEAVE the served view while
    # staying in the stored state
    fact.delete(spark.createDataFrame([("k1",)], "k string"), "20260105000000")
    mv.refresh()
    assert 1 not in {r["g"] for r in mv.serve().collect()}
    assert 1 in {r["g"] for r in mv.table.snapshot().select("g").collect()}
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    # and RE-ENTER when inserts push it back over
    fact.upsert(
        spark.createDataFrame([("kx", 1, 1.0, 5), ("ky", 1, 2.0, 6)],
                              "k string, g long, v double, nv long"),
        "20260106000000",
    )
    mv.refresh()
    assert 1 in {r["g"] for r in mv.serve().collect()}
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))


def test_staged_view_over_view(spark, scratch, tables):
    """Multi-join staged as view-over-view: stage 2's fact source IS
    stage 1's backing lake table.  Base-source changes propagate through
    both hops when refreshed in dependency order, including a dim delete
    at each stage."""
    fact, dim = tables
    dim2 = CowTable(spark, os.path.join(scratch, "dim2"), key_fields=["uk"],
                    partition_field=None, num_file_groups=1)
    dim2.bulk_insert(
        spark.range(8).selectExpr("cast(id as long) as uk",
                                  "cast(id * 1000 as long) as bonus"),
        "20260101000000")

    def plan1(t):
        f = t["fact"].select(F.col("_hoodie_record_key").alias("vk"),
                             "k", "g", "v")
        return f.join(t["dim"].select("gk", "gname"),
                      F.col("g") == F.col("gk"))

    mv1 = AutoMaterializedView(spark, os.path.join(scratch, "st1"),
                               {"fact": fact, "dim": dim}, plan1)
    mv1.refresh(seed_as_of={"fact": "20260101000000",
                            "dim": "20260101000000"})

    def plan2(t):
        f = t["v1"].select(F.col("_hoodie_record_key").alias("vk2"),
                           "k", "g", "gname", "v")
        # second hop keys on a DERIVED column of the first view
        f = f.withColumn("uk", F.expr("cast(v as long) % 8"))
        return f.join(t["d2"].select("uk", "bonus"), "uk").select(
            "vk2", "uk", "k", "gname", "v", "bonus")

    mv2 = AutoMaterializedView(spark, os.path.join(scratch, "st2"),
                               {"v1": mv1.table, "d2": dim2}, plan2)
    mv2.refresh()

    def recompute():
        s1 = plan1({"fact": fact.snapshot(), "dim": dim.snapshot()})
        mv1.refresh(); mv2.refresh()
        return _rows(mv2.serve()), _rows(
            plan2({"v1": mv1.table.snapshot(), "d2": dim2.snapshot()}))

    got, want = recompute()
    assert got == want and len(got) > 0
    # fact change ripples through hop 1 into hop 2
    fact.upsert(spark.createDataFrame([("k2", 2, 7.0, 20)],
                                      "k string, g long, v double, nv long"),
                "20260105000000")
    got, want = recompute()
    assert got == want
    # stage-2 dim delete retracts its joined rows only
    dim2.delete(spark.createDataFrame([(2,)], "uk long"), "20260106000000")
    got, want = recompute()
    assert got == want
    assert 2 not in {r["uk"] for r in mv2.serve().collect()}


def test_staged_aggregate_over_join(spark, scratch, tables):
    """Aggregate OVER a join, staged: stage 1 maintains the join view,
    stage 2 classifies an aggregate whose source is stage 1's backing
    table — retraction consumes the view table's own CDC feed."""
    fact, dim = tables

    def plan1(t):
        f = t["fact"].select(F.col("_hoodie_record_key").alias("vk"),
                             "k", "g", "v")
        return f.join(t["dim"].select("gk", "gname"),
                      F.col("g") == F.col("gk"))

    mv1 = AutoMaterializedView(spark, os.path.join(scratch, "aj1"),
                               {"fact": fact, "dim": dim}, plan1)
    mv1.refresh(seed_as_of={"fact": "20260101000000",
                            "dim": "20260101000000"})

    def plan2(t):
        return t["v1"].groupBy("gname").agg(
            F.count("*").alias("n"),
            F.sum(F.expr("cast(v * 100 as bigint)")).alias("cents"),
            F.max("v").alias("mx"))

    mv2 = AutoMaterializedView(spark, os.path.join(scratch, "aj2"),
                               {"v1": mv1.table}, plan2)
    mv2.refresh()
    want = _rows(plan2({"v1": mv1.table.snapshot()}))
    assert _rows(mv2.serve()) == want and len(want) > 0
    # ripple: a fact update + a dim delete reshape the join, the rollup
    # over the view's CDC must track both (incl. a group vanishing)
    fact.upsert(spark.createDataFrame([("k5", 1, 500.0, 1)],
                                      "k string, g long, v double, nv long"),
                "20260105000000")
    dim.delete(spark.createDataFrame([(2,)], "gk long"), "20260106000000")
    mv1.refresh()
    mv2.refresh()
    assert _rows(mv2.serve()) == _rows(plan2({"v1": mv1.table.snapshot()}))
    assert "name2" not in {r["gname"] for r in mv2.serve().collect()}


def test_left_outer_join_view(spark, scratch, tables):
    """LEFT OUTER views: a dim delete flips its fact rows to
    null-extended (NOT dead), a dim insert upgrades null-extended rows,
    fact deletes still retract — all through the unchanged change-key
    algebra.  Dim-preserved outer joins are refused (no row identity)."""
    fact, dim = tables

    def plan(t):
        f = t["fact"].select(F.col("_hoodie_record_key").alias("vk"),
                             "k", "g", "v")
        return f.join(t["dim"].select("gk", "gname"),
                      F.col("g") == F.col("gk"), "left")

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvlo"),
                              {"fact": fact, "dim": dim}, plan)
    mv.refresh(seed_as_of={"fact": "20260101000000",
                           "dim": "20260101000000"})
    want = _rows(plan({"fact": fact.snapshot(), "dim": dim.snapshot()}))
    assert _rows(mv.serve()) == want
    got = {r["k"]: r["gname"] for r in mv.serve().collect()}
    assert got["k99"] is None       # g=9 never had a dim row
    assert got["k3"] is None        # gk=3 deleted at C4 -> null-extended
    # dim insert UPGRADES the null-extended rows
    dim.upsert(spark.createDataFrame([(9, "nine")], "gk long, gname string"),
               "20260105000000")
    # and a fact delete must still retract its view row
    fact.delete(spark.createDataFrame([("k4",)], "k string"), "20260106000000")
    mv.refresh()
    assert _rows(mv.serve()) == _rows(
        plan({"fact": fact.snapshot(), "dim": dim.snapshot()}))
    got = {r["k"]: r["gname"] for r in mv.serve().collect()}
    assert got["k99"] == "nine" and "k4" not in got
    # preserved-dim refusal
    fs, ds = fact.snapshot(), dim.snapshot()
    bad = ds.select("gk", "gname").join(
        fs.select(F.col("_hoodie_record_key").alias("vk"), "g"),
        F.col("gk") == F.col("g"), "left")
    with pytest.raises(UnsupportedViewError, match="preserved"):
        classify_view(bad, {"fact": fs, "dim": ds})


def test_window_view_topk(spark, scratch, tables):
    """Top-k-per-group window view: an insert DISPLACES the previous
    rank-3 row (which must leave the view), an update moves a row
    between partitions (both re-ranked), a delete PROMOTES a hidden
    row into the top-k — the displacement cases row-granular
    maintenance cannot see."""
    from pyspark.sql import Window

    fact, _ = tables

    def plan(t):
        w = Window.partitionBy("g").orderBy(F.desc("v"), F.asc("k"))
        return (
            t["fact"]
            .select(F.col("_hoodie_record_key").alias("vk"), "k", "g", "v")
            .withColumn("rn", F.row_number().over(w))
            .filter("rn <= 3")
        )

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvw"),
                              {"fact": fact}, plan)
    spec = mv.spec()  # a single source is the one untagged branch
    assert spec["kind"] == "window" and spec["tag_col"] is None
    assert [b["source"] for b in spec["branches"]] == ["fact"]
    mv.refresh(seed_as_of={"fact": "20260101000000"})
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    # insert a new g=1 maximum: ranks shift, old rank-3 leaves the view
    fact.upsert(spark.createDataFrame([("kbig", 1, 9999.0, 1)],
                                      "k string, g long, v double, nv long"),
                "20260105000000")
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    # move the g=1 top row to g=2: BOTH partitions re-rank
    fact.upsert(spark.createDataFrame([("kbig", 2, 9999.0, 1)],
                                      "k string, g long, v double, nv long"),
                "20260106000000")
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    # delete a ranked row: a previously-hidden row is PROMOTED in
    fact.delete(spark.createDataFrame([("kbig",)], "k string"),
                "20260107000000")
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))


def test_window_aggregate_under_value_filter(spark, scratch):
    """A window aggregate filtered on a non-rank column: deleting a row
    the filter hides still changes its partition-mates' counts, so the
    refresh must find the row's old partition from the source's
    before-image, not from the stored view (which never held it)."""
    from pyspark.sql import Window

    fact = CowTable(spark, os.path.join(scratch, "wf"), key_fields=["k"],
                    partition_field=None, num_file_groups=2)
    fact.bulk_insert(spark.createDataFrame(
        [(f"k{i}", i % 2, float(i)) for i in range(10)],
        "k string, g long, v double"), "20260101000000")

    def plan(t):
        w = Window.partitionBy("g")
        return (t["fact"]
                .select(F.col("_hoodie_record_key").alias("vk"), "g", "v",
                        F.count(F.lit(1)).over(w).alias("cnt"))
                .filter("v >= 5"))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvwf"),
                              {"fact": fact}, plan)
    assert mv.spec()["kind"] == "window"
    mv.refresh()
    fact.delete(spark.createDataFrame([("k0",)], "k string"), "20260102000000")
    mv.refresh()
    assert {r["cnt"] for r in mv.serve().filter("g = 0").collect()} == {4}
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))


def test_window_misplacement_refusals(spark, tables):
    """Windows outside the top shape refuse loudly (they would silently
    maintain wrong under the row-granular algebras), as do global
    windows."""
    from pyspark.sql import Window

    fact, dim = tables
    fs, ds = fact.snapshot(), dim.snapshot()
    w = Window.partitionBy("g").orderBy("v")
    ranked = fs.select(F.col("_hoodie_record_key").alias("vk"), "g", "v")\
        .withColumn("rn", F.row_number().over(w))
    inside_join = ranked.join(ds.select("gk", "gname"),
                              F.col("g") == F.col("gk"))
    with pytest.raises(UnsupportedViewError, match="top-level"):
        classify_view(inside_join, {"fact": fs, "dim": ds})
    wg = Window.orderBy("v")
    glob = fs.select(F.col("_hoodie_record_key").alias("vk"), "v")\
        .withColumn("rn", F.row_number().over(wg)).filter("rn <= 3")
    with pytest.raises(UnsupportedViewError, match="PARTITION BY"):
        classify_view(glob, {"fact": fs})


def agg_join_plan(t):
    f = t["fact"].select("k", "g", "v", "nv")
    d = t["dim"].select("gk", "gname")
    return (
        f.join(d, F.col("g") == F.col("gk"))
        .groupBy("gname")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("v").alias("sum_v"),
             F.min("v").alias("min_v"),
             F.count_distinct("nv").alias("nd_nv"),
             # HLL state rebuilds wholesale with the dirty group; exact
             # at fixture cardinality, so equality vs recompute holds
             F.approx_count_distinct("nv").alias("ad_nv"))
    )


def test_agg_join_view(spark, scratch, tables):
    """Aggregate-over-join in ONE declaration: the dim RENAME moves every
    g=1 row between groups (both dirty, min/count-distinct re-derived),
    the dim DELETE kills group name3 outright (dead-group delete), fact
    deletes shrink their group, and the no-match insert (k99, g=9)
    dirties nothing."""
    fact, dim = tables
    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvaj"),
                              {"fact": fact, "dim": dim}, agg_join_plan)
    spec = mv.spec()
    assert spec["kind"] == "agg_tree"
    assert set(spec["sources"]) == {"fact", "dim"}
    mv.refresh(seed_as_of={"fact": "20260101000000", "dim": "20260101000000"},
               to={"fact": "20260101000000", "dim": "20260101000000"})

    def expect(at):
        return _rows(agg_join_plan(
            {"fact": fact.snapshot(at["fact"]), "dim": dim.snapshot(at["dim"])}))

    assert _rows(mv.serve()) == expect(
        {"fact": "20260101000000", "dim": "20260101000000"})
    # fact-only step: C2 updates v for k0..k4
    mv.refresh(to={"fact": "20260102000000", "dim": "20260101000000"})
    assert _rows(mv.serve()) == expect(
        {"fact": "20260102000000", "dim": "20260101000000"})
    # dim rename + fact deletes land together; then the dim delete +
    # no-match fact insert
    mv.refresh(to={"fact": "20260103000000", "dim": "20260103000000"})
    assert _rows(mv.serve()) == expect(
        {"fact": "20260103000000", "dim": "20260103000000"})
    mv.refresh()
    assert _rows(mv.serve()) == expect(
        {"fact": "20260104000000", "dim": "20260104000000"})
    # idempotence: fully-advanced view refreshes with zero writes
    assert mv.refresh()["advanced"] is False


def test_agg_join_refusals(spark, tables):
    """Cross joins below an aggregate refuse (no join key to map
    changes to dirty groups), as do referenced side column-name
    collisions (the replayed join would be ambiguous)."""
    fact, dim = tables
    fs, ds = fact.snapshot(), dim.snapshot()
    cross = (
        fs.select("k", "g", "v")
        .crossJoin(ds.select("gk", "gname"))
        .groupBy("gname").agg(F.sum("v").alias("sv"))
    )
    with pytest.raises(UnsupportedViewError, match="CROSS join"):
        classify_view(cross, {"fact": fs, "dim": ds})
    clash = (
        fs.select("k", "g", "v")
        .join(ds.selectExpr("gk as g", "gname"), "g")
        .groupBy("gname").agg(F.sum("v").alias("sv"))
    )
    with pytest.raises(UnsupportedViewError, match="BOTH sides"):
        classify_view(clash, {"fact": fs, "dim": ds})


def test_agg_approx_distinct(spark, scratch, tables):
    """approx_count_distinct maintained as mergeable HLL state: clean
    insert steps UNION sketches (new group and existing group), any
    retraction re-derives the touched group's sketch from the source.
    The fixture cardinalities sit inside both engines' exact (sparse)
    range, so serve() must EQUAL the from-scratch recompute."""

    def plan(t):
        return (
            t["fact"].groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.approx_count_distinct("nv").alias("ad_nv"))
        )

    fact, _ = tables
    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvhll"),
                              {"fact": fact}, plan)
    assert mv.spec()["kind"] == "aggregate"
    mv.refresh(seed_as_of={"fact": "20260101000000"},
               to={"fact": "20260101000000"})

    def check(at=None):
        assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot(at)}))

    check("20260101000000")
    # C2 updates retract old rows -> dirty re-derivation of their groups
    mv.refresh(to={"fact": "20260102000000"})
    check("20260102000000")
    # C3 deletes, C4 inserts a brand-new group (g=9, s-side NULL union)
    mv.refresh()
    check()
    # pure insert into an EXISTING group: the hll_union merge path
    fact.upsert(
        spark.createDataFrame([("k100", 1, 1.0, 777), ("k101", 1, 2.0, 778)],
                              "k string, g long, v double, nv long"),
        "20260105000000",
    )
    mv.refresh()
    check()
    assert mv.refresh()["advanced"] is False


def test_hll_retraction_rebuilds_from_aux_not_source(spark, scratch):
    """approx_count_distinct retraction is served by the per-value aux
    table, NEVER a source re-derivation: ``full_feed_fn`` is replaced
    with a raiser for every advance, and the view still converges
    through deletes that (a) kill a group's LAST non-null value while
    the group lives (estimate must drop to 0, not stay stale), (b)
    retract only NULL-argument rows (sketch untouched, union stands),
    and (c) rewrite a value (retraction + insert rebuild).  At 100 TB
    this is the difference between an aux scan bounded by the live
    DISTINCT value set and a re-scan of the dirty groups' source rows."""
    fact = CowTable(spark, os.path.join(scratch, "hfact"), key_fields=["k"],
                    partition_field=None, num_file_groups=2)
    fact.bulk_insert(
        spark.createDataFrame(
            [("a1", 1, "x"), ("a2", 1, "y"), ("b1", 2, "z"), ("b2", 2, None),
             ("c1", 3, None), ("c2", 3, None)],
            "k string, g long, s string"),
        "20260101000000",
    )

    def plan(t):
        return (t["fact"].groupBy("g")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.approx_count_distinct("s").alias("ad")))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvhllaux"),
                              {"fact": fact}, plan)
    mv.refresh()

    orig = AutoMaterializedView._merge_agg_delta

    def no_source_rederive(self, spec, feed, latest, full_feed_fn):
        def boom(_dirty):
            raise AssertionError(
                "HLL retraction re-derived from the source feed")
        return orig(self, spec, feed, latest, boom)

    AutoMaterializedView._merge_agg_delta = no_source_rederive
    try:
        # (a) g=2 loses its only non-null value; the NULL-valued row
        # keeps the group alive -> ad must serve 0
        fact.delete(spark.createDataFrame([("b1",)], "k string"),
                    "20260102000000")
        mv.refresh()
        assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
        got = {r["g"]: (r["n"], r["ad"]) for r in mv.serve().collect()}
        assert got[2] == (1, 0)
        # (b) NULL-argument retraction only: g=3 sketch untouched
        fact.delete(spark.createDataFrame([("c1",)], "k string"),
                    "20260103000000")
        mv.refresh()
        assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
        # (c) value rewrite: retraction of 'x' + insert of 'w' in g=1,
        # plus a brand-new group
        fact.upsert(
            spark.createDataFrame([("a1", 1, "w"), ("d1", 4, "q")],
                                  "k string, g long, s string"),
            "20260104000000",
        )
        mv.refresh()
        assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    finally:
        AutoMaterializedView._merge_agg_delta = orig
    assert mv.refresh()["advanced"] is False


def test_sql_materialized_view_ddl(spark, scratch, tables):
    """CREATE MATERIALIZED VIEW over SQL text: classification sees the
    same Catalyst shapes spark.sql produces (SubqueryAlias-wrapped
    sources resolve via sameResult), maintenance algebras run the SQL
    plan over restricted inputs via temp-view re-registration, and the
    served state binds as a queryable temp view."""
    from hudi_delete_view_spark.sql import (
        create_materialized_view,
        refresh_materialized_view,
    )

    fact, dim = tables
    name, mv = create_materialized_view(
        spark, os.path.join(scratch, "mvsql"),
        {"f_tbl": fact, "d_tbl": dim},
        """CREATE MATERIALIZED VIEW sales_by_name AS
           SELECT gname, count(1) AS n, sum(v) AS sv, min(v) AS mv
           FROM f_tbl JOIN d_tbl ON g = gk
           GROUP BY gname""",
    )
    assert name == "sales_by_name"
    assert mv.spec()["kind"] == "agg_tree"
    refresh_materialized_view(name, mv, seed_as_of={
        "f_tbl": "20260101000000", "d_tbl": "20260101000000"})
    got = _rows(spark.sql("SELECT * FROM sales_by_name"))

    def expect():
        fact.snapshot().createOrReplaceTempView("f_tbl")
        dim.snapshot().createOrReplaceTempView("d_tbl")
        return _rows(spark.sql(
            "SELECT gname, count(1) AS n, sum(v) AS sv, min(v) AS mv "
            "FROM f_tbl JOIN d_tbl ON g = gk GROUP BY gname"))

    assert got == expect()
    # idempotent rebind + a SQL WINDOW view through the same DDL
    assert _rows(refresh_materialized_view(name, mv)) == expect()
    wname, wmv = create_materialized_view(
        spark, os.path.join(scratch, "mvsqlw"),
        {"f_tbl": fact},
        """CREATE MATERIALIZED VIEW topv AS
           SELECT * FROM (
             SELECT _hoodie_record_key AS vk, g, v,
                    row_number() OVER (PARTITION BY g
                                       ORDER BY v DESC, _hoodie_record_key) AS rn
             FROM f_tbl) WHERE rn <= 2""",
    )
    assert wmv.spec()["kind"] == "window" and wmv.spec()["tag_col"] is None
    refresh_materialized_view(wname, wmv, seed_as_of={"f_tbl": "20260101000000"})
    fact.snapshot().createOrReplaceTempView("f_tbl")
    want = _rows(spark.sql(
        "SELECT * FROM (SELECT _hoodie_record_key AS vk, g, v, "
        "row_number() OVER (PARTITION BY g ORDER BY v DESC, _hoodie_record_key) AS rn "
        "FROM f_tbl) WHERE rn <= 2"))
    assert _rows(spark.sql("SELECT * FROM topv")) == want
    with pytest.raises(ValueError, match="CREATE MATERIALIZED VIEW"):
        create_materialized_view(spark, os.path.join(scratch, "x"),
                                 {"f_tbl": fact}, "SELECT 1")
    # GROUP BY over UNION ALL through the SQL dialect: the SubqueryAlias
    # wrappers around the subquery and each branch's view name must stay
    # transparent to the agg_union descent, and qualifier stripping must
    # leave the branch chains replayable by bare column name
    # a 3-way join + GROUP BY through the SQL dialect classifies as the
    # multi-join tree and maintains through the same entry point
    sub = CowTable(spark, os.path.join(scratch, "sqlsub"), key_fields=["rk"],
                   partition_field=None, num_file_groups=1)
    sub.bulk_insert(spark.createDataFrame(
        [(0, "even"), (1, "odd"), (2, "even"), (3, "odd")],
        "rk long, par string"), "20260101000000")
    tname, tmv = create_materialized_view(
        spark, os.path.join(scratch, "mvsqlt"),
        {"f_tbl": fact, "d_tbl": dim, "s_tbl": sub},
        """CREATE MATERIALIZED VIEW seg_totals AS
           SELECT par, count(1) AS n, sum(v) AS sv
           FROM f_tbl JOIN d_tbl ON g = gk
                      JOIN s_tbl ON gk = rk
           GROUP BY par""",
    )
    assert tmv.spec()["kind"] == "agg_tree"
    refresh_materialized_view(tname, tmv)
    sub.upsert(spark.createDataFrame([(0, "EVEN")], "rk long, par string"),
               "20260107000000")
    refresh_materialized_view(tname, tmv)
    fact.snapshot().createOrReplaceTempView("f_tbl")
    dim.snapshot().createOrReplaceTempView("d_tbl")
    sub.snapshot().createOrReplaceTempView("s_tbl")
    want = _rows(spark.sql(
        "SELECT par, count(1) AS n, sum(v) AS sv FROM f_tbl "
        "JOIN d_tbl ON g = gk JOIN s_tbl ON gk = rk GROUP BY par"))
    assert _rows(spark.sql("SELECT * FROM seg_totals")) == want
    uname, umv = create_materialized_view(
        spark, os.path.join(scratch, "mvsqlu"),
        {"f_tbl": fact, "d_tbl": dim},
        """CREATE MATERIALIZED VIEW union_counts AS
           SELECT g, count(1) AS n, sum(v) AS sv FROM (
             SELECT g, v FROM f_tbl WHERE v < 900
             UNION ALL
             SELECT gk AS g, cast(gk as double) AS v FROM d_tbl
           ) GROUP BY g""",
    )
    assert umv.spec()["kind"] == "agg_union"
    refresh_materialized_view(uname, umv)
    fact.snapshot().createOrReplaceTempView("f_tbl")
    dim.snapshot().createOrReplaceTempView("d_tbl")
    want = _rows(spark.sql(
        "SELECT g, count(1) AS n, sum(v) AS sv FROM ("
        "SELECT g, v FROM f_tbl WHERE v < 900 UNION ALL "
        "SELECT gk AS g, cast(gk as double) AS v FROM d_tbl) GROUP BY g"))
    assert _rows(spark.sql("SELECT * FROM union_counts")) == want


def _rows_ns(df):
    """Null-safe row sort: NULL group keys sort after non-null values
    instead of raising on None < str."""
    return sorted(
        tuple((x is None, x) for x in r) for r in df.collect()
    )


def test_agg_left_outer_join_view(spark, scratch, tables):
    """Aggregate over a LEFT OUTER join: the dim DELETE flips g=3 rows
    into the NULL-extension group (both groups re-derive), the dim
    RENAME moves g=1 rows between named groups, and NULL-group
    membership converges exactly at every step."""

    def plan(t):
        f = t["fact"].select("k", "g", "v")
        d = t["dim"].select("gk", "gname")
        return (
            f.join(d, F.col("g") == F.col("gk"), "left")
            .groupBy("gname")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"),
                 F.max("v").alias("xv"))
        )

    fact, dim = tables
    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvalj"),
                              {"fact": fact, "dim": dim}, plan)
    spec = mv.spec()
    assert spec["kind"] == "agg_tree" and spec["tree"]["jt"] == "left"
    # group key on the null-extended side: input restriction must NOT
    # apply to the dim side
    assert spec["group_src"] is None
    mv.refresh(seed_as_of={"fact": "20260101000000", "dim": "20260101000000"},
               to={"fact": "20260101000000", "dim": "20260101000000"})

    def expect(at):
        return _rows_ns(plan(
            {"fact": fact.snapshot(at["fact"]), "dim": dim.snapshot(at["dim"])}))

    assert _rows_ns(mv.serve()) == expect(
        {"fact": "20260101000000", "dim": "20260101000000"})
    mv.refresh(to={"fact": "20260103000000", "dim": "20260103000000"})
    assert _rows_ns(mv.serve()) == expect(
        {"fact": "20260103000000", "dim": "20260103000000"})
    # dim delete -> g=3 rows flip into the NULL gname group; fact C4
    # inserts k99 g=9 (no dim match -> NULL group too)
    mv.refresh()
    assert _rows_ns(mv.serve()) == expect(
        {"fact": "20260104000000", "dim": "20260104000000"})
    served = {r["gname"]: r["n"] for r in mv.serve().collect()}
    # g=3 survivors (ids 3,7,11,19 after the k15 delete) + k99
    assert None in served and served[None] == 5
    assert mv.refresh()["advanced"] is False


def test_distinct_view(spark, scratch, tables):
    """DISTINCT views: the degenerate aggregate — a (g, bucket)
    combination leaves the view when its last source row retracts,
    enters when the first appears; dropDuplicates on a key subset
    refuses (arbitrary survivor = not a deterministic view)."""

    def plan(t):
        return t["fact"].selectExpr("g", "cast(v as int) % 2 as parity")\
            .distinct()

    fact, _ = tables
    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvd"),
                              {"fact": fact}, plan)
    spec = mv.spec()
    assert spec["kind"] == "aggregate" and spec["aggs"] == []
    mv.refresh(seed_as_of={"fact": "20260101000000"},
               to={"fact": "20260101000000"})
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot("20260101000000")}))
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    # delete every g=9 row: the (9, *) combos must leave the view
    fact.delete(spark.createDataFrame([("k99",)], "k string"), "20260105000000")
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    assert 9 not in {r["g"] for r in mv.serve().collect()}
    # SQL DISTINCT classifies identically (Distinct node)
    fs = fact.snapshot()
    fs.createOrReplaceTempView("f_tbl")
    sql_d = spark.sql("SELECT DISTINCT g, cast(v as int) % 2 AS parity FROM f_tbl")
    assert classify_view(sql_d, {"fact": fs})["kind"] == "aggregate"
    with pytest.raises(UnsupportedViewError, match="SUBSET"):
        classify_view(fs.select("g", "v").dropDuplicates(["g"]), {"fact": fs})


def test_distinct_over_union_and_join(spark, scratch, tables):
    """DISTINCT composes with the new below-aggregate shapes: over a
    UNION ALL it rides the agg_union algebra (a combination leaves only
    when its last source row across ALL branches retracts), and over an
    equi-join it rides agg_join (dim updates re-derive the touched
    combinations)."""
    fact, dim = tables
    other = CowTable(spark, os.path.join(scratch, "du_o"), key_fields=["k"],
                     partition_field=None, num_file_groups=2)
    other.bulk_insert(spark.range(6).selectExpr(
        "concat('o', id) as k", "cast(id % 3 as long) as g",
        "cast(id % 2 as double) as v"), "20260101000000")

    def uplan(t):
        return (t["fact"].select("g", (F.col("v") % 2).alias("p"))
                .unionByName(t["other"].select("g", F.col("v").alias("p")))
                .distinct())

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvdu"),
                              {"fact": fact, "other": other}, uplan)
    assert mv.spec()["kind"] == "agg_union" and mv.spec()["aggs"] == []
    mv.refresh()
    other.delete(spark.createDataFrame([("o5",)], "k string"),
                 "20260105000000")
    fact.upsert(spark.createDataFrame([("k50", 7, 7.0, None)],
                                      "k string, g long, v double, nv long"),
                "20260105000000")
    mv.refresh()
    assert _rows(mv.serve()) == _rows(
        uplan({"fact": fact.snapshot(), "other": other.snapshot()}))

    def jplan(t):
        f = t["fact"].select("g", (F.col("v") % 3).alias("p"))
        return (f.join(t["dim"].select("gk", "gname"),
                       F.col("g") == F.col("gk"))
                .select("gname", "p").distinct())

    mv2 = AutoMaterializedView(spark, os.path.join(scratch, "mvdj"),
                               {"fact": fact, "dim": dim}, jplan)
    assert mv2.spec()["kind"] == "agg_tree" and mv2.spec()["aggs"] == []
    mv2.refresh()
    dim.upsert(spark.createDataFrame([(0, "ZERO")], "gk long, gname string"),
               "20260106000000")
    fact.delete(spark.createDataFrame([("k4",)], "k string"), "20260106000000")
    mv2.refresh()
    assert _rows(mv2.serve()) == _rows(
        jplan({"fact": fact.snapshot(), "dim": dim.snapshot()}))


def test_refresh_lock_and_drop(spark, scratch, tables):
    """Concurrent refreshes are excluded by the advisory lock (with the
    holder named so a dead lock can be cleared), and DROP MATERIALIZED
    VIEW removes the temp view, backing table, and lock."""
    from hudi_delete_view_spark.plans.ivm import ConcurrentRefreshError
    from hudi_delete_view_spark.sql import (
        create_materialized_view,
        drop_materialized_view,
        refresh_materialized_view,
    )

    fact, _ = tables
    name, mv = create_materialized_view(
        spark, os.path.join(scratch, "mvlk"), {"f_tbl": fact},
        "CREATE MATERIALIZED VIEW locked AS "
        "SELECT g, sum(v) AS sv FROM f_tbl GROUP BY g")
    lock = mv.path + ".refresh_lock"
    os.makedirs(os.path.dirname(lock), exist_ok=True)
    with open(lock, "w") as f:
        f.write("pid=12345")
    with pytest.raises(ConcurrentRefreshError, match="pid=12345"):
        mv.refresh()
    os.remove(lock)  # the documented dead-holder recovery
    refresh_materialized_view(name, mv)
    assert not os.path.exists(lock)  # released after a successful refresh
    assert spark.sql("SELECT count(1) AS n FROM locked").collect()[0]["n"] > 0
    drop_materialized_view(spark, name, mv)
    assert not os.path.exists(mv.path)
    assert not any(t.name == "locked" for t in spark.catalog.listTables())


def test_history_lost_reseed(spark, scratch, tables):
    """A source rolled back past the anchor, or archived beyond it,
    cannot be bridged by any change feed: refresh names reseed()
    instead of silently diverging, and reseed() rebuilds correctly."""
    from hudi_delete_view_spark.plans.ivm import ViewHistoryLostError

    fact, _ = tables

    def plan(t):
        return t["fact"].groupBy("g").agg(F.sum("v").alias("sv"))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvhl"),
                              {"fact": fact}, plan)
    mv.refresh()  # anchor = C4
    fact.rollback("20260104000000")
    with pytest.raises(ViewHistoryLostError, match="reseed"):
        mv.refresh()
    mv.reseed()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    # archived-beyond-anchor: fresh view anchored at C1, then archive
    fact2 = CowTable(spark, os.path.join(scratch, "fact2"), key_fields=["k"],
                     partition_field=None, num_file_groups=2)
    fact2.bulk_insert(spark.range(10).selectExpr(
        "concat('k', id) as k", "cast(id % 3 as long) as g",
        "cast(id as double) as v"), "20260101000000")
    mv2 = AutoMaterializedView(spark, os.path.join(scratch, "mvhl2"),
                               {"fact2": fact2},
                               lambda t: t["fact2"].groupBy("g")
                               .agg(F.sum("v").alias("sv")))
    mv2.refresh()
    for i in range(2, 6):
        fact2.upsert(spark.range(2).selectExpr(
            "concat('k', id) as k", "cast(id % 3 as long) as g",
            f"cast(id + {i * 100} as double) as v"), f"2026010{i}000000")
    fact2.archive_timeline(keep_last_n=2)
    with pytest.raises(ViewHistoryLostError, match="reseed"):
        mv2.refresh()
    mv2.reseed()
    assert _rows(mv2.serve()) == _rows(
        fact2.snapshot().groupBy("g").agg(F.sum("v").alias("sv")))


def test_service_commits_in_window(spark, scratch, tables):
    """Table-service commits between the anchor and the target must not
    perturb maintenance: a CLUSTER rewrite is byte-identical (original
    commit stamps), so the CDC feed sees zero changes from it, and a
    schema-evolution commit adding a column the plan never reads flows
    through the fixed-column chain untouched."""
    fact, _ = tables

    def plan(t):
        return t["fact"].groupBy("g").agg(
            F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvsvc"),
                              {"fact": fact}, plan)
    mv.refresh()
    fact.cluster("20260105000000", ["v"])
    fact.upsert(spark.createDataFrame([("k3", 1, 999.0, 3)],
                                      "k string, g long, v double, nv long"),
                "20260106000000")
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    fact.upsert(
        spark.createDataFrame([("k77", 2, 77.0, 7, "x")],
                              "k string, g long, v double, nv long, extra string"),
        "20260107000000")
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))


def test_union_view(spark, scratch, tables):
    """UNION ALL multi-source view: per-branch change-key maintenance
    under a (tag, key) identity — each source's changes advance only
    its own branch, colliding record keys across sources stay
    distinct rows, and branch filters retract rows they now reject."""
    fact, _ = tables
    other = CowTable(spark, os.path.join(scratch, "other"), key_fields=["k"],
                     partition_field=None, num_file_groups=2)
    # deliberately COLLIDING record keys (k0..k9) with different payloads
    other.bulk_insert(spark.range(10).selectExpr(
        "concat('k', id) as k", "cast(id as double) as v"), "20260101000000")

    def plan(t):
        a = t["fact"].filter("v < 1000").select(
            F.lit("fact").alias("src"),
            F.col("_hoodie_record_key").alias("vk"), "v")
        b = t["other"].select(
            F.lit("other").alias("src"),
            F.col("_hoodie_record_key").alias("vk"),
            (F.col("v") * 10).alias("v"))
        return a.unionByName(b)

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvu"),
                              {"fact": fact, "other": other}, plan)
    spec = mv.spec()
    assert spec["kind"] == "union" and spec["tag_col"] == "src"
    seed = {"fact": "20260101000000", "other": "20260101000000"}
    mv.refresh(seed_as_of=seed, to=seed)

    def expect():
        return _rows(plan({"fact": fact.snapshot(), "other": other.snapshot()}))

    # fact-only advance (C2 updates push k0..k4 past the filter? no —
    # +100 keeps v<1000; C3 deletes two keys; C4 inserts k99)
    mv.refresh()
    assert _rows(mv.serve()) == expect()
    # other-side change: update one colliding key, delete another
    other.upsert(spark.createDataFrame([("k1", 500.0)], "k string, v double"),
                 "20260105000000")
    other.delete(spark.createDataFrame([("k2",)], "k string"), "20260106000000")
    mv.refresh()
    assert _rows(mv.serve()) == expect()
    # the colliding keys remain distinct rows under their tags
    vk_counts = {}
    for r in mv.serve().collect():
        vk_counts[r["vk"]] = vk_counts.get(r["vk"], 0) + 1
    assert vk_counts["k1"] == 2  # one per source
    assert mv.refresh()["advanced"] is False


def test_join_view_expression_keys(spark, scratch, tables):
    """Change-key JOIN view with EXPRESSION join keys (SURVEY §12 lead
    3): the fact side is an unprojected expression ((g + 1)), the arm
    side an expression over the dim's raw columns ((bucket * 1)) — no
    pre-projection, no schema-visible extra column.  Arm changes probe
    SOURCE-SIDE: changed arm values map to affected fact record keys
    through the fact snapshot's own expression value, then ride the
    ordinary change-key machinery."""
    fact, _ = tables
    dim2 = CowTable(spark, os.path.join(scratch, "dimx"), key_fields=["gk"],
                    partition_field=None, num_file_groups=1)
    dim2.bulk_insert(spark.range(6).selectExpr(
        "cast(id as long) as gk", "cast(id as long) as bucket",
        "concat('b', id) as bname"), "20260101000000")

    def plan(t):
        f = t["fact"].select(
            F.col("_hoodie_record_key").alias("vk"), "g", "v")
        d = t["dim2"].select("bucket", "bname")
        return f.join(
            d, (F.col("g") + F.lit(1)) == (F.col("bucket") * F.lit(1))
        ).select("vk", "v", "bname")

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvxk"),
                              {"fact": fact, "dim2": dim2}, plan)
    spec = mv.spec()
    assert spec["kind"] == "join"
    (d,) = spec["dims"]
    assert d["probe_out_cols"] == [] and len(d["probe_fact_exprs"]) == 1
    seed = {"fact": "20260101000000", "dim2": "20260101000000"}
    mv.refresh(seed_as_of=seed, to=seed)

    def expect():
        return _rows(plan({"fact": fact.snapshot(),
                           "dim2": dim2.snapshot()}))

    # fact-side advance (C2 updates, C3 deletes, C4 insert g=9: no match)
    mv.refresh()
    assert _rows(mv.serve()) == expect()
    # arm-side: value change (same bucket), bucket MOVE (3 -> 30: its
    # fact rows lose the match), delete (bucket 1: g=0 rows go dead),
    # insert (bucket 10: the C4 g=9 row gains a match)
    dim2.upsert(spark.createDataFrame(
        [(2, 2, "RENAMED"), (3, 30, "b3")],
        "gk long, bucket long, bname string"), "20260105000000")
    dim2.delete(spark.createDataFrame([(1,)], "gk long"), "20260106000000")
    dim2.upsert(spark.createDataFrame([(10, 10, "b10")],
                                      "gk long, bucket long, bname string"),
                "20260107000000")
    mv.refresh()
    assert _rows(mv.serve()) == expect()
    served = {(r["vk"], r["bname"]) for r in mv.serve().collect()}
    assert ("k99", "b10") in served  # insert matched the g=9 row
    assert not any(b == "b1" for _v, b in served)  # deleted arm rows gone
    assert mv.refresh()["advanced"] is False


def test_join_view_snowflake_expression_key_maintains(spark, scratch,
                                                      tables):
    """A snowflake arm whose tree-side key is an EXPRESSION over the
    parent dim (values live mid-plan, projected nowhere) maintains via
    the TRANSITIVE probe (SURVEY §12 lead 3, round-7): changed arm
    values map to affected parent-dim rows through the parent's own
    snapshot expression values, then recurse into the parent's probe
    route — no hidden stored column, no refusal."""
    fact, dim = tables
    dim_b = CowTable(spark, os.path.join(scratch, "dimsx"), key_fields=["pk"],
                     partition_field=None, num_file_groups=1)
    dim_b.bulk_insert(spark.range(4).selectExpr(
        "cast(id as long) as pk", "concat('p', id) as pname"),
        "20260101000000")

    def plan(t):
        f = t["fact"].select(F.col("_hoodie_record_key").alias("vk"),
                             "g", "v")
        d = t["dim"].select("gk", "gname")
        b = t["dimb"].select("pk", "pname")
        return (f.join(d, F.col("g") == F.col("gk"))
                .join(b, (F.col("gk") % 4) == F.col("pk"))
                .select("vk", "v", "g", "gname", "pname"))

    srcs = {"fact": fact, "dim": dim, "dimb": dim_b}
    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvsnx"),
                              srcs, plan)
    spec = mv.spec()
    (dspec,) = [d for d in spec["dims"] if d["name"] == "dimb"]
    assert dspec["probe_via"] == {"parent": "dim",
                                  "tree_exprs": ["(gk % CAST(4 AS BIGINT))"]}
    seed = {n: "20260101000000" for n in srcs}
    mv.refresh(seed_as_of=seed, to=seed)

    def expect():
        return _rows(plan({n: t.snapshot() for n, t in srcs.items()}))

    mv.refresh()
    assert _rows(mv.serve()) == expect()
    # arm rename: rows whose (gk % 4) matched pk=2 re-derive — probed
    # through the parent dim, not a fact column
    dim_b.upsert(spark.createDataFrame([(2, "P2!")],
                                       "pk long, pname string"),
                 "20260105000000")
    mv.refresh()
    assert _rows(mv.serve()) == expect()
    # arm delete: INNER join drops every (gk % 4) = 1 row
    dim_b.delete(spark.createDataFrame([(1,)], "pk long"),
                 "20260106000000")
    mv.refresh()
    assert _rows(mv.serve()) == expect()
    # arm re-insert brings them back
    dim_b.upsert(spark.createDataFrame([(1, "p1b")],
                                       "pk long, pname string"),
                 "20260107000000")
    mv.refresh()
    assert _rows(mv.serve()) == expect()
    assert mv.refresh()["advanced"] is False


def test_window_over_union_view(spark, scratch, tables):
    """Top-k-per-partition WINDOW over a UNION ALL of three branches —
    the union × window composition (SURVEY §12 lead 1).  One source
    feeds TWO branches whose partition columns map to DIFFERENT source
    columns (the OR-of-restrictions case), record keys collide across
    sources (the (tag, key) identity case), and the fixture's deletes
    promote previously-hidden rows into the top-k (the displacement
    case row-granular maintenance cannot see)."""
    from pyspark.sql import Window as W

    fact, _ = tables
    other = CowTable(spark, os.path.join(scratch, "wother"), key_fields=["k"],
                     partition_field=None, num_file_groups=2)
    # colliding record keys (k0..k11) with their own partition columns
    other.bulk_insert(spark.range(12).selectExpr(
        "concat('k', id) as k", "cast(id % 3 as long) as grp",
        "cast(id % 2 as long) as grp2", "cast(id * 7 as double) as w"),
        "20260101000000")

    def plan(t):
        a = t["fact"].select(
            F.lit("f").alias("src"),
            F.col("_hoodie_record_key").alias("vk"),
            F.col("g").alias("part"), F.col("v").alias("val"))
        b = t["other"].select(
            F.lit("o").alias("src"),
            F.col("_hoodie_record_key").alias("vk"),
            F.col("grp").alias("part"), F.col("w").alias("val"))
        c = t["other"].select(
            F.lit("o2").alias("src"),
            F.col("_hoodie_record_key").alias("vk"),
            F.col("grp2").alias("part"), (F.col("w") * 2).alias("val"))
        w = W.partitionBy("part").orderBy(
            F.desc("val"), F.asc("src"), F.asc("vk"))
        return (a.unionByName(b).unionByName(c)
                .withColumn("rn", F.row_number().over(w))
                .filter("rn <= 3"))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvwu"),
                              {"fact": fact, "other": other}, plan)
    spec = mv.spec()
    assert spec["kind"] == "window" and len(spec["branches"]) == 3
    assert spec["tag_col"] == "src" and spec["key"]["name"] == "vk"
    assert spec["parts"] == [("part", "part")]
    # per-branch partition mapping: three different source columns
    assert [b["part_src_cols"] for b in spec["branches"]] == [
        ["g"], ["grp"], ["grp2"]]

    seed = {"fact": "20260101000000", "other": "20260101000000"}
    mv.refresh(seed_as_of=seed, to=seed)

    def expect():
        return _rows(plan({"fact": fact.snapshot(),
                           "other": other.snapshot()}))

    # seed state serves the C1-as-of plan exactly
    assert _rows(mv.serve()) == _rows(plan(
        {"fact": fact.snapshot("20260101000000"),
         "other": other.snapshot("20260101000000")}))
    # fact advance C1→C4: updates re-rank, deletes PROMOTE hidden rows,
    # k99 opens a brand-new partition (g=9)
    mv.refresh()
    assert _rows(mv.serve()) == expect()
    # other-side advance touches BOTH its branches at once: the update
    # moves k4 between grp partitions AND re-ranks its grp2 partition
    other.upsert(spark.createDataFrame([("k4", 1, 0, 999.0)],
                 "k string, grp long, grp2 long, w double"),
                 "20260105000000")
    other.delete(spark.createDataFrame([("k11",)], "k string"),
                 "20260106000000")
    mv.refresh()
    assert _rows(mv.serve()) == expect()
    # colliding keys stay distinct under their tags
    tags = {(r["src"], r["vk"]) for r in mv.serve().collect()}
    assert len(tags) == mv.serve().count()
    assert mv.refresh()["advanced"] is False


def test_window_over_union_derived_partition(spark, scratch, tables):
    """A branch whose partition output is a DERIVED expression over the
    source's raw columns still restricts its input: the expression
    replays over the source snapshot at probe time (the same trick
    expression join keys use).  A branch derived from RENAMED
    intermediates falls back to full input (None), still output-exact
    through the post-trim."""
    from pyspark.sql import Window as W

    fact, _ = tables

    def plan(t):
        a = t["fact"].select(
            F.lit("lo").alias("src"),
            F.col("_hoodie_record_key").alias("vk"),
            F.col("g").alias("part"), F.col("v").alias("val"))
        b = t["fact"].select(
            F.lit("hi").alias("src"),
            F.col("_hoodie_record_key").alias("vk"),
            (F.col("g") + 100).alias("part"), F.col("v").alias("val"))
        w = W.partitionBy("part").orderBy(
            F.desc("val"), F.asc("src"), F.asc("vk"))
        return (a.unionByName(b)
                .withColumn("rn", F.row_number().over(w))
                .filter("rn <= 2"))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvwud"),
                              {"fact": fact}, plan)
    spec = mv.spec()
    assert spec["kind"] == "window" and spec["tag_col"] == "src"
    srcs = [b["part_src_cols"] for b in spec["branches"]]
    assert srcs[0] == ["g"]
    assert srcs[1] is not None and "100" in srcs[1][0]  # derived, restricted
    seed = {"fact": "20260101000000"}
    mv.refresh(seed_as_of=seed, to=seed)
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    assert mv.refresh()["advanced"] is False


def test_window_over_union_renamed_intermediate_falls_back(spark, scratch,
                                                           tables):
    """Derived-from-renamed partition: the branch projects g AS gg below
    and partitions by (gg + 100) above — the SQL cannot replay over the
    raw source, so the source takes the full-input pass (None) and the
    post-trim keeps the output exact."""
    from pyspark.sql import Window as W

    fact, _ = tables

    def plan(t):
        a = t["fact"].select(
            F.lit("lo").alias("src"),
            F.col("_hoodie_record_key").alias("vk"),
            F.col("g").alias("part"), F.col("v").alias("val"))
        mid = t["fact"].select(
            F.col("_hoodie_record_key").alias("vk"),
            F.col("g").alias("gg"), F.col("v").alias("val"))
        b = mid.select(
            F.lit("hi").alias("src"), "vk",
            (F.col("gg") + 100).alias("part"), "val")
        w = W.partitionBy("part").orderBy(
            F.desc("val"), F.asc("src"), F.asc("vk"))
        return (a.unionByName(b)
                .withColumn("rn", F.row_number().over(w))
                .filter("rn <= 2"))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvwur"),
                              {"fact": fact}, plan)
    spec = mv.spec()
    assert spec["kind"] == "window" and spec["tag_col"] == "src"
    assert [b["part_src_cols"] for b in spec["branches"]][1] is None
    seed = {"fact": "20260101000000"}
    mv.refresh(seed_as_of=seed, to=seed)
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))


def test_self_join_aggregate_view(spark, scratch):
    """Aggregate over a SELF-join (one table on both sides): the
    delta-join identity is occurrence-based, so one source's
    change correctly produces BOTH terms (ΔA⋈B_target + A_anchor⋈ΔB),
    and the dirty-group fallback (min) unions both sides' probes over
    the same CDC. Updates, deletes, inserts, LEFT preservation, and
    zero-write idempotence all converge."""
    t = CowTable(spark, os.path.join(scratch, "sj"), key_fields=["k"],
                 partition_field=None, num_file_groups=2)
    t.bulk_insert(spark.range(12).selectExpr(
        "concat('k', id) as k", "cast(id % 4 as long) as g",
        "cast(id % 3 as long) as parent", "cast(id as double) as v"),
        "20260101000000")

    def plan(s):
        a = s["t"].select("g", "parent", "v")
        b = s["t"].select(F.col("g").alias("g2"), F.col("v").alias("pv"))
        return (a.join(b, F.col("parent") == F.col("g2"))
                .groupBy("g").agg(F.count(F.lit(1)).alias("n"),
                                  F.sum("pv").alias("spv"),
                                  F.min("pv").alias("mpv")))

    def lplan(s):
        a = s["t"].select("g", "parent", "v")
        b = s["t"].filter("v < 100").select(
            F.col("g").alias("g2"), F.col("v").alias("pv"))
        return (a.join(b, F.col("parent") == F.col("g2"), "left")
                .groupBy("g").agg(F.count(F.lit(1)).alias("n"),
                                  F.sum("pv").alias("spv")))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "sjmv"),
                              {"t": t}, plan)
    lmv = AutoMaterializedView(spark, os.path.join(scratch, "sjlmv"),
                               {"t": t}, lplan)
    assert mv.spec()["kind"] == "agg_tree"
    assert lmv.spec()["tree"]["jt"] == "left"
    mv.refresh()
    lmv.refresh()

    def check():
        assert _rows_ns(mv.serve()) == _rows_ns(plan({"t": t.snapshot()}))
        assert _rows_ns(lmv.serve()) == _rows_ns(lplan({"t": t.snapshot()}))

    check()
    t.upsert(spark.createDataFrame(
        [("k2", 1, 0, 99.0), ("k7", 3, 2, 500.0)],
        "k string, g long, parent long, v double"), "20260102000000")
    mv.refresh(); lmv.refresh(); check()
    t.delete(spark.createDataFrame([("k5",), ("k0",)], "k string"),
             "20260103000000")
    mv.refresh(); lmv.refresh(); check()
    t.upsert(spark.createDataFrame([("k20", 0, 1, 7.0)],
                                   "k string, g long, parent long, v double"),
             "20260104000000")
    mv.refresh(); lmv.refresh(); check()
    assert mv.refresh()["advanced"] is False


def test_self_join_tree_aggregate(spark, scratch):
    """Aggregate over a 3-leaf tree with ONE table at TWO leaves
    (t ⋈ t ⋈ dim): duplicate leaves get occurrence-unique pseudo names
    ('t', 't__occ2'), registered as aliases of the real table, so the
    signed delta carries one CDC per LEAF — the occurrence-
    based identity extended to N-source trees.  A WINDOW view over the
    same self-join tree refuses: its fact-record-key row identity is
    not unique per output row."""
    from pyspark.sql import Window as W

    t = CowTable(spark, os.path.join(scratch, "sjt"), key_fields=["k"],
                 partition_field=None, num_file_groups=2)
    t.bulk_insert(spark.range(14).selectExpr(
        "concat('k', id) as k", "cast(id % 4 as long) as g",
        "cast(id % 3 as long) as parent", "cast(id as double) as v"),
        "20260101000000")
    d = CowTable(spark, os.path.join(scratch, "sjd"), key_fields=["gk"],
                 partition_field=None, num_file_groups=1)
    d.bulk_insert(spark.range(4).selectExpr(
        "cast(id as long) as gk", "concat('n', id) as nm"),
        "20260101000000")

    def plan(s):
        a = s["t"].select("g", "parent", "v")
        b = s["t"].select(F.col("g").alias("g2"), F.col("v").alias("pv"))
        dd = s["d"].select("gk", "nm")
        return (a.join(b, F.col("parent") == F.col("g2"))
                .join(dd, F.col("g") == F.col("gk"))
                .groupBy("nm").agg(F.count(F.lit(1)).alias("n"),
                                   F.sum("pv").alias("spv")))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "sjtmv"),
                              {"t": t, "d": d}, plan)
    spec = mv.spec()
    assert spec["kind"] == "agg_tree"
    assert spec["sources"] == ["t", "t__occ2", "d"]
    mv.refresh()

    def check():
        assert _rows_ns(mv.serve()) == _rows_ns(
            plan({"t": t.snapshot(), "d": d.snapshot()}))

    check()
    t.upsert(spark.createDataFrame([("k2", 1, 0, 99.0)],
                                   "k string, g long, parent long, v double"),
             "20260102000000")
    mv.refresh(); check()
    t.delete(spark.createDataFrame([("k5",), ("k0",)], "k string"),
             "20260103000000")
    mv.refresh(); check()
    d.upsert(spark.createDataFrame([(1, "RENAMED")], "gk long, nm string"),
             "20260104000000")
    d.delete(spark.createDataFrame([(2,)], "gk long"), "20260105000000")
    mv.refresh(); check()
    assert mv.refresh()["advanced"] is False

    # the WINDOW shape over the same self-join: an occurrence that
    # does NOT project its record key refuses with the composite-
    # identity contract named (pk below is the business key column,
    # not the occurrence's _hoodie_record_key)
    def wplan_bad(s):
        a = s["t"].select(F.col("_hoodie_record_key").alias("vk"),
                          "g", "parent", "v")
        b = s["t"].select(F.col("g").alias("g2"), F.col("v").alias("pv"),
                          F.col("k").alias("pk"))
        w = W.partitionBy("g").orderBy(F.desc("pv"), F.asc("vk"),
                                       F.asc("pk"))
        return (a.join(b, F.col("parent") == F.col("g2"))
                .withColumn("rn", F.row_number().over(w)).filter("rn <= 2")
                .select("vk", "g", "pv", "pk", "rn"))

    snap = t.snapshot()
    with pytest.raises(UnsupportedViewError, match="composite|record key"):
        classify_view(wplan_bad({"t": snap}), {"t": snap})


def test_window_over_self_join_tree_maintains(spark, scratch):
    """WINDOW view over a SELF-JOIN tree (round 7, lifting the F15
    refusal): top-2 parent rows per group over t ⋈ t pairs.  Each
    occurrence projects its own record key, so the stored identity is
    the COMPOSITE (vk, pk) tuple — several output rows per fact key no
    longer collapse.  Converges through inserts, deletes, value updates
    that re-rank, and a join-column move; whole-partition re-rank keyed
    on the composite tuple."""
    from pyspark.sql import Window as W

    t = CowTable(spark, os.path.join(scratch, "wsjt"), key_fields=["k"],
                 partition_field=None, num_file_groups=2)
    t.bulk_insert(spark.range(14).selectExpr(
        "concat('k', id) as k", "cast(id % 4 as long) as g",
        "cast(id % 3 as long) as parent", "cast(id as double) as v"),
        "20260101000000")

    def wplan(s):
        a = s["t"].select(F.col("_hoodie_record_key").alias("vk"),
                          "g", "parent", "v")
        b = s["t"].select(F.col("g").alias("g2"), F.col("v").alias("pv"),
                          F.col("_hoodie_record_key").alias("pk"))
        w = W.partitionBy("g").orderBy(F.desc("pv"), F.asc("vk"),
                                       F.asc("pk"))
        return (a.join(b, F.col("parent") == F.col("g2"))
                .withColumn("rn", F.row_number().over(w)).filter("rn <= 2")
                .select("vk", "g", "pv", "pk", "rn"))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "wsjmv"),
                              {"t": t}, wplan)
    spec = mv.spec()
    assert spec["kind"] == "window_tree"
    assert spec["key_cols"] == ["vk", "pk"]
    # the touched-partition input restriction must be OFF: the plan
    # reads t twice from one snapshot, so restricting it would also
    # filter PARTNER occurrences and drop cross-partition pairs (the
    # fuzz-seed-3 bug); the full-input pass stays output-exact
    assert spec["restrict_ok"] is False
    mv.refresh()

    def check():
        assert _rows(mv.serve()) == _rows(wplan({"t": t.snapshot()}))

    check()
    # value bump re-ranks partitions the row feeds as a PARENT
    t.upsert(spark.createDataFrame(
        [("k2", 1, 0, 99.0)], "k string, g long, parent long, v double"),
        "20260102000000")
    mv.refresh(); check()
    # deletes: rows vanish both as fact rows and as partners
    t.delete(spark.createDataFrame([("k5",), ("k0",)], "k string"),
             "20260103000000")
    mv.refresh(); check()
    # join-column move: k7 re-parents, pairs regroup
    t.upsert(spark.createDataFrame(
        [("k7", 3, 2, 500.0), ("k20", 0, 1, 7.0)],
        "k string, g long, parent long, v double"), "20260104000000")
    mv.refresh(); check()
    assert mv.refresh()["advanced"] is False


def test_window_over_union_sql_ddl(spark, scratch, tables):
    """The SQL-declared form of the union x window composition: UNION ALL
    subquery under ROW_NUMBER with a top-k outer filter classifies as
    window-over-union through the DDL dialect (SubqueryAlias wrappers and
    qualifiers transparent) and maintains through refresh-by-name."""
    from hudi_delete_view_spark.sql import (
        create_materialized_view,
        refresh_materialized_view,
    )

    fact, dim = tables
    name, mv = create_materialized_view(
        spark, os.path.join(scratch, "wu_sql"),
        {"f_tbl": fact, "d_tbl": dim},
        """CREATE MATERIALIZED VIEW merged_topk AS
           SELECT * FROM (
             SELECT src, vk, part, val,
                    ROW_NUMBER() OVER (PARTITION BY part
                                       ORDER BY val DESC, src, vk) AS rn
             FROM (
               SELECT 'f' AS src, _hoodie_record_key AS vk,
                      g AS part, v AS val
               FROM f_tbl
               UNION ALL
               SELECT 'd' AS src, _hoodie_record_key AS vk,
                      gk AS part, CAST(gk AS DOUBLE) * 7 AS val
               FROM d_tbl
             )
           ) WHERE rn <= 3""",
    )
    assert mv.spec()["kind"] == "window" and mv.spec()["tag_col"] == "src"
    refresh_materialized_view(name, mv)

    def want():
        fact.snapshot().createOrReplaceTempView("f_tbl")
        dim.snapshot().createOrReplaceTempView("d_tbl")
        return _rows(spark.sql(
            """SELECT * FROM (
                 SELECT src, vk, part, val,
                        ROW_NUMBER() OVER (PARTITION BY part
                                           ORDER BY val DESC, src, vk) AS rn
                 FROM (
                   SELECT 'f' AS src, _hoodie_record_key AS vk,
                          g AS part, v AS val FROM f_tbl
                   UNION ALL
                   SELECT 'd' AS src, _hoodie_record_key AS vk,
                          gk AS part, CAST(gk AS DOUBLE) * 7 AS val
                   FROM d_tbl
                 )
               ) WHERE rn <= 3"""))

    assert _rows(spark.sql("SELECT * FROM merged_topk")) == want()
    dim.upsert(spark.createDataFrame([(2, "MOVED")], "gk long, gname string"),
               "20260105000000")
    refresh_materialized_view(name, mv)
    assert _rows(spark.sql("SELECT * FROM merged_topk")) == want()


def test_views_across_source_schema_evolution(spark, scratch):
    """Views keep maintaining across a SOURCE schema evolution: a view
    anchored pre-evolution advances through the widening commit (old
    files surface the new column as NULL via mergeSchema), and a fresh
    view whose plan USES the evolved column classifies and maintains —
    including an aggregate whose argument is the new column (NULLs from
    pre-evolution rows behave as SQL COUNT/SUM semantics demand)."""
    fact = CowTable(spark, os.path.join(scratch, "evof"), key_fields=["k"],
                    partition_field=None, num_file_groups=2)
    fact.bulk_insert(spark.range(10).selectExpr(
        "concat('k', id) as k", "cast(id % 3 as long) as g",
        "cast(id as double) as v"), "20260101000000")

    def sel(t):
        return t["fact"].filter("v >= 0").select(
            F.col("_hoodie_record_key").alias("vk"), "g", "v")

    mv = AutoMaterializedView(spark, os.path.join(scratch, "evmv"),
                              {"fact": fact}, sel)
    mv.refresh()
    # the widening commit: one upsert carries a NEW column
    fact.upsert(spark.createDataFrame(
        [("k3", 1, 99.0, 7)], "k string, g long, v double, w long"),
        "20260102000000")
    mv.refresh()
    assert _rows(mv.serve()) == _rows(sel({"fact": fact.snapshot()}))

    def agg(t):
        return t["fact"].groupBy("g").agg(
            F.count(F.lit(1)).alias("n"),
            F.count("w").alias("n_w"),  # NULL for pre-evolution rows
            F.sum("w").alias("sw"))

    amv = AutoMaterializedView(spark, os.path.join(scratch, "evamv"),
                               {"fact": fact}, agg)
    amv.refresh()
    fact.upsert(spark.createDataFrame(
        [("k5", 2, 55.0, 3), ("k20", 0, 1.0, 4)],
        "k string, g long, v double, w long"), "20260103000000")
    fact.delete(spark.createDataFrame([("k1",)], "k string"),
                "20260104000000")
    amv.refresh()
    assert _rows_ns(amv.serve()) == _rows_ns(agg({"fact": fact.snapshot()}))
    # the pre-evolution view keeps advancing through the later commits
    mv.refresh()
    assert _rows(mv.serve()) == _rows(sel({"fact": fact.snapshot()}))


def test_union_view_same_source_branches(spark, scratch, tables):
    """TWO branches over ONE source (self-union with different
    projections): the analyzer deduplicates the second branch's
    attribute ids, which used to break record-key lineage — the
    positional terminal-node map resolves them, and each branch
    advances independently under its own tag."""
    fact, _ = tables

    def plan(t):
        a = t["fact"].filter("g < 2").select(
            F.lit("low").alias("src"),
            F.col("_hoodie_record_key").alias("vk"), "v")
        b = t["fact"].filter("g >= 2").select(
            F.lit("high").alias("src"),
            F.col("_hoodie_record_key").alias("vk"),
            (F.col("v") * 10).alias("v"))
        return a.unionByName(b)

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvuss"),
                              {"fact": fact}, plan)
    spec = mv.spec()
    assert spec["kind"] == "union"
    assert [b["source"] for b in spec["branches"]] == ["fact", "fact"]
    seed = {"fact": "20260101000000"}
    mv.refresh(seed_as_of=seed, to=seed)
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    assert mv.refresh()["advanced"] is False


def test_union_refusals(spark, scratch, tables):
    """Unions without a distinct literal tag, or without per-branch
    record keys, refuse with the contract spelled out."""
    fact, _ = tables
    other = CowTable(spark, os.path.join(scratch, "other2"), key_fields=["k"],
                     partition_field=None, num_file_groups=1)
    other.bulk_insert(spark.range(3).selectExpr(
        "concat('x', id) as k", "cast(id as double) as v"), "20260101000000")
    fs, os_ = fact.snapshot(), other.snapshot()
    no_tag = fs.select(F.col("_hoodie_record_key").alias("vk"), "v")\
        .unionByName(os_.select(F.col("_hoodie_record_key").alias("vk"), "v"))
    with pytest.raises(UnsupportedViewError, match="discriminator"):
        classify_view(no_tag, {"fact": fs, "other": os_})
    no_key = fs.select(F.lit("a").alias("src"), "v").unionByName(
        os_.select(F.lit("b").alias("src"), "v"))
    with pytest.raises(UnsupportedViewError, match=RECORD_KEY_FIELD_RE):
        classify_view(no_key, {"fact": fs, "other": os_})


RECORD_KEY_FIELD_RE = "_hoodie_record_key"


def test_select_view_over_mor_fact(spark, scratch):
    """Change-key views over a MOR FACT: classification must stop at
    the source boundary (the MOR merge's internal Window is not view
    structure), and delta TOMBSTONES — which live in logs the COW
    delete-view feed cannot see — must retract via the cdc-backed
    changed-key feed.  Both halves regressed silently before this pin."""
    from hudi_delete_view_spark.sources.mor import MorTable

    fact = MorTable(spark, os.path.join(scratch, "morfact2"),
                    key_fields=["k"], partition_field=None, num_file_groups=2)
    fact.bulk_insert(spark.range(12).selectExpr(
        "concat('k', id) as k", "cast(id as double) as v"), "20260101000000")

    def plan(t):
        return t["fact"].filter("v != 4").select(
            F.col("_hoodie_record_key").alias("vk"), "v")

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvmsel"),
                              {"fact": fact}, plan)
    assert mv.spec()["kind"] == "select"
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    fact.upsert_delta(spark.createDataFrame([("k5", 55.0)], "k string, v double"),
                      "20260102000000")
    fact.delete_delta(spark.createDataFrame([("k3",), ("k7",)], "k string"),
                      "20260103000000")
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    assert not {r["vk"] for r in mv.serve().collect()} & {"k3", "k7"}


def test_aggregate_over_union_staged(spark, scratch, tables):
    """Composition: the UNION view's backing table is a real lake
    table, so an aggregate view declares directly over it — the staged
    answer to GROUP BY over UNION ALL, converging through BOTH hops."""
    fact, _ = tables
    other = CowTable(spark, os.path.join(scratch, "other3"), key_fields=["k"],
                     partition_field=None, num_file_groups=2)
    other.bulk_insert(spark.range(8).selectExpr(
        "concat('k', id) as k", "cast(id as double) as v"), "20260101000000")

    def uplan(t):
        a = t["fact"].select(F.lit("fact").alias("src"),
                             F.col("_hoodie_record_key").alias("vk"), "v")
        b = t["other"].select(F.lit("other").alias("src"),
                              F.col("_hoodie_record_key").alias("vk"), "v")
        return a.unionByName(b)

    mv1 = AutoMaterializedView(spark, os.path.join(scratch, "mvu2"),
                               {"fact": fact, "other": other}, uplan)
    mv1.refresh()

    def aplan(t):
        return t["u"].groupBy("src").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))

    mv2 = AutoMaterializedView(spark, os.path.join(scratch, "mvu2agg"),
                               {"u": mv1.table}, aplan)
    mv2.refresh()

    def expect():
        return _rows(uplan({"fact": fact.snapshot(),
                            "other": other.snapshot()})
                     .groupBy("src")
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.sum("v").alias("sv")))

    assert _rows(mv2.serve()) == expect()
    # ripple: change both feeds, refresh in dependency order
    fact.delete(spark.createDataFrame([("k1",)], "k string"), "20260108000000")
    other.upsert(spark.createDataFrame([("k2", 222.0)], "k string, v double"),
                 "20260108000000")
    mv1.refresh()
    mv2.refresh()
    assert _rows(mv2.serve()) == expect()


def test_agg_over_union_direct(spark, scratch, tables):
    """GROUP BY over UNION ALL in ONE declaration — no staging, no
    intermediate table, no literal tags: Δ(∪all branches) = ∪all of
    the branches' signed CDC deltas, fed straight into the retraction
    merge.  The fixture pins the hard parts: a SELF-union (the fact
    appears in two branches with different filters — multiset
    semantics: one source change contributes BOTH branch deltas), a
    mid-chain filter between the union and the aggregate, and min /
    COUNT DISTINCT / approx_count_distinct so the dirty re-derivation
    (from the union full feed) and the per-value aux paths both run
    over the union shape."""
    fact, _ = tables
    other = CowTable(spark, os.path.join(scratch, "other4"), key_fields=["k"],
                     partition_field=None, num_file_groups=2)
    other.bulk_insert(spark.range(8).selectExpr(
        "concat('k', id) as k", "cast(id % 3 as long) as g",
        "cast(id * 1.5 as double) as v",
        "cast(id % 5 as long) as nv"), "20260101000000")

    def plan(t):
        a = t["fact"].select("g", "v", "nv")
        b = t["other"].select("g", "v", "nv").filter("v < 900")
        c = t["fact"].filter("g = 1").select("g", (F.col("v") * 2).alias("v"),
                                             "nv")  # self-union branch
        return (
            a.unionByName(b).unionByName(c)
            .filter("v >= 0")
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("v").alias("sv"),
                 F.min("v").alias("mn"),
                 F.count_distinct("nv").alias("nd"),
                 F.approx_count_distinct("nv").alias("ad"))
        )

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvaggu"),
                              {"fact": fact, "other": other}, plan)
    spec = mv.spec()
    assert spec["kind"] == "agg_union"
    assert [b["source"] for b in spec["branches"]] == ["fact", "other", "fact"]
    mv.refresh(seed_as_of={"fact": "20260101000000",
                           "other": "20260101000000"},
               to={"fact": "20260101000000", "other": "20260101000000"})

    def check(at=None):
        snaps = {"fact": fact.snapshot(at), "other": other.snapshot(at)}
        assert _rows(mv.serve()) == _rows(plan(snaps))

    check("20260101000000")
    # fact-only step: updates retract through BOTH fact branches
    mv.refresh(to={"fact": "20260102000000", "other": "20260101000000"})
    snaps = {"fact": fact.snapshot("20260102000000"),
             "other": other.snapshot("20260101000000")}
    assert _rows(mv.serve()) == _rows(plan(snaps))
    # both sources change: fact deletes + other update in one window
    other.upsert(spark.createDataFrame([("k2", 2, 333.0, 9)],
                                       "k string, g long, v double, nv long"),
                 "20260105000000")
    mv.refresh()
    check()
    # a delete on the self-unioned branch's filter domain (g=1 rows
    # leave twice — once per branch)
    fact.delete(spark.createDataFrame([("k1",), ("k5",)], "k string"),
                "20260106000000")
    mv.refresh()
    check()
    assert mv.refresh()["advanced"] is False


def test_noop_refresh_is_jobless(spark, scratch, tables):
    """A fully-advanced refresh is a METADATA decision: anchor sidecar
    vs source timelines, zero Spark jobs — the property that makes
    polling refreshes (a streaming driver, a cron) free."""
    fact, _ = tables

    def plan(t):
        return t["fact"].groupBy("g").agg(F.sum("v").alias("sv"))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvnoop"),
                              {"fact": fact}, plan)
    mv.refresh()
    mv.spec()  # classification cached; serve-side analysis done
    sc = spark.sparkContext
    sc.setJobGroup("noop-refresh", "ivm noop audit")
    try:
        assert mv.refresh()["advanced"] is False
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("noop-refresh") == []


def test_window_refresh_job_counts(spark, scratch, tables):
    """Spark jobs per stepwise window refresh (C1 -> C2 -> C3 -> C4 of
    the fixture's fact table), measured on this fixture with 4 local
    cores. Each refresh ends in ONE group rewrite of the view
    (``CowTable.apply_delta``), with no count of either side first.
    Every step still equals the from-scratch recompute."""
    from pyspark.sql import Window as W

    fact, _ = tables
    other = CowTable(spark, os.path.join(scratch, "jother"), key_fields=["k"],
                     partition_field=None, num_file_groups=2)
    other.bulk_insert(spark.range(12).selectExpr(
        "concat('k', id) as k", "cast(id % 3 as long) as grp",
        "cast(id * 7 as double) as w"), "20260101000000")

    def topk(t):
        w = W.partitionBy("g").orderBy(F.desc("v"), F.asc("k"))
        return (t["fact"]
                .select(F.col("_hoodie_record_key").alias("vk"), "k", "g", "v")
                .withColumn("rn", F.row_number().over(w)).filter("rn <= 3"))

    def over_union(t):
        a = t["fact"].select(
            F.lit("f").alias("src"), F.col("_hoodie_record_key").alias("vk"),
            F.col("g").alias("part"), F.col("v").alias("val"))
        b = t["other"].select(
            F.lit("o").alias("src"), F.col("_hoodie_record_key").alias("vk"),
            F.col("grp").alias("part"), F.col("w").alias("val"))
        w = W.partitionBy("part").orderBy(
            F.desc("val"), F.asc("src"), F.asc("vk"))
        return (a.unionByName(b).withColumn("rn", F.row_number().over(w))
                .filter("rn <= 3"))

    c1 = "20260101000000"
    steps = ["20260102000000", "20260103000000", "20260104000000"]
    cases = [
        ("topk", {"fact": fact}, topk, [16, 16, 16]),
        ("union", {"fact": fact, "other": other}, over_union, [17, 14, 16]),
    ]
    for name, sources, plan, budget in cases:
        mv = AutoMaterializedView(spark, os.path.join(scratch, f"jmv_{name}"),
                                  sources, plan)
        assert mv.spec()["kind"] == "window"
        seed = {n: c1 for n in sources}
        mv.refresh(seed_as_of=seed, to=seed)
        jobs = []
        for ts in steps:
            to = {**seed, "fact": ts}
            jobs.append(len(_jobs_for(
                spark, f"window-jobs-{name}-{ts}",
                lambda: mv.refresh(to=to))))
            assert _rows(mv.serve()) == _rows(plan(
                {n: t.snapshot(to[n]) for n, t in sources.items()}))
        assert all(j <= b for j, b in zip(jobs, budget)), (
            name, jobs, budget)


def test_apply_delta_is_one_commit_and_live_wins(spark, scratch):
    """A refresh's delta lands as ONE commit: a key both dead and live
    ends live (an update), a dead-only key deletes, a dead key the view
    never held is a no-op, and an empty delta publishes nothing."""
    t = CowTable(spark, os.path.join(scratch, "ad"), key_fields=["k"],
                 partition_field=None, num_file_groups=2)
    c1, c2, c3 = "20260101000000", "20260102000000", "20260103000000"
    t.bulk_insert(spark.createDataFrame(
        [(k, float(k)) for k in range(6)], "k long, v double"), c1)
    live = spark.createDataFrame([(1, 10.0), (9, 90.0)], "k long, v double")
    dead = spark.createDataFrame([(1,), (2,), (77,)], "k long")
    meta = t.apply_delta(live, dead, c2)
    assert t.timeline.timestamps() == [c1, c2]
    stats = [s for _p, s in meta.all_stats()]
    assert (sum(s.num_update_writes for s in stats),
            sum(s.num_inserts for s in stats),
            sum(s.num_deletes for s in stats)) == (1, 1, 1)
    assert {r["k"]: r["v"] for r in t.snapshot().collect()} == {
        0: 0.0, 1: 10.0, 3: 3.0, 4: 4.0, 5: 5.0, 9: 90.0}
    assert t.apply_delta(live.limit(0), dead.limit(0), c3) is None
    assert t.timeline.timestamps() == [c1, c2]
    # dead rows are key-only markers: an extra column or a key typed
    # unlike the table's reaches neither the files nor the schema
    junk = spark.createDataFrame([(3, "x")], "k int, junk string")
    meta = t.apply_delta(live.limit(0), junk, c3)
    assert sum(s.num_deletes for _p, s in meta.all_stats()) == 1
    assert t.snapshot().drop(*META_FIELDS).dtypes == [("k", "bigint"), ("v", "double")]
    assert "junk" not in meta.schema_json
    # on a partitioned table a dead frame without the partition column
    # raises, as delete does, instead of routing to no group
    pt = CowTable(spark, os.path.join(scratch, "adp"), key_fields=["k"],
                  partition_field="p", num_file_groups=2)
    with pytest.raises(ValueError, match="routing column"):
        pt.apply_delta(live.withColumn("p", F.lit(1)), dead, c2)


def test_window_view_over_mor_fact(spark, scratch):
    """Window views over a MOR fact: delta updates move rows between
    rank partitions and delta tombstones promote hidden partition-mates
    — the cdc-backed changed-key feed sees log-resident changes the
    COW feed cannot."""
    from pyspark.sql import Window
    from hudi_delete_view_spark.sources.mor import MorTable

    fact = MorTable(spark, os.path.join(scratch, "morwin"),
                    key_fields=["k"], partition_field=None, num_file_groups=2)
    fact.bulk_insert(spark.range(20).selectExpr(
        "concat('k', id) as k", "cast(id % 4 as long) as g",
        "cast(id as double) as v"), "20260101000000")

    def plan(t):
        w = Window.partitionBy("g").orderBy(F.desc("v"), F.asc("vk"))
        return (t["fact"]
                .select(F.col("_hoodie_record_key").alias("vk"), "g", "v")
                .withColumn("rn", F.row_number().over(w)).filter("rn <= 2"))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvmorwin"),
                              {"fact": fact}, plan)
    assert mv.spec()["kind"] == "window" and mv.spec()["tag_col"] is None
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))
    fact.upsert_delta(spark.createDataFrame([("k2", 2, 500.0)],
                                            "k string, g long, v double"),
                      "20260102000000")
    fact.delete_delta(spark.createDataFrame([("k19",)], "k string"),
                      "20260103000000")
    mv.refresh()
    assert _rows(mv.serve()) == _rows(plan({"fact": fact.snapshot()}))


def test_agg_right_and_full_outer_join_views(spark, scratch, tables):
    """RIGHT OUTER normalizes by side swap (preserved side becomes the
    stored left); FULL OUTER detection runs one preserved-side-
    restricted pass per side, so dim deletes AND fact deletes both
    register their null-extension flips.  Convergence at every step."""
    fact, dim = tables

    def rplan(t):
        d = t["dim"].select("gk", "gname")
        f = t["fact"].select("k", "g", "v")
        return (
            d.join(f, F.col("g") == F.col("gk"), "right")
            .groupBy("gname")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        )

    def fplan(t):
        f = t["fact"].select("k", "g", "v")
        d = t["dim"].select("gk", "gname")
        return (
            f.join(d, F.col("g") == F.col("gk"), "full")
            .groupBy("gname")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        )

    for name, plan in (("mvraj", rplan), ("mvfaj", fplan)):
        mv = AutoMaterializedView(spark, os.path.join(scratch, name),
                                  {"fact": fact, "dim": dim}, plan)
        spec = mv.spec()
        assert spec["kind"] == "agg_tree"
        if name == "mvraj":
            # swapped: the preserved (fact) side is stored as left
            assert spec["tree"]["jt"] == "left"
            assert spec["tree"]["left"]["src"] == "fact"
        else:
            assert spec["tree"]["jt"] == "full"
            assert spec["group_src"] is None
        seed = {"fact": "20260101000000", "dim": "20260101000000"}
        mv.refresh(seed_as_of=seed, to=seed)

        def expect(at):
            return _rows_ns(plan({"fact": fact.snapshot(at["fact"]),
                                  "dim": dim.snapshot(at["dim"])}))

        assert _rows_ns(mv.serve()) == expect(seed)
        mv.refresh(to={"fact": "20260103000000", "dim": "20260103000000"})
        assert _rows_ns(mv.serve()) == expect(
            {"fact": "20260103000000", "dim": "20260103000000"})
        mv.refresh()
        assert _rows_ns(mv.serve()) == expect(
            {"fact": "20260104000000", "dim": "20260104000000"})
        assert mv.refresh()["advanced"] is False


def test_agg_join_composite_key(spark, scratch, tables):
    """Composite equi-join (AND of equalities) below an aggregate: the
    delta-join feed, join-key pruning frames, and replayed joins all
    compose over the aligned column PAIRS; dim updates and deletes on
    the two-column key converge exactly."""
    fact, _ = tables
    dim2 = CowTable(spark, os.path.join(scratch, "dim2"),
                    key_fields=["gk", "par"], partition_field=None,
                    num_file_groups=2)
    dim2.bulk_insert(spark.range(8).selectExpr(
        "cast(id % 4 as long) as gk", "cast(id < 4 as long) as par",
        "concat('n', id) as nm"), "20260101000000")

    def plan(t):
        f = t["fact"].selectExpr("k", "g", "cast(v as int) % 2 as par2", "v")
        d = t["dim2"].select("gk", "par", "nm")
        return (
            f.join(d, (F.col("g") == F.col("gk"))
                   & (F.col("par2") == F.col("par")))
            .groupBy("nm")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        )

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvck"),
                              {"fact": fact, "dim2": dim2}, plan)
    spec = mv.spec()
    assert spec["kind"] == "agg_tree"
    assert len(spec["tree"]["pairs"]) == 2
    seed = {"fact": "20260101000000", "dim2": "20260101000000"}
    mv.refresh(seed_as_of=seed, to=seed)

    def expect():
        return _rows(plan({"fact": fact.snapshot(), "dim2": dim2.snapshot()}))

    mv.refresh()
    assert _rows(mv.serve()) == expect()
    # move one (gk, par) cell to a new name; delete another cell
    dim2.upsert(spark.createDataFrame([(1, 1, "MOVED")],
                                      "gk long, par long, nm string"),
                "20260105000000")
    dim2.delete(spark.createDataFrame([(2, 0)], "gk long, par long"),
                "20260106000000")
    mv.refresh()
    assert _rows(mv.serve()) == expect()
    assert mv.refresh()["advanced"] is False


def test_join_view_composite_key(spark, scratch, tables):
    """Composite-key change-key JOIN view: dim changes on a two-column
    key map to affected fact rows through the AND-composed probe."""
    fact, _ = tables
    dim2 = CowTable(spark, os.path.join(scratch, "dim2j"),
                    key_fields=["gk", "par"], partition_field=None,
                    num_file_groups=2)
    dim2.bulk_insert(spark.range(8).selectExpr(
        "cast(id % 4 as long) as gk", "cast(id < 4 as long) as par",
        "concat('n', id) as nm"), "20260101000000")

    def plan(t):
        f = t["fact"].selectExpr(
            "_hoodie_record_key as vk", "g",
            "cast(cast(v as int) % 2 as long) as par2", "v")
        d = t["dim2"].select("gk", "par", "nm")
        return f.join(d, (F.col("g") == F.col("gk"))
                      & (F.col("par2") == F.col("par")))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvjck"),
                              {"fact": fact, "dim2": dim2}, plan)
    spec = mv.spec()
    assert spec["kind"] == "join"
    assert len(spec["dims"][0]["probe_out_cols"]) == 2
    mv.refresh(seed_as_of={"fact": "20260101000000",
                           "dim2": "20260101000000"})
    assert _rows(mv.serve()) == _rows(
        plan({"fact": fact.snapshot(), "dim2": dim2.snapshot()}))
    dim2.upsert(spark.createDataFrame([(1, 1, "MOVED")],
                                      "gk long, par long, nm string"),
                "20260105000000")
    dim2.delete(spark.createDataFrame([(0, 0)], "gk long, par long"),
                "20260106000000")
    mv.refresh()
    assert _rows(mv.serve()) == _rows(
        plan({"fact": fact.snapshot(), "dim2": dim2.snapshot()}))


def test_sql_ddl_dialect_lifecycle(spark, scratch, tables):
    """CREATE → SHOW → REFRESH → DROP through the one ddl() entry
    point; catalog state is session bookkeeping while the durable
    state (table + anchor) lives on disk."""
    from hudi_delete_view_spark import sql as lake_sql

    fact, _ = tables
    served = lake_sql.ddl(
        spark,
        "CREATE MATERIALIZED VIEW rollup_g AS "
        "SELECT g, count(1) AS n, sum(v) AS sv FROM f_tbl GROUP BY g",
        path=os.path.join(scratch, "mvddl"), sources={"f_tbl": fact},
    )
    assert served.count() > 0
    shown = {r["name"]: r["kind"]
             for r in lake_sql.ddl(spark, "SHOW MATERIALIZED VIEWS").collect()}
    assert shown.get("rollup_g") == "aggregate"
    fact.upsert(spark.createDataFrame([("k0", 1, 1000.0, 1)],
                                      "k string, g long, v double, nv long"),
                "20260109000000")
    lake_sql.ddl(spark, "REFRESH MATERIALIZED VIEW rollup_g")
    fact.snapshot().createOrReplaceTempView("f_tbl")
    want = _rows(spark.sql(
        "SELECT g, count(1) AS n, sum(v) AS sv FROM f_tbl GROUP BY g"))
    assert _rows(spark.sql("SELECT * FROM rollup_g")) == want
    lake_sql.ddl(spark, "DROP MATERIALIZED VIEW rollup_g")
    assert "rollup_g" not in {
        r["name"]
        for r in lake_sql.ddl(spark, "SHOW MATERIALIZED VIEWS").collect()}
    with pytest.raises(ValueError, match="unknown materialized view"):
        lake_sql.ddl(spark, "REFRESH MATERIALIZED VIEW rollup_g")


def test_star_join_view(spark, scratch, tables):
    """STAR views (N dims joined on FACT columns) maintain without
    staging: each dim's changes probe the view through its own
    fact-side join columns, rows hit through two dims dedup before the
    write, and a SNOWFLAKE arm (dim joined through another DIM's
    column) classifies too — the probe maps arm changes to stored rows
    through the view OUTPUT column, indifferent to its source."""
    fact, dim = tables
    dim_b = CowTable(spark, os.path.join(scratch, "dimb"), key_fields=["pk"],
                     partition_field=None, num_file_groups=1)
    dim_b.bulk_insert(spark.range(2).selectExpr(
        "cast(id as long) as pk", "concat('p', id) as pname"),
        "20260101000000")

    def plan(t):
        f = t["fact"].selectExpr("_hoodie_record_key as vk", "g",
                                 "cast(cast(v as int) % 2 as long) as par", "v")
        return (f.join(t["dim"].select("gk", "gname"),
                       F.col("g") == F.col("gk"))
                .join(t["dim_b"].select("pk", "pname"),
                      F.col("par") == F.col("pk")))

    srcs = {"fact": fact, "dim": dim, "dim_b": dim_b}
    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvstar"),
                              srcs, plan)
    spec = mv.spec()
    assert spec["kind"] == "join"
    assert sorted(d["name"] for d in spec["dims"]) == ["dim", "dim_b"]
    seed = {n: "20260101000000" for n in srcs}
    mv.refresh(seed_as_of=seed, to=seed)

    def expect():
        return _rows(plan({n: t.snapshot() for n, t in srcs.items()}))

    mv.refresh()
    assert _rows(mv.serve()) == expect()
    # change BOTH dims in one window: overlapping probes must dedup
    dim.upsert(spark.createDataFrame([(0, "ZED")], "gk long, gname string"),
               "20260105000000")
    dim_b.upsert(spark.createDataFrame([(0, "PZ")], "pk long, pname string"),
                 "20260105000000")
    dim_b.delete(spark.createDataFrame([(1,)], "pk long"), "20260106000000")
    mv.refresh()
    assert _rows(mv.serve()) == expect()
    # snowflake arm: dim_b joined via ANOTHER dim's derived column —
    # classifies as a join view whose dim_b probe runs through the
    # OUTPUT column 'cust' (dim lineage, not fact lineage)
    fs, ds, dbs = fact.snapshot(), dim.snapshot(), dim_b.snapshot()
    snow = (fs.selectExpr("_hoodie_record_key as vk", "g", "v")
            .join(ds.selectExpr("gk", "gk % 2 as cust", "gname"),
                  F.col("g") == F.col("gk"))
            .join(dbs.select("pk", "pname"), F.col("cust") == F.col("pk")))
    sspec = classify_view(snow, {"fact": fs, "dim": ds, "dim_b": dbs})
    assert sspec["kind"] == "join"
    probes = {d["name"]: d["probe_out_cols"] for d in sspec["dims"]}
    assert probes == {"dim": ["g"], "dim_b": ["cust"]}


def test_snowflake_join_view_maintains(spark, scratch, tables):
    """SNOWFLAKE maintenance end-to-end: fact ⋈ dim (on fact.g), dim ⋈
    subdim (on dim.region) — subdim never touches a fact column.
    Changes at every level converge: a subdim rename re-derives exactly
    the rows whose output 'region' matched (probed through the DIM-
    lineage column), a subdim delete kills them (INNER), and a dim
    update that MOVES a row's region re-probes both the old and new
    region values via update preimages."""
    fact, _ = tables
    dim2 = CowTable(spark, os.path.join(scratch, "sdim"), key_fields=["gk"],
                    partition_field=None, num_file_groups=1)
    dim2.bulk_insert(spark.createDataFrame(
        [(0, 10, "g0"), (1, 10, "g1"), (2, 20, "g2"), (3, 20, "g3")],
        "gk long, region long, gname string"), "20260101000000")
    sub = CowTable(spark, os.path.join(scratch, "subdim"), key_fields=["rk"],
                   partition_field=None, num_file_groups=1)
    sub.bulk_insert(spark.createDataFrame(
        [(10, "north"), (20, "south")], "rk long, rname string"),
        "20260101000000")

    def plan(t):
        f = t["fact"].selectExpr("_hoodie_record_key as vk", "g", "v")
        d = t["dim2"].select("gk", "region", "gname")
        s = t["sub"].select("rk", "rname")
        return (f.join(d, F.col("g") == F.col("gk"))
                 .join(s, F.col("region") == F.col("rk"))
                 .select("vk", "g", "v", "region", "gname", "rname"))

    srcs = {"fact": fact, "dim2": dim2, "sub": sub}
    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvsnow"),
                              srcs, plan)
    spec = mv.spec()
    assert {d["name"]: d["probe_out_cols"] for d in spec["dims"]} == {
        "dim2": ["g"], "sub": ["region"]}
    seed = {n: "20260101000000" for n in srcs}
    mv.refresh(seed_as_of=seed, to=seed)

    def expect():
        return _rows(plan({n: t.snapshot() for n, t in srcs.items()}))

    mv.refresh()
    assert _rows(mv.serve()) == expect()
    # subdim rename: every 'south' row re-derives, probed via region
    sub.upsert(spark.createDataFrame([(20, "SOUTH")], "rk long, rname string"),
               "20260105000000")
    mv.refresh()
    assert _rows(mv.serve()) == expect()
    # dim moves g1 from region 10 to 20: old-region rows must re-derive
    # too (update preimages), not just the new-region ones
    dim2.upsert(spark.createDataFrame([(1, 20, "g1")],
                                      "gk long, region long, gname string"),
                "20260106000000")
    mv.refresh()
    assert _rows(mv.serve()) == expect()
    # subdim delete: INNER join drops every north row
    sub.delete(spark.createDataFrame([(10,)], "rk long"), "20260107000000")
    mv.refresh()
    assert _rows(mv.serve()) == expect()
    assert mv.refresh()["advanced"] is False
    # a subtree that NEVER reaches the fact's record-key lineage refuses
    fs = fact.snapshot()
    detached = (fs.selectExpr("_hoodie_record_key as vk", "g", "v")
                .crossJoin(dim2.snapshot().select("gk", "region")
                           .join(sub.snapshot().select("rk", "rname"),
                                 F.col("region") == F.col("rk"))))
    with pytest.raises(UnsupportedViewError):
        classify_view(detached,
                      {"fact": fs, "dim2": dim2.snapshot(),
                       "sub": sub.snapshot()})


def test_bushy_snowflake_and_left_outer_arm(spark, scratch):
    """Two snowflake corners: (1) a BUSHY plan joins two dims together
    BEFORE attaching to the fact — the fixpoint classifier defers that
    node until d1 anchors, then registers d2's probe through the
    output 'region'; (2) a LEFT OUTER arm's inserts flip stored
    null-extended rows to matches (the probe runs on the anchored
    side's column, non-null in every stored row), and deletes flip
    them back."""
    fact = CowTable(spark, os.path.join(scratch, "bf"), key_fields=["k"],
                    partition_field=None, num_file_groups=2)
    fact.bulk_insert(spark.createDataFrame(
        [("k1", 1, 1.0), ("k2", 2, 2.0), ("k3", 1, 3.0)],
        "k string, g long, v double"), "20260101000000")
    d1 = CowTable(spark, os.path.join(scratch, "bd1"), key_fields=["gk"],
                  partition_field=None, num_file_groups=1)
    d1.bulk_insert(spark.createDataFrame(
        [(1, 10, "a"), (2, 30, "b")], "gk long, region long, gname string"),
        "20260101000000")
    d2 = CowTable(spark, os.path.join(scratch, "bd2"), key_fields=["rk"],
                  partition_field=None, num_file_groups=1)
    d2.bulk_insert(spark.createDataFrame(
        [(10, "north")], "rk long, rname string"), "20260101000000")

    def plan(t):
        f = t["fact"].selectExpr("_hoodie_record_key as vk", "g", "v")
        arm = (t["d1"].select("gk", "region", "gname")
               .join(t["d2"].select("rk", "rname"),
                     F.col("region") == F.col("rk"), "left"))
        return (f.join(arm, F.col("g") == F.col("gk"))
                .select("vk", "g", "v", "region", "gname", "rname"))

    srcs = {"fact": fact, "d1": d1, "d2": d2}
    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvbushy"),
                              srcs, plan)
    assert {d["name"]: d["probe_out_cols"] for d in mv.spec()["dims"]} == {
        "d1": ["g"], "d2": ["region"]}
    mv.refresh()

    def expect():
        return _rows(plan({n: t.snapshot() for n, t in srcs.items()}))

    assert _rows(mv.serve()) == expect()
    # LEFT OUTER arm insert: region 30 rows flip from null-extension
    d2.upsert(spark.createDataFrame([(30, "west")], "rk long, rname string"),
              "20260102000000")
    mv.refresh()
    assert _rows(mv.serve()) == expect()
    # arm delete flips back; d1 moves a row's region in the same window
    d2.delete(spark.createDataFrame([(10,)], "rk long"), "20260103000000")
    d1.upsert(spark.createDataFrame([(1, 30, "a2")],
                                    "gk long, region long, gname string"),
              "20260103000000")
    mv.refresh()
    assert _rows(mv.serve()) == expect()
    assert mv.refresh()["advanced"] is False


def test_agg_union_mor_branch_stepwise(spark, scratch):
    """agg_union with a MOR branch: log-resident delta updates and
    tombstones feed the branch delta through the inherited cdc, and a
    BOUNDED stepwise refresh (MOR branch first, then both) converges
    to the same state as one big advance."""
    from hudi_delete_view_spark.sources.mor import MorTable

    cow = CowTable(spark, os.path.join(scratch, "uc"), key_fields=["k"],
                   partition_field=None, num_file_groups=2)
    cow.bulk_insert(spark.range(10).selectExpr(
        "concat('k', id) as k", "cast(id % 3 as long) as g",
        "cast(id as double) as v"), "20260101000000")
    mor = MorTable(spark, os.path.join(scratch, "um"), key_fields=["k"],
                   partition_field=None, num_file_groups=2)
    mor.bulk_insert(spark.range(6).selectExpr(
        "concat('m', id) as k", "cast(id % 3 as long) as g",
        "cast(id * 2 as double) as v"), "20260101000000")

    def plan(t):
        return (t["cw"].select("g", "v").unionByName(t["mr"].select("g", "v"))
                .groupBy("g")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"),
                     F.min("v").alias("mn")))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvum"),
                              {"cw": cow, "mr": mor}, plan)
    assert mv.spec()["kind"] == "agg_union"
    mv.refresh(seed_as_of={"cw": "20260101000000", "mr": "20260101000000"},
               to={"cw": "20260101000000", "mr": "20260101000000"})
    mor.upsert_delta(spark.createDataFrame([("m1", 1, 99.0)],
                                           "k string, g long, v double"),
                     "20260102000000")
    mor.delete_delta(spark.createDataFrame([("m2",)], "k string"),
                     "20260103000000")
    cow.delete(spark.createDataFrame([("k3",)], "k string"), "20260103000000")
    mv.refresh(to={"cw": "20260101000000", "mr": "20260102000000"})
    mv.refresh()
    want = _rows(plan({"cw": cow.snapshot(), "mr": mor.snapshot()}))
    assert _rows(mv.serve()) == want
    assert mv.refresh()["advanced"] is False


@pytest.fixture(scope="session")
def _tree_tables_seed(spark, tmp_path_factory):
    """Q5 rollup chain seed, built once (see _tables_seed)."""
    root = str(tmp_path_factory.mktemp("ivm_tree_seed"))
    li = CowTable(spark, os.path.join(root, "t_li"), key_fields=["k"],
                  partition_field=None, num_file_groups=2)
    li.bulk_insert(spark.range(20).selectExpr(
        "concat('l', id) as k", "cast(id % 6 as long) as ok",
        "cast(id as double) as qty"), "20260101000000")
    o = CowTable(spark, os.path.join(root, "t_o"), key_fields=["okey"],
                 partition_field=None, num_file_groups=2)
    o.bulk_insert(spark.range(6).selectExpr(
        "cast(id as long) as okey", "cast(id % 3 as long) as ck"),
        "20260101000000")
    c = CowTable(spark, os.path.join(root, "t_c"), key_fields=["ckey"],
                 partition_field=None, num_file_groups=1)
    c.bulk_insert(spark.createDataFrame(
        [(0, "EU"), (1, "US"), (2, "APAC")], "ckey long, region string"),
        "20260101000000")
    return root


@pytest.fixture()
def tree_tables(spark, scratch, _tree_tables_seed):
    """fact(li) → mid dim(o) → top dim(c): the Q5 rollup chain — a
    private filesystem copy of the session seed."""
    import shutil

    for name in ("t_li", "t_o", "t_c"):
        shutil.copytree(os.path.join(_tree_tables_seed, name),
                        os.path.join(scratch, name))
    li = CowTable(spark, os.path.join(scratch, "t_li"), key_fields=["k"],
                  partition_field=None, num_file_groups=2)
    o = CowTable(spark, os.path.join(scratch, "t_o"), key_fields=["okey"],
                 partition_field=None, num_file_groups=2)
    c = CowTable(spark, os.path.join(scratch, "t_c"), key_fields=["ckey"],
                 partition_field=None, num_file_groups=1)
    return {"li": li, "o": o, "c": c}


def _join_types(node):
    """Join types of a classified join tree, root first (pre-order)."""
    if "src" in node:
        return []
    return [node["jt"]] + _join_types(node["left"]) + _join_types(node["right"])


def test_agg_tree_q5_rollup(spark, scratch, tree_tables):
    """Aggregate over a MULTI-JOIN tree in ONE declaration — the TPC-H
    Q5 shape (lineitem ⋈ orders ⋈ customer GROUP BY region): changes
    at every level converge, including a mid-dim join-column move that
    shifts rows between regions, and count_distinct/min exercise the
    aux + dirty-rebuild paths over the tree."""
    srcs = tree_tables
    li, o, c = srcs["li"], srcs["o"], srcs["c"]

    def plan(t):
        return (t["li"].select("ok", "qty")
                .join(t["o"].select("okey", "ck"), F.col("ok") == F.col("okey"))
                .join(t["c"].select("ckey", "region"),
                      F.col("ck") == F.col("ckey"))
                .groupBy("region")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("qty").alias("sq"),
                     F.min("qty").alias("mn"),
                     F.count_distinct("ok").alias("nd")))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvq5"),
                              srcs, plan)
    spec = mv.spec()
    assert spec["kind"] == "agg_tree"
    assert spec["sources"] == ["li", "o", "c"]
    assert spec["group_src"] == "c"  # group key lives on one INNER leaf
    mv.refresh()

    def check():
        assert _rows_ns(mv.serve()) == _rows_ns(
            plan({n: t.snapshot() for n, t in srcs.items()}))

    check()
    li.delete(spark.createDataFrame([("l1",), ("l7",)], "k string"),
              "20260102000000")
    mv.refresh(); check()
    # mid dim moves an order between customers -> between regions
    o.upsert(spark.createDataFrame([(0, 2)], "okey long, ck long"),
             "20260103000000")
    mv.refresh(); check()
    c.upsert(spark.createDataFrame([(1, "USA")], "ckey long, region string"),
             "20260104000000")
    c.delete(spark.createDataFrame([(2,)], "ckey long"), "20260105000000")
    mv.refresh(); check()
    # all three levels in one window
    li.upsert(spark.createDataFrame([("l2", 5, 200.0)],
                                    "k string, ok long, qty double"),
              "20260106000000")
    o.upsert(spark.createDataFrame([(5, 0)], "okey long, ck long"),
             "20260106000000")
    c.upsert(spark.createDataFrame([(0, "EMEA")], "ckey long, region string"),
             "20260106000000")
    mv.refresh(); check()
    assert mv.refresh()["advanced"] is False


def test_agg_tree_left_outer_arm_null_group(spark, scratch, tree_tables):
    """LEFT OUTER arm inside a tree: the null-extension group is a
    first-class group — a top-dim delete moves rows INTO it (detected
    via the pooled-key preserved-side pass: a pure delete has empty
    after-images, so the flip set only exists at the target state), a
    re-insert moves them out, and a mid-dim move to a match-less key
    lands rows there; the group-leaf input restriction is disabled
    (restricting a null-extended leaf would flip unrelated rows)."""
    srcs = tree_tables
    li, o, c = srcs["li"], srcs["o"], srcs["c"]

    def plan(t):
        return (t["li"].select("ok", "qty")
                .join(t["o"].select("okey", "ck"), F.col("ok") == F.col("okey"))
                .join(t["c"].select("ckey", "region"),
                      F.col("ck") == F.col("ckey"), "left")
                .groupBy("region")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("qty").alias("sq"),
                     F.approx_count_distinct("ok").alias("ad")))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvq5l"),
                              srcs, plan)
    assert mv.spec()["group_src"] is None  # c is null-extended
    mv.refresh()

    def check():
        assert _rows_ns(mv.serve()) == _rows_ns(
            plan({n: t.snapshot() for n, t in srcs.items()}))

    c.delete(spark.createDataFrame([(0,)], "ckey long"), "20260102000000")
    mv.refresh(); check()
    c.upsert(spark.createDataFrame([(0, "EU2")], "ckey long, region string"),
             "20260103000000")
    mv.refresh(); check()
    o.upsert(spark.createDataFrame([(1, 9)], "okey long, ck long"),
             "20260104000000")
    mv.refresh(); check()
    li.delete(spark.createDataFrame([("l1",)], "k string"), "20260105000000")
    mv.refresh(); check()
    assert mv.refresh()["advanced"] is False


def test_expression_join_keys(spark, scratch, tree_tables):
    """ONE-SIDED expression join keys (ON g % 2 = rk — the SQL-inline
    form of date-trunc / bucketing joins) synthesize hidden projected
    columns on their side, so the replayed joins, probes, and jk
    frames all see plain columns; works for the two-source agg_join
    and for the deeper tree (through the SQL DDL dialect, where the
    join subtree's raw temp views carry colliding meta columns the
    synth must not predict)."""
    from hudi_delete_view_spark.sql import (
        create_materialized_view,
        refresh_materialized_view,
    )

    srcs = tree_tables
    li, o, c = srcs["li"], srcs["o"], srcs["c"]
    par = CowTable(spark, os.path.join(scratch, "expar"), key_fields=["rk"],
                   partition_field=None, num_file_groups=1)
    par.bulk_insert(spark.createDataFrame(
        [(0, "even"), (1, "odd")], "rk long, par string"), "20260101000000")

    def plan(t):
        return (t["li"].select("ok", "qty")
                .join(t["par"].select("rk", "par"),
                      (F.col("ok") % 2) == F.col("rk"))
                .groupBy("par")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("qty").alias("sq")))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvek"),
                              {"li": li, "par": par}, plan)
    assert mv.spec()["kind"] == "agg_tree"
    mv.refresh()
    li.delete(spark.createDataFrame([("l2",), ("l3",)], "k string"),
              "20260102000000")
    par.upsert(spark.createDataFrame([(0, "EVEN")], "rk long, par string"),
               "20260103000000")
    mv.refresh()
    assert _rows_ns(mv.serve()) == _rows_ns(
        plan({"li": li.snapshot(), "par": par.snapshot()}))
    # tree through SQL with an inline expression key on the mid dim
    name, tmv = create_materialized_view(
        spark, os.path.join(scratch, "mveksql"),
        {"li_t": li, "o_t": o, "p_t": par},
        """CREATE MATERIALIZED VIEW par_totals AS
           SELECT par, count(1) AS n, sum(qty) AS sq
           FROM li_t JOIN o_t ON ok = okey
                     JOIN p_t ON ck % 2 = rk
           GROUP BY par""",
    )
    assert tmv.spec()["kind"] == "agg_tree"
    refresh_materialized_view(name, tmv)
    o.upsert(spark.createDataFrame([(0, 1)], "okey long, ck long"),
             "20260104000000")
    par.upsert(spark.createDataFrame([(1, "ODD")], "rk long, par string"),
               "20260105000000")
    refresh_materialized_view(name, tmv)
    for n_, t_ in (("li_t", li), ("o_t", o), ("p_t", par)):
        t_.snapshot().createOrReplaceTempView(n_)
    want = _rows_ns(spark.sql(
        "SELECT par, count(1) AS n, sum(qty) AS sq FROM li_t "
        "JOIN o_t ON ok = okey JOIN p_t ON ck % 2 = rk GROUP BY par"))
    assert _rows_ns(spark.sql("SELECT * FROM par_totals")) == want
    # RAW sides (no per-side SELECT): the synth must apply at replay
    # time — a static all-columns projection would list snapshot meta
    # columns the CDC delta feed does not carry
    rname, rmv = create_materialized_view(
        spark, os.path.join(scratch, "mvekraw"),
        {"li_r": li, "p_r": par},
        """CREATE MATERIALIZED VIEW raw_par AS
           SELECT par, count(1) AS n, sum(qty) AS sq
           FROM li_r JOIN p_r ON ok % 2 = rk
           GROUP BY par""",
    )
    refresh_materialized_view(rname, rmv)
    li.delete(spark.createDataFrame([("l4",)], "k string"), "20260106000000")
    par.upsert(spark.createDataFrame([(0, "E3")], "rk long, par string"),
               "20260107000000")
    refresh_materialized_view(rname, rmv)
    li.snapshot().createOrReplaceTempView("li_r")
    par.snapshot().createOrReplaceTempView("p_r")
    want = _rows_ns(spark.sql(
        "SELECT par, count(1) AS n, sum(qty) AS sq FROM li_r "
        "JOIN p_r ON ok % 2 = rk GROUP BY par"))
    assert _rows_ns(spark.sql("SELECT * FROM raw_par")) == want


def test_agg_tree_inner_takes_delta_path(spark, scratch, tree_tables):
    """All-INNER trees advance by the one signed delta
    (``_tree_signed_delta``: the bilinear join rule at every node),
    change-sized: for a retraction-capable aggregate set (sum/count,
    HLL via aux) the full-feed re-derivation hook is a raiser, and the
    view still converges through changes at every level.  The two-leaf
    view (one inner join) rides the same path as the three-leaf tree.
    Spark jobs per refresh are pinned at the counts measured on this
    fixture with 4 local cores."""
    srcs = tree_tables
    li, o, c = srcs["li"], srcs["o"], srcs["c"]

    def plan(t):
        return (t["li"].select("ok", "qty")
                .join(t["o"].select("okey", "ck"), F.col("ok") == F.col("okey"))
                .join(t["c"].select("ckey", "region"),
                      F.col("ck") == F.col("ckey"))
                .groupBy("region")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("qty").alias("sq"),
                     F.approx_count_distinct("ok").alias("ad")))

    def plan2(t):
        return (t["li"].select("ok", "qty")
                .join(t["o"].select("okey", "ck"), F.col("ok") == F.col("okey"))
                .groupBy("ck")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("qty").alias("sq"),
                     F.approx_count_distinct("ok").alias("ad")))

    views = [
        AutoMaterializedView(spark, os.path.join(scratch, "mvdp"),
                             srcs, plan),
        AutoMaterializedView(spark, os.path.join(scratch, "mvdp2"),
                             {"li": li, "o": o}, plan2),
    ]
    assert _join_types(views[0].spec()["tree"]) == ["inner", "inner"]
    assert _join_types(views[1].spec()["tree"]) == ["inner"]
    for mv in views:
        mv.refresh()

    orig_merge = AutoMaterializedView._merge_agg_delta

    def no_full_feed(self, spec, feed, latest, full_feed_fn):
        def boom(_dirty):
            raise AssertionError("retraction-capable tree re-derived "
                                 "from the full feed")
        return orig_merge(self, spec, feed, latest, boom)

    AutoMaterializedView._merge_agg_delta = no_full_feed
    jobs = []
    try:
        li.delete(spark.createDataFrame([("l1",), ("l7",)], "k string"),
                  "20260102000000")
        o.upsert(spark.createDataFrame([(0, 2)], "okey long, ck long"),
                 "20260103000000")
        c.upsert(spark.createDataFrame([(1, "USA")],
                                       "ckey long, region string"),
                 "20260104000000")
        for i, mv in enumerate(views):
            jobs.append(len(_jobs_for(spark, f"inner-tree-jobs-{i}",
                                      mv.refresh)))
            assert _rows_ns(mv.serve()) == _rows_ns(mv.plan_fn(
                {n: t.snapshot() for n, t in mv.sources.items()}))
    finally:
        AutoMaterializedView._merge_agg_delta = orig_merge
    budget = [71, 54]
    assert all(j <= b for j, b in zip(jobs, budget)), (jobs, budget)
    for mv in views:
        assert mv.refresh()["advanced"] is False


def test_aggregate_over_aggregate_autostaged(spark, scratch):
    """Aggregate OVER an aggregate in ONE declaration (per-order totals
    → per-customer rollups): the inner aggregate auto-stages as a
    hidden child view on a real lake table, whose CDC feed (old group
    rows retracted, new asserted) is exactly the outer's signed delta;
    the outer's chain starts with the child's serve projection so
    NULL-sum / avg-ratio semantics survive the hop.  Covers bounded
    stepwise refresh, reseed through the stage, and the SQL subquery
    form."""
    li = CowTable(spark, os.path.join(scratch, "aa_li"), key_fields=["k"],
                  partition_field=None, num_file_groups=2)
    li.bulk_insert(spark.range(30).selectExpr(
        "concat('l', id) as k", "cast(id % 10 as long) as order_id",
        "cast(id % 4 as long) as cust", "cast(id as double) as v",
        "case when id % 9 = 0 then cast(null as double) "
        "else cast(id * 2 as double) end as nv"), "20260101000000")

    def plan(t):
        per_order = (t["li"].filter("v >= 0")
                     .groupBy("order_id", "cust")
                     .agg(F.sum("nv").alias("order_total"),
                          F.count(F.lit(1)).alias("n_items"),
                          F.avg("v").alias("avg_v")))
        return (per_order.groupBy("cust")
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.sum("order_total").alias("cust_total"),
                     F.min("avg_v").alias("min_avg")))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "aa_mv"),
                              {"li": li}, plan)
    spec = mv.spec()
    assert spec["kind"] == "aggregate" and spec.get("staged") is True
    mv.refresh(seed_as_of={"li": "20260101000000"},
               to={"li": "20260101000000"})

    def check():
        assert _rows_ns(mv.serve()) == _rows_ns(plan({"li": li.snapshot()}))

    check()
    li.delete(spark.createDataFrame([(f"l{i}",) for i in (0, 10, 20)],
                                    "k string"), "20260102000000")
    li.upsert(spark.createDataFrame([("l5", 5, 1, 999.0, 7.0)],
                                    "k string, order_id long, cust long, "
                                    "v double, nv double"), "20260103000000")
    # bounded stepwise: one source commit at a time through BOTH hops
    mv.refresh(to={"li": "20260102000000"})
    mv.refresh()
    check()
    assert mv.refresh()["advanced"] is False
    # rollback past the anchor surfaces through the STAGE as the same
    # explicit reseed contract, and reseed rebuilds both hops
    from hudi_delete_view_spark.plans.ivm import ViewHistoryLostError
    li.restore("20260102000000")
    li.upsert(spark.createDataFrame([("l7", 7, 3, 70.0, 1.0)],
                                    "k string, order_id long, cust long, "
                                    "v double, nv double"), "20260105000000")
    with pytest.raises(ViewHistoryLostError):
        mv.refresh()
    mv.reseed()
    check()
    # variance-family and sketch inner outputs stage too: their serve
    # projections are the same expression trees serve() builds, so the
    # stage CDC's preimage rows reproduce previously-asserted values
    # exactly and retraction cancels
    def vplan(t):
        po = (t["li"].groupBy("order_id")
              .agg(F.stddev("v").alias("sd"),
                   F.approx_count_distinct("cust").alias("ad")))
        return po.groupBy().agg(F.sum("sd").alias("ssd"),
                                F.sum("ad").alias("sad"))

    vmv = AutoMaterializedView(spark, os.path.join(scratch, "aa_vmv"),
                               {"li": li}, vplan)
    assert vmv.spec().get("staged") is True
    vmv.refresh()
    li.delete(spark.createDataFrame([("l6",)], "k string"), "20260106000000")
    vmv.refresh()
    assert _rows_ns(vmv.serve()) == _rows_ns(vplan({"li": li.snapshot()}))


def test_aggregate_over_distinct(spark, scratch, tables):
    """Aggregate over SELECT DISTINCT (count distinct combinations per
    group): the distinct stages as the degenerate inner aggregate — a
    combination's LAST source row leaving retracts it from the outer
    count through the stage's CDC feed."""
    fact, _ = tables

    def plan(t):
        return (t["fact"].select("g", (F.col("v") % 3).alias("h"))
                .distinct()
                .groupBy("g").agg(F.count(F.lit(1)).alias("n_combos")))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvad"),
                              {"fact": fact}, plan)
    assert mv.spec().get("staged") is True
    mv.refresh()
    fact.delete(spark.createDataFrame([("k4",), ("k8",)], "k string"),
                "20260108000000")
    mv.refresh()
    assert _rows_ns(mv.serve()) == _rows_ns(
        plan({"fact": fact.snapshot()}))
    assert mv.refresh()["advanced"] is False


def test_aggregate_over_agg_join_autostaged(spark, scratch, tree_tables):
    """Aggregate over an aggregate-over-JOIN (revenue per customer
    across lineitem ⋈ orders → distribution by revenue bucket): every
    aggregate kind replays from its spec, so the hidden child can BE an
    agg_join view — its delta-join advance feeds the outer through the
    same CDC contract.  The same holds for union and tree inners."""
    srcs = {"li": tree_tables["li"], "o": tree_tables["o"]}
    li, o = srcs["li"], srcs["o"]

    def plan(t):
        per_cust = (t["li"].select("ok", "qty")
                    .join(t["o"].select("okey", "ck"),
                          F.col("ok") == F.col("okey"))
                    .groupBy("ck")
                    .agg(F.sum("qty").alias("rev"),
                         F.count(F.lit(1)).alias("n")))
        return (per_cust.groupBy((F.col("rev") % 7).alias("b"))
                .agg(F.count(F.lit(1)).alias("nc"), F.sum("n").alias("tn")))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "aaj_mv"),
                              srcs, plan)
    assert mv.spec().get("staged") is True
    mv.refresh()

    def check():
        assert _rows_ns(mv.serve()) == _rows_ns(
            plan({n: t.snapshot() for n, t in srcs.items()}))

    check()
    li.delete(spark.createDataFrame([("l1",), ("l7",)], "k string"),
              "20260102000000")
    o.upsert(spark.createDataFrame([(0, 2)], "okey long, ck long"),
             "20260103000000")
    mv.refresh(); check()
    assert mv.refresh()["advanced"] is False


def test_global_aggregates(spark, scratch, tables):
    """GLOBAL aggregates (groupBy() grand totals) maintain through a
    hidden constant group key — the merge/dead/recount machinery gets
    a join key and the stored table a record key, serve() strips it —
    across the plain, join, and union algebras."""
    fact, dim = tables

    def g_agg(t):
        return t["fact"].groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"),
            F.min("v").alias("mn"), F.count_distinct("nv").alias("nd"))

    def g_join(t):
        return (t["fact"].select("g", "v")
                .join(t["dim"].select("gk", "gname"),
                      F.col("g") == F.col("gk"))
                .groupBy().agg(F.sum("v").alias("sv"),
                               F.count(F.lit(1)).alias("n")))

    def g_union(t):
        return (t["fact"].select("v")
                .unionByName(t["fact"].filter("g = 1").select("v"))
                .groupBy().agg(F.sum("v").alias("sv")))

    cases = {"agg": g_agg, "join": g_join, "union": g_union}
    mvs = {n: AutoMaterializedView(spark, os.path.join(scratch, f"gl_{n}"),
                                   {"fact": fact, "dim": dim}, f)
           for n, f in cases.items()}
    for mv in mvs.values():
        mv.refresh()
    fact.delete(spark.createDataFrame([("k6",)], "k string"),
                "20260108000000")
    dim.upsert(spark.createDataFrame([(1, "Y")], "gk long, gname string"),
               "20260108000000")
    for n, mv in mvs.items():
        mv.refresh()
        assert mv.serve().columns[0] != "__mv_all"  # hidden key stripped
        assert _rows_ns(mv.serve()) == _rows_ns(
            cases[n]({"fact": fact.snapshot(), "dim": dim.snapshot()}))
        assert mv.refresh()["advanced"] is False


def test_distinct_over_aggregate(spark, scratch, tables):
    """DISTINCT over a GROUP BY (the distinct VALUES a rollup column
    takes): the aggregate stages as the hidden child, the distinct is
    the degenerate outer — a value leaves when its last group's rollup
    moves off it."""
    fact, _ = tables

    def plan(t):
        agg = t["fact"].groupBy("g").agg(
            F.count(F.lit(1)).alias("n"))
        return agg.select("n").distinct()

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvda"),
                              {"fact": fact}, plan)
    assert mv.spec().get("staged") is True and mv.spec()["aggs"] == []
    mv.refresh()
    fact.delete(spark.createDataFrame([("k2",)], "k string"),
                "20260108000000")
    mv.refresh()
    assert _rows_ns(mv.serve()) == _rows_ns(plan({"fact": fact.snapshot()}))
    assert mv.refresh()["advanced"] is False


def test_three_level_rollup_stages_recursively(spark, scratch):
    """Stacked rollups recurse: order totals → per-customer totals →
    per-segment totals chains .stage0.stage0 tables, each advancing
    off the one below's CDC feed, all driven by one refresh."""
    li = CowTable(spark, os.path.join(scratch, "r3_li"), key_fields=["k"],
                  partition_field=None, num_file_groups=2)
    li.bulk_insert(spark.range(40).selectExpr(
        "concat('l', id) as k", "cast(id % 12 as long) as oid",
        "cast(id % 6 as long) as cust", "cast(id % 3 as long) as seg",
        "cast(id as double) as v"), "20260101000000")

    def plan(t):
        per_order = (t["li"].groupBy("oid", "cust", "seg")
                     .agg(F.sum("v").alias("ot")))
        per_cust = (per_order.groupBy("cust", "seg")
                    .agg(F.sum("ot").alias("ct"),
                         F.count(F.lit(1)).alias("no")))
        return (per_cust.groupBy("seg")
                .agg(F.sum("ct").alias("st"),
                     F.count(F.lit(1)).alias("nc"),
                     F.min("no").alias("mn")))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "r3_mv"),
                              {"li": li}, plan)
    assert mv.spec().get("staged") is True
    mv.refresh()

    def check():
        assert _rows_ns(mv.serve()) == _rows_ns(plan({"li": li.snapshot()}))

    check()
    li.delete(spark.createDataFrame([("l1",), ("l13",), ("l25",), ("l37",)],
                                    "k string"), "20260102000000")
    mv.refresh(); check()
    li.upsert(spark.createDataFrame(
        [("l2", 2, 2, 2, 500.0)],
        "k string, oid long, cust long, seg long, v double"),
        "20260103000000")
    mv.refresh(); check()
    assert mv.refresh()["advanced"] is False


def test_drop_removes_staged_children(spark, scratch):
    """drop() walks the hidden stage chain: a stacked rollup leaves NO
    .stage0 / .stage0.stage0 dirs or refresh locks behind — the full
    cleanup DROP MATERIALIZED VIEW documents."""
    li = CowTable(spark, os.path.join(scratch, "dr_li"), key_fields=["k"],
                  partition_field=None, num_file_groups=1)
    li.bulk_insert(spark.range(12).selectExpr(
        "concat('l', id) as k", "cast(id % 4 as long) as oid",
        "cast(id % 2 as long) as seg", "cast(id as double) as v"),
        "20260101000000")

    def plan(t):
        per_order = t["li"].groupBy("oid", "seg").agg(F.sum("v").alias("ot"))
        per_seg = per_order.groupBy("seg").agg(F.sum("ot").alias("st"),
                                               F.count(F.lit(1)).alias("no"))
        return per_seg.groupBy().agg(F.sum("st").alias("grand"),
                                     F.count(F.lit(1)).alias("nseg"))

    base = os.path.join(scratch, "dr_mv")
    mv = AutoMaterializedView(spark, base, {"li": li}, plan)
    mv.refresh()
    assert os.path.isdir(base + ".stage0")  # the hidden child exists
    mv.drop()
    leftovers = [n for n in os.listdir(scratch)
                 if n.startswith("dr_mv")]
    assert leftovers == []


def test_aggregate_over_aggregate_sql(spark, scratch, tables):
    """The SQL subquery form: GROUP BY over a GROUP BY subquery
    classifies and maintains through the DDL dialect."""
    from hudi_delete_view_spark.sql import (
        create_materialized_view,
        refresh_materialized_view,
    )

    fact, _ = tables
    name, mv = create_materialized_view(
        spark, os.path.join(scratch, "aa_sql"),
        {"f_tbl": fact},
        """CREATE MATERIALIZED VIEW per_g AS
           SELECT n_rows, count(1) AS n_groups, sum(sv) AS total
           FROM (
             SELECT g, count(1) AS n_rows, sum(v) AS sv
             FROM f_tbl GROUP BY g
           ) GROUP BY n_rows""",
    )
    assert mv.spec().get("staged") is True
    refresh_materialized_view(name, mv)
    fact.delete(spark.createDataFrame([("k15",), ("k3",)], "k string"),
                "20260107000000")
    refresh_materialized_view(name, mv)
    fact.snapshot().createOrReplaceTempView("f_tbl")
    want = _rows_ns(spark.sql(
        "SELECT n_rows, count(1) AS n_groups, sum(sv) AS total FROM ("
        "SELECT g, count(1) AS n_rows, sum(v) AS sv FROM f_tbl GROUP BY g"
        ") GROUP BY n_rows"))
    assert _rows_ns(spark.sql("SELECT * FROM per_g")) == want


def test_window_over_join_tree(spark, scratch, tree_tables):
    """Window views over a JOIN (top-k per region after a dim chain):
    touched partitions come from image-replay detection through the
    tree — a dim update that MOVES a join key re-ranks both the left
    and the entered partition — and re-derivation re-runs the user's
    plan with the partition source's snapshot restricted to the
    touched tuples.  The LEFT-join variant partitions by a
    NULL-EXTENDED source: input restriction is disabled (restrict_ok
    False) and the output post-trim keeps the full-input fallback
    exact, including flips into and out of the NULL partition."""
    from pyspark.sql import Window as W

    srcs = tree_tables
    li, o, c = srcs["li"], srcs["o"], srcs["c"]

    def plan(t):
        f = t["li"].selectExpr("_hoodie_record_key as vk", "ok", "qty")
        j = (f.join(t["o"].select("okey", "ck"), F.col("ok") == F.col("okey"))
             .join(t["c"].select("ckey", "region"),
                   F.col("ck") == F.col("ckey")))
        w = W.partitionBy("region").orderBy(F.desc("qty"), F.asc("vk"))
        return (j.withColumn("rn", F.row_number().over(w)).filter("rn <= 3")
                .select("vk", "ok", "qty", "region", "rn"))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvwt"),
                              srcs, plan)
    spec = mv.spec()
    assert spec["kind"] == "window_tree"
    assert spec["part_src"] == "c" and spec["restrict_ok"] is True
    mv.refresh()

    def check():
        assert _rows_ns(mv.serve()) == _rows_ns(
            plan({n: t.snapshot() for n, t in srcs.items()}))

    check()
    li.delete(spark.createDataFrame([("l19",), ("l18",)], "k string"),
              "20260102000000")
    mv.refresh(); check()
    # mid dim moves an order between customers -> between regions
    o.upsert(spark.createDataFrame([(0, 2)], "okey long, ck long"),
             "20260103000000")
    mv.refresh(); check()
    c.delete(spark.createDataFrame([(1,)], "ckey long"), "20260104000000")
    li.upsert(spark.createDataFrame([("z1", 2, 999.0)],
                                    "k string, ok long, qty double"),
              "20260105000000")
    mv.refresh(); check()
    assert mv.refresh()["advanced"] is False

    # LEFT variant: partition by the null-extended dim's column
    def lplan(t):
        f = t["li"].selectExpr("_hoodie_record_key as vk", "ok", "qty")
        j = (f.join(t["o"].select("okey", "ck"), F.col("ok") == F.col("okey"))
             .join(t["c"].select("ckey", "region"),
                   F.col("ck") == F.col("ckey"), "left"))
        w = W.partitionBy("region").orderBy(F.desc("qty"), F.asc("vk"))
        return (j.withColumn("rn", F.row_number().over(w)).filter("rn <= 3")
                .select("vk", "qty", "region", "rn"))

    lmv = AutoMaterializedView(spark, os.path.join(scratch, "mvwtl"),
                               srcs, lplan)
    assert lmv.spec()["restrict_ok"] is False
    lmv.refresh()
    c.delete(spark.createDataFrame([(0,)], "ckey long"), "20260106000000")
    lmv.refresh()
    assert _rows_ns(lmv.serve()) == _rows_ns(
        lplan({n: t.snapshot() for n, t in srcs.items()}))
    c.upsert(spark.createDataFrame([(0, "BACK")], "ckey long, region string"),
             "20260107000000")
    lmv.refresh()
    assert _rows_ns(lmv.serve()) == _rows_ns(
        lplan({n: t.snapshot() for n, t in srcs.items()}))


def test_new_kinds_compose_with_mor_and_sql(spark, scratch):
    """Cross-feature pins for the late wave: (1) window_tree over a MOR
    dim — log-resident dim moves and tombstones re-rank through the
    inherited cdc; (2) agg_stage over a MOR source; (3) window_tree
    declared through the SQL dialect (SubqueryAlias wrappers and
    qualifier stripping through the tree builder)."""
    from pyspark.sql import Window as W
    from hudi_delete_view_spark.sources.mor import MorTable
    from hudi_delete_view_spark.sql import (
        create_materialized_view,
        refresh_materialized_view,
    )

    li = CowTable(spark, os.path.join(scratch, "x_li"), key_fields=["k"],
                  partition_field=None, num_file_groups=2)
    li.bulk_insert(spark.range(24).selectExpr(
        "concat('l', id) as k", "cast(id % 6 as long) as g",
        "cast(id as double) as v"), "20260101000000")
    d = MorTable(spark, os.path.join(scratch, "x_d"), key_fields=["gk"],
                 partition_field=None, num_file_groups=1)
    d.bulk_insert(spark.createDataFrame(
        [(0, "EU"), (1, "US"), (2, "EU"), (3, "US"), (4, "APAC"),
         (5, "APAC")], "gk long, region string"), "20260101000000")

    def plan(t):
        f = t["li"].selectExpr("_hoodie_record_key as vk", "g", "v")
        j = f.join(t["d"].select("gk", "region"), F.col("g") == F.col("gk"))
        w = W.partitionBy("region").orderBy(F.desc("v"), F.asc("vk"))
        return (j.withColumn("rn", F.row_number().over(w)).filter("rn <= 3")
                .select("vk", "g", "v", "region", "rn"))

    srcs = {"li": li, "d": d}
    mv = AutoMaterializedView(spark, os.path.join(scratch, "x_mvw"),
                              srcs, plan)
    mv.refresh()
    d.upsert_delta(spark.createDataFrame([(0, "APAC")],
                                         "gk long, region string"),
                   "20260102000000")
    d.delete_delta(spark.createDataFrame([(4,)], "gk long"), "20260103000000")
    mv.refresh()
    assert _rows_ns(mv.serve()) == _rows_ns(
        plan({n: t.snapshot() for n, t in srcs.items()}))

    m = MorTable(spark, os.path.join(scratch, "x_m"), key_fields=["k"],
                 partition_field=None, num_file_groups=2)
    m.bulk_insert(spark.range(20).selectExpr(
        "concat('m', id) as k", "cast(id % 5 as long) as oid",
        "cast(id % 2 as long) as c", "cast(id as double) as v"),
        "20260101000000")

    def plan2(t):
        po = t["m"].groupBy("oid", "c").agg(F.sum("v").alias("ot"))
        return po.groupBy("c").agg(F.sum("ot").alias("ct"),
                                   F.count(F.lit(1)).alias("n"))

    mv2 = AutoMaterializedView(spark, os.path.join(scratch, "x_mv2"),
                               {"m": m}, plan2)
    mv2.refresh()
    m.upsert_delta(spark.createDataFrame(
        [("m1", 1, 1, 99.0)], "k string, oid long, c long, v double"),
        "20260102000000")
    m.delete_delta(spark.createDataFrame([("m2",)], "k string"),
                   "20260103000000")
    mv2.refresh()
    assert _rows_ns(mv2.serve()) == _rows_ns(plan2({"m": m.snapshot()}))

    name, wmv = create_materialized_view(
        spark, os.path.join(scratch, "x_mvsql"),
        {"f_tbl": li, "d_tbl": d},
        """CREATE MATERIALIZED VIEW topk2 AS
           SELECT * FROM (
             SELECT _hoodie_record_key AS vk, v, region,
                    row_number() OVER (PARTITION BY region
                                       ORDER BY v DESC, _hoodie_record_key) AS rn
             FROM (SELECT f_tbl._hoodie_record_key, v, g FROM f_tbl) f
             JOIN (SELECT gk, region FROM d_tbl) dd ON g = gk
           ) WHERE rn <= 2""",
    )
    assert wmv.spec()["kind"] == "window_tree"
    refresh_materialized_view(name, wmv)
    li.delete(spark.createDataFrame([("l23",)], "k string"), "20260104000000")
    refresh_materialized_view(name, wmv)
    li.snapshot().createOrReplaceTempView("f_tbl")
    d.snapshot().createOrReplaceTempView("d_tbl")
    want = _rows_ns(spark.sql(
        "SELECT * FROM (SELECT _hoodie_record_key AS vk, v, region, "
        "row_number() OVER (PARTITION BY region ORDER BY v DESC, "
        "_hoodie_record_key) AS rn "
        "FROM (SELECT f_tbl._hoodie_record_key, v, g FROM f_tbl) f "
        "JOIN (SELECT gk, region FROM d_tbl) dd ON g = gk) WHERE rn <= 2"))
    assert _rows_ns(spark.sql("SELECT * FROM topk2")) == want


def test_agg_tree_refusals(spark, tree_tables):
    """Former tree refusals, tracked as they lift: FULL OUTER inside an
    aggregate tree classified as a refusal through round 6; the late
    round-7 signed identity (test_agg_tree_full_outer_arm) supports it,
    so the shape must now CLASSIFY as an agg_tree with a FULL root join
    and no single group source (both sides null-extend). A source appearing
    TWICE lifted in round 6 (F15): duplicate leaves classify under
    occurrence-unique pseudo names."""
    srcs = tree_tables
    snaps = {n: t.snapshot() for n, t in srcs.items()}
    full = (snaps["li"].select("ok", "qty")
            .join(snaps["o"].select("okey", "ck"), F.col("ok") == F.col("okey"))
            .join(snaps["c"].select("ckey", "region"),
                  F.col("ck") == F.col("ckey"), "full")
            .groupBy("region").agg(F.sum("qty").alias("sq")))
    spec_full = classify_view(full, snaps)
    assert spec_full["kind"] == "agg_tree"
    assert _join_types(spec_full["tree"]) == ["full", "inner"]
    assert spec_full["group_src"] is None  # both sides null-extend
    twice = (snaps["li"].select("ok", "qty")
             .join(snaps["o"].select("okey", "ck"),
                   F.col("ok") == F.col("okey"))
             .join(snaps["li"].select(F.col("k").alias("k2"),
                                      F.col("ok").alias("ok2")),
                   F.col("ck") == F.col("ok2"))
             .groupBy("ck").agg(F.sum("qty").alias("sq")))
    spec = classify_view(twice, snaps)
    assert spec["kind"] == "agg_tree"
    assert sorted(spec["sources"]) == ["li", "li__occ2", "o"]


def test_agg_tree_cross_feature(spark, scratch, tree_tables):
    """agg_tree composes with the table services: (1) PARTITION
    EVOLUTION inside the advance window (the cdc boundary falls back to
    full boundary snapshots and key-only joins — the fid-pruned diff
    would pair nothing across the rewrite); (2) a source ROLLBACK past
    the anchor raises ViewHistoryLostError and reseed() recovers;
    (3) SCHEMA EVOLUTION mid-window (new column) flows through the
    image replays via mergeSchema alignment."""
    srcs = tree_tables
    li = srcs["li"]

    def plan(t):
        return (t["li"].select("ok", "qty")
                .join(t["o"].select("okey", "ck"), F.col("ok") == F.col("okey"))
                .join(t["c"].select("ckey", "region"),
                      F.col("ck") == F.col("ckey"))
                .groupBy("region")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("qty").alias("sq")))

    def check(mv):
        assert _rows_ns(mv.serve()) == _rows_ns(
            plan({n: t.snapshot() for n, t in srcs.items()}))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvxf"),
                              srcs, plan)
    mv.refresh()
    # (1) evolution + a delete in ONE window
    li.evolve_partitioning("20260102000000", "ok", num_file_groups=4)
    li.delete(spark.createDataFrame([("l3", 3)], "k string, ok long"),
              "20260103000000")
    mv.refresh(); check(mv)
    # (3) schema evolution mid-window
    li.upsert(spark.createDataFrame(
        [("z1", 1, 50.0, "x")],
        "k string, ok long, qty double, extra string"), "20260104000000")
    mv.refresh(); check(mv)
    # (2) rollback past the anchor -> explicit reseed contract
    li.restore("20260103000000")
    li.upsert(spark.createDataFrame([("l2", 5, 222.0)],
                                    "k string, ok long, qty double"),
              "20260106000000")
    from hudi_delete_view_spark.plans.ivm import ViewHistoryLostError
    with pytest.raises(ViewHistoryLostError):
        mv.refresh()
    mv.reseed()
    check(mv)


def test_self_join_via_aliased_sources(spark, scratch):
    """The refusal recipe works: registering TWO CowTable handles to
    the SAME path as separate sources gives each branch its own
    expression-ID lineage, so a parent/child self-join classifies and
    maintains — one physical change advances both roles' anchors."""
    path = os.path.join(scratch, "selfj")
    t1 = CowTable(spark, path, key_fields=["k"], partition_field=None,
                  num_file_groups=2)
    t1.bulk_insert(spark.createDataFrame(
        [("a", 1, 0), ("b", 2, 1), ("c", 3, 1)],
        "k string, v long, parent long"), "20260101000000")
    t2 = CowTable(spark, path, key_fields=["k"], partition_field=None,
                  num_file_groups=2)

    def plan(t):
        child = t["c1"].selectExpr("_hoodie_record_key as vk", "k", "v",
                                   "parent")
        par = t["c2"].selectExpr("v as pv", "k as pk")
        return child.join(par, F.col("parent") == F.col("pv"))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvself"),
                              {"c1": t1, "c2": t2}, plan)
    assert mv.spec()["kind"] == "join"
    mv.refresh()

    def check():
        assert _rows(mv.serve()) == _rows(
            plan({"c1": t1.snapshot(), "c2": t2.snapshot()}))

    check()
    # one physical change plays BOTH roles: 'b' gains a child ('d') and
    # 'a' (a parent) changes its v so 'b','c' lose their parent match
    t1.upsert(spark.createDataFrame([("d", 4, 2), ("a", 9, 0)],
                                    "k string, v long, parent long"),
              "20260102000000")
    mv.refresh()
    check()
    t1.delete(spark.createDataFrame([("d",)], "k string"), "20260103000000")
    mv.refresh()
    check()
    assert mv.refresh()["advanced"] is False


def test_join_view_dim_join_column_mutation(spark, scratch):
    """Regression: a dim UPDATE that changes its JOIN-COLUMN value (the
    join column is NOT the dim's record key) must re-derive the rows
    that joined the OLD value, not just the new one — after-images
    alone left them serving stale joined columns.  The probe feed now
    includes update preimages."""
    fact = CowTable(spark, os.path.join(scratch, "jmf"), key_fields=["k"],
                    partition_field=None, num_file_groups=2)
    fact.bulk_insert(spark.createDataFrame(
        [("k1", 1, 10.0), ("k2", 2, 20.0), ("k3", 1, 30.0)],
        "k string, g long, v double"), "20260101000000")
    dim = CowTable(spark, os.path.join(scratch, "jmd"), key_fields=["dk"],
                   partition_field=None, num_file_groups=1)
    dim.bulk_insert(spark.createDataFrame(
        [(100, 1, "one"), (200, 2, "two")],
        "dk long, gk long, gname string"), "20260101000000")

    def plan(t):
        f = t["fact"].selectExpr("_hoodie_record_key as vk", "g", "v")
        return (f.join(t["dim"].select("gk", "gname"),
                       F.col("g") == F.col("gk"))
                .select("vk", "g", "v", "gname"))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvjm"),
                              {"fact": fact, "dim": dim}, plan)
    mv.refresh()
    # dk=100 moves gk 1 -> 3: k1/k3 lose their match and must DROP
    dim.upsert(spark.createDataFrame([(100, 3, "three")],
                                     "dk long, gk long, gname string"),
               "20260102000000")
    mv.refresh()
    want = _rows(plan({"fact": fact.snapshot(), "dim": dim.snapshot()}))
    assert _rows(mv.serve()) == want
    # and back: k4 at g=3 gains it, dk=200 moves onto g=1
    fact.upsert(spark.createDataFrame([("k4", 3, 40.0)],
                                      "k string, g long, v double"),
                "20260103000000")
    dim.upsert(spark.createDataFrame([(200, 1, "one-again")],
                                     "dk long, gk long, gname string"),
               "20260103000000")
    mv.refresh()
    assert _rows(mv.serve()) == _rows(
        plan({"fact": fact.snapshot(), "dim": dim.snapshot()}))


def test_agg_tree_left_arm_signed_identity_change_sized(spark, scratch,
                                                        tree_tables):
    """LEFT-arm trees advance by the recursive SIGNED identity
    (Δ(L⟕R) = ΔL⟕R_t ⊎ L_a⋈ΔR ⊎ L_a⋉flip(R)×null), not by
    member-sized dirty-group re-derivation: with sum/count-only
    aggregates, BOTH the full-feed re-derivation hook and the
    image-replay detector are raisers, and the view still converges
    through every null-extension transition — a top-dim delete moving
    rows INTO the null group (presence-flip +1), a re-insert moving
    them out (flip −1), a mid-dim move, a fact delete, a same-key dim
    UPDATE that must NOT flip anything, and an advance that changes
    both sides of the LEFT node at once (ΔL and ΔR together). Spark
    jobs per refresh are pinned at the counts measured on this fixture
    with 4 local cores."""
    srcs = tree_tables
    li, o, c = srcs["li"], srcs["o"], srcs["c"]

    def plan(t):
        return (t["li"].select("ok", "qty")
                .join(t["o"].select("okey", "ck"), F.col("ok") == F.col("okey"))
                .join(t["c"].select("ckey", "region"),
                      F.col("ck") == F.col("ckey"), "left")
                .groupBy("region")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("qty").alias("sq")))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvq5sg"),
                              srcs, plan)
    assert _join_types(mv.spec()["tree"]) == ["left", "inner"]
    mv.refresh()

    orig_merge = AutoMaterializedView._merge_agg_delta
    orig_touched = AutoMaterializedView._tree_touched

    def no_full_feed(self, spec, feed, latest, full_feed_fn):
        def boom(_dirty):
            raise AssertionError("LEFT-arm tree re-derived from full feed")
        return orig_merge(self, spec, feed, latest, boom)

    def no_detection(self, spec, anchor, latest, sel_exprs):
        raise AssertionError("LEFT-arm tree ran image-replay detection")

    AutoMaterializedView._merge_agg_delta = no_full_feed
    AutoMaterializedView._tree_touched = no_detection

    jobs = []

    def advance():
        jobs.append(len(_jobs_for(spark, f"left-tree-jobs-{len(jobs)}",
                                  mv.refresh)))
        assert _rows_ns(mv.serve()) == _rows_ns(
            plan({n: t.snapshot() for n, t in srcs.items()}))

    try:
        # top-dim delete: region EU vanishes -> its rows join the NULL
        # group via the presence-flip (+1 null-extended) term
        c.delete(spark.createDataFrame([(0,)], "ckey long"),
                 "20260102000000")
        advance()
        # re-insert under a new name: flip -1 pulls them back out
        c.upsert(spark.createDataFrame([(0, "EU2")],
                                       "ckey long, region string"),
                 "20260103000000")
        advance()
        # same-key dim UPDATE (region rename): presence unchanged ->
        # flip term must contribute nothing; rows move EU2 -> EU3 via
        # the plain inner terms
        c.upsert(spark.createDataFrame([(0, "EU3")],
                                       "ckey long, region string"),
                 "20260104000000")
        advance()
        # mid-dim move: order 1 re-points to a match-less customer key
        o.upsert(spark.createDataFrame([(1, 9)], "okey long, ck long"),
                 "20260105000000")
        advance()
        # fact-side delete + insert in one advance
        li.delete(spark.createDataFrame([("l1",)], "k string"),
                  "20260106000000")
        li.upsert(spark.createDataFrame([("l99", 3, 7.5)],
                                        "k string, ok long, qty double"),
                  "20260107000000")
        advance()
        # both sides of the LEFT node in one advance: order 1 re-points
        # to customer 0 (ΔL) while region APAC vanishes (ΔR, flip +1)
        o.upsert(spark.createDataFrame([(1, 0)], "okey long, ck long"),
                 "20260108000000")
        c.delete(spark.createDataFrame([(2,)], "ckey long"),
                 "20260109000000")
        advance()
        assert mv.refresh()["advanced"] is False
    finally:
        AutoMaterializedView._merge_agg_delta = orig_merge
        AutoMaterializedView._tree_touched = orig_touched
    budget = [28, 28, 29, 24, 24, 40]
    assert all(j <= b for j, b in zip(jobs, budget)), (jobs, budget)


def test_agg_tree_nested_left_arms(spark, scratch, tree_tables):
    """LEFT-over-LEFT: the mid dim itself LEFT-joins the top dim, and
    the fact LEFT-joins that whole arm — null-extension cascades, so
    the recursive signed identity must thread flip-null rows THROUGH a
    parent LEFT term (ΔR of the outer node contains the inner node's
    flip rows). Converges through top-dim deletes (inner flip), mid-dim
    deletes (outer flip), re-inserts, and fact changes — all with the
    full-feed and detection hooks as raisers (sum/count only)."""
    srcs = tree_tables
    li, o, c = srcs["li"], srcs["o"], srcs["c"]

    def plan(t):
        arm = (t["o"].select("okey", "ck")
               .join(t["c"].select("ckey", "region"),
                     F.col("ck") == F.col("ckey"), "left"))
        return (t["li"].select("ok", "qty")
                .join(arm, F.col("ok") == F.col("okey"), "left")
                .groupBy("region")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("qty").alias("sq")))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvq5nl"),
                              srcs, plan)
    assert _join_types(mv.spec()["tree"]) == ["left", "left"]
    mv.refresh()

    orig_merge = AutoMaterializedView._merge_agg_delta
    orig_touched = AutoMaterializedView._tree_touched

    def no_full_feed(self, spec, feed, latest, full_feed_fn):
        def boom(_dirty):
            raise AssertionError("nested-LEFT tree re-derived from full feed")
        return orig_merge(self, spec, feed, latest, boom)

    def no_detection(self, spec, anchor, latest, sel_exprs):
        raise AssertionError("nested-LEFT tree ran image-replay detection")

    AutoMaterializedView._merge_agg_delta = no_full_feed
    AutoMaterializedView._tree_touched = no_detection

    def check():
        assert _rows_ns(mv.serve()) == _rows_ns(
            plan({n: t.snapshot() for n, t in srcs.items()}))

    try:
        # inner flip: top dim row vanishes -> its orders' rows move to
        # the NULL region but stay order-matched
        c.delete(spark.createDataFrame([(0,)], "ckey long"),
                 "20260102000000")
        mv.refresh(); check()
        # outer flip: a whole order vanishes -> its lines null-extend at
        # the OUTER join (okey/region both null)
        o.delete(spark.createDataFrame([(2,)], "okey long"),
                 "20260103000000")
        mv.refresh(); check()
        # re-inserts pull rows back out of both null-extensions
        c.upsert(spark.createDataFrame([(0, "EU2")],
                                       "ckey long, region string"),
                 "20260104000000")
        o.upsert(spark.createDataFrame([(2, 1)], "okey long, ck long"),
                 "20260105000000")
        mv.refresh(); check()
        # fact delete + insert across the same advance
        li.delete(spark.createDataFrame([("l1",)], "k string"),
                  "20260106000000")
        li.upsert(spark.createDataFrame([("l99", 2, 7.5)],
                                        "k string, ok long, qty double"),
                  "20260107000000")
        mv.refresh(); check()
        assert mv.refresh()["advanced"] is False
    finally:
        AutoMaterializedView._merge_agg_delta = orig_merge
        AutoMaterializedView._tree_touched = orig_touched


def test_window_over_self_join_with_dim_partition(spark, scratch):
    """Self-join window PARTITIONED BY A NON-DUPLICATED DIM column:
    the composite identity still comes from the two fact occurrences,
    but the partition source (dim) appears at ONE leaf — so the
    touched-partition input restriction stays ON for it (restricting
    the dim cannot filter fact partners). Converges through dim
    renames (whole-partition re-rank), fact changes, and a dim delete
    (INNER join drops the partition)."""
    from pyspark.sql import Window as W

    t = CowTable(spark, os.path.join(scratch, "wsjd_t"), key_fields=["k"],
                 partition_field=None, num_file_groups=2)
    t.bulk_insert(spark.range(14).selectExpr(
        "concat('k', id) as k", "cast(id % 4 as long) as g",
        "cast(id % 3 as long) as parent", "cast(id as double) as v"),
        "20260101000000")
    d = CowTable(spark, os.path.join(scratch, "wsjd_d"), key_fields=["gk"],
                 partition_field=None, num_file_groups=1)
    d.bulk_insert(spark.range(4).selectExpr(
        "cast(id as long) as gk", "concat('n', id) as nm"),
        "20260101000000")

    def wplan(s):
        a = s["t"].select(F.col("_hoodie_record_key").alias("vk"),
                          "g", "parent", "v")
        b = s["t"].select(F.col("g").alias("g2"), F.col("v").alias("pv"),
                          F.col("_hoodie_record_key").alias("pk"))
        dd = s["d"].select("gk", "nm")
        w = W.partitionBy("nm").orderBy(F.desc("pv"), F.asc("vk"),
                                        F.asc("pk"))
        return (a.join(b, F.col("parent") == F.col("g2"))
                .join(dd, F.col("g") == F.col("gk"))
                .withColumn("rn", F.row_number().over(w)).filter("rn <= 2")
                .select("vk", "pk", "nm", "pv", "rn"))

    srcs = {"t": t, "d": d}
    mv = AutoMaterializedView(spark, os.path.join(scratch, "wsjdmv"),
                              srcs, wplan)
    spec = mv.spec()
    assert spec["kind"] == "window_tree"
    assert spec["key_cols"] == ["vk", "pk"]
    assert spec["part_src"] == "d"
    assert spec["restrict_ok"] is True  # dim is single-occurrence
    mv.refresh()

    def check():
        assert _rows(mv.serve()) == _rows(
            wplan({n: s.snapshot() for n, s in srcs.items()}))

    check()
    d.upsert(spark.createDataFrame([(1, "N1!")], "gk long, nm string"),
             "20260102000000")
    mv.refresh(); check()
    t.upsert(spark.createDataFrame(
        [("k2", 1, 0, 99.0)], "k string, g long, parent long, v double"),
        "20260103000000")
    mv.refresh(); check()
    d.delete(spark.createDataFrame([(2,)], "gk long"), "20260104000000")
    mv.refresh(); check()
    assert mv.refresh()["advanced"] is False


def test_agg_tree_full_outer_arm(spark, scratch, tree_tables):
    """FULL OUTER inside an aggregate TREE (round 7, closing the last
    §12 composition gap): li ⋈ o FULL JOIN c GROUP BY region — dim-only
    regions appear with zero fact rows, fact rows without a region land
    in the NULL group, and changes on EITHER side move rows across the
    two null-extensions. Sum/count-only, so the full-feed and detection
    hooks are raisers: every transition must ride the signed identity
    (left part + R-anti summand + both flip corrections)."""
    srcs = tree_tables
    li, o, c = srcs["li"], srcs["o"], srcs["c"]

    def plan(t):
        return (t["li"].select("ok", "qty")
                .join(t["o"].select("okey", "ck"), F.col("ok") == F.col("okey"))
                .join(t["c"].select("ckey", "region"),
                      F.col("ck") == F.col("ckey"), "full")
                .groupBy("region")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("qty").alias("sq")))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "mvq5f"),
                              srcs, plan)
    assert _join_types(mv.spec()["tree"]) == ["full", "inner"]
    assert mv.spec()["group_src"] is None  # both sides null-extend
    mv.refresh()

    orig_merge = AutoMaterializedView._merge_agg_delta
    orig_touched = AutoMaterializedView._tree_touched

    def no_full_feed(self, spec, feed, latest, full_feed_fn):
        def boom(_dirty):
            raise AssertionError("FULL tree re-derived from full feed")
        return orig_merge(self, spec, feed, latest, boom)

    def no_detection(self, spec, anchor, latest, sel_exprs):
        raise AssertionError("FULL tree ran image-replay detection")

    AutoMaterializedView._merge_agg_delta = no_full_feed
    AutoMaterializedView._tree_touched = no_detection

    def check():
        assert _rows_ns(mv.serve()) == _rows_ns(
            plan({n: t.snapshot() for n, t in srcs.items()}))

    try:
        # dim-only group appears: a customer key no order points at
        c.upsert(spark.createDataFrame([(9, "MOON")],
                                       "ckey long, region string"),
                 "20260102000000")
        mv.refresh(); check()
        # dim delete: its fact rows flip into the NULL group AND its
        # dim-only row (if any) vanishes from the R-anti summand
        c.delete(spark.createDataFrame([(0,)], "ckey long"),
                 "20260103000000")
        mv.refresh(); check()
        # re-insert pulls them back; MOON gains a matching order ->
        # leaves the dim-only anti set (L-key flip, -1)
        c.upsert(spark.createDataFrame([(0, "EU2")],
                                       "ckey long, region string"),
                 "20260104000000")
        o.upsert(spark.createDataFrame([(9, 9)], "okey long, ck long"),
                 "20260105000000")
        mv.refresh(); check()
        # fact churn across the same advance
        li.delete(spark.createDataFrame([("l1",)], "k string"),
                  "20260106000000")
        li.upsert(spark.createDataFrame([("l99", 9, 7.5)],
                                        "k string, ok long, qty double"),
                  "20260107000000")
        mv.refresh(); check()
        assert mv.refresh()["advanced"] is False
    finally:
        AutoMaterializedView._merge_agg_delta = orig_merge
        AutoMaterializedView._tree_touched = orig_touched


def test_window_over_full_tree_refused(spark, scratch, tree_tables):
    """Window views over FULL OUTER trees refuse with the detection
    limit named (both sides null-extend; the preserved-side pass
    assumes one)."""
    from pyspark.sql import Window as W

    srcs = tree_tables
    snaps = {n: t.snapshot() for n, t in srcs.items()}
    f = snaps["li"].selectExpr("_hoodie_record_key as vk", "ok", "qty")
    j = (f.join(snaps["o"].select("okey", "ck"), F.col("ok") == F.col("okey"))
         .join(snaps["c"].select("ckey", "region"),
               F.col("ck") == F.col("ckey"), "full"))
    w = W.partitionBy("region").orderBy(F.desc("qty"), F.asc("vk"))
    view = (j.withColumn("rn", F.row_number().over(w)).filter("rn <= 2")
            .select("vk", "region", "qty", "rn"))
    with pytest.raises(UnsupportedViewError, match="FULL OUTER"):
        classify_view(view, snaps)


def test_window_partition_predicate_pushes_below_window(spark):
    """Catalyst pin for the self-join / null-extended window fallback
    (_advance_window_tree): a literal eqNullSafe-OR predicate on the
    window's PARTITION column, applied above the window, must optimize
    to a Filter BELOW the Window (and below the join, on the producing
    side only) — the property that makes the output-level touched-
    partition restriction a real restriction rather than a post-trim.
    If Spark ever stops pushing it, the advance silently degrades to
    the full-input pass (still output-exact, 4x slower at 1.6M rows —
    SCALE.md round-8)."""
    from pyspark.sql import Window as W

    a = spark.range(100).selectExpr("id as k", "id % 10 as g",
                                    "cast(id as double) as v")
    b = spark.range(100).selectExpr("id as k2", "cast(id % 7 as long) as h")
    w = W.partitionBy("g").orderBy(F.desc("v"))
    df = (
        a.join(b, F.col("k") == F.col("k2"))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn <= 2")
        .where(F.col("g").eqNullSafe(F.lit(3)) | F.col("g").eqNullSafe(F.lit(5)))
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    win_i = next(i for i, ln in enumerate(lines) if "Window" in ln)
    filt_i = [i for i, ln in enumerate(lines)
              if "Filter" in ln and "<=>" in ln]
    assert filt_i and all(i > win_i for i in filt_i), plan
    # and it reaches below the join: only one join side carries g
    join_i = next(i for i, ln in enumerate(lines) if "Join" in ln)
    assert any(i > join_i for i in filt_i), plan


def test_spec_summary_fast_path_skips_classification(spark, scratch, tables):
    """A fully-advanced view refreshes and serves from the persisted
    serve-spec sidecar WITHOUT re-running plan classification: a fresh
    instance whose plan_fn raises must no-op refresh and serve the exact
    stored result; once a source advances, the slow path (which does
    classify) must engage and converge."""
    fact, dim = tables
    sources = {"fact": fact, "dim": dim}
    path = os.path.join(scratch, "mv_fast")
    mv = AutoMaterializedView(spark, path, dict(sources), agg_plan)
    mv.refresh(seed_as_of={n: "20260101000000" for n in sources})
    want = _rows(agg_plan({n: t.snapshot() for n, t in sources.items()}))
    assert _rows(mv.serve()) == want

    def booby_trap(t):  # pragma: no cover - must never run
        raise AssertionError("classification ran on the fast path")

    mv2 = AutoMaterializedView(spark, path, dict(sources), booby_trap)
    r = mv2.refresh()
    assert r["advanced"] is False
    assert _rows(mv2.serve()) == want
    # key resolution must come from the sidecar too
    assert mv2.table.key_fields == ["g"]

    # a new source commit invalidates the fast path: the slow path
    # classifies (real plan_fn) and converges on the recompute
    fact.upsert(
        spark.createDataFrame([("k50", 1, 5.0, 7)],
                              "k string, g long, v double, nv long"),
        "20260105000000",
    )
    mv3 = AutoMaterializedView(spark, path, dict(sources), agg_plan)
    r3 = mv3.refresh()
    assert r3["advanced"] is True
    want2 = _rows(agg_plan({n: t.snapshot() for n, t in sources.items()}))
    assert _rows(mv3.serve()) == want2


def test_window_touched_predicate_chunks(spark, scratch, monkeypatch):
    """Past WINDOW_TOUCHED_PRED_MAX touched partitions the literal
    predicate applies CHUNKED (K union branches of ≤MAX clauses over the
    re-derivation) instead of falling back to full-input — planning cost
    is superlinear in one predicate's clause count but linear in bounded
    branches. Forcing MAX=1 makes a 3-partition delta take the chunked
    path; the view must still converge exactly, and beyond
    MAX*CHUNKS_MAX the full-input fallback must also converge."""
    from pyspark.sql import Window as W

    import hudi_delete_view_spark.plans.ivm as ivm

    t = CowTable(spark, os.path.join(scratch, "wchunk"), key_fields=["k"],
                 partition_field=None, num_file_groups=2)
    t.bulk_insert(spark.range(14).selectExpr(
        "concat('k', id) as k", "cast(id % 4 as long) as g",
        "cast(id % 3 as long) as parent", "cast(id as double) as v"),
        "20260101000000")

    def wplan(s):
        a = s["t"].select(F.col("_hoodie_record_key").alias("vk"),
                          "g", "parent", "v")
        b = s["t"].select(F.col("g").alias("g2"), F.col("v").alias("pv"),
                          F.col("_hoodie_record_key").alias("pk"))
        w = W.partitionBy("g").orderBy(F.desc("pv"), F.asc("vk"),
                                       F.asc("pk"))
        return (a.join(b, F.col("parent") == F.col("g2"))
                .withColumn("rn", F.row_number().over(w)).filter("rn <= 2")
                .select("vk", "g", "pv", "pk", "rn"))

    mv = AutoMaterializedView(spark, os.path.join(scratch, "wchunkmv"),
                              {"t": t}, wplan)
    assert mv.spec()["restrict_ok"] is False  # predicate path, not input
    mv.refresh()

    def check():
        assert _rows(mv.serve()) == _rows(wplan({"t": t.snapshot()}))

    check()
    # chunked: 1-clause chunks, delta touches >1 partition
    monkeypatch.setattr(ivm, "WINDOW_TOUCHED_PRED_MAX", 1)
    t.upsert(spark.createDataFrame(
        [("k2", 1, 0, 99.0), ("k3", 3, 2, 88.0), ("k20", 0, 1, 7.0)],
        "k string, g long, parent long, v double"), "20260102000000")
    mv.refresh(); check()
    # past the chunk bound: full-input fallback still exact
    monkeypatch.setattr(ivm, "WINDOW_TOUCHED_CHUNKS_MAX", 1)
    t.delete(spark.createDataFrame([("k5",), ("k0",)], "k string"),
             "20260103000000")
    mv.refresh(); check()
    assert mv.refresh()["advanced"] is False


def test_where_touched_chunked_empty_restricts_to_nothing(spark):
    """No touched partition tuples restrict the re-derivation to no rows
    (the schema is kept) instead of failing on an empty chunk list."""
    from hudi_delete_view_spark.plans.ivm import _where_touched_chunked

    df = spark.range(5).selectExpr("id % 2 as g", "id as v")
    out = _where_touched_chunked(df, [], ["g"])
    assert out.schema == df.schema
    assert out.count() == 0
    one = _where_touched_chunked(df, [{"g": 1}], ["g"])
    assert sorted(r.v for r in one.collect()) == [1, 3]
