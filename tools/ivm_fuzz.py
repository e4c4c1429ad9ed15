"""Randomized convergence sweep over the AutoMaterializedView surface.

For each seed: build fact/dim/sub lake tables, pick every plan from the
pool, apply a random commit script (upserts with NULL injection, deletes,
multi-source same-timestamp commits), refresh after every step —
sometimes through a BOUNDED intermediate target — and assert serve()
equals the from-scratch recompute, null-safe, after each advance.

This is the adversarial net behind the targeted pytest pins: the plan
pool covers every maintained kind (aggregate incl. min/max / COUNT
DISTINCT / HLL, join, LEFT join, agg_join, agg_union with a self-union
branch, agg_tree, window (row_number and dense_rank top-k, and window
aggregates under a value filter), window_tree, window self-join, snowflake
expression keys, distinct, agg_stage), and the
script generator favors the operations that broke algebras before
(join-column mutations, NULL keys/values, group/partition moves, deletes
of a combination's last row).

Usage: python tools/ivm_fuzz.py [n_seeds] [steps]
"""
from __future__ import annotations

import os
import random
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import Window as W  # noqa: E402

from hudi_delete_view_spark.plans.ivm import AutoMaterializedView  # noqa: E402
from hudi_delete_view_spark.session import get_spark  # noqa: E402
from hudi_delete_view_spark.sources.cow import CowTable  # noqa: E402
from hudi_delete_view_spark.sources.mor import MorTable  # noqa: E402


def _plans():
    def agg(t):
        return (t["fact"].filter("g != 7").groupBy("g")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("v").alias("sv"),
                     F.min("v").alias("mn"),
                     F.count_distinct("nv").alias("nd"),
                     F.approx_count_distinct("nv").alias("ad")))

    def join(t):
        f = t["fact"].selectExpr("_hoodie_record_key as vk", "k", "g", "v")
        return (f.join(t["dim"].select("gk", "gname", "region"),
                       F.col("g") == F.col("gk"))
                .select("vk", "g", "v", "gname", "region"))

    def left_join(t):
        f = t["fact"].selectExpr("_hoodie_record_key as vk", "g", "v")
        return (f.join(t["dim"].select("gk", "gname"),
                       F.col("g") == F.col("gk"), "left")
                .select("vk", "g", "v", "gname"))

    def snowflake(t):
        f = t["fact"].selectExpr("_hoodie_record_key as vk", "g", "v")
        return (f.join(t["dim"].select("gk", "region"),
                       F.col("g") == F.col("gk"))
                .join(t["sub"].select("rk", "rname"),
                      F.col("region") == F.col("rk"))
                .select("vk", "g", "v", "region", "rname"))

    def agg_join(t):
        f = t["fact"].select("g", "v", "nv")
        d = t["dim"].select("gk", "gname")
        return (f.join(d, F.col("g") == F.col("gk"))
                .groupBy("gname")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"),
                     F.min("v").alias("mn"),
                     F.count_distinct("nv").alias("nd")))

    def agg_union(t):
        a = t["fact"].select("g", "v")
        b = t["fact"].filter("g >= 2").select(
            "g", (F.col("v") * 2).alias("v"))
        c = t["dim"].select(F.col("gk").alias("g"),
                            F.col("gk").cast("double").alias("v"))
        return (a.unionByName(b).unionByName(c).groupBy("g")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")))

    def agg_tree(t):
        return (t["fact"].select("g", "v")
                .join(t["dim"].select("gk", "region"),
                      F.col("g") == F.col("gk"))
                .join(t["sub"].select("rk", "rname"),
                      F.col("region") == F.col("rk"))
                .groupBy("rname")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"),
                     F.min("v").alias("mn")))

    def agg_tree_left(t):
        return (t["fact"].select("g", "v")
                .join(t["dim"].select("gk", "region"),
                      F.col("g") == F.col("gk"))
                .join(t["sub"].select("rk", "rname"),
                      F.col("region") == F.col("rk"), "left")
                .groupBy("rname")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")))

    def window(t):
        w = W.partitionBy("g").orderBy(F.desc("v"), F.asc("vk"))
        return (t["fact"].selectExpr("_hoodie_record_key as vk", "g", "v")
                .withColumn("rn", F.row_number().over(w)).filter("rn <= 2"))

    def window_agg_filtered(t):
        # a window AGGREGATE under a value filter above the window: a row
        # the filter hides still moves its partition-mates' values
        w = W.partitionBy("g")
        return (t["fact"].selectExpr("_hoodie_record_key as vk", "g", "v")
                .select("vk", "g", "v",
                        F.count(F.lit(1)).over(w).alias("cnt"),
                        F.sum("v").over(w).alias("sv"))
                .filter("v >= 5"))

    def window_dense(t):
        # dense_rank top-k: ties share a rank, so k ranks may hold more
        # than k rows
        w = W.partitionBy("g").orderBy(F.desc("v"))
        return (t["fact"].selectExpr("_hoodie_record_key as vk", "g", "v")
                .withColumn("dr", F.dense_rank().over(w)).filter("dr <= 2"))

    def window_tree(t):
        f = t["fact"].selectExpr("_hoodie_record_key as vk", "g", "v")
        j = f.join(t["dim"].select("gk", "region"), F.col("g") == F.col("gk"))
        w = W.partitionBy("region").orderBy(F.desc("v"), F.asc("vk"))
        return (j.withColumn("rn", F.row_number().over(w)).filter("rn <= 2")
                .select("vk", "g", "v", "region", "rn"))

    def window_union(t):
        # three branches, two over the FACT (one with a DERIVED partition
        # expression), one over the DIM with a different partition source
        # column — the union x window composition + OR-of-restrictions
        a = t["fact"].select(
            F.lit("f").alias("src"),
            F.col("_hoodie_record_key").alias("vk"),
            F.col("g").alias("part"), F.col("v").alias("val"))
        b = t["dim"].select(
            F.lit("d").alias("src"),
            F.col("_hoodie_record_key").alias("vk"),
            F.col("region").alias("part"),
            F.col("gk").cast("double").alias("val"))
        c = t["fact"].select(
            F.lit("f2").alias("src"),
            F.col("_hoodie_record_key").alias("vk"),
            (F.col("g") % 3).alias("part"), (F.col("v") * 2).alias("val"))
        w = W.partitionBy("part").orderBy(
            F.desc("val"), F.asc("src"), F.asc("vk"))
        return (a.unionByName(b).unionByName(c)
                .withColumn("rn", F.row_number().over(w)).filter("rn <= 3"))

    def join_exprkey(t):
        # expression join keys: fact side unprojected (g % 6), arm side
        # an expression over the dim's raw column — the source-side probe
        f = t["fact"].selectExpr("_hoodie_record_key as vk", "g", "v")
        d = t["dim"].select("gk", "gname")
        return (f.join(d, (F.col("g") % 6) == (F.col("gk") * F.lit(1)))
                .select("vk", "v", "gname"))

    def self_join_agg(t):
        # aggregate over a SELF-join: occurrence-based delta terms
        a = t["fact"].select("g", "nv", "v")
        b = t["fact"].select(F.col("g").alias("g2"),
                             F.col("v").alias("pv"))
        return (a.join(b, F.col("nv") == F.col("g2"))
                .groupBy("g").agg(F.count(F.lit(1)).alias("n"),
                                  F.sum("pv").alias("spv")))

    def self_join_tree(t):
        # one table at TWO leaves of a 3-leaf tree (occurrence-keyed
        # delta terms) + a dim leaf
        a = t["fact"].select("g", "nv", "v")
        b = t["fact"].select(F.col("g").alias("g2"), F.col("v").alias("pv"))
        dd = t["dim"].select("gk", "gname")
        return (a.join(b, F.col("nv") == F.col("g2"))
                .join(dd, F.col("g") == F.col("gk"))
                .groupBy("gname").agg(F.count(F.lit(1)).alias("n"),
                                      F.sum("pv").alias("spv")))

    def agg_tree_left_nested(t):
        # LEFT-over-LEFT: null-extension cascades through a parent LEFT
        # term of the recursive signed identity
        arm = (t["dim"].select("gk", "region")
               .join(t["sub"].select("rk", "rname"),
                     F.col("region") == F.col("rk"), "left"))
        return (t["fact"].select("g", "v")
                .join(arm, F.col("g") == F.col("gk"), "left")
                .groupBy("rname")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")))

    def agg_tree_full(t):
        # FULL OUTER arm: both null-extensions live (round 7)
        return (t["fact"].select("g", "v")
                .join(t["dim"].select("gk", "region"),
                      F.col("g") == F.col("gk"))
                .join(t["sub"].select("rk", "rname"),
                      F.col("region") == F.col("rk"), "full")
                .groupBy("rname")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")))

    def snowflake_exprkey(t):
        # round-7 transitive probe: the sub arm joins on an EXPRESSION
        # over the MID dim (region % 2) projected nowhere — changed sub
        # keys translate through the dim snapshot into the dim's own
        # probe route
        f = t["fact"].selectExpr("_hoodie_record_key as vk", "g", "v")
        return (f.join(t["dim"].select("gk", "region"),
                       F.col("g") == F.col("gk"))
                .join(t["sub"].select("rk", "rname"),
                      (F.col("region") % 2) == F.col("rk"))
                .select("vk", "g", "v", "rname"))

    def window_self_join(t):
        # round-7 composite identity: top-k partner rows per group over
        # a SELF-join; both occurrences project their record keys
        a = t["fact"].select(F.col("_hoodie_record_key").alias("vk"),
                             "g", "nv", "v")
        b = t["fact"].select(F.col("g").alias("g2"),
                             F.col("v").alias("pv"),
                             F.col("_hoodie_record_key").alias("pk"))
        w = W.partitionBy("g").orderBy(F.desc("pv"), F.asc("vk"),
                                       F.asc("pk"))
        return (a.join(b, F.col("nv") == F.col("g2"))
                .withColumn("rn", F.row_number().over(w)).filter("rn <= 2")
                .select("vk", "pk", "g", "pv", "rn"))

    def distinct(t):
        return t["fact"].select("g", (F.col("v") % 2).alias("p")).distinct()

    def stage(t):
        po = t["fact"].groupBy("g", "nv").agg(F.sum("v").alias("ot"))
        return (po.groupBy("g")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("ot").alias("ct")))

    return {
        "agg": agg, "join": join, "left_join": left_join,
        "snowflake": snowflake, "agg_join": agg_join,
        "agg_union": agg_union, "agg_tree": agg_tree,
        "agg_tree_left": agg_tree_left, "window": window,
        "window_agg_filtered": window_agg_filtered,
        "window_dense": window_dense,
        "window_tree": window_tree, "window_union": window_union,
        "join_exprkey": join_exprkey, "self_join_agg": self_join_agg,
        "self_join_tree": self_join_tree, "distinct": distinct,
        "stage": stage, "snowflake_exprkey": snowflake_exprkey,
        "window_self_join": window_self_join,
        "agg_tree_left_nested": agg_tree_left_nested,
        "agg_tree_full": agg_tree_full,
    }


def _rows(df):
    return sorted(tuple((x is None, x) for x in r) for r in df.collect())


def _prev_ts(table, ts: str) -> str:
    """The commit immediately before ``ts`` on a table's timeline."""
    stamps = [t for t in table.timeline.timestamps() if t < ts]
    return stamps[-1]


def run_seed(spark, seed: int, steps: int, root: str, view_groups: int = 4) -> None:
    """Odd seeds use a MERGE-ON-READ fact with delta commits — the
    log-resident update/tombstone feeds through every algebra's
    inherited cdc; even seeds use COW. ``view_groups`` is each view
    table's file-group count (one writes a file fewer per touched group
    and rewrite, for a quicker smoke)."""
    rng = random.Random(seed)
    mor = seed % 2 == 1
    d = os.path.join(root, f"s{seed}")
    fact_cls = MorTable if mor else CowTable
    fact = fact_cls(spark, os.path.join(d, "fact"), key_fields=["k"],
                    partition_field=None, num_file_groups=2)
    fact.bulk_insert(
        spark.range(24).selectExpr(
            "concat('k', id) as k", "cast(id % 6 as long) as g",
            "cast(id as double) as v",
            "case when id % 5 = 0 then cast(null as long) "
            "else id % 4 end as nv"),
        "20260101000000")
    dim = CowTable(spark, os.path.join(d, "dim"), key_fields=["gk"],
                   partition_field=None, num_file_groups=1)
    dim.bulk_insert(
        spark.range(6).selectExpr(
            "cast(id as long) as gk", "concat('n', id) as gname",
            "cast(id % 3 as long) as region"),
        "20260101000000")
    sub = CowTable(spark, os.path.join(d, "sub"), key_fields=["rk"],
                   partition_field=None, num_file_groups=1)
    sub.bulk_insert(
        spark.range(3).selectExpr("cast(id as long) as rk",
                                  "concat('r', id) as rname"),
        "20260101000000")
    srcs = {"fact": fact, "dim": dim, "sub": sub}
    mvs = {
        name: AutoMaterializedView(
            spark, os.path.join(d, f"mv_{name}"), dict(srcs), fn,
            num_file_groups=view_groups)
        for name, fn in _plans().items()
    }
    for mv in mvs.values():
        mv.refresh()

    def mutate(idx: int):
        """One random commit; returns (source_name, ts) or None."""
        ts = f"20260102{idx:06d}"
        which = rng.random()
        hit = None
        if which < 0.5:  # fact mutation
            hit = "fact"
            op = rng.random()
            if op < 0.5:
                keys = rng.sample(range(30), rng.randint(1, 4))
                rows = [(f"k{i}", rng.randint(0, 7),
                         float(rng.randint(-5, 40)),
                         None if rng.random() < 0.3 else rng.randint(0, 5))
                        for i in keys]
                df = spark.createDataFrame(
                    rows, "k string, g long, v double, nv long")
                if mor:
                    fact.upsert_delta(df, ts)  # log-resident update
                else:
                    fact.upsert(df, ts)
            else:
                live = [r.k for r in fact.snapshot().select("k").collect()]
                if not live:
                    return None
                keys = rng.sample(live, min(len(live),
                                            rng.randint(1, 3)))
                kdf = spark.createDataFrame(
                    [(k,) for k in keys], "k string")
                if mor:
                    fact.delete_delta(kdf, ts)  # log tombstones
                else:
                    fact.delete(kdf, ts)
        elif which < 0.85:  # dim mutation — join-column moves included
            hit = "dim"
            op = rng.random()
            if op < 0.6:
                gk = rng.randint(0, 7)
                dim.upsert(spark.createDataFrame(
                    [(gk, f"n{rng.randint(0, 9)}", rng.randint(0, 4))],
                    "gk long, gname string, region long"), ts)
            else:
                live = [r.gk for r in dim.snapshot().select("gk").collect()]
                if not live:
                    return None
                dim.delete(spark.createDataFrame(
                    [(rng.choice(live),)], "gk long"), ts)
        else:  # sub mutation
            hit = "sub"
            if rng.random() < 0.6:
                sub.upsert(spark.createDataFrame(
                    [(rng.randint(0, 4), f"r{rng.randint(0, 9)}")],
                    "rk long, rname string"), ts)
            else:
                live = [r.rk for r in sub.snapshot().select("rk").collect()]
                if not live:
                    return None
                sub.delete(spark.createDataFrame(
                    [(rng.choice(live),)], "rk long"), ts)

    def _check_all():
        snaps = {n: t.snapshot() for n, t in srcs.items()}
        for name, plan in _plans().items():
            got = _rows(mvs[name].serve())
            want = _rows(plan(snaps))
            if got != want:
                raise AssertionError(
                    f"seed={seed} plan={name}\ngot:  {got}\nwant: {want}")

    idx = 0
    for step in range(steps):
        idx += 1
        m1 = mutate(idx)
        m2 = None
        if rng.random() < 0.5:  # two commits in one advance window
            idx += 1
            m2 = mutate(idx)
        if m1 and rng.random() < 0.4:
            # BOUNDED intermediate refresh: advance only up to m1's
            # commit, convergence-check the intermediate state too,
            # then advance fully — the stepwise-replay contract under
            # random scripts
            to = {n: t.timeline.latest_timestamp()
                  for n, t in srcs.items()}
            if m2 and m2[0] == m1[0]:
                to[m1[0]] = m1[1]
            elif m2:
                to[m2[0]] = _prev_ts(srcs[m2[0]], m2[1])
            for mv in mvs.values():
                mv.refresh(to=to)
        for mv in mvs.values():
            mv.refresh()
        _check_all()
    shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    steps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark("ivm-fuzz")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="ivm_fuzz_")
    try:
        for seed in range(n_seeds):
            run_seed(spark, seed, steps, root)
            print(f"seed {seed}: {steps} steps x {len(_plans())} plans ok",
                  flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print("ALL OK")


if __name__ == "__main__":
    main()
