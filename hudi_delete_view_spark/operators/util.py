"""Shared operator plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame


def md5_prefix60_sql(inner: str) -> str:
    """Spark-SQL snippet for the ENGINE-PORTABLE 60-bit hash: the first 15
    hex chars of md5, as a positive bigint.

    This is the one hash contract the whole oracle strategy rests on:
    DuckDB computes the IDENTICAL value via
    ``CAST(CONCAT('0x', substring(md5(s), 1, 15)) AS BIGINT)``, which is
    what lets MinHash/SimHash/winnowing/n-gram/sampling pipelines carry
    bit-exact SQL oracles (xxhash64 exists only in Spark). Every operator
    must use THIS helper — a divergent copy silently breaks oracle
    agreement. 60 bits (not 64) keeps the value positive in both engines'
    signed BIGINT."""
    return f"cast(conv(substring(md5({inner}), 1, 15), 16, 10) as bigint)"


def md5_frac32_sql(inner: str) -> str:
    """Portable uniform fraction in [0, 1): first 8 md5 hex chars / 2^32.
    DuckDB mirror: ``CAST(CONCAT('0x', substring(md5(s),1,8)) AS BIGINT)
    / 4294967296.0``. Used for deterministic sampling keep-decisions."""
    return (
        f"cast(conv(substring(md5({inner}), 1, 8), 16, 10) as bigint) / 4294967296.0"
    )


def _plans_exchange(df: DataFrame) -> bool:
    """Whether ``df``'s physical plan holds a shuffle or broadcast exchange,
    looking through adaptive plans, subqueries and cached plans. Plans the
    query; runs none of it."""
    jvm = df.sparkSession.sparkContext._jvm
    kinds = [
        jvm.java.lang.Class.forName(name)
        for name in (
            "org.apache.spark.sql.execution.exchange.Exchange",
            "org.apache.spark.sql.execution.adaptive.ExchangeQueryStageExec",
        )
    ]
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if any(k.isInstance(node) for k in kinds):
            return True
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        # innerChildren: subqueries, and the plan under a cached relation
        for seq in (node.children(), node.innerChildren()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return False


def spread(df: DataFrame, min_factor: float = 0.5) -> DataFrame:
    """Ensure a CPU-heavy narrow map downstream has enough partitions to
    use the cluster.

    A small table read from one parquet file arrives as ONE partition, so
    a compute-bound operator (minhash, simhash, winnowing) would run on a
    single core. Repartition only when the source parallelism is below
    ``min_factor * defaultParallelism`` — on a real multi-file 100 TB scan
    the input already has thousands of splits and this is a no-op (no
    shuffle added).

    Never executes its input: the decision comes from the physical plan.
    A plan holding any exchange (shuffle or broadcast) is returned as is,
    since AQE sizes its partitions at run time, and counting them would
    run every stage of the plan only to throw the results away (a
    non-adaptive broadcast join runs its broadcast on ``execute()``).
    Otherwise the count is the scan's split count, which lists files and
    launches no Spark job."""
    if _plans_exchange(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, int(target * min_factor)):
        return df.repartition(target)
    return df


def salted_join(
    left, right, key: str, how: str = "inner", salt: int = 8
):
    """Skew-resistant equi-join: replicate the (small-ish) right side
    ``salt`` times and scatter left rows across salt buckets, so one hot
    key spreads over ``salt`` shuffle partitions instead of one.

    AQE's skew-join splitting covers most cases automatically; explicit
    salting is for the pathological single-key hot spot (e.g. a null-ish
    default key holding 30% of a 100 TB table) where even a split
    partition's probe side is one task's worth of data.
    """
    from pyspark.sql import functions as F

    salted_left = left.withColumn(
        "__salt", (F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt))).cast("int")
    )
    salted_right = right.crossJoin(
        F.broadcast(
            left.sparkSession.range(salt).select(F.col("id").cast("int").alias("__salt"))
        )
    )
    out = salted_left.join(salted_right, on=[key, "__salt"], how=how)
    return out.drop("__salt")


# --------------------------------------------------------------------------
# operator cache registry: operators persist intermediates (signature
# tables, IVF lists) that MUST outlive the call (the returned plan
# references them), so they can't unpersist internally. Long-lived
# sessions call unpersist_operator_caches() between operator invocations
# to release executor storage memory.
# --------------------------------------------------------------------------
_OPERATOR_CACHES: list[DataFrame] = []


def register_cache(df: DataFrame, materialize: bool = True) -> DataFrame:
    """Persist ``df``, optionally materialize it now (one compute pass,
    ever), and track it for later release."""
    df = df.persist()
    if materialize:
        df.count()
    _OPERATOR_CACHES.append(df)
    return df


def unpersist_operator_caches(blocking: bool = False) -> int:
    """Release every operator-persisted DataFrame; returns how many.
    Downstream plans that still reference one simply recompute."""
    n = 0
    for df in _OPERATOR_CACHES:
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass  # session already stopped
    _OPERATOR_CACHES.clear()
    return n
