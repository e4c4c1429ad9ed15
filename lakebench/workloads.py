"""The two closed-loop workloads and the op recorder they share.

Each workload has ``setup`` (repeated to time it; the last repetition's
state is used), ``warmup`` (checked ops recorded as cycle 0, outside the
metrics), ``cycle`` (one request cycle, checked) and, for traced runs,
``trace_counts``.
Package calls go through module attributes so that a traced run's
wrappers (tracing.instrument) see them.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time
import traceback

import numpy as np

import data

MAX_CYCLES = 64
NCPU = len(os.sched_getaffinity(0))
# Steal correction (``net_latency``): seconds taken off a latency per
# second of VM steal per vCPU. Plain subtraction (1.0) leaves part of the
# drift, because a stolen vCPU also holds up the tasks that wait on it;
# 1.5 gave the smallest run-to-run spread of cycle time over 22 runs on a
# 4-vCPU VM whose steal ranged from 1% to 38% (BENCHMARK.md).
STEAL_K = 1.5
# first timestamp the benchmark commits with; the scripted fixture ends at
# C4 = 20260104000000
TS_BASE = 20270000000000


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def digest(df, key_col) -> tuple[int, int]:
    """(count, sum of crc32(key)) of a DataFrame: the Spark side of
    ``data.key_digest``."""
    from pyspark.sql import functions as F

    r = df.select(key_col.alias("__k")).agg(
        F.count("*").alias("n"), F.sum(F.crc32("__k")).alias("h")
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def lineitem_key():
    from pyspark.sql import functions as F

    return F.concat_ws(":", *[F.col(c).cast("string") for c in data.KEY_COLS])


def orders_key():
    from pyspark.sql import functions as F

    return F.col("o_orderkey").cast("string")


class Ctx:
    """Per-run state: Spark, directories, seed, tracer and op records."""

    def __init__(self, spark, workload: str, seed: int, work: str, cache: str, tracer):
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.work = work
        self.cache = cache
        self.rel_dir = os.path.join(cache, "data")
        self.tracer = tracer
        self.ops: list[dict] = []
        self.cycle = 0
        self._ts = TS_BASE

    def next_ts(self) -> str:
        self._ts += 1
        return str(self._ts)

    def cold(self) -> None:
        """Start a cold request: drop every cached DataFrame."""
        self.spark.catalog.clearCache()

    def op(self, name: str, fn, check=None, **extra):
        """Run one timed request; a raised error or a failed check counts
        as a failed op. Returns fn's result (None on error)."""
        sc = self.spark.sparkContext
        sc.setJobDescription(f"{self.workload}/{name}")
        rec = {"op": name, "cycle": self.cycle, **extra}
        if self.tracer is not None:
            self.tracer.request = f"c{self.cycle}/{name}"
        rec["wall_start_ms"] = time.time() * 1000.0
        s0 = steal_s()
        t0 = time.perf_counter()
        ok = True
        result = None
        try:
            if self.tracer is not None:
                with self.tracer.span(f"op.{name}"):
                    result = fn()
            else:
                result = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        rec["t"] = time.perf_counter() - t0
        rec["net"] = net_latency(rec["t"], steal_s() - s0)
        rec["wall_end_ms"] = time.time() * 1000.0
        sc.setJobDescription(None)
        if ok and check is not None:
            try:
                ok = bool(check(result))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
        if not ok:
            print(f"# FAILED {self.workload} cycle {self.cycle} op {name}", file=sys.stderr)
        rec["ok"] = ok
        if self.tracer is not None:
            rec["cached_bytes"] = persisted_bytes(self.spark)
        self.ops.append(rec)
        return result if ok else None


def steal_s() -> float:
    """Hypervisor steal time of the whole VM so far, in CPU-seconds
    (/proc/stat): time the host ran someone else on this VM's vCPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def net_latency(wall: float, steal: float) -> float:
    """A latency net of the host's steal: the VM's steal over the
    interval, per vCPU, times ``STEAL_K``, taken off the wall time (at most
    three quarters of it). On a shared host steal is the largest source of
    run-to-run spread measured."""
    return max(wall - STEAL_K * steal / NCPU, wall / 4)


def persisted_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


EXPORTS = ("export_delta", "export_iceberg")


def ensure_fixtures(spark, cache: str) -> None:
    """Build the seed-independent inputs once per checkout: the generated
    relational tables, the scripted lineitem COW / orders MOR tables, and
    their Delta and Iceberg exports. The fixture builders are
    idempotent (they rebuild unless the timeline is complete); the data
    and the exports carry completion markers."""
    from hudi_delete_view_spark.sources import delta, fixtures, iceberg

    rel = os.path.join(cache, "data")
    marker = os.path.join(rel, ".complete")
    if not os.path.exists(marker):
        shutil.rmtree(rel, ignore_errors=True)
        data.write_relational(rel)
        open(marker, "w").close()
    cow = fixtures.build_lineitem_cow(spark, rel, base_path=os.path.join(cache, "lineitem_cow"))
    fixtures.build_orders_mor(spark, rel, base_path=os.path.join(cache, "orders_mor"))
    marker = os.path.join(cache, ".exports_complete")
    if not os.path.exists(marker):
        for name in EXPORTS:
            shutil.rmtree(os.path.join(cache, name), ignore_errors=True)
        delta.export_delta(cow, os.path.join(cache, "export_delta"))
        iceberg.export_iceberg(cow, os.path.join(cache, "export_iceberg"))
        open(marker, "w").close()


def _copy_table(ctx: Ctx, name: str) -> str:
    dst = os.path.join(ctx.work, name)
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(os.path.join(ctx.cache, name), dst)
    return dst


def _lineitem_table(ctx: Ctx, path: str):
    from hudi_delete_view_spark.sources import fixtures

    # the fixture builder returns the existing handle when the timeline is
    # the scripted C1-C4 one (it is: the copy is pristine)
    return fixtures.build_lineitem_cow(ctx.spark, ctx.rel_dir, base_path=path)


# --------------------------------------------------------------------------
# dv_churn: delete commit, cold view, warm view, restoring upsert, scan, and
# the same delete-view question through the foreign metadata stacks
# --------------------------------------------------------------------------
# The paths asked "which rows did this commit delete?" in step 6 of a cycle,
# beside the native COW view of step 2. The foreign Hudi MOR path
# (export_hudi_mor, read_hudi_mor_delete_view / read_hudi_mor_snapshot) is
# left out: its log-block reader fails now and then with a
# FloatingPointError raised from pd.to_datetime(col, unit="us") in
# sources/hudi.py, and the benchmark's workloads must not fail. See
# BENCHMARK.md.
FOREIGN = ("delta", "iceberg", "mor")


class DvChurn:
    name = "dv_churn"
    needs_fixtures = True
    setup_reps = 2
    paired = True  # odd cycles one partition, even cycles all partitions
    nominal_cycle_s = 8.0  # the first two cycles, on a quiet 4-vCPU VM
    primary = ("dv_cold", "view")
    secondary = ("delete", "upsert")

    def setup(self, ctx: Ctx) -> None:
        from hudi_delete_view_spark.sources import fixtures

        self.path = _copy_table(ctx, "lineitem_cow")
        self.table = _lineitem_table(ctx, self.path)
        self.mor_path = _copy_table(ctx, "orders_mor")
        self.mor = fixtures.build_orders_mor(ctx.spark, ctx.rel_dir, base_path=self.mor_path)
        self.delta_path, self.ice_path = (_copy_table(ctx, name) for name in EXPORTS)
        self.ice_snaps = _iceberg_snapshot_ids(self.ice_path)

        li = data.lineitem_states(ctx.rel_dir)
        od = data.orders_states(ctx.rel_dir)
        live = li["live"]
        live["__rk"] = data.record_key(live)
        self.live = live
        self.schema = self.table.snapshot().schema
        self.want = {
            ("li", "C3"): data.key_digest(data.record_key(li["c3_deleted"])),
            ("li", "C4"): data.key_digest(data.record_key(li["c4_deleted"])),
            ("li", "snap"): len(live),
            ("o", "C3"): data.key_digest(od["m3_deleted"].o_orderkey.astype(str)),
            ("o", "snap"): len(od["live"]),
        }
        # per-cycle requests, drawn once from the seed; index 0 is the
        # warm-up cycle
        rng = np.random.default_rng(ctx.seed)
        n_batch = max(1, round(0.005 * len(live)))
        flags = np.array(sorted(live.l_returnflag.unique()))
        width = max(1, data.ORDERS_ROWS // 50)
        ok = live.l_orderkey.to_numpy()
        self.plan = []
        for c in range(MAX_CYCLES + 1):
            if c % 2 == 1 or c == 0:
                pool = np.flatnonzero(live.l_returnflag.to_numpy() == flags[rng.integers(0, len(flags))])
            else:
                pool = np.arange(len(live))
            idx = np.sort(rng.choice(pool, size=min(n_batch, len(pool)), replace=False))
            lo = int(rng.integers(0, data.ORDERS_ROWS - width))
            hi = lo + width
            self.plan.append({
                "idx": idx, "range": (lo, hi),
                "scan_rows": int(((ok >= lo) & (ok <= hi)).sum()),
                # the foreign paths' order, and the lineitem commit they
                # are asked about (the MOR path asks about its delete, M3)
                "foreign": [str(f) for f in np.array(FOREIGN)[rng.permutation(len(FOREIGN))]],
                "commit": ("C3", "C4")[int(rng.integers(0, 2))],
            })

    def warmup(self, ctx: Ctx) -> None:
        # a one-partition cycle, so that every op runs once: the first
        # call of each op in a fresh JVM costs several times its steady
        # latency
        self._cycle(ctx, self.plan[0], 1)

    def cycle(self, ctx: Ctx, c: int) -> None:
        self._cycle(ctx, self.plan[c], c % 2)

    def _batch_df(self, ctx: Ctx, idx):
        from pyspark.sql import functions as F

        pdf = self.live.iloc[idx].drop(columns="__rk")
        df = ctx.spark.createDataFrame(pdf)
        return df.select(*[
            F.col(f.name).cast(f.dataType) for f in self.schema.fields if f.name in pdf.columns
        ])

    def _cycle(self, ctx: Ctx, plan: dict, parity: int) -> None:
        from pyspark.sql import functions as F

        from hudi_delete_view_spark.sources import delete_view as dvm

        spark = ctx.spark
        keys = self.live["__rk"].iloc[plan["idx"]]
        want = data.key_digest(keys)
        batch = self._batch_df(ctx, plan["idx"])

        ts_del = ctx.next_ts()
        b0 = dir_bytes(self.path)
        md = ctx.op("delete", lambda: self.table.delete(batch, ts_del),
                    lambda m: m.total_records_deleted == want[0], parity=parity, ts=ts_del)
        self._record_write(ctx, md, b0, want[0])

        def view_path():
            return dvm.DeleteView(spark, self.path, ts_del).view_path()

        ctx.cold()
        shutil.rmtree(view_path(), ignore_errors=True)
        cold = {}

        def check_cold(n):
            cold["d"] = digest(spark.read.parquet(view_path()), F.col("_hoodie_record_key"))
            return n == want[0] and cold["d"] == want

        ctx.op("dv_cold", lambda: dvm.DeleteView(spark, self.path, ts_del).dataset().count(),
               check_cold, parity=parity, fmt="cow")
        ctx.op("dv_warm", lambda: dvm.DeleteView(spark, self.path, ts_del).dataset().count(),
               lambda n: n == want[0] and digest(
                   spark.read.parquet(view_path()), F.col("_hoodie_record_key")) == cold.get("d"),
               parity=parity)

        ts_up = ctx.next_ts()
        b0 = dir_bytes(self.path)
        md = ctx.op("upsert", lambda: self.table.upsert(batch, ts_up),
                    lambda m: self.table.snapshot().count() == len(self.live), parity=parity)
        self._record_write(ctx, md, b0, want[0])

        lo, hi = plan["range"]
        ctx.op("scan", lambda: self.table.scan({"l_orderkey": (lo, hi)}).count(),
               lambda n: n == plan["scan_rows"], parity=parity)

        # the foreign paths run in one-partition cycles only, which makes
        # the two parities' cycles about equally long
        if parity == 1:
            for fmt in plan["foreign"]:
                self._foreign(ctx, fmt, "C3" if fmt == "mor" else plan["commit"], parity)

    def _reader(self, ctx: Ctx, fmt: str, q: str):
        """(DataFrame factory, key column, table tag) for one foreign
        request: a delete view of commit ``q``, or the snapshot."""
        from hudi_delete_view_spark.sources import delta, fixtures, iceberg

        spark = ctx.spark
        if fmt == "delta":
            if q == "snap":
                return (lambda: delta.read_delta_snapshot(spark, self.delta_path)), lineitem_key(), "li"
            version = {"C3": 2, "C4": 3}[q]
            return (lambda: delta.read_delta_delete_view(
                spark, self.delta_path, version, data.KEY_COLS)), lineitem_key(), "li"
        if fmt == "iceberg":
            if q == "snap":
                return (lambda: iceberg.read_iceberg_snapshot(spark, self.ice_path)), lineitem_key(), "li"
            sid = self.ice_snaps[{"C3": 2, "C4": 3}[q]]
            return (lambda: iceberg.read_iceberg_delete_view(
                spark, self.ice_path, sid, data.KEY_COLS)), lineitem_key(), "li"
        if q == "snap":
            return (lambda: self.mor.snapshot()), orders_key(), "o"
        return (lambda: self.mor.delete_view(fixtures.C3)), orders_key(), "o"

    def _foreign(self, ctx: Ctx, fmt: str, q: str, parity: int | None) -> None:
        """One cold request through a foreign path, checked against the
        oracle: a delete view's key digest, or a snapshot's row count."""
        ctx.cold()
        make, key, tag = self._reader(ctx, fmt, q)
        want = self.want[(tag, q)]
        timing: dict = {}
        frames: list = []

        def run():
            t0 = time.perf_counter()
            df = make()
            if ctx.tracer is not None:
                df._jdf.queryExecution().executedPlan()
            t1 = time.perf_counter()
            frames.append(df)
            out = df.count() if q == "snap" else digest(df, key)
            timing["plan_s"] = t1 - t0
            timing["exec_s"] = time.perf_counter() - t1
            return out

        kind = "snapshot" if q == "snap" else "view"
        ctx.op(kind, run, lambda got: got == want, fmt=fmt, q=q, parity=parity)
        rec = ctx.ops[-1]
        rec.update(timing)
        if ctx.tracer is not None and frames:
            try:
                rec["files_read"] = len(frames[0].inputFiles())
            except Exception as e:  # noqa: BLE001 - recorded, not fatal
                rec["files_read_error"] = f"{type(e).__name__}: {e}"

    def _record_write(self, ctx: Ctx, md, b0: int, rows: int) -> None:
        rec = ctx.ops[-1]
        rec["bytes_added"] = dir_bytes(self.path) - b0
        rec["rows"] = rows
        if md is not None:
            stats = [s for _p, s in md.all_stats()]
            rec["groups_rewritten"] = len(stats)
            rec["stat_bytes"] = sum(s.file_size_bytes for s in stats)

    def trace_counts(self, ctx: Ctx) -> dict:
        """Deterministic counts from cycles 1-2 (one one-partition cycle and
        one all-partition cycle), read from the table's public metadata;
        then, outside the timed cycles, one checked snapshot count through
        each foreign path, so that the ``read_*_snapshot`` readers are
        traced too."""
        from hudi_delete_view_spark.plans.timeline import Timeline

        tl = Timeline(self.path)
        out = {"delete_view.file_pairs": 0.0, "delete_view.rows_read": 0.0,
               "delete_view.rows_out": 0.0, "cow.scan.files_kept": 0.0,
               "cow.scan.files_total": 0.0, "cow.scan.rows_out": 0.0}
        deletes = [r for r in ctx.ops if r["op"] == "delete" and r["cycle"] in (1, 2)]
        for rec in deletes:
            meta = tl.commit_metadata(rec["ts"])
            for _p, stat in meta.all_stats():
                if stat.num_deletes > 0 and stat.prev_commit is not None:
                    out["delete_view.file_pairs"] += 1
                    prev = tl.commit_metadata(stat.prev_commit).find_write_stat(stat.file_id)
                    out["delete_view.rows_read"] += prev.num_writes if prev else 0
            out["delete_view.rows_out"] += meta.total_records_deleted
        for c in (1, 2):
            kept, total = self.table.pruned_files({"l_orderkey": self.plan[c]["range"]})
            out["cow.scan.files_kept"] += len(kept)
            out["cow.scan.files_total"] += total
            out["cow.scan.rows_out"] += self.plan[c]["scan_rows"]
        n = max(1, len(deletes))
        out = {k: v / n for k, v in out.items()}
        out["delete_view.yield"] = (
            out["delete_view.rows_out"] / out["delete_view.rows_read"]
            if out["delete_view.rows_read"] else 0.0
        )
        out["timeline.instants"] = float(len(tl.timestamps()))
        ctx.cycle = -1
        for fmt in FOREIGN:
            self._foreign(ctx, fmt, "snap", None)
        return out


def _iceberg_snapshot_ids(table_path: str) -> list[int]:
    """Snapshot ids in commit order, from the table's latest metadata JSON
    (Iceberg spec layout: metadata/v<N>.metadata.json)."""
    def version(p: str) -> int:
        name = os.path.basename(p)
        return int(name[1:].split(".")[0]) if name[1:].split(".")[0].isdigit() else -1

    latest = max(glob.glob(os.path.join(table_path, "metadata", "*.metadata.json")), key=version)
    with open(latest) as f:
        meta = json.load(f)
    snaps = sorted(meta["snapshots"], key=lambda s: s["sequence-number"])
    return [s["snapshot-id"] for s in snaps]


# --------------------------------------------------------------------------
# dedup_funnel: cold MinHash dedup, then a cold incremental dedup
# --------------------------------------------------------------------------
ORACLE_QUERY = "dedup_minhash_survivors"
_ORACLE_TAIL = "SELECT doc_id, source, n_chars FROM documents"


class DedupFunnel:
    name = "dedup_funnel"
    needs_fixtures = False
    setup_reps = 2
    paired = False
    nominal_cycle_s = 11.0  # the first cycle, on a quiet 4-vCPU VM
    primary = ("dedup",)
    secondary = ("dedup_incr",)

    def setup(self, ctx: Ctx) -> None:
        import duckdb

        from hudi_delete_view_spark import queries as registry

        self.path = os.path.join(ctx.work, "documents.parquet")
        corpus = data.write_corpus(self.path, ctx.seed)
        self.doc_ids = corpus.doc_id.to_numpy()
        registry.load_all()
        sql = registry.ORACLES[ORACLE_QUERY]
        head, sep, tail = sql.rpartition(_ORACLE_TAIL)
        if not sep or "NOT IN (SELECT DISTINCT id_b FROM verified)" not in tail:
            raise RuntimeError(f"unexpected oracle SQL shape for {ORACLE_QUERY}")
        con = duckdb.connect()
        try:
            con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.path}')")
            # the oracle's funnel CTEs, ending at its verified pairs: the
            # survivors are its final SELECT (documents whose id is no
            # pair's id_b), and the incremental rule follows from the same
            # pairs, so one oracle pass serves both checks
            self.verified = con.execute(head + "SELECT id_a, id_b FROM verified").fetchall()
        finally:
            con.close()
        losers = {b for _a, b in self.verified}
        self.survivors = {int(i) for i in self.doc_ids if int(i) not in losers}
        rng = np.random.default_rng(ctx.seed + 1)
        n_inc = max(1, len(self.doc_ids) // 5)
        self.increments = [
            np.sort(rng.choice(self.doc_ids, size=n_inc, replace=False))
            for _ in range(MAX_CYCLES + 1)
        ]

    def _inc_survivors(self, inc_ids) -> set:
        """minhash_dedup_incremental's drop rule over the oracle pairs: an
        increment doc goes if it verifies against any base doc or against a
        smaller-id increment doc."""
        inc = set(int(i) for i in inc_ids)
        losers = set()
        for a, b in self.verified:  # a < b
            if b in inc:
                losers.add(b)
            elif a in inc:
                losers.add(a)
        return inc - losers

    def warmup(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from hudi_delete_view_spark.operators import dedup

        # one cycle over a small corpus: the first run of each funnel in a
        # JVM compiles every stage, whatever the input size
        path = os.path.join(ctx.work, "warmup.parquet")
        ids = data.write_corpus(path, ctx.seed, per_replica=50).doc_id.to_numpy()
        inc_ids = [int(i) for i in ids[::5]]
        ctx.cold()
        docs = ctx.spark.read.parquet(path)
        ctx.op("dedup", lambda: dedup.minhash_dedup(
            docs, "doc_id", "text", threshold=0.8).select("doc_id").collect())
        ctx.cold()
        docs = ctx.spark.read.parquet(path)
        inc = docs.filter(F.col("doc_id").isin(inc_ids))
        base = docs.filter(~F.col("doc_id").isin(inc_ids))
        ctx.op("dedup_incr", lambda: dedup.minhash_dedup_incremental(
            base, inc, "doc_id", "text", threshold=0.8).select("doc_id").collect())

    def cycle(self, ctx: Ctx, c: int) -> None:
        from pyspark.sql import functions as F

        from hudi_delete_view_spark.operators import dedup

        spark = ctx.spark
        ctx.cold()
        docs = spark.read.parquet(self.path)
        ctx.op("dedup", lambda: {r[0] for r in dedup.minhash_dedup(
            docs, "doc_id", "text", threshold=0.8).select("doc_id").collect()},
            lambda got: got == self.survivors, docs=len(self.doc_ids))
        inc_ids = [int(i) for i in self.increments[c]]
        want = self._inc_survivors(inc_ids)
        ctx.cold()
        docs = spark.read.parquet(self.path)
        inc = docs.filter(F.col("doc_id").isin(inc_ids))
        base = docs.filter(~F.col("doc_id").isin(inc_ids))
        ctx.op("dedup_incr", lambda: {r[0] for r in dedup.minhash_dedup_incremental(
            base, inc, "doc_id", "text", threshold=0.8).select("doc_id").collect()},
            lambda got: got == want)

    def trace_counts(self, ctx: Ctx) -> dict:
        """Funnel counts from the public stage functions (traced run only,
        after the timed cycles)."""
        from hudi_delete_view_spark.operators import dedup

        docs = ctx.spark.read.parquet(self.path)
        ctx.cold()
        cand = dedup.minhash_lsh_candidate_pairs(docs, "doc_id", "text").count()
        ctx.cold()
        ver = dedup.minhash_verified_pairs(docs, "doc_id", "text", threshold=0.8).count()
        ctx.cold()
        return {
            "dedup.candidates": float(cand),
            "dedup.verified": float(ver),
            "dedup.verify_yield": ver / cand if cand else 0.0,
            "dedup.survivors": float(len(self.survivors)),
        }


WORKLOADS = {w.name: w for w in (DvChurn, DedupFunnel)}
