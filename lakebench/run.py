"""lakebench: the delete-view lake measured end to end and layer by layer.

    python3 lakebench/run.py --workload dv_churn --seed 1 --seconds 15 --trace 0

Runs one closed-loop workload (one client, one process) against the
package in the checkout this file sits in, checks every answer, and prints
as its last stdout line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it is a diagnostics
object (environment record, per-op sample counts and tails, the
per-workload metric names of BENCHMARK.md). Everything the run writes
lives under ``.lakebench/`` in the checkout. See BENCHMARK.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hudi_delete_view_spark"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["dv_churn", "dedup_funnel"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def source_digest() -> str:
    """Content hash of the package sources and the benchmark's data
    generator: names the fixture cache and stands in for a git revision
    when the checkout is not a repository."""
    import data

    sizes = (data.LINEITEM_ROWS, data.ORDERS_ROWS, data.DOCS_PER_REPLICA, data.DOC_REPLICAS)
    h = hashlib.sha1(repr(sizes).encode())
    paths = [os.path.join(HERE, "data.py")]
    for d, _sub, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_revision() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def configure_env(run_dir: str, event_dir: str | None) -> None:
    """Pin the load shape and keep every byte Spark writes in the run dir.
    Must run before pyspark starts its JVM."""
    ncpu = len(os.sched_getaffinity(0))
    local = os.path.join(run_dir, "local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "graft_scratch")
    # 3g: at 2g the dedup funnel spent ~15% of a cycle in GC, the largest
    # source of run-to-run spread measured. The heap starts at its maximum
    # so that peak RSS does not depend on when the heap grew.
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    args = [
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}",
    ]
    if event_dir is not None:
        from tracing import spark_conf_args

        args += spark_conf_args(event_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def stop_spark(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# -- statistics --------------------------------------------------------------
def p50(recs: list[dict]) -> float | None:
    """Median latency net of steal (``workloads.net_latency``). Where
    samples carry a cycle parity (dv_churn's one-partition /
    all-partition cycles), the mean of the two parities' medians, so that
    a run's cycle count cannot shift the statistic."""
    if not recs:
        return None
    groups: dict = {}
    for r in recs:
        groups.setdefault(r.get("parity"), []).append(r["net"])
    return statistics.fmean(statistics.median(v) for v in groups.values())


def role_p50(ops: list[dict], names: tuple) -> float | None:
    """A role's latency: the mean over each cycle's ops of that role, then
    the median over cycles (parity-balanced as in ``p50``)."""
    per_cycle: dict = {}
    for r in ops:
        if r["op"] in names:
            per_cycle.setdefault(r["cycle"], []).append(r)
    return p50([
        {"net": statistics.fmean(r["net"] for r in rs), "parity": rs[0].get("parity")}
        for rs in per_cycle.values()
    ])


def tail(values: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n <= 10:
        return None
    pct = int(100 * (n - 10) / n)
    v = sorted(values)
    return {"p": pct, "value": v[min(n - 1, int(pct / 100 * n))]}


def op_table(ops: list[dict]) -> dict:
    """Per op: sample count, median wall and net latency, and the tail of
    the wall latency."""
    out: dict = {}
    for r in ops:
        out.setdefault(r["op"], []).append(r)
    return {k: {"n": len(v), "p50_wall": statistics.median(r["t"] for r in v),
                "p50_net": statistics.median(r["net"] for r in v),
                "tail": tail([r["t"] for r in v])}
            for k, v in out.items()}


# -- main ----------------------------------------------------------------------
def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"lakebench: package {PACKAGE!r} not found next to {HERE}", file=sys.stderr)
        return 2
    import workloads as wl_mod

    steal_start = wl_mod.steal_s()
    sys.path.insert(0, ROOT)
    load_1m = os.getloadavg()[0]
    ncpu = len(os.sched_getaffinity(0))
    digest = source_digest()
    work_root = os.path.join(ROOT, ".lakebench")
    cache = os.path.join(work_root, "cache", digest)
    run_dir = os.path.join(work_root, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(cache, exist_ok=True)
    traced = bool(args.trace)
    event_dir = os.path.join(run_dir, "events") if traced else None
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
    configure_env(run_dir, event_dir)

    import pyspark

    from hudi_delete_view_spark.session import get_spark

    tracer = None
    if traced:
        import tracing

        tracer = tracing.Tracer()
        tracing.instrument(tracer)

    spark = get_spark("lakebench")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    start_s = time.perf_counter() - T_PROCESS
    env = {
        "nproc": ncpu,
        "load_1m": round(load_1m, 2),
        "loaded": load_1m > ncpu,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "revision": git_revision() or f"src-{digest}",
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "master": spark.sparkContext.master,
    }
    try:
        workload = wl_mod.WORKLOADS[args.workload]()
        t0 = time.perf_counter()
        if workload.needs_fixtures:
            wl_mod.ensure_fixtures(spark, cache)
        fixture_build_s = time.perf_counter() - t0
        ctx = wl_mod.Ctx(spark, args.workload, args.seed, os.path.join(run_dir, "data"), cache, tracer)
        os.makedirs(ctx.work, exist_ok=True)
        rep_s = []
        for _ in range(workload.setup_reps):
            t0 = time.perf_counter()
            workload.setup(ctx)
            rep_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        workload.warmup(ctx)
        warmup_s = time.perf_counter() - t0
        setup_s = start_s + statistics.median(rep_s) + warmup_s
        # steal over the whole setup, repetitions included
        setup_net = setup_s * wl_mod.net_latency(1.0, (wl_mod.steal_s() - steal_start) / (
            time.perf_counter() - T_PROCESS))

        # closed loop, one client. The cycle count is the fewest cycles of
        # the workload's nominal length that fill --seconds, not whatever
        # fits: with a few cycles per run, and later cycles faster than
        # earlier ones, a count that moved with the box's speed moved the
        # medians too
        n_cycles = max(1, min(wl_mod.MAX_CYCLES, math.ceil(args.seconds / workload.nominal_cycle_s)))
        cycle_s: list[float] = []
        cycle_net: list[float] = []
        t_meas = time.perf_counter()
        steal0 = wl_mod.steal_s()
        for c in range(1, n_cycles + 1):
            ctx.cycle = c
            s0 = wl_mod.steal_s()
            t0 = time.perf_counter()
            workload.cycle(ctx, c)
            cycle_s.append(time.perf_counter() - t0)
            cycle_net.append(wl_mod.net_latency(cycle_s[-1], wl_mod.steal_s() - s0))
        measure_s = time.perf_counter() - t_meas
        steal_frac = (wl_mod.steal_s() - steal0) / (ncpu * measure_s)

        counts = workload.trace_counts(ctx) if traced else {}
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
        udf_s = None
        if traced:
            udf_s = tracing.udf_profile_seconds(spark, os.path.join(run_dir, "udf_profile"))
    finally:
        stop_spark(spark)

    ops = ctx.ops
    attempted = len(ops)
    failed = sum(1 for r in ops if not r["ok"])
    timed = [r for r in ops if r["cycle"] >= 1]
    cycles = [{"net": t, "parity": (i + 1) % 2 if workload.paired else None}
              for i, t in enumerate(cycle_net)]

    diag = {
        "env": env,
        "setup": {"start_s": start_s, "setup_reps_s": rep_s, "warmup_s": warmup_s,
                  "fixture_build_s": fixture_build_s,
                  "warmup_ops": {r["op"]: r["t"] for r in ops if r["cycle"] == 0}},
        "measure_s": measure_s,
        "steal_frac": steal_frac,
        "setup_wall_s": setup_s,
        "cycle_s": cycle_s,
        "cycle_net_s": cycle_net,
        "ops": op_table(timed),
        "issue_metrics": issue_metrics(args.workload, timed, attempted, failed, peak_rss_mb),
    }
    if traced:
        metrics = layer_metrics(tracer, ctx, counts, event_dir, cycles, udf_s, diag)
        trace_dir = os.path.join(work_root, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        span_file = os.path.join(trace_dir, f"{args.workload}-{args.seed}.spans.jsonl")
        tracer.dump(span_file)
        diag["spans"] = os.path.relpath(span_file, ROOT)
        last = os.path.join(work_root, "last_untraced", f"{args.workload}.json")
        if os.path.exists(last):
            with open(last) as f:
                untraced = json.load(f)["cycle_p50_s"]
            diag["trace_overhead_frac"] = metrics["trace.cycle_p50_s"]["value"] / untraced - 1
    else:
        metrics = {
            "setup_s": {"value": setup_net, "unit": "s"},
            "cycle_p50_s": {"value": p50(cycles), "unit": "s"},
            "primary_p50_s": {"value": role_p50(timed, workload.primary), "unit": "s"},
            "secondary_p50_s": {"value": role_p50(timed, workload.secondary), "unit": "s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
            "ops_ok_frac": {"value": (attempted - failed) / attempted if attempted else 0.0,
                            "unit": "ratio"},
        }
        os.makedirs(os.path.join(work_root, "last_untraced"), exist_ok=True)
        with open(os.path.join(work_root, "last_untraced", f"{args.workload}.json"), "w") as f:
            json.dump({"cycle_p50_s": metrics["cycle_p50_s"]["value"]}, f)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps(diag, default=str))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def issue_metrics(workload: str, timed: list[dict], attempted: int, failed: int,
                  peak_rss_mb: float) -> dict:
    """The per-workload metric names of BENCHMARK.md's layer map."""
    from workloads import FOREIGN

    def ops(*names):
        return [r for r in timed if r["op"] in names]

    out = {"ops_failed_frac": failed / attempted if attempted else 1.0,
           "peak_rss_mb": peak_rss_mb}
    if workload == "dv_churn":
        writes = ops("delete", "upsert")
        out.update({
            "commit_p50_s": p50(writes),
            "dv_cold_p50_s": p50(ops("dv_cold")),
            "dv_warm_p50_s": p50(ops("dv_warm")),
            "scan_p50_s": p50(ops("scan")),
            "format_read_p50_s": p50(ops("dv_cold", "view")),
            "write_bytes_per_row": (
                sum(r.get("bytes_added", 0) for r in writes)
                / max(1, sum(r.get("rows", 0) for r in writes))
            ),
        })
        for fmt in ("cow",) + FOREIGN:
            out[f"format_read_p50_s.{fmt}"] = p50([r for r in timed if r.get("fmt") == fmt])
    else:
        full = ops("dedup")
        out["dedup_docs_per_s"] = full[0]["docs"] / p50(full) if full else None
        out["dedup_incr_p50_s"] = p50(ops("dedup_incr"))
    return out


LAYER_METRICS = [
    ("timeline.open_s", "s"), ("timeline.metadata_s", "s"), ("timeline.instants", "count"),
    ("slices.resolve_s", "s"),
    ("cow.commit.jobs", "count"), ("cow.commit.groups_rewritten", "count"),
    ("cow.commit.bytes_written", "B"), ("cow.commit.bytes_per_row", "B/row"),
    ("cow.scan.files_kept", "count"), ("cow.scan.files_total", "count"),
    ("cow.scan.rows_out", "count"),
    ("delete_view.file_pairs", "count"), ("delete_view.rows_read", "count"),
    ("delete_view.rows_out", "count"), ("delete_view.yield", "ratio"),
    ("delete_view.materialize_s", "s"), ("delete_view.cache_check_s", "s"),
    *[(f"{fmt}.{m}", u) for fmt in ("delta", "iceberg", "hudi", "mor")
      for m, u in (("plan_s", "s"), ("exec_s", "s"), ("files_read", "count"))],
    ("dedup.candidates", "count"), ("dedup.verified", "count"), ("dedup.verify_yield", "ratio"),
    ("dedup.survivors", "count"), ("dedup.shuffle_bytes", "B"),
    ("python_udf.s", "s"), ("python_udf.rows", "count"),
    ("cache.persisted_bytes", "B"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.shuffle_write_bytes", "B"),
    ("spark.spill_bytes", "B"), ("spark.input_bytes", "B"), ("spark.gc_s", "s"),
    ("trace.cycle_p50_s", "s"),
]


def layer_metrics(tracer, ctx, counts: dict, event_dir: str, cycles: list[dict],
                  udf_s: float | None, diag: dict) -> dict:
    """Per-layer metrics of a traced run. Layers a workload does not touch
    read 0. Time metrics are per measured cycle unless named per op."""
    import tracing

    timed = [r for r in ctx.ops if r["cycle"] >= 1]
    n_cycles = max(1, len(cycles))
    reqs = {f"c{r['cycle']}/{r['op']}" for r in timed}
    val = dict.fromkeys((n for n, _u in LAYER_METRICS), 0.0)
    val.update(counts)
    unavailable: dict = {}

    val["timeline.open_s"] = tracer.total("timeline.open", reqs) / n_cycles
    val["timeline.metadata_s"] = tracer.total("timeline.metadata", reqs) / n_cycles
    val["slices.resolve_s"] = tracer.total("slices.resolve", reqs) / n_cycles

    def mean(xs):
        xs = [x for x in xs if x is not None]
        return statistics.fmean(xs) if xs else 0.0

    cold = [r for r in timed if r["op"] == "dv_cold" or (r["op"] == "view" and r.get("fmt") == "cow")]
    warm = [r for r in timed if r["op"] == "dv_warm"]
    cold_reqs = {f"c{r['cycle']}/{r['op']}" for r in cold}
    warm_reqs = {f"c{r['cycle']}/{r['op']}" for r in warm}
    if cold:
        val["delete_view.materialize_s"] = tracer.total("delete_view.materialize", cold_reqs) / len(cold)
    if warm:
        val["delete_view.cache_check_s"] = tracer.total("delete_view.cache_check", warm_reqs) / len(warm)

    writes = [r for r in timed if r["op"] in ("delete", "upsert")]
    first_writes = [r for r in writes if r["cycle"] in (1, 2)]
    if first_writes:
        val["cow.commit.groups_rewritten"] = mean(r.get("groups_rewritten") for r in first_writes)
        val["cow.commit.bytes_written"] = mean(r.get("stat_bytes") for r in first_writes)
        val["cow.commit.bytes_per_row"] = (
            sum(r["bytes_added"] for r in first_writes) / max(1, sum(r["rows"] for r in first_writes))
        )

    for fmt in ("delta", "iceberg", "hudi", "mor"):
        rs = [r for r in timed if r.get("fmt") == fmt]
        if not rs:
            if fmt == "hudi":
                unavailable["hudi.*"] = "the Hudi MOR path is out of dv_churn (BENCHMARK.md)"
            continue
        val[f"{fmt}.plan_s"] = mean(r.get("plan_s") for r in rs)
        val[f"{fmt}.exec_s"] = mean(r.get("exec_s") for r in rs)
        files = [r["files_read"] for r in rs if "files_read" in r]
        if files:
            val[f"{fmt}.files_read"] = mean(files)
        else:
            unavailable[f"{fmt}.files_read"] = next(
                (r["files_read_error"] for r in rs if "files_read_error" in r), "no plan files")

    val["cache.persisted_bytes"] = float(max((r.get("cached_bytes", 0) for r in timed), default=0))
    val["trace.cycle_p50_s"] = p50(cycles) or 0.0
    if udf_s is not None:
        val["python_udf.s"] = udf_s / n_cycles

    ev = tracing.parse_event_log(event_dir, timed)
    per = ev["per_window"]
    for field in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
                  "spill_bytes", "input_bytes", "gc_s"):
        val[f"spark.{field}"] = sum(per[i][field] for i in per) / n_cycles
    idx = {id(r): i for i, r in enumerate(timed)}
    if first_writes:
        val["cow.commit.jobs"] = mean(per[idx[id(r)]]["jobs"] for r in first_writes)
    full = [r for r in timed if r["op"] == "dedup"]
    if full:
        val["dedup.shuffle_bytes"] = per[idx[id(full[0])]]["shuffle_write_bytes"]
    val["python_udf.rows"] = sum(ev["python_rows"].values()) / n_cycles
    if not ev["files"]:
        unavailable["spark.*"] = "no event log written"
    diag["unavailable"] = unavailable
    diag["spark_per_op"] = {
        f"c{r['cycle']}/{r['op']}" + (f"/{r['fmt']}.{r['q']}" if "q" in r else ""): per[i]
        for i, r in enumerate(timed)
    }
    units = dict(LAYER_METRICS)
    return {n: {"value": float(val[n]), "unit": units[n]} for n, _u in LAYER_METRICS}


if __name__ == "__main__":
    sys.exit(main())
