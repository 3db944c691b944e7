"""Benchmark of the engine's user operations: SQL models, incrementally
maintained projects and bounded previews.

Usage, from the repository root::

    python3 perfbench/run.py --workload batch_models --seed 1 --seconds 12 --trace 0
    python3 perfbench/selftest.py   # pins of the layer tracing

Workloads (``workloads.py``; why each, in ``BENCHMARK.json``):
``batch_models`` and ``ivm_project``. The tables are the package's
read-only synthetic sf0.1 set (``sources.tables.DEFAULT_SF_DIR``, set by
``$SPARK_GRAFT_SF_DIR``); the seed draws only the op order and the
generated inputs (preview slices, churn batches).

One run, in one process on the package's default session
(``local[<cpus>]``):

1. set up ``SETUPS`` times and report the median: session start (the first
   includes the JVM launch), then table registration (``batch_models``) or
   project creation (``ivm_project``);
2. check the stateless ops' outputs against their DuckDB oracles, then
   (``batch_models``) run one untimed warm-up pass, so the timed pass
   finds the JIT warm;
3. timed section: the workload's fixed op set in seeded order, one client,
   no think time;
4. check the stateful ops' outputs (the maintained view against a
   declarative recompute, previews against a batch fold);
5. print a context line (host, per-op walls, failures, memory) and, last,
   one JSON result.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
steps with the layer tracer on (``tracing.py``) and reports the per-layer
metrics instead.

Every file a run writes (Spark local dirs, warehouse, checkpoints, event
log, temp files) lives under ``.perfbench_runs/`` in the checkout and is
deleted when the run ends.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = os.path.join(ROOT, ".perfbench_runs")  # per-run scratch, deleted after
WORKLOADS = ("batch_models", "ivm_project")
SETUPS = 3
# Which end-to-end metric each layer's metrics should move, on which
# workload; printed with every traced run.
LAYER_MOVES = {
    "sources": "wall_s on batch_models; ivm_project not at all",
    "queries": "wall_s on batch_models",
    "catalyst": "wall_s on batch_models",
    "exec": "wall_s on batch_models",
    "streaming": "wall_s on ivm_project",
    "plans": "wall_s on ivm_project (its previews)",
    "catalog": "wall_s on ivm_project; compaction trades catalog.bytes_written "
               "against catalog.files and catalog.read.s",
}
# Threads for the pre-timing checks of stateless ops (one DuckDB cursor each).
CHECK_THREADS = 4
# One warm batch_models pass takes about this long on a 4-core host; a run
# makes round(seconds / BATCH_PASS_S) timed passes (at least one) over its
# fixed op set, after one untimed warm-up pass. ivm_project makes one pass:
# its activations cannot be repeated.
BATCH_PASS_S = 10.0


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the span tree (JSON lines) here")
    return ap.parse_args(argv)


def _cpu_canary_s() -> float:
    """Small fixed-work CPU canary (single thread), a host context field."""
    t = time.perf_counter()
    h = hashlib.sha256()
    block = b"x" * 65536
    for _ in range(2000):
        h.update(block)
    return time.perf_counter() - t


def _peak_rss_mb(spark) -> float:
    """Peak RSS of this process plus the JVM it launched."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _tail(walls: list[float]) -> dict:
    """The highest percentile with at least 10 ops beyond it, with n."""
    n = len(walls)
    if n < 20:
        return {"op_tail_s": None, "n": n, "why": "fewer than 20 ops: no tail percentile"}
    k = n - 11  # 0-based rank with exactly 10 ops above it
    return {"op_tail_s": sorted(walls)[k], "pct": round(100.0 * (k + 1) / n, 1), "n": n}


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit (it exits
    when its stdin closes; its Python workers exit with it)."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def _duck(sf_dir: str):
    """DuckDB over the same tables, as ``tools/oracle_check.py`` sets it up."""
    import duckdb
    import oracle_check

    con = duckdb.connect()
    for t in oracle_check.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _check(ops, ctx, con, threads: int = 1) -> dict[str, str]:
    """Run each op's output check; returns {op name: why it failed}."""
    failed = {}

    def one(op):
        duck = con.cursor()  # DuckDB connections are per thread
        try:
            op.check(ctx, duck)
        except Exception as e:  # a wrong output or a check that cannot run
            failed[op.name] = f"{type(e).__name__}: {e}"[:300]
        finally:
            duck.close()

    with ThreadPoolExecutor(threads) as pool:
        for f in [pool.submit(one, op) for op in ops]:
            f.result()
    return failed


def _pass(ops, ctx, failed_ops: dict) -> tuple[list[dict], float]:
    """Run each op once, in list order; a raising op is recorded in
    ``failed_ops`` and the pass goes on. Returns per-op records and the
    pass wall, the sum of the op walls."""
    tracer, jvm = ctx.tracer, ctx.spark.sparkContext._jvm
    records = []
    for op in ops:
        jvm.System.gc()  # untimed: no op pays for an earlier op's garbage
        tracer.new_op()
        t = time.perf_counter()
        try:
            with tracer.span("op", op_name=op.name, kind=op.kind):
                op.run(ctx)
            ok = True
        except Exception as e:  # a failing op is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            failed_ops[op.name] = f"raised {type(e).__name__}: {e}"[:300]
            ok = False
        records.append({"op": op, "wall": time.perf_counter() - t, "ok": ok})
    return records, sum(r["wall"] for r in records)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "dbt_decodable_spark")):
        print("perfbench: the dbt_decodable_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    from dbt_decodable_spark.sources.tables import DEFAULT_SF_DIR as sf_dir

    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        print(f"perfbench: no test tables in {sf_dir}", file=sys.stderr)
        return 2
    run_dir = os.path.join(RUNS, f"{args.workload}-{os.getpid()}")
    # a terminated run still deletes its files (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, sf_dir, run_dir)
    finally:
        remove_run_dir(run_dir)


def remove_run_dir(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.rmdir(RUNS)
    except OSError:
        pass  # another run still owns a directory there


def prepare_run_dir(run_dir: str) -> str:
    """Point every temp location of this process, its JVM and its Python
    workers into ``run_dir``; make the package and ``tools/`` importable.
    Returns the temp dir."""
    for sub in ("tmp", "local", "evlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    return tmp


def _run(args, sf_dir: str, run_dir: str) -> int:
    tmp = prepare_run_dir(run_dir)

    from dbt_decodable_spark.sources import tables
    from tracing import ProgressListener, Tracer, wrap_read_table

    tracer = Tracer(bool(args.trace))
    if args.trace:
        wrap_read_table(tables, tracer)  # before load_all(): see its doc

    from dbt_decodable_spark.queries import load_all
    from dbt_decodable_spark.session import get_spark

    import workloads as wl

    registry = load_all()
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "evlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    # -- set-up, SETUPS times; the first includes the JVM launch ------------
    setup_times, spark, project = [], None, None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        if args.workload == "ivm_project":
            project = wl.Project(spark, os.path.join(run_dir, f"wh{i}"))
        else:
            tables.register_testdata(spark, sf_dir)
        setup_times.append(time.perf_counter() - t)
    sc = spark.sparkContext
    rng = random.Random(args.seed)
    ops = wl.build_ops(args.workload, registry, rng)
    ctx = wl.Ctx(spark=spark, tracer=tracer, sf_dir=sf_dir, registry=registry,
                 project=project)
    duck = _duck(sf_dir)

    # -- checks of stateless ops: before timing, so they also warm the JIT ---
    t = time.perf_counter()
    failed_ops = _check([op for op in ops if op.check_first], ctx, duck, CHECK_THREADS)
    check_s = time.perf_counter() - t

    if args.workload == "batch_models":
        # untimed warm-up pass: the JIT is still speeding the ops up after
        # the check pass, and a timed pass must not carry that trend
        _pass(ops, ctx, failed_ops)

    listener = None
    if args.trace:
        listener = ProgressListener()
        spark.streams.addListener(listener)
    tracer.attach(spark)

    # -- timed section ------------------------------------------------------
    passes = 1 if args.workload == "ivm_project" else max(
        1, round(args.seconds / BATCH_PASS_S))
    records, pass_walls = [], []
    for i in range(passes):
        if args.workload == "batch_models":
            rng.shuffle(ops)  # a fresh order per pass spreads order effects
        recs, wall = _pass(ops, ctx, failed_ops)
        records += recs
        pass_walls.append(wall)
    peak_rss = _peak_rss_mb(spark)
    stream_summary = None
    if listener is not None:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        listener.wait_idle()
        stream_summary = listener.summary()
    for q in spark.streams.active:
        q.stop()

    # -- checks of stateful ops, after the timed section --------------------
    t = time.perf_counter()
    failed_ops.update(_check([op for op in ops if not op.check_first
                              and op.name not in failed_ops], ctx, duck))
    check_s += time.perf_counter() - t
    duck.close()
    for r in records:
        r["ok"] = r["ok"] and r["op"].name not in failed_ops
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "cpu_canary_s": round(_cpu_canary_s(), 4), "sf_dir": sf_dir,
        "passes": passes, "ops_per_pass": len(ops),
        "setup_s_each": [round(s, 3) for s in setup_times],
        "check_s": round(check_s, 3), "peak_rss_mb": round(peak_rss, 1),
    }
    app_id = sc.applicationId
    _stop(spark)

    walls = [r["wall"] for r in records]
    n_failed = sum(1 for r in records if not r["ok"])
    # a context field: across seeds it spreads too widely on batch_models
    # to bound as an end-to-end metric (README.md)
    context["op_p50_s"] = statistics.median(walls)
    context.update(_tail(walls))
    context["failed_frac"] = n_failed / len(records)
    context["failed_ops"] = failed_ops
    context["op_walls"] = [[r["op"].name, round(r["wall"], 3)] for r in records]
    if args.trace:
        context["layer_moves"] = LAYER_MOVES
        metrics = _layer_metrics(tracer, records, pass_walls, stream_summary, project,
                                 os.path.join(run_dir, "evlog", app_id),
                                 os.path.join(run_dir, "evlog"), context["default_parallelism"])
        if args.spans:
            tracer.dump(args.spans)
    else:
        metrics = {
            "setup_s": (statistics.median(setup_times), "s"),
            "wall_s": (statistics.median(pass_walls), "s"),
        }
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": not failed_ops,
        "attempted": len(records),
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _layer_metrics(tracer, records, pass_walls, stream_summary, project, evlog,
                   out_dir, cores) -> dict:
    """Per-layer metrics from the span tree, the event log and the
    streaming listener."""
    from query_profile import parse_eventlog
    from tracing import slice_eventlog

    spans = tracer.spans

    def named(n):
        return [s for s in spans if s.name == n]

    def total(ss, attr=None):
        return sum((s.attrs.get(attr, 0) if attr else s.s) for s in ss)

    m: dict[str, tuple[float, str]] = {}
    rt = named("read_table")
    m["sources.read_table.calls"] = (len(rt), "count")
    m["sources.read_table.s"] = (total(rt), "s")
    rt_jobs = sum(s.jobs for s in rt)
    m["sources.read_table.jobs"] = (rt_jobs, "count")
    m["sources.read_table.jobs_per_call"] = (rt_jobs / len(rt) if rt else 0.0, "ratio")
    build = named("build")
    m["queries.build_s"] = (total(build), "s")
    m["queries.build_jobs"] = (sum(s.jobs for s in build), "count")
    plan = named("plan")
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = (total(plan, ph + "_ms"), "ms")

    ex = named("exec")
    slices = slice_eventlog(evlog, {str(i): (s.job_lo, s.job_hi) for i, s in enumerate(ex)},
                            out_dir)
    stats = {k: (parse_eventlog(p), failed) for k, (p, failed) in slices.items()}
    exec_s = total(ex)
    task_s = sum(st["task_time_s"] for st, _ in stats.values())
    m["exec.s"] = (exec_s, "s")
    m["exec.jobs"] = (sum(s.jobs for s in ex), "count")
    m["exec.stages"] = (sum(st["n_stages"] for st, _ in stats.values()), "count")
    m["exec.tasks"] = (sum(st["n_tasks"] for st, _ in stats.values()), "count")
    m["exec.task_s"] = (task_s, "s")
    m["exec.task_util"] = (task_s / (exec_s * cores) if exec_s else 0.0, "ratio")
    m["exec.shuffle_read_mb"] = (sum(st["shuffle_read_mb"] for st, _ in stats.values()), "MB")
    m["exec.shuffle_write_mb"] = (sum(st["shuffle_write_mb"] for st, _ in stats.values()), "MB")
    m["exec.driver_gap_s"] = (sum(
        max(0.0, s.s - stats[str(i)][0]["jobs_covered_s"]) for i, s in enumerate(ex)), "s")
    m["exec.failed_tasks"] = (sum(f for _, f in stats.values()), "count")

    units = {"streaming.state_mem_mb": "MB"}
    for k, v in (stream_summary or {}).items():
        unit = units.get(k, "ms" if k.endswith("_ms") else "count")
        m[k] = (v, unit)

    pv = named("preview")
    m["plans.preview.calls"] = (len(pv), "count")
    m["plans.preview.s"] = (total(pv), "s")
    m["plans.preview.rows"] = (total(pv, "rows"), "count")

    act = named("activate")
    init = [s for s in act if s.attrs.get("init")]
    churn = [s for s in act if not s.attrs.get("init")]
    ingest = named("ingest")
    m["catalog.init_activate.s"] = (total(init), "s")
    m["catalog.init_activate.jobs"] = (sum(s.jobs for s in init), "count")
    m["catalog.activate.s"] = (total(churn), "s")
    m["catalog.activate.jobs"] = (sum(s.jobs for s in churn), "count")
    m["catalog.ingest.s"] = (total(ingest), "s")
    m["catalog.read.s"] = (total(named("read")), "s")
    files = size = 0
    churn_bytes = 0
    if project is not None:
        from workloads import dir_bytes

        files, size = dir_bytes(project.warehouse)
        churn_bytes = dir_bytes(project.path())[1] - project.base_bytes
    written = total(act, "bytes_written")
    m["catalog.files"] = (files, "count")
    m["catalog.bytes_written"] = (written / 1e6, "MB")
    m["catalog.write_amp"] = (written / churn_bytes if churn_bytes else 0.0, "ratio")
    m["catalog.store_mb"] = (size / 1e6, "MB")
    churn_rows = total(ingest, "rows")
    churn_s = total(churn)
    m["catalog.delta_rows_per_s"] = (churn_rows / churn_s if churn_s else 0.0, "1/s")

    op_wall = sum(r["wall"] for r in records)
    m["trace.wall_s"] = (statistics.median(pass_walls), "s")
    m["trace.overhead_s"] = (tracer.overhead_s, "s")
    m["trace.overhead_frac"] = (tracer.overhead_s / op_wall if op_wall else 0.0, "ratio")
    return m


if __name__ == "__main__":
    sys.exit(main())
