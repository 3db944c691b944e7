"""Self-tests of the benchmark's layer tracing.

Usage, from the repository root: ``python3 perfbench/selftest.py``.
Prints one PASS/FAIL line per pin and exits 1 if any fails. Pins:

1. the ``read_table`` wrapper is installed before ``queries.load_all()``,
   so ``where_predicates`` records at least one ``read_table`` call;
2. the spans account for an op's wall: ``|op - (build + exec)|`` is at most
   the plan span (forced only under tracing) plus 5% of the op or 50 ms;
3. a ``stream_*`` op reports more than 0 jobs, although Structured
   Streaming runs them outside the caller's job group;
4. job counts of a fixed op repeat exactly: the second and third of three
   runs in one session agree on build and exec jobs.
"""

from __future__ import annotations

import os
import sys

from run import RUNS, prepare_run_dir, remove_run_dir

STREAM_OP = "stream_interval_join_outer"


def _trace_op(ctx, tracer, op) -> dict:
    tracer.new_op()
    first = len(tracer.spans)
    with tracer.span("op", op_name=op.name):
        op.run(ctx)
    spans = tracer.spans[first:]
    by = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)
    return {
        "op_s": by["op"][0].s, "op_jobs": by["op"][0].jobs,
        "build_s": sum(s.s for s in by.get("build", [])),
        "build_jobs": sum(s.jobs for s in by.get("build", [])),
        "plan_s": sum(s.s for s in by.get("plan", [])),
        "exec_s": sum(s.s for s in by.get("exec", [])),
        "exec_jobs": sum(s.jobs for s in by.get("exec", [])),
        "read_table_calls": len(by.get("read_table", [])),
    }


def main() -> int:
    run_dir = os.path.join(RUNS, f"selftest-{os.getpid()}")
    try:
        prepare_run_dir(run_dir)
        from dbt_decodable_spark.sources import tables
        from tracing import Tracer, wrap_read_table

        tracer = Tracer(True)
        wrap_read_table(tables, tracer)
        from dbt_decodable_spark.queries import load_all
        from dbt_decodable_spark.session import get_spark

        import workloads as wl

        registry = load_all()
        spark = get_spark(app_name="perfbench-selftest")
        tracer.attach(spark)
        ctx = wl.Ctx(spark=spark, tracer=tracer, sf_dir=tables.DEFAULT_SF_DIR,
                     registry=registry)
        results = []

        wp = [_trace_op(ctx, tracer, wl.RegistryOp("where_predicates")) for _ in range(3)]
        results.append(("where_predicates records read_table calls",
                        wp[-1]["read_table_calls"] >= 1, wp[-1]))
        r = wp[-1]
        gap = abs(r["op_s"] - (r["build_s"] + r["exec_s"]))
        results.append(("build_s + exec_s accounts for the op wall",
                        gap <= r["plan_s"] + max(0.05 * r["op_s"], 0.05),
                        {"gap_s": gap, **r}))
        st = [_trace_op(ctx, tracer, wl.RegistryOp(STREAM_OP)) for _ in range(3)]
        results.append((f"{STREAM_OP} reports jobs", st[-1]["op_jobs"] > 0, st[-1]))
        for name, runs in (("where_predicates", wp), (STREAM_OP, st)):
            a, b = runs[1], runs[2]
            same = all(a[k] == b[k] for k in ("build_jobs", "exec_jobs", "op_jobs"))
            results.append((f"{name} job counts repeat", same,
                            {k: (a[k], b[k]) for k in ("build_jobs", "exec_jobs")}))
        spark.stop()
    finally:
        remove_run_dir(run_dir)
    for name, ok, detail in results:
        print(f"{'PASS' if ok else 'FAIL'} {name}: {detail}")
    return 0 if all(ok for _n, ok, _d in results) else 1


if __name__ == "__main__":
    sys.exit(main())
