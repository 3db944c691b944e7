"""The benchmark's workloads: fixed op sets, seeded inputs, output checks.

Every workload is a closed loop with one client and no think time. The seed
shuffles the op order and draws the preview parameters and churn batches;
it never changes the read-only test tables or which ops run, so every run
of a workload does the same work.

An op's ``run`` is the timed part. Its ``check`` runs outside the timed
section (before it for stateless ops, after it for stateful ones) and
raises ``AssertionError`` on a wrong output.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

# Registry families of the LLM-curation operators; the registry rows that
# are neither curation, stream_* nor ivm_* form the batch_models pool.
CURATION_FAMILIES = frozenset(
    "dedup text similarity sample mix pack embedding cluster corpus "
    "multimodal decontaminate graph pipeline".split()
)
# Every k-th row of the sorted pool: a fixed stratified sample sized so one
# pass fits the run window on a 4-core host.
BATCH_STRIDE = 8

# ivm_project: one maintained GROUP BY model over the raw fact change stream
# (the root node of the ``tools/scale_probe.py rawdag`` shape).
FACTS = 100_000
GROUPS = 997
CHURN_FACTS = 5_000
CHURN_STEPS = 2
FACT_DDL = "pk long, grp long, qty long, ver long, deleted boolean"
NODES = {"rollup": dict(order=["ver"], delete_col="deleted")}
NS = "pb"


def _family(name: str) -> str:
    return name.split("_", 1)[0]


def batch_rows(registry) -> list[str]:
    pool = sorted(
        n for n in registry
        if _family(n) not in CURATION_FAMILIES and _family(n) not in ("stream", "ivm")
    )
    return pool[::BATCH_STRIDE]


def _sorted_rows(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=lambda t: tuple((v is None, str(v)) for v in t))


@dataclass
class Ctx:
    spark: object
    tracer: object
    sf_dir: str
    registry: dict
    project: object = None  # ivm_project state


class RegistryOp:
    """``q.fn(spark, sf)`` then a ``noop`` write, as ``dbt run`` runs a
    model. Checked against the query's DuckDB oracle with
    ``tools/oracle_check.py``'s type-strict comparison. The op is stateless,
    so its check runs before the timed section on a separate build, which
    also starts the op's JIT warm-up."""

    kind = "model"
    check_first = True

    def __init__(self, name: str):
        self.name = name

    def run(self, ctx: Ctx) -> None:
        tr = ctx.tracer
        with tr.span("build"):
            df = ctx.registry[self.name].fn(ctx.spark, ctx.sf_dir)
        if tr.enabled:
            tr.record_phases(df)
        with tr.span("exec"):
            df.write.format("noop").mode("overwrite").save()

    def check(self, ctx: Ctx, duck) -> None:
        import oracle_check as oc

        q = ctx.registry[self.name]
        df = q.fn(ctx.spark, ctx.sf_dir)
        if q.oracle is not None:
            assert oc.compare(self.name, df, q.oracle, duck), "oracle mismatch"
            return
        rows = [tuple(r) for r in df.collect()]
        err = oc.driver_canon_guard(rows, df.columns)
        if err is None and self.name in oc.BOUNDED_ERROR:
            err = oc.check_bounded_error(self.name, rows, df.columns, duck)
        assert err is None, err


class PreviewOp:
    """A bounded ``Preview.run``. APPEND mode returns every row; CHANGE mode
    folds to the last image per primary key. Checked against a batch fold
    of the same SQL."""

    kind = "preview"
    check_first = False

    def __init__(self, sql: str, primary_key: list[str] | None = None,
                 order_col: str | None = None):
        self.name = "preview_change" if primary_key else "preview_append"
        self.sql, self.pk, self.order_col = sql, primary_key, order_col
        self.rows: list[tuple] = []

    def run(self, ctx: Ctx) -> None:
        from dbt_decodable_spark.plans.preview import Preview

        with ctx.tracer.span("preview", sql=self.sql) as sp:
            self.rows = Preview(ctx.spark).run(self.sql, primary_key=self.pk,
                                                order_col=self.order_col)
            if sp is not None:
                sp.attrs["rows"] = len(self.rows)

    def check(self, ctx: Ctx, duck) -> None:
        df = ctx.spark.sql(self.sql)
        rows = [tuple(r) for r in df.collect()]
        if self.pk:
            cols = df.columns
            ki = [cols.index(k) for k in self.pk]
            oi = cols.index(self.order_col)
            last: dict = {}
            for r in rows:
                k = tuple(r[i] for i in ki)
                if k not in last or r[oi] > last[k][oi]:
                    last[k] = r
            rows = list(last.values())
        assert _sorted_rows(self.rows) == _sorted_rows(rows), (
            f"preview {len(self.rows)} rows != batch fold {len(rows)} rows")


# -- ivm_project -----------------------------------------------------------

class Project:
    """The Engine front door: a parquet-backed fact change stream and one
    incrementally maintained model over it."""

    def __init__(self, spark, warehouse: str):
        from dbt_decodable_spark.catalog import Engine
        from dbt_decodable_spark.schema import StreamSchema

        os.makedirs(warehouse, exist_ok=True)
        self.warehouse = warehouse
        self.eng = Engine(spark, namespace=NS, warehouse_dir=warehouse)
        facts = spark.range(FACTS).select(
            F.col("id").alias("pk"), (F.col("id") % GROUPS).alias("grp"),
            (F.col("id") % 777).alias("qty"), F.lit(0).cast("long").alias("ver"),
            F.lit(False).alias("deleted"),
        )
        self.eng.create_stream(
            "fact", schema=StreamSchema.from_spark(facts.schema, primary_key=["pk"]),
            data=facts)
        self.eng.create_pipeline(
            "rollup", "select grp, count(*) as n_rows, sum(qty) as sum_qty "
            f"from {NS}__fact group by grp", activate=False)
        self.view: list[tuple] = []
        self.base_bytes = dir_bytes(self.path())[1]

    def path(self) -> str:
        return self.eng.streams[self.eng.qualify("fact")].path


def dir_bytes(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def _file_state(path: str) -> dict[str, tuple[float, int]]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_mtime_ns, st.st_size)
    return out


class ActivationOp:
    """One activation of the project. The first is the initial activation;
    each later one first ingests a seeded churn batch (fact upserts with
    tombstones, appended as parquet, then ``refresh_stream``). Every
    activation ends by reading the maintained view."""

    kind = "activation"
    check_first = False

    def __init__(self, step: int, rng: random.Random):
        self.step = step
        self.name = "activate_init" if step == 0 else "activate_churn"
        if step:
            pks = rng.sample(range(FACTS + FACTS // 10), CHURN_FACTS)
            self.facts = [(pk, rng.randrange(GROUPS), rng.randrange(555), step,
                           rng.random() < 0.01) for pk in pks]

    def run(self, ctx: Ctx) -> None:
        pj, tr = ctx.project, ctx.tracer
        if self.step:
            with tr.span("ingest", rows=len(self.facts)):
                ctx.spark.createDataFrame(self.facts, FACT_DDL).write.mode(
                    "append").parquet(pj.path())
                pj.eng.refresh_stream("fact")
        before = _file_state(pj.warehouse) if tr.enabled else None
        with tr.span("activate", init=self.step == 0) as sp:
            pj.eng.activate_project_incremental(NODES)
        if sp is not None:
            t = time.perf_counter()
            after = _file_state(pj.warehouse)
            sp.attrs["bytes_written"] = sum(
                size for p, (mt, size) in after.items() if before.get(p) != (mt, size))
            tr.overhead_s += time.perf_counter() - t
        with tr.span("read"):
            pj.view = [tuple(r) for r in pj.eng.read_stream("rollup").collect()]

    def check(self, ctx: Ctx, duck) -> None:
        """Compare the maintained view with the declarative recompute over
        the full fact history (last image per key, live rows, GROUP BY grp),
        as the project tests do."""
        if self.step != CHURN_STEPS:
            return  # the views are checked once, after the last activation
        from dbt_decodable_spark.streaming.changelog import fold_last_image

        live = fold_last_image(ctx.spark.read.parquet(ctx.project.path()), ["pk"],
                               [F.col("ver"), F.col("pk")]).filter(~F.col("deleted"))
        roll = live.groupBy("grp").agg(F.count(F.lit(1)).alias("n_rows"),
                                       F.sum("qty").alias("sum_qty"))
        assert _sorted_rows(ctx.project.view) == _sorted_rows(roll.collect()), (
            "maintained view != recompute")


def project_ops(rng: random.Random) -> list:
    """The activations in order (a churn step needs the initial activation
    first), then, in seeded order, bounded previews of seeded slices of the
    fact stream: APPEND returns every change, CHANGE folds them to the last
    image per key."""
    sql = "SELECT pk, grp, qty, ver, deleted FROM {}__fact WHERE pk % 100 = {}"
    previews = [
        PreviewOp(sql.format(NS, rng.randrange(100))),
        PreviewOp(sql.format(NS, rng.randrange(100)), ["pk"], "ver"),
    ]
    rng.shuffle(previews)
    return [ActivationOp(step, rng) for step in range(CHURN_STEPS + 1)] + previews


def build_ops(workload: str, registry, rng: random.Random) -> list:
    """The op list of one pass, in seeded order."""
    if workload == "batch_models":
        ops = [RegistryOp(n) for n in batch_rows(registry)]
        rng.shuffle(ops)
        return ops
    if workload == "ivm_project":
        return project_ops(rng)
    raise ValueError(f"unknown workload {workload!r}")
