"""The benchmark's workloads: what one pass runs, how it is traced, and how
its outputs are checked.

Every workload offers the same four calls, all made by ``run.py`` in a
closed loop with one client:

* ``warmup()``: the checked warm-up; returns the engine's seconds (no
  oracle or input-generation time) for ``setup_s``. ``run.py`` follows it
  with ``warmup_passes`` untimed passes, which ``setup_s`` leaves out;
* ``timed_pass(order, pass_no)``: one pass with tracing off; returns
  seconds per operation;
* ``traced_pass(order, tracer, pass_no)``: the same pass with a span
  around each call into a layer;
* ``check_pass()``: one checked pass after the timed loop.

Outputs are checked outside the timed spans, and every failed check or
raised operation is recorded in ``self.failures``.
"""

from __future__ import annotations

import contextlib
import os
import random
import time

import __spark_entry__
from tools import oracle_check

import loadgen
from checks import QueryChecker

TPCH_RELATIONAL = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "topk_expensive_orders",
    "window_rank_orders_per_customer",
    "merge_upsert_orders",
    "events_sessionization",
    "asof_join_purchase_attribution",
    "range_join_purchase_window",
)
LLM_DEDUP = (
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "ann_lsh_topk",
    "dedup_embedding_lsh",
    "text_quality_scores",
)
LOAD_MERGE = ("load_full", "merge", "readback")
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def steal_ticks() -> int:
    """CPU time the hypervisor took from this VM, in clock ticks summed
    over its CPUs (/proc/stat, column 8)."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8])


def stolen_share(ticks_before: int, seconds: float) -> float:
    """Share of the VM's CPU time in the last ``seconds`` that the
    hypervisor took, given ``steal_ticks()`` from their start."""
    return (steal_ticks() - ticks_before) / (seconds * CLOCK_TICKS * os.cpu_count())


class Workload:
    ops: tuple[str, ...] = ()
    # Passes after the checked warm-up before timing starts. The JVM keeps
    # compiling for several passes (and the engine's generated classes
    # outnumber Spark's codegen cache, so some are recompiled every pass);
    # timed passes taken during that ramp set the median by how fast the
    # box lets the JIT run, which spread runs by 15-35%.
    warmup_passes = 0

    def __init__(self, spark, sf_dir: str, seed: int) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.seed = seed
        self.attempted = 0
        self.failures: list[str] = []
        self.table_bytes: dict[str, int] = {}  # op id -> managed table bytes after it
        self.stolen: dict[str, float] = {}  # op id -> stolen_share() while it ran, untraced

    def record(self, op: str, reason: str | None) -> None:
        self.attempted += 1
        if reason is not None:
            self.failures.append(f"{op}: {reason}")

    def order(self, pass_no: int) -> list[str]:
        return list(self.ops)

    def close(self) -> None:
        pass


class QueryWorkload(Workload):
    """Registered queries through ``__spark_entry__.queries()``, each run
    with a ``noop`` write like ``bench.py``'s; the seed permutes the order
    of the queries within each pass."""

    # llm_dedup settles after four noop passes (6.6 s to 4.4 s per pass at
    # local[4]); tpch_relational after about as many
    warmup_passes = 4

    def __init__(self, spark, sf_dir: str, seed: int, ops: tuple[str, ...]) -> None:
        super().__init__(spark, sf_dir, seed)
        self.ops = ops
        self.queries = __spark_entry__.queries()
        self.checker = QueryChecker(sf_dir)

    def order(self, pass_no: int) -> list[str]:
        ops = list(self.ops)
        random.Random(self.seed * 1_000_003 + pass_no).shuffle(ops)
        return ops

    def close(self) -> None:
        self.checker.close()

    def collect(self, name: str):
        """Build and collect one query: (DataFrame, rows)."""
        sdf = self.queries[name](self.spark, self.sf_dir)
        return sdf, [tuple(r) for r in sdf.collect()]

    def check_pass(self) -> float:
        """Collect and check every query; returns the engine's seconds."""
        engine_s = 0.0
        for name in self.ops:
            t = time.perf_counter()
            try:
                sdf, rows = self.collect(name)
            except Exception as exc:  # noqa: BLE001 -- counted as failed
                self.record(name, f"raised {type(exc).__name__}: {exc}")
                continue
            finally:
                engine_s += time.perf_counter() - t
                self.spark.catalog.clearCache()
            self.record(name, self.checker.check(name, sdf, rows))
        return engine_s

    warmup = check_pass

    def timed_pass(self, order: list[str], pass_no: int) -> dict[str, float]:
        out = {}
        for name in order:
            t, st = time.perf_counter(), steal_ticks()
            try:
                self.queries[name](self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
                self.record(name, None)
            except Exception as exc:  # noqa: BLE001 -- counted as failed
                self.record(name, f"raised {type(exc).__name__}: {exc}")
            out[name] = time.perf_counter() - t
            self.stolen[f"{pass_no}:{name}"] = stolen_share(st, out[name])
            self.spark.catalog.clearCache()
        return out

    def traced_pass(self, order: list[str], tracer, pass_no: int) -> dict[str, float]:
        out = {}
        for name in order:
            op_id = f"{pass_no}:{name}"
            try:
                with tracer.span("op", op_id) as root:
                    with tracer.span("plans"):
                        sdf = self.queries[name](self.spark, self.sf_dir)
                    with tracer.span("spark.catalyst"):
                        sdf._jdf.queryExecution().executedPlan()
                    with tracer.span("spark.exec"):
                        sdf.write.format("noop").mode("overwrite").save()
                self.record(name, None)
            except Exception as exc:  # noqa: BLE001 -- counted as failed
                self.record(name, f"raised {type(exc).__name__}: {exc}")
            out[name] = root.seconds
            self.spark.catalog.clearCache()
        return out


# -- load_merge -------------------------------------------------------------

READBACK_AGG = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       sum(l_extendedprice) AS sum_base_price,
       sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
       sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
       count(*) AS count_order
FROM {table}
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""
READBACK_RANGE = "SELECT * FROM {table} WHERE l_orderkey BETWEEN {lo} AND {hi}"
RANGE_WIDTH = 400  # order keys: about 1,600 rows, under 3% of the table at sf0.01


class LoadMergeWorkload(Workload):
    """Per pass, through ``app.Application(data_dir, spark).run()``: a full
    load of the base CSV, an incremental merge of the seeded increment, and
    a read-back batch on the managed table. Each step's output is checked
    right after it, outside its timed span."""

    ops = LOAD_MERGE
    warmup_passes = 2  # then about 3.0 s per pass, down from 3.6 s

    def __init__(self, spark, sf_dir: str, seed: int, input_dir: str) -> None:
        super().__init__(spark, sf_dir, seed)
        from db_writer_redshift_spark.app import Application

        self.application = Application
        self.inputs = loadgen.generate(sf_dir, input_dir, seed)
        wh = spark.conf.get("spark.sql.warehouse.dir")
        self.table_dir = os.path.join(wh.removeprefix("file:"), loadgen.DB_NAME)
        lo = random.Random(seed).randrange(1, max(2, self.inputs["max_key"] - RANGE_WIDTH))
        self.readback_sql = (
            READBACK_AGG.format(table=loadgen.DB_NAME),
            READBACK_RANGE.format(table=loadgen.DB_NAME, lo=lo, hi=lo + RANGE_WIDTH),
        )
        self.readback_expected = loadgen.expected_results(
            self.inputs["full_csv"], self.inputs["incr_csv"],
            [q.replace(loadgen.DB_NAME, "expected") for q in self.readback_sql],
        )

    def _load(self, which: str) -> str | None:
        result = self.application(self.inputs[which + "_dir"], self.spark).run()
        want = {"status": "success", "uploaded": [loadgen.TABLE_ID]}
        return None if result == want else f"Application.run returned {result}"

    def _readback(self) -> list[tuple[list[str], list[tuple]]]:
        out = []
        for sql in self.readback_sql:
            sdf = self.spark.sql(sql)
            out.append((sdf.columns, [tuple(r) for r in sdf.collect()]))
        return out

    def _check_readback(self, got) -> str | None:
        for i, ((cols, rows), (dcols, drows)) in enumerate(zip(got, self.readback_expected)):
            if sorted(cols) != sorted(dcols) or oracle_check._normalize(
                rows, cols
            ) != oracle_check._normalize(drows, dcols):
                return f"read-back query {i} differs from the DuckDB oracle"
        return None

    def _step(self, op: str, tracer, pass_no: int) -> tuple[float, object]:
        """Run one step, timed (and traced when ``tracer`` is given)."""
        op_id = f"{pass_no}:{op}"
        span = tracer.span("app.run" if op != "readback" else "op", op_id) if tracer else None
        t, st = time.perf_counter(), steal_ticks()
        with span or contextlib.nullcontext():
            if op == "load_full":
                out = self._load("full")
            elif op == "merge":
                out = self._load("incr")
            elif tracer is None:
                out = self._readback()
            else:
                out = []
                for sql in self.readback_sql:
                    with tracer.span("spark.catalyst"):
                        sdf = self.spark.sql(sql)
                        sdf._jdf.queryExecution().executedPlan()
                    with tracer.span("spark.exec"):
                        out.append((sdf.columns, [tuple(r) for r in sdf.collect()]))
        seconds = time.perf_counter() - t
        if tracer is None:
            self.stolen[op_id] = stolen_share(st, seconds)
        return seconds, out

    def _checked(self, op: str, out, op_id: str) -> None:
        if op == "readback":
            self.record(op, self._check_readback(out))
            return
        if out is not None:  # Application.run's own result was wrong
            self.record(op, out)
            return
        self.table_bytes[op_id] = loadgen.dir_bytes(self.table_dir)
        incr = self.inputs["incr_csv"] if op == "merge" else None
        self.record(op, loadgen.check_table(self.table_dir, self.inputs["full_csv"], incr))

    def _pass(self, tracer, pass_no: int) -> dict[str, float]:
        out = {}
        for op in self.ops:
            try:
                out[op], result = self._step(op, tracer, pass_no)
            except Exception as exc:  # noqa: BLE001 -- counted as failed
                self.record(op, f"raised {type(exc).__name__}: {exc}")
                continue
            self._checked(op, result, f"{pass_no}:{op}")
        return out

    def warmup(self) -> float:
        """Two passes: after one, the load path's timed passes still speed up
        by a fifth from pass to pass (JIT), which set the median apart by
        more than the noise."""
        return sum(sum(self._pass(None, k).values()) for k in (-2, -1))

    def timed_pass(self, order: list[str], pass_no: int) -> dict[str, float]:
        return self._pass(None, pass_no)

    def traced_pass(self, order: list[str], tracer, pass_no: int) -> dict[str, float]:
        with layer_spans(tracer):
            return self._pass(tracer, pass_no)

    def check_pass(self) -> float:
        """Every pass of this workload is checked step by step, so the last
        timed pass already is the checked run after the loop."""
        return 0.0


@contextlib.contextmanager
def layer_spans(tracer):
    """Wrap the load path's layer entry points in spans for the duration:
    ``csv_ingest.ingest_table``/``validate_load`` (sources),
    ``writer.load_table`` (operators.writer) and ``catalog.analyze_table``/
    ``drop_table`` (operators.catalog)."""
    from db_writer_redshift_spark import app
    from db_writer_redshift_spark.operators import catalog, writer
    from db_writer_redshift_spark.sources import csv_ingest

    targets = [
        (app, "ingest_table", "sources.ingest"),
        (csv_ingest, "validate_load", "sources.validate"),
        (writer, "load_table", "operators.writer"),
        (catalog, "analyze_table", "operators.catalog.analyze"),
        (catalog, "drop_table", "operators.catalog.drop"),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
    try:
        for (mod, attr, name), (_, _, fn) in zip(targets, saved):
            setattr(mod, attr, tracer.wrap(fn, name))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def make(name: str, spark, sf_dir: str, seed: int, input_dir: str) -> Workload:
    if name == "tpch_relational":
        return QueryWorkload(spark, sf_dir, seed, TPCH_RELATIONAL)
    if name == "llm_dedup":
        return QueryWorkload(spark, sf_dir, seed, LLM_DEDUP)
    if name == "load_merge":
        return LoadMergeWorkload(spark, sf_dir, seed, input_dir)
    raise ValueError(f"unknown workload {name!r}")

