"""Per-layer metrics from a traced run.

Layers are named after the engine's modules, plus Spark below them:

* ``session``: ``session.get_spark``;
* ``plans``: the call into ``__spark_entry__.queries()[op]`` until it
  returns the DataFrame (including jobs it starts before returning);
* ``spark.catalyst``: ``executedPlan()`` on the returned DataFrame;
* ``spark.exec``: the action (``noop`` write; ``collect`` for read-backs);
* ``sources``: ``csv_ingest.ingest_table`` and ``validate_load``;
* ``operators.writer``: ``writer.load_table``;
* ``operators.catalog``: ``catalog.analyze_table`` and ``drop_table``;
* ``app``: ``Application.run`` minus its child spans.

Each metric is computed per operation execution, then reduced to the
median over the traced passes per operation (reported as
``<metric>.<op>``), then summed or pooled over operations (reported under
the bare name, per workload).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from workloads import LLM_DEDUP

S, N, B, R = "s", "count", "B", "ratio"

# Workload-level metrics, with the end-to-end metric each should move.
WORKLOAD_METRICS = (
    ("session.start_s", S),  # setup_s
    ("plans.construct_s", S),  # pass_s on llm_dedup
    ("plans.construct_jobs", N),
    ("plans.construct_tasks", N),
    ("spark.catalyst.plan_s", S),  # pass_s on the query workloads (a guard)
    ("spark.exec.s", S),  # pass_s on both query workloads, readback_s
    ("spark.exec.jobs", N),
    ("spark.exec.stages", N),
    ("spark.exec.tasks", N),
    ("spark.exec.scan_tasks", N),
    ("spark.exec.busy_share", R),
    ("spark.exec.shuffle_bytes", B),
    ("spark.exec.gc_s", S),
    ("sources.ingest_s", S),  # load_full_s and merge_s
    ("sources.validate_s", S),
    ("sources.csv_scans", N),
    ("sources.scan_tasks", N),
    ("operators.writer.s", S),  # load_full_s and merge_s
    ("operators.writer.jobs", N),
    ("operators.writer.tasks", N),
    ("operators.writer.bytes_written", B),  # merge_s and stored_bytes_ratio
    ("operators.writer.write_amplification", R),
    ("operators.catalog.analyze_s", S),  # load_full_s
    ("operators.catalog.drop_s", S),
    ("app.self_s", S),  # load_full_s
    ("load_full_s", S),  # load_merge's steps, untraced
    ("merge_s", S),
    ("readback_s", S),
    ("stored_bytes_ratio", R),
    ("trace.overhead_s", S),  # traced minus untraced pass_s
)
_UNIT = dict(WORKLOAD_METRICS)

# Per-operation metrics of the declared workloads: the ones an optimisation
# of a query or of the load path is most likely to move. Every operation's
# full table is in the layers JSON a traced run writes.
QUERY_OPS = LLM_DEDUP
PER_OP = (
    ("spark.exec.s", QUERY_OPS + ("readback",)),
    ("plans.construct_s", QUERY_OPS),
    ("plans.construct_jobs", QUERY_OPS),
    ("spark.exec.tasks", QUERY_OPS + ("readback",)),
    ("spark.exec.scan_tasks", QUERY_OPS),
    ("spark.exec.busy_share", QUERY_OPS),
    ("sources.validate_s", ("load_full", "merge")),
    ("sources.csv_scans", ("load_full", "merge")),
    ("operators.writer.s", ("load_full", "merge")),
    ("operators.writer.bytes_written", ("load_full", "merge")),
)


def declared() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, as BENCHMARK.json lists them."""
    out = list(WORKLOAD_METRICS)
    out += [(f"{m}.{op}", _UNIT[m]) for m, ops in PER_OP for op in ops]
    return out


def _sum(spans) -> float:
    return sum(s.seconds for s in spans)


def per_execution(tracer, evlog, cores: int, table_bytes: dict[str, int]) -> dict[str, dict[str, float]]:
    """op id -> metric -> value, one entry per traced operation execution.
    ``run_s`` (executor run time of the action) is kept for pooling."""
    kids = tracer.children()
    out: dict[str, dict[str, float]] = {}
    for root in (s for s in tracer.spans if s.parent is None):
        sub = tracer.subtree(root, kids)
        named = defaultdict(list)
        for s in sub:
            named[s.name].append(s)

        def totals(spans):
            inner = [x for s in spans for x in tracer.subtree(s, kids)]
            return evlog.totals(sorted({j for x in inner for j in x.jobs}))

        m: dict[str, float] = {}
        op = root.op_id.split(":", 1)[1]
        if root.name == "op":
            if named["plans"]:
                t = totals(named["plans"])
                m["plans.construct_s"] = _sum(named["plans"])
                m["plans.construct_jobs"] = t["jobs"]
                m["plans.construct_tasks"] = t["tasks"]
            m["spark.catalyst.plan_s"] = _sum(named["spark.catalyst"])
            exec_s = _sum(named["spark.exec"])
            t = totals(named["spark.exec"])
            m["spark.exec.s"] = exec_s
            for k in ("jobs", "stages", "tasks", "scan_tasks", "shuffle_bytes", "gc_s", "run_s"):
                m[f"spark.exec.{k}"] = t[k]
            m["spark.exec.busy_share"] = t["run_s"] / (exec_s * cores) if exec_s else 0.0
        else:  # "app.run": one Application.run of the load path
            t = totals([root])
            m["sources.ingest_s"] = _sum(named["sources.ingest"])
            m["sources.validate_s"] = _sum(named["sources.validate"])
            m["sources.csv_scans"] = t["csv_jobs"]
            m["sources.scan_tasks"] = t["csv_scan_tasks"]
            w = totals(named["operators.writer"])
            m["operators.writer.s"] = _sum(named["operators.writer"])
            m["operators.writer.jobs"] = w["jobs"]
            m["operators.writer.tasks"] = w["tasks"]
            m["operators.writer.bytes_written"] = w["bytes_written"]
            m["table_bytes"] = table_bytes.get(root.op_id, 0)
            m["operators.catalog.analyze_s"] = _sum(named["operators.catalog.analyze"])
            m["operators.catalog.drop_s"] = _sum(named["operators.catalog.drop"])
            m["app.self_s"] = tracer.self_seconds(root, kids)
        out[root.op_id] = {"op": op, **m}
    return out


def summarize(executions: dict[str, dict[str, float]], cores: int) -> tuple[dict, dict]:
    """(per-op medians, workload-level values) from ``per_execution``."""
    values: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for m in executions.values():
        for k, v in m.items():
            if k != "op":
                values[m["op"]][k].append(v)
    per_op = {op: {k: statistics.median(v) for k, v in ms.items()} for op, ms in values.items()}

    def total(k: str) -> float:
        return sum(ms.get(k, 0.0) for ms in per_op.values())

    level = {
        k: total(k)
        for k, _ in WORKLOAD_METRICS
        if k not in ("spark.exec.busy_share", "sources.scan_tasks",
                     "operators.writer.write_amplification")
    }
    exec_s = total("spark.exec.s")
    level["spark.exec.busy_share"] = total("spark.exec.run_s") / (exec_s * cores) if exec_s else 0.0
    # the widest CSV scan stage: 1 while every load reads its file in one task
    level["sources.scan_tasks"] = max((ms.get("sources.scan_tasks", 0) for ms in per_op.values()), default=0)
    tb = total("table_bytes")
    level["operators.writer.write_amplification"] = total("operators.writer.bytes_written") / tb if tb else 0.0
    return per_op, level


def flatten(per_op: dict, level: dict) -> dict[str, float]:
    """All declared per-layer names with values; 0 where a workload does
    not reach the layer or operation."""
    out = {}
    for name, _ in declared():
        if name in level:
            out[name] = level[name]
            continue
        metric, _, op = name.rpartition(".")
        out[name] = per_op.get(op, {}).get(metric, 0.0)
    return out
