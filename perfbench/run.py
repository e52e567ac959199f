#!/usr/bin/env python3
"""spark-graft benchmark: one workload per command, closed loop, one client.

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout of the repository. It starts one Spark
session at ``local[min(4, cores)]`` (shuffle partitions equal to that core
count), runs a checked warm-up and the workload's untimed warm-up passes,
then passes over the workload's operations with tracing off until
``--seconds`` have elapsed and at least three passes ran, then one checked
pass. With ``--trace 1`` untraced and traced passes alternate (a span
around every call into a layer) for twice the time, and it reports
per-layer metrics and the tracing overhead instead of the end-to-end
metrics.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before it
give each timing's median, upper percentile and sample count, the box
state, and any failed check. The warehouse, event log, Spark local dirs
and generated inputs live in a per-run directory under
``perfbench/.run/``, removed at exit. Traced runs write their spans to
``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = "/root/testdata/sf0.01"  # the read-only fixtures of TESTDATA.md
# The heap is fixed and touched up front, so the JVM's resident size does
# not depend on when the garbage collector last ran: peak_rss_mb moves with
# off-heap and Python memory, and heap pressure shows as GC time instead.
DRIVER_MEMORY = "1g"

# no hsperfdata files in the system temp dir, other temp files in the run dir
JVM_TMP_OPTS = "-XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp"
MIN_PASSES = 3
STEAL_MAX = 0.01  # share of the VM's CPU time stolen during an operation that still counts
END_TO_END = (("setup_s", "s"), ("pass_s", "s"), ("peak_rss_mb", "MB"))
# the workloads BENCHMARK.json declares
WORKLOADS = ("llm_dedup", "load_merge")
# runnable by hand but left out of BENCHMARK.json: its runs do not fit the
# benchmark's time limit next to the other two (see README.md)
EXTRA_WORKLOADS = ("tpch_relational",)
# what the benchmark needs from the checkout it runs in
NEEDED = ("db_writer_redshift_spark/__init__.py", "__spark_entry__.py", "bench.py",
          "tools/oracle_check.py")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def upper_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples above it."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 49, -1):
        k = int(p / 100 * n)
        if n - k - 1 >= 10:
            return p, xs[k]
    return None


def describe(name: str, values: list[float], unit: str) -> str:
    line = f"{name}: median {statistics.median(values):.4f} {unit}, n={len(values)}"
    up = upper_percentile(values)
    return line + (f", p{up[0]} {up[1]:.4f} {unit}" if up else ", no percentile with 10 samples above it")


def box_state(bench) -> dict:
    return {
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "steal_ticks_per_s": bench._steal_rate(0.2),
        "foreign_spark_procs": bench._foreign_spark_procs(),
    }


def start_session(run_dir: str, n: int, trace: bool):
    from db_writer_redshift_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch {JVM_TMP_OPTS.format(run_dir=run_dir)} "
            f"-Dderby.system.home={run_dir}"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{run_dir}/events",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # keep every job of the run in the status tracker
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        })
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        warehouse_dir=f"{run_dir}/warehouse",
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 -- still running: kill it
                proc.kill()
                proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_kb() -> int:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0
    with open(f"/proc/{proc.pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def loop(workload, seconds: float, tracer=None) -> tuple[dict[int, dict], list[dict]]:
    """Passes until ``seconds`` have elapsed and each kind has run
    ``MIN_PASSES`` times, so one disturbed pass never sets the median. With
    a tracer, untraced and traced passes alternate, so both see the same
    warm-up state. Without one, passes go on for up to half as long again
    while some operation has run unstolen fewer than ``MIN_PASSES`` times
    (see ``unstolen``). Returns (untraced passes by pass id, traced passes)."""
    plain: dict[int, dict] = {}
    traced: list[dict] = []
    t0 = time.perf_counter()
    k = 0
    while (
        len(plain) < MIN_PASSES
        or (tracer and len(traced) < MIN_PASSES)
        or time.perf_counter() - t0 < seconds
        or (tracer is None and time.perf_counter() - t0 < 1.5 * seconds and any(
            sum(workload.stolen.get(f"{i}:{op}", 1.0) <= STEAL_MAX for i in plain) < MIN_PASSES
            for op in workload.ops
        ))
    ):
        order = workload.order(k)
        if tracer is None or k % 2 == 0:
            plain[k] = workload.timed_pass(order, k)
        else:
            traced.append(workload.traced_pass(order, tracer, k))
        k += 1
    return plain, traced


def unstolen(samples: list[tuple[float, float]]) -> list[float]:
    """The timings that count, from one operation's (seconds, stolen
    share) executions: those during which the hypervisor took at most
    ``STEAL_MAX`` of the VM's CPU time or, when fewer than ``MIN_PASSES``
    were, the ``MIN_PASSES`` least stolen. On a shared host steal comes in
    bursts of seconds, and a pass during which 5% of the VM's CPU time was
    stolen took a third longer (every stage waits for the task on a stolen
    CPU); that is the neighbours' load, not the program's."""
    clean = [t for t, x in samples if x <= STEAL_MAX]
    if len(clean) >= MIN_PASSES:
        return clean
    return [t for t, _ in sorted(samples, key=lambda s: s[1])[:MIN_PASSES]]


def measure(args, run_dir: str) -> dict:
    import bench
    import workloads

    box_start = box_state(bench)
    n = cores()
    workload_inputs = os.path.join(run_dir, "inputs")

    t0 = time.perf_counter()
    spark = start_session(run_dir, n, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        wl = workloads.make(args.workload, spark, DATA_DIR, args.seed, workload_inputs)
        try:
            setup_s = session_s + wl.warmup()
            # the passes that take the JIT to a steady state are not set-up work
            t = time.perf_counter()
            for k in range(-wl.warmup_passes - 10, -10):  # pass ids apart from warmup()'s
                wl.timed_pass(wl.order(k), k)
            log(f"setup {setup_s:.2f}s (session {session_s:.2f}s); then "
                f"{wl.warmup_passes} untimed passes, {time.perf_counter() - t:.2f}s")
            tracer = None
            if args.trace:
                import spans

                tracer = spans.Tracer(spark)
            passes, traced = loop(wl, args.seconds * (2 if tracer else 1), tracer)
            wl.check_pass()
        finally:
            wl.close()
        rss_kb = (jvm_peak_rss_kb(), resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
        log(f"peak RSS: JVM {rss_kb[0] / 1024:.0f} MB, Python {rss_kb[1] / 1024:.0f} MB")
        rss_mb = sum(rss_kb) / 1024
    finally:
        stop_session(spark)
    return {
        "workload": wl,
        "n": n,
        "session_s": session_s,
        "setup_s": setup_s,
        "passes": passes,
        "traced": traced,
        "tracer": tracer,
        "rss_mb": rss_mb,
        "box": {"start": box_start, "end": box_state(bench)},
    }


def report(args, r: dict, run_dir: str) -> dict:
    wl = r["workload"]
    passes = r["passes"]
    ops = sorted({op for p in passes.values() for op in p})
    samples = {op: [(p[op], wl.stolen[f"{k}:{op}"]) for k, p in passes.items() if op in p]
               for op in ops}
    op_times = {op: unstolen(samples[op]) for op in ops}
    # a pass as the sum of each operation's median, so that a burst of
    # steal only costs the operations it hit
    pass_s = sum(statistics.median(v) for v in op_times.values())
    lines = [
        f"pass_s: {pass_s:.4f} s, the sum of each operation's median; {len(passes)} passes: "
        + ", ".join(f"{sum(p.values()):.3f}" for p in passes.values()),
    ]
    for op in ops:
        lines.append(
            describe(f"op {op}", op_times[op], "s")
            + f", over {len(op_times[op])} of {len(samples[op])} executions; all (s, stolen share): "
            + ", ".join(f"{t:.3f} {100 * x:.1f}%" for t, x in samples[op])
        )
    for line in lines:
        print(line)
    print("box " + json.dumps(r["box"]))
    for f in wl.failures:
        print(f"FAILED {f}")

    if not args.trace:
        metrics = {
            "setup_s": r["setup_s"],
            "pass_s": pass_s,
            "peak_rss_mb": r["rss_mb"],
        }
        units = dict(END_TO_END)
    else:
        import layers
        import spans

        evlog = spans.EventLog.parse(os.path.join(run_dir, "events"))
        tracer = r["tracer"]
        execs = layers.per_execution(tracer, evlog, r["n"], wl.table_bytes)
        per_op, level = layers.summarize(execs, r["n"])
        level["session.start_s"] = r["session_s"]
        level["trace.overhead_s"] = statistics.median(
            sum(p.values()) for p in r["traced"]
        ) - statistics.median(sum(p.values()) for p in passes.values())
        for op in ("load_full", "merge", "readback"):
            if op in op_times:
                level[f"{op}_s"] = statistics.median(op_times[op])
        merged = [b for k, b in wl.table_bytes.items() if k.endswith(":merge")]
        if merged:
            level["stored_bytes_ratio"] = statistics.median(merged) / os.path.getsize(wl.inputs["full_csv"])
        metrics = layers.flatten(per_op, level)
        units = dict(layers.declared())
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
        tracer.dump(stem + "-spans.json", tracer.spans[0].start if tracer.spans else 0.0)
        with open(stem + "-layers.json", "w", encoding="utf-8") as fh:
            json.dump({"per_op": per_op, "workload": level}, fh, indent=1, sort_keys=True)
        print(f"spans and per-op layers written to {stem}-*.json")
    return {
        "correct": not wl.failures,
        "attempted": wl.attempted,
        "failed": len(wl.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS + EXTRA_WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [f for f in NEEDED if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        log(f"not a checkout of the engine: missing {', '.join(missing)} under {ROOT}")
        return 2
    if not os.path.isdir(DATA_DIR):
        log(f"fixture directory {DATA_DIR} not found")
        return 2

    n = cores()
    # the engine sizes shuffle partitions from this when it re-pins confs
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    sys.path[:0] = [p for p in (HERE, ROOT) if p not in sys.path]
    base = os.path.join(HERE, ".run")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_TMP_OPTS.format(run_dir=run_dir)
    cwd = os.getcwd()
    os.chdir(run_dir)  # anything Spark drops in its working directory stays in the run dir
    try:
        result = report(args, measure(args, run_dir), run_dir)
    finally:
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run is using it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
