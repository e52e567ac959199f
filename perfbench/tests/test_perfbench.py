"""Self-tests of the benchmark: its checks catch corrupted outputs, its
load oracle agrees with the engine, and it prints only declared metrics.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq

import layers
import loadgen
import run
import workloads

SMALL = os.path.join(os.path.dirname(run.DATA_DIR), "sf0.001")
BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


def _corrupt_first_cell(rows: list[tuple]) -> list[tuple]:
    first = list(rows[0])
    for i, v in enumerate(first):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            first[i] = v + 1
            break
    else:
        raise AssertionError(f"no numeric cell in {rows[0]}")
    return [tuple(first)] + rows[1:]


def test_corrupted_query_cell_fails(spark):
    wl = workloads.QueryWorkload(spark, SMALL, 1, ("q1_pricing_summary", "topk_expensive_orders"))
    try:
        wl.warmup()
        assert wl.failures == [] and wl.attempted == 2
        real = wl.collect
        wl.collect = lambda name: (lambda sdf, rows: (sdf, _corrupt_first_cell(rows)))(*real(name))
        wl.check_pass()
    finally:
        wl.close()
    assert wl.attempted == 4
    assert len(wl.failures) == 2, wl.failures
    assert all("values differ" in f for f in wl.failures)


def test_digest_catches_a_corrupted_cell():
    from checks import digest

    rows = [(1, "a", 0.5), (2, "b", 1.5)]
    assert digest(["x", "y", "z"], rows) == digest(["x", "y", "z"], rows[::-1])
    assert digest(["x", "y", "z"], rows) != digest(["x", "y", "z"], _corrupt_first_cell(rows))


def test_load_oracle_agrees_with_engine_on_duplicate_keys(spark, tmp_path):
    wl = workloads.LoadMergeWorkload(spark, SMALL, 3, str(tmp_path / "inputs"))
    con = duckdb.connect()
    n, keys = con.execute(
        "SELECT count(*), count(DISTINCT (l_orderkey, l_linenumber)) "
        f"FROM read_csv('{wl.inputs['incr_csv']}', header=true)"
    ).fetchone()
    con.close()
    assert n > keys, "the increment must repeat keys inside the file"
    wl.warmup()
    assert wl.failures == [], wl.failures
    assert wl.attempted == 6  # two passes of three checked steps

    # one cell of the managed table changed after the merge -> failed check
    real = wl._load

    def load_then_corrupt(which):
        out = real(which)
        if which == "incr":
            path = loadgen.table_files(wl.table_dir)[0]
            t = pq.read_table(path)
            col = t.column("l_returnflag").to_pylist()
            col[0] = "X" if col[0] != "X" else "Y"
            pq.write_table(t.set_column(t.schema.get_field_index("l_returnflag"), "l_returnflag",
                                        [col]), path)
        return out

    wl._load = load_then_corrupt
    wl.timed_pass(wl.order(0), 0)
    assert wl.attempted == 9
    # the corrupted row can also change a read-back result
    assert wl.failures and {f.split(":")[0] for f in wl.failures} <= {"merge", "readback"}
    assert wl.failures[0] == "merge: 1 expected rows missing, 1 unexpected rows"


def test_declared_metrics_match_benchmark_json():
    with open(BENCHMARK_JSON, encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.declared()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert len(spec["per_layer"]) <= 128


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_printed_metrics_are_declared():
    """One short real run per mode: the result line's names equal the
    declared ones, and nothing is left behind in the checkout."""
    with open(BENCHMARK_JSON, encoding="utf-8") as fh:
        spec = json.load(fh)
    for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
        p = _run(["--workload", "load_merge", "--seed", "5", "--seconds", "1", "--trace", trace], run.ROOT)
        assert p.returncode == 0, p.stderr[-2000:]
        result = json.loads(p.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0
        want = {m["name"]: m["unit"] for m in spec[key]}
        assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert not os.path.exists(os.path.join(run.HERE, ".run"))
    counts = result["metrics"]
    assert counts["sources.csv_scans.load_full"]["value"] == 2
    assert counts["sources.scan_tasks"]["value"] == 1


def test_fails_without_the_engine(tmp_path):
    shutil.copy(BENCHMARK_JSON, tmp_path / "BENCHMARK.json")
    shutil.copytree(run.HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".run", "out"))
    p = _run(["--workload", "tpch_relational", "--seed", "1", "--seconds", "1", "--trace", "0"],
             str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
