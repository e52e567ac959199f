#!/usr/bin/env python3
"""Recompute the committed digests of the operations that have no oracle.

    python3 perfbench/make_digests.py            # local[2] and local[4], then write
    python3 perfbench/make_digests.py --cores 2  # print one core count's digests

The digests are written to ``perfbench/digests.json`` only when both core
counts agree, so a digest always stands for a deterministic result. Rerun
it only when a change to an LSH operator is meant to change its output.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
UNORACLED = ("dedup_minhash_lsh", "ann_lsh_topk", "dedup_embedding_lsh")


def digests_at(cores: int, sf_dir: str) -> dict[str, str]:
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path[:0] = [HERE, ROOT]
    import __spark_entry__
    from checks import digest
    from db_writer_redshift_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench-digests",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        out = {}
        for name in UNORACLED:
            sdf = __spark_entry__.queries()[name](spark, sf_dir)
            out[name] = digest(sdf.columns, [tuple(r) for r in sdf.collect()])
            spark.catalog.clearCache()
        return out
    finally:
        spark.stop()


def main() -> int:
    sys.path.insert(0, HERE)
    from run import DATA_DIR

    p = argparse.ArgumentParser()
    p.add_argument("--cores", type=int)
    args = p.parse_args()
    if args.cores:
        print(json.dumps(digests_at(args.cores, DATA_DIR)))
        return 0
    runs = [
        json.loads(
            subprocess.run(
                [sys.executable, __file__, "--cores", str(c)],
                check=True, capture_output=True, text=True, cwd=ROOT,
            ).stdout.strip().splitlines()[-1]
        )
        for c in (2, 4)
    ]
    if runs[0] != runs[1]:
        print(f"digests differ between local[2] and local[4]: {runs}", file=sys.stderr)
        return 1
    path = os.path.join(HERE, "digests.json")
    with open(path, encoding="utf-8") as fh:
        digests = json.load(fh)
    digests[os.path.basename(DATA_DIR)] = runs[0]
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(digests, fh, indent=2, sort_keys=True)
        fh.write("\n")
    print(json.dumps(digests, indent=2))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
