"""Output checks for the query workloads.

Oracle-backed operations are compared with their registered DuckDB twin
through ``tools/oracle_check``'s dtype check and row normalizer (columns
sorted by name, rows sorted, -0.0/NaN folded). The three LSH operations
have no oracle; their normalized rows are compared with a digest committed
in ``digests.json`` (they are deterministic at any core count).
"""

from __future__ import annotations

import hashlib
import json
import os

from tools import oracle_check

import __spark_entry__

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result: sorted column names plus the
    oracle normalizer's row form."""
    payload = repr((sorted(cols), oracle_check._normalize(rows, cols)))
    return hashlib.sha256(payload.encode()).hexdigest()


class QueryChecker:
    """Checks one operation's collected result against its oracle or its
    committed digest. Oracle results are computed once per checker."""

    def __init__(self, sf_dir: str) -> None:
        self.sf_dir = sf_dir
        self.oracles = __spark_entry__.oracle_sql()
        with open(DIGESTS, encoding="utf-8") as fh:
            self.digests = json.load(fh).get(os.path.basename(sf_dir.rstrip("/")), {})
        self.con = oracle_check.duck_connection(sf_dir)
        self._expected: dict[str, tuple[list[str], list[tuple]]] = {}

    def close(self) -> None:
        self.con.close()

    def check(self, name: str, sdf, rows: list[tuple]) -> str | None:
        """None when ``rows`` (collected from ``sdf``) is correct, else why not."""
        cols = sdf.columns
        oracle = self.oracles.get(name)
        if oracle is None:
            want = self.digests.get(name)
            if want is None:
                return "no oracle and no committed digest"
            got = digest(cols, rows)
            return None if got == want else f"digest {got[:12]} != committed {want[:12]}"
        if name not in self._expected:
            bad = oracle_check.dtype_mismatches(sdf, self.con, oracle)
            if bad:
                return "dtype: " + "; ".join(bad)
            res = self.con.execute(oracle)
            dcols = [d[0] for d in res.description]
            self._expected[name] = (sorted(dcols), oracle_check._normalize(res.fetchall(), dcols))
        dcols, drows = self._expected[name]
        if sorted(cols) != dcols:
            return f"columns {sorted(cols)} != oracle {dcols}"
        if len(rows) != len(drows):
            return f"{len(rows)} rows != oracle {len(drows)}"
        if oracle_check._normalize(rows, cols) != drows:
            return "values differ from the oracle"
        return None
