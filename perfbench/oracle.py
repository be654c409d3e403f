"""Output check: each query's result against its DuckDB oracle on the
same generated tables.

A result is reduced to its row count and an order-insensitive digest of
its values, canonicalized exactly as the repository's correctness gate
(`tools/check_correctness.py`) canonicalizes them: columns sorted by
name, every scalar rendered by `repr`, rows sorted.
"""

from __future__ import annotations

import hashlib
import sys

import duckdb
import pandas as pd

# check_correctness.py prepends its own checkout path to sys.path when
# imported; keep the caller's search path as it was.
_path = list(sys.path)
from tools.check_correctness import _canon_frame, compare  # noqa: E402

sys.path[:] = _path

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def digest(df: pd.DataFrame) -> tuple[tuple[str, ...], int, str]:
    """(sorted column names, row count, value digest) of a result."""
    h = hashlib.sha256()
    for row in _canon_frame(df):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return tuple(sorted(df.columns)), len(df), h.hexdigest()


class Oracle:
    """DuckDB answers for a set of queries over one table directory."""

    def __init__(self, data_dir: str, oracle_sql: dict[str, str], names):
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            self._frames = {n: con.sql(oracle_sql[n]).df() for n in names}
        finally:
            con.close()
        self._digests = {n: digest(df) for n, df in self._frames.items()}

    def check(self, name: str, result: pd.DataFrame) -> str | None:
        """None when `result` matches the oracle, else what differs."""
        if digest(result) == self._digests[name]:
            return None
        return "; ".join(compare(name, result, self._frames[name])) or "digest differs"
