"""Output checks: batch queries against their DuckDB oracles.

The comparison rule is the repository's own (``tools/verify_local.py``):
the same column names, the same row count and the same order-insensitive
value hash.  Oracle answers depend only on the oracle SQL and the input
files, so they are computed once per (SQL, input-file state) and kept in
the benchmark's work directory; they are never computed inside a timed
region.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path


def file_state(paths) -> str:
    """Content digest of the input files (names and bytes)."""
    h = hashlib.sha256()
    for p in sorted(Path(p) for p in paths):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def answer(cols, rows) -> dict:
    """The comparable summary of one result: sorted column names, row
    count and value hash."""
    from tools.verify_local import value_hash

    rows = [tuple(r) for r in rows]
    return {"cols": sorted(cols), "rows": len(rows),
            "hash": value_hash(list(cols), rows)}


def mismatch(expected: dict, cols, rows) -> str | None:
    """Why ``(cols, rows)`` differs from the ``expected`` answer, or None."""
    got = answer(cols, rows)
    if got["cols"] != expected["cols"]:
        return f"schema {got['cols']} != {expected['cols']}"
    if got["rows"] != expected["rows"]:
        return f"rowcount {got['rows']} != {expected['rows']}"
    if got["hash"] != expected["hash"]:
        return f"hash {got['hash']} != {expected['hash']}"
    return None


class OracleCache:
    """Expected answers of the batch queries, keyed by query, oracle SQL
    and input-file state, persisted as JSON."""

    def __init__(self, path: Path, data_dir: Path, tables: list[str]):
        self.path = Path(path)
        self.data_dir = Path(data_dir)
        self.tables = tables
        self.state = file_state(self.data_dir / f"{t}.parquet" for t in tables)
        try:
            self._store = json.loads(self.path.read_text())
        except (OSError, ValueError):
            self._store = {}

    def _key(self, name: str, sql: str) -> str:
        digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
        return f"{name}:{digest}:{self.state}"

    def missing(self, oracles: dict[str, str], names: list[str]) -> list:
        return [n for n in names
                if self._key(n, oracles[n]) not in self._store]

    def expected(self, oracles: dict[str, str], names: list[str]) -> dict:
        """Answers for ``names``, running (on DuckDB) only the missing ones."""
        missing = self.missing(oracles, names)
        if missing:
            import duckdb

            con = duckdb.connect()
            try:
                for t in self.tables:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.data_dir / t}.parquet'")
                for n in missing:
                    rel = con.sql(oracles[n])
                    self._store[self._key(n, oracles[n])] = answer(
                        rel.columns, rel.fetchall())
            finally:
                con.close()
            self.path.parent.mkdir(parents=True, exist_ok=True)
            tmp = self.path.with_suffix(".tmp")
            tmp.write_text(json.dumps(self._store, indent=1, sort_keys=True))
            tmp.replace(self.path)
        return {n: self._store[self._key(n, oracles[n])] for n in names}


if __name__ == "__main__":
    # python3 checks.py CACHE DATA_DIR QUERY...: fill the oracle cache in a
    # process of its own, so DuckDB's memory never shows in the peak RSS
    # of the process that measures the engine
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from cuml_spark.harness import ORACLES
    from workloads import TABLES

    OracleCache(Path(sys.argv[1]), Path(sys.argv[2]), TABLES).expected(
        ORACLES, sys.argv[3:])
