"""Read-query correctness against the DuckDB twins, with cached twins.

The comparison rule is ``tests/oracle_harness.py``'s (row count, sorted
column names, normalized values). A twin is run once per (SQL text,
data dir); when the Spark result matches it, the digest of the
normalized result is cached and later runs compare only the Spark side
against that digest.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os


def _load_harness(repo: str):
    spec = importlib.util.spec_from_file_location(
        "oracle_harness", os.path.join(repo, "tests", "oracle_harness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Collected:
    """An already-collected result in the shape ``compare()`` reads."""

    def __init__(self, columns: list[str], rows: list[tuple]):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list[tuple]:
        return self._rows


def data_key(sf_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        h.update(f"{name}:{os.path.getsize(os.path.join(sf_dir, name))};".encode())
    return h.hexdigest()[:16]


class TwinCache:
    def __init__(self, repo: str, sf_dir: str, cache_path: str):
        self.harness = _load_harness(repo)
        self.sf_dir = sf_dir
        self.path = cache_path
        self.data_key = data_key(sf_dir)
        self._con = None
        try:
            with open(cache_path, encoding="utf-8") as fh:
                self.entries = json.load(fh)
        except (OSError, ValueError):
            self.entries = {}

    def _key(self, sql: str) -> str:
        return hashlib.sha256(f"{self.data_key}\0{sql}".encode()).hexdigest()

    def _digest(self, columns: list[str], rows: list[tuple]) -> str:
        norm = self.harness.normalize_rows(columns, rows)
        return hashlib.sha256(repr(norm).encode()).hexdigest()

    def check(self, columns: list[str], rows: list[tuple], sql: str) -> str | None:
        """None when the Spark result matches the twin, else the reason."""
        key = self._key(sql)
        entry = self.entries.get(key)
        if entry is None:
            if self._con is None:
                self._con = self.harness.duckdb_conn(self.sf_dir)
            report = self.harness.compare(_Collected(columns, rows), self._con, sql)
            if not (report["cols_match"] and report["rows_match"] and report["values_match"]):
                slim = {k: v for k, v in report.items() if k not in ("cols_spark", "cols_duck")}
                return f"twin mismatch {slim}"
            self.entries[key] = {
                "rows": len(rows),
                "cols": sorted(columns),
                "digest": self._digest(columns, rows),
            }
            self._save()
            return None
        if len(rows) != entry["rows"]:
            return f"rows {len(rows)} != twin {entry['rows']}"
        if sorted(columns) != entry["cols"]:
            return f"columns {sorted(columns)} != twin {entry['cols']}"
        if self._digest(columns, rows) != entry["digest"]:
            return "values differ from twin"
        return None

    def _save(self) -> None:
        tmp = f"{self.path}.{os.getpid()}.tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(self.entries, fh)
        os.replace(tmp, self.path)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
