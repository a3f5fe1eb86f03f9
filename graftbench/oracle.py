"""DuckDB digests of the registry oracles, cached by SQL and input.

A digest is (sorted column names, row count, ``value_hash``), where
``value_hash`` is the order-insensitive rule of the repository's
correctness gate (``tools/check_oracle.py``), so a pass is judged the
way the gate judges a query.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from tools.check_oracle import value_hash


def digest(cols: list[str], rows: list[tuple]) -> list:
    return [sorted(cols), len(rows), value_hash(list(cols), rows)]


def fingerprint(root: str) -> str:
    """sha256 over the names and bytes of every file under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode() + b"\0")
            with open(path, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


class OracleCache:
    """Expected digests, persisted as JSON under ``path``.

    ``tables`` maps a table name to the SQL that reads it from the
    generated inputs; each is loaded once into a DuckDB temporary table,
    as the word count oracles would otherwise re-parse the corpus. The
    key of a digest is the oracle SQL plus the fingerprint of those
    inputs, so new inputs or a changed oracle never reuse a stale
    digest.
    """

    def __init__(self, path: str, tables: dict[str, str], input_fp: str, temp_dir: str):
        self.path = path
        self.tables = tables
        self.input_fp = input_fp
        self.temp_dir = temp_dir
        self._con = None
        try:
            with open(path) as f:
                self._cache = json.load(f)
        except (OSError, ValueError):
            self._cache = {}

    def _connect(self):
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{self.temp_dir}'")
        con.execute("SET memory_limit='2GB'")
        for name, sql in self.tables.items():
            con.execute(f"CREATE TEMP TABLE {name} AS {sql}")
        return con

    def expected(self, sql: str) -> list:
        key = hashlib.sha256((self.input_fp + "\0" + sql).encode()).hexdigest()
        if key not in self._cache:
            if self._con is None:
                self._con = self._connect()
            res = self._con.execute(sql)
            cols = [d[0] for d in res.description]
            self._cache[key] = digest(cols, res.fetchall())
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._cache, f)
            os.replace(tmp, self.path)
        return self._cache[key]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
