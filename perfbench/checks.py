"""Output checks, run after the timed region.

* Migrated tables: source and target must hold the same multiset of
  rows, compared as a row count plus an order-insensitive sum of row
  hashes computed by DuckDB straight from the parquet files.
* Registry queries: rows must equal the query's DuckDB oracle under
  the compare of `tests/oracle.py` (columns sorted by name, rows
  sorted, floats bit-exact), using its normalisation.
"""

from __future__ import annotations

import os
import sys


def _oracle_module():
    root = os.getcwd()
    tests = os.path.join(root, "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    import oracle
    return oracle


def multiset_digest(paths: list[str]) -> tuple[int, int]:
    """(rows, sum of row hashes mod 2**64) over parquet files."""
    import duckdb

    files = [p for p in paths if p.endswith(".parquet")]
    if not files:
        return 0, 0
    con = duckdb.connect()
    try:
        cols = [r[0] for r in con.execute(
            "DESCRIBE SELECT * FROM read_parquet(?)", [files]).fetchall()]
        row_hash = "hash(" + ", ".join(f'"{c}"' for c in cols) + ")"
        n, s = con.execute(
            f"SELECT count(*), coalesce(sum({row_hash}::HUGEINT), 0) "
            "FROM read_parquet(?)", [files]).fetchone()
    finally:
        con.close()
    return int(n), int(s) % (1 << 64)


def parquet_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".parquet"))


def same_rows(source: str, target: str) -> str | None:
    """None when the two parquet trees hold the same rows."""
    a = multiset_digest(parquet_files(source))
    b = multiset_digest(parquet_files(target))
    if a != b:
        return f"rows/hash differ: source={a} target={b}"
    return None


def oracle_applies(spec, sf: float) -> bool:
    return bool(spec.oracle) and (spec.oracle_max_sf is None
                                  or sf <= spec.oracle_max_sf)


class _Collected:
    """Rows a timed run already collected, in the shape of the
    DataFrame `assert_matches_oracle` collects from."""

    def __init__(self, columns: list[str], rows: list[tuple]) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self) -> list[tuple]:
        return self._rows


def oracle_mismatch(spec, sf_dir: str, columns: list[str],
                    rows: list[tuple]) -> str | None:
    """None when `rows` equal the spec's DuckDB oracle over `sf_dir`."""
    oracle = _oracle_module()
    try:
        oracle.assert_matches_oracle(
            None, lambda *_: _Collected(columns, rows), spec.oracle,
            sf_dir, spec.name)
    except AssertionError as exc:
        return str(exc).splitlines()[0]
    return None
