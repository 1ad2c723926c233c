"""Answer checking against the DuckDB oracles.

The comparison is the one ``tools/check_oracle.py`` makes (column set,
normalized dtypes, row count, order-insensitive value hash), using that
tool's own hash and type normalization, so a query the benchmark calls
correct is one the project's differential harness calls correct.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb


def load_check_oracle(root: str):
    """Import ``tools/check_oracle.py`` from the checkout at ``root``.

    The tool prepends a fixed repository path to ``sys.path`` when
    imported; the path is removed again so later imports resolve inside
    the checkout."""
    before = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracle", os.path.join(root, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sys.path[:] = before
    return mod


def expected_answers(check_oracle, data_dir: str, tables, sqls: dict[str, str]) -> dict:
    """DuckDB's answer to each query over the tables in ``data_dir``, as
    (sorted columns, normalized dtypes, row count, value hash)."""
    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        expected = {}
        for name, sql in sqls.items():
            rel = con.sql(sql)
            cols, types = list(rel.columns), list(rel.types)
            rows = rel.fetchall()
            expected[name] = [
                sorted(cols),
                check_oracle.duck_schema_norm(cols, types),
                len(rows),
                check_oracle.table_hash(cols, rows),
            ]
        return expected
    finally:
        con.close()


class Oracle:
    """Checks collected results against answers from ``expected_answers``,
    which are computed before anything is timed (by the worker, in a
    process of their own)."""

    def __init__(self, check_oracle, expected: dict):
        self.co = check_oracle
        self.expected = expected

    def mismatch(self, name: str, df, rows: list) -> str | None:
        """None when the collected result matches the oracle, else the
        mismatch kind and detail (``cols``, ``dtypes``, ``rowcount`` or
        ``hash``)."""
        cols, dtypes, nrows, digest = self.expected[name]
        scols = list(df.columns)
        if sorted(scols) != cols:
            return f"cols spark={sorted(scols)} duck={cols}"
        sty = self.co.spark_schema_norm(df)
        bad = {c: (sty[c], dtypes.get(c)) for c in sty if sty[c] != dtypes.get(c)}
        if bad:
            return f"dtypes {bad}"
        if len(rows) != nrows:
            return f"rowcount spark={len(rows)} duck={nrows}"
        got = self.co.table_hash(scols, [tuple(r) for r in rows])
        if got != digest:
            return f"hash spark={got} duck={digest}"
        return None
