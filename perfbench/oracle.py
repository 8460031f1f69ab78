"""DuckDB oracle check: each query's Spark result against ``oracle_sql()``
over the same generated files, canonicalized by ``scripts/check_gate.py``'s
``_canon`` (columns sorted by name, object columns as strings, rows sorted)
and compared as that script does (values equal to a relative tolerance of
1e-9).  Needs the repository root on ``sys.path``."""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from scripts.check_gate import _canon


class Oracle:
    def __init__(self, oracle_sql: dict[str, str], threads: int, work: str):
        self.sql = oracle_sql
        self.con = duckdb.connect(config={
            "threads": max(1, threads), "memory_limit": "1GB", "temp_directory": work,
        })

    def close(self) -> None:
        self.con.close()

    def check(self, name: str, spark_pdf: pd.DataFrame, data_dir: str) -> str | None:
        """None when the result matches the oracle, else a one-line reason."""
        for path in sorted(os.listdir(data_dir)):
            if path.endswith(".parquet"):
                table = path[: -len(".parquet")]
                self.con.execute(
                    f"CREATE OR REPLACE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, path)}')"
                )
        expected = _canon(self.con.execute(self.sql[name]).fetchdf())
        got = _canon(spark_pdf)
        if list(got.columns) != list(expected.columns):
            return f"columns {list(got.columns)} != {list(expected.columns)}"
        if len(got) != len(expected):
            return f"rows {len(got)} != {len(expected)}"
        try:
            pd.testing.assert_frame_equal(
                got, expected, check_dtype=False, check_exact=False, rtol=1e-9
            )
        except AssertionError as exc:
            return "values: " + str(exc).splitlines()[-1][:200]
        return None
