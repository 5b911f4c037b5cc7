"""Oracle answers for the join and loop ops.

``__spark_entry__.oracle_sql()`` holds a DuckDB query for every registered
query; :class:`Oracle` runs it over the benchmark's own tables. Answers are
compared by the order-insensitive ``value_hash`` of
``scripts/check_oracle.py``, imported unchanged.
"""

from __future__ import annotations

import importlib.util
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_value_hash():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(_ROOT, "scripts", "check_oracle.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.value_hash


value_hash = _load_value_hash()


class Oracle:
    """An in-memory DuckDB with one view per benchmark table."""

    def __init__(self, paths: dict, run_dir: str, threads: int):
        import duckdb

        import __spark_entry__ as entry

        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{run_dir}/duckdb'")
        self.con.execute(f"SET threads = {threads}")
        for name, path in paths.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        self.sql = entry.oracle_sql()

    def answer(self, query: str):
        """(column names, rows) of the oracle for ``query``."""
        res = self.con.execute(self.sql[query])
        return [d[0] for d in res.description], res.fetchall()

    def close(self):
        self.con.close()
