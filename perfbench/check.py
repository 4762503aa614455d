"""Correctness check of every key's output.

Keys with an oracle are compared with DuckDB over the same fixture files by
``tools/driver_sim.check_key``: row count, column names, numeric classes
and the canonical value hash. Keys without an oracle (approximate
sketches) get a rows-and-schema check against ``reference.json``, recorded
from a run whose outputs passed.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

REFERENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "reference.json")


@dataclass
class Collected:
    """A query result already collected by the timed first pass, shaped
    like the DataFrame ``check_key`` expects, so the check does not run
    the query again."""

    columns: list[str]
    schema: object
    rows: list

    def collect(self) -> list:
        return self.rows


class Checker:
    """One DuckDB connection with a view per fixture table."""

    def __init__(self, spark, sf_dir: str):
        import duckdb

        from luxor_db_spark.catalog import TABLES, table_path
        from luxor_db_spark.registry import ORACLES
        from tools import driver_sim

        self._check_key = driver_sim.check_key
        self.spark = spark
        self.oracles = ORACLES
        with open(REFERENCE) as fh:
            self.reference = json.load(fh)
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{table_path(sf_dir, t)}')"
            )

    def close(self) -> None:
        self.con.close()

    def check(self, key: str, out: Collected) -> str | None:
        """None if ``out`` is correct, else what is wrong with it."""
        r = self._check_key(
            key, lambda *_: out, self.oracles.get(key), self.spark, self.con
        )
        if r["status"] == "pass":
            return None
        if r["status"] == "rows_only_clean":
            want = self.reference.get(key)
            got = {"rows": len(out.rows), "columns": list(out.columns)}
            if want is None:
                return f"no oracle and no reference entry; got {got}"
            return None if got == want else f"expected {want}, got {got}"
        detail = {k: r[k] for k in ("err", "diff", "dtype_drift") if k in r}
        return f"{r['status']}: {json.dumps(detail, default=str)[:400]}"
