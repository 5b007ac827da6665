"""DuckDB oracle gate for the fleet slice.

Same rule as the fleet's correctness gate: column names, row count, and
an order-insensitive hash of canonicalized cell values.  Cells are
compared exactly; only NaN and None fold together, because pandas
represents SQL NULL as NaN in float columns.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import numpy as np

from datagen import TABLES


def _canon(val) -> str:
    if val is None:
        return "∅"
    if isinstance(val, np.generic):
        val = val.item()
    if isinstance(val, float) and math.isnan(val):
        return "∅"
    if isinstance(val, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(v) for v in val) + "]"
    return repr(val)


def frame_digest(pdf) -> tuple[list[str], int, str]:
    """(sorted column names, row count, order-insensitive value hash)."""
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(
        "\x1f".join(_canon(r[i]) for i in order)
        for r in pdf.itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return sorted(cols), len(rows), h


class OracleGate:
    def __init__(self, corpus: str, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        for t in TABLES:
            p = os.path.join(corpus, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def compare(self, name: str, spark_pdf) -> str | None:
        """None when the Spark result matches the oracle, else the reason."""
        from tap_airbyte_wrapper_spark.plans import ORACLES

        sql = ORACLES.get(name)
        if sql is None:
            return f"{name}: no oracle"
        want = frame_digest(self.con.execute(sql).df())
        got = frame_digest(spark_pdf)
        if got[0] != want[0]:
            return f"{name}: columns {got[0]} != oracle {want[0]}"
        if got[1] != want[1]:
            return f"{name}: {got[1]} rows, oracle {want[1]}"
        if got[2] != want[2]:
            return f"{name}: value hash differs from oracle"
        return None
