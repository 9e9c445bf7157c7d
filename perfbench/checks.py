"""Output checks, run after the timed passes.

A query's rows are compared order-insensitively against its DuckDB
oracle from the registry. The ops listed in ``expected.json`` are
checked against a pinned row count and hash instead, because their
oracles take seconds to minutes in DuckDB.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os

import numpy as np
import pandas as pd

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
RTOL = 1e-6  # engines may sum doubles in another order


def canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\\N"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (float, np.floating)):
        s = f"{float(v):.9g}"
        return s if ("." in s or "e" in s or "n" in s) else s + ".0"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (dt.date, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return str(v)


def canon_rows(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    return sorted(tuple(canon(x) for x in row) for row in pdf[cols].itertuples(index=False))


def digest(pdf: pd.DataFrame) -> str:
    h = hashlib.sha256()
    h.update(",".join(sorted(pdf.columns)).encode())
    for row in canon_rows(pdf):
        h.update(("\n" + "\t".join(row)).encode())
    return h.hexdigest()


def _close(a: str, b: str) -> bool:
    if a == b:
        return True
    try:
        return math.isclose(float(a), float(b), rel_tol=RTOL)
    except ValueError:
        return False


def same_rows(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else why not."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"{len(spark_pdf)} rows != oracle {len(oracle_pdf)}"
    a, b = canon_rows(spark_pdf), canon_rows(oracle_pdf)
    if a == b:
        return None
    # Tolerant pass: order rows on their non-float cells first so that
    # last-digit drift in a double cannot reorder them.
    def key(row):
        return tuple(c if not _is_float(c) else "" for c in row)

    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        if not all(_close(x, y) for x, y in zip(ra, rb)):
            return f"row {ra} != oracle {rb}"
    return None


def _is_float(cell: str) -> bool:
    try:
        float(cell)
    except ValueError:
        return False
    return "." in cell or "e" in cell


def check_outputs(outputs: dict[str, pd.DataFrame], data_dir: str) -> list[str]:
    """Failures as ``"<op>: <reason>"`` strings; empty when all match."""
    import duckdb
    from etl_project_spark import registry
    from etl_project_spark.catalog import TABLES

    with open(EXPECTED) as f:
        pinned = json.load(f)["ops"]
    bad = []
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for name, pdf in outputs.items():
            if name in pinned:
                got = {"rows": len(pdf), "sha256": digest(pdf)}
                if got != pinned[name]:
                    bad.append(f"{name}: {got} != pinned {pinned[name]}")
                continue
            oracle = registry.get(name).oracle
            if oracle is None:
                bad.append(f"{name}: no oracle and no pinned hash")
                continue
            why = same_rows(pdf, con.execute(oracle).df())
            if why:
                bad.append(f"{name}: {why}"[:500])
    finally:
        con.close()
    return bad

