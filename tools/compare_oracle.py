"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an oracle exists, the
DuckDB twin on the same parquet tables; compares row count, column names,
and an order-insensitive value hash (columns sorted by name, rows sorted,
doubles kept bit-exact via repr). Usage:

    python tools/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from __spark_entry__ import oracle_sql, queries  # noqa: E402
from dq.io import TABLES  # noqa: E402
from dq.session import get_spark  # noqa: E402


def frame_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(
        tuple(repr(v) for v in row) for row in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    for c in out.columns:
        if out[c].dtype == object:
            out[c] = out[c].map(lambda v: float(v) if hasattr(v, "as_tuple") else v)
        # unify integer dtypes (duckdb hugeint/int32 vs spark int64)
        if str(out[c].dtype) in ("int32", "uint32", "int16", "int8", "Int64", "Int32"):
            out[c] = out[c].astype("int64")
    return out


def oracle_db(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per table of ``sf_dir``; a table is a
    parquet file or a directory of part files."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("compare")
    con = oracle_db(sf_dir)
    qs, os_ = queries(), oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in os_:
            print(f"ok   {name}: rows-only ({len(sdf)} rows)")
            n_pass += 1
            continue
        try:
            odf = con.execute(os_[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        s, o = normalize(sdf), normalize(odf)
        problems = []
        if len(s) != len(o):
            problems.append(f"rows {len(s)} vs {len(o)}")
        if sorted(s.columns) != sorted(o.columns):
            problems.append(f"cols {sorted(s.columns)} vs {sorted(o.columns)}")
        elif frame_hash(s) != frame_hash(o):
            problems.append("value hash mismatch")
        if problems:
            n_fail += 1
            print(f"FAIL {name}: {'; '.join(problems)}")
            if "value hash mismatch" in problems:
                key = sorted(s.columns)
                sm = s.reindex(key, axis=1).sort_values(key).reset_index(drop=True)
                om = o.reindex(key, axis=1).sort_values(key).reset_index(drop=True)
                diff = (sm != om) & ~(sm.isna() & om.isna())
                bad = diff.any(axis=1)
                print(sm[bad].head(3))
                print(om[bad].head(3))
        else:
            n_pass += 1
            print(f"ok   {name}: {len(s)} rows match")
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
