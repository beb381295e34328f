"""Driver-contract self-check: run every queries() entry vs its
oracle_sql() through DuckDB at a given sf dir, with the driver's
order-insensitive compare (sort columns by name, sort rows, hash values).

Usage: python scripts/selfcheck.py [sf_dir] [query ...]
The local session takes its slot count from SPARK_GRAFT_CPUS, as every
other entry point does (``session.get_spark``).
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # normalize floats so 1e-12 representation noise doesn't flip hashes
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else v
            )
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _hash(df: pd.DataFrame) -> str:
    return hashlib.sha256(
        df.to_csv(index=False, float_format="%.9g").encode()
    ).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from tesseract_rs_spark.session import get_spark

    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    oracles = E.oracle_sql()
    failures = 0
    for name, fn in E.queries().items():
        if only and name not in only:
            continue
        got = fn(spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"{name:28s} rows={len(got):>8d}  (no_oracle)")
            continue
        want = con.sql(oracles[name]).df()
        g, w = _canon(got), _canon(want)
        rows = len(g) == len(w)
        schema = list(g.columns) == list(w.columns)
        hmatch = schema and rows and _hash(g) == _hash(w)
        ok = rows and schema and hmatch
        if not ok:
            failures += 1
            print(
                f"{name:28s} FAIL rows={len(g)}/{len(w)} "
                f"schema={schema} hash={hmatch}"
            )
            if not schema:
                print(f"  spark cols:  {list(g.columns)}")
                print(f"  oracle cols: {list(w.columns)}")
            elif rows:
                neq = (g != w) & ~(g.isna() & w.isna())
                bad = neq.any(axis=1)
                print("  first diffs (spark vs oracle):")
                print(pd.concat([g[bad].head(3), w[bad].head(3)]))
        else:
            print(f"{name:28s} ok   rows={len(g):>8d}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
