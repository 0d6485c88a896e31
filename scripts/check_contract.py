"""Local simulation of the driver's correctness gate.

Runs every `queries()` entry from __spark_entry__.py at sf0.01 and
compares it against its `oracle_sql()` DuckDB twin the way the driver
does: row count, column-name set, and a value hash computed after
sorting columns by name and rows by value. Prints one line per query
(with its 16-hex value hash, so two runs can be diffed query by query)
plus a summary; exit code 1 if any twinned query mismatches.

Usage:  python scripts/check_contract.py [sf_dir] [query ...]
        (default sf_dir /root/testdata/sf0.01; default all queries)
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _canon(df):
    """Canonicalize a pandas frame the way the driver's compare does:
    columns sorted by name, rows sorted by all values, floats rounded
    to a stable precision before hashing."""
    import numpy as np
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if s.dtype == object and len(s) and isinstance(
            s.dropna().iloc[0] if len(s.dropna()) else None, (list, tuple, np.ndarray)
        ):
            s = s.map(lambda v: str(list(v)) if v is not None else "")
        if pd.api.types.is_float_dtype(s):
            s = s.round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            s = s.dt.strftime("%Y-%m-%d %H:%M:%S")
        elif s.dtype == object and len(s.dropna()) and hasattr(
            s.dropna().iloc[0], "isoformat"
        ):
            # datetime.date / datetime.datetime objects -> same string form
            s = s.map(
                lambda v: "" if v is None else (
                    v.strftime("%Y-%m-%d %H:%M:%S")
                    if hasattr(v, "hour")
                    else v.strftime("%Y-%m-%d 00:00:00")
                )
            )
        out[c] = s
    df = pd.DataFrame(out)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
            drop=True
        )
    return df


def _hash(df) -> str:
    h = hashlib.sha256()
    for c in df.columns:
        h.update(c.encode())
        h.update("\x00".join(map(str, df[c].tolist())).encode())
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as e
    from dedup.session import build_session

    spark = build_session(app_name="check-contract", master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    qs = e.queries()
    twins = e.oracle_sql()
    bad, no_oracle = [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001 - report and continue
            print(f"{name:28s} SPARK-ERROR {type(ex).__name__}: {ex}")
            bad.append(name)
            continue
        sql = twins.get(name)
        if sql is None:
            no_oracle.append(name)
            print(f"{name:28s} no_oracle  spark_rows={len(sdf)}  "
                  f"({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as ex:  # noqa: BLE001
            print(f"{name:28s} ORACLE-ERROR {type(ex).__name__}: {ex}")
            bad.append(name)
            continue
        sc, oc = _canon(sdf), _canon(odf)
        rows_ok = len(sc) == len(oc)
        cols_ok = list(sc.columns) == list(oc.columns)
        sh, oh = _hash(sc), _hash(oc)
        hash_ok = rows_ok and cols_ok and sh == oh
        status = "PASS" if (rows_ok and cols_ok and hash_ok) else "FAIL"
        print(
            f"{name:28s} {status}  rows={len(sc)}/{len(oc)} "
            f"cols={'ok' if cols_ok else f'{list(sc.columns)}!={list(oc.columns)}'} "
            f"hash={sh if hash_ok else f'{sh}!={oh}'}  ({time.time()-t0:.1f}s)"
        )
        if status == "FAIL":
            bad.append(name)
            if rows_ok and cols_ok:
                # show first differing rows for debugging
                import pandas as pd

                neq = (sc != oc) & ~(sc.isna() & oc.isna())
                rows = neq.any(axis=1)
                if rows.any():
                    i = rows.idxmax()
                    with pd.option_context("display.width", 200):
                        print("  spark:", sc.loc[i].to_dict())
                        print("  oracle:", oc.loc[i].to_dict())
    print(
        f"\n{len(qs) - len(bad) - len(no_oracle)} pass, {len(bad)} fail, "
        f"{len(no_oracle)} no_oracle of {len(qs)}"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
