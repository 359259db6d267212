"""Local stand-in for the driver's correctness gate: run every
``__spark_entry__.queries()`` entry and its ``oracle_sql()`` twin at a
given sf, compare row count, column names, and an order-insensitive
value hash. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]

A query whose Spark-side or DuckDB-side error names a file that does not
exist (say, absent reference data) is a named SKIP; any other exception
is an ERROR. The run exits 1 exactly when some query is FAIL or ERROR.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys
from pathlib import Path

import pandas as pd


def norm_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        s = df[col]
        if s.dtype == object:
            df[col] = s.astype(str)
    rows = sorted(
        tuple(str(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


# an absolute path at the start of the message, after a space, a quote,
# a bracket or a ``file:`` scheme
_PATH = re.compile(r"(?:^|[\s'\"`(\[]|file:)(/[^\s'\"`,;:()\[\]]+)")


def missing_path(exc: BaseException) -> str | None:
    """The first absolute path named in ``exc``'s message that does not
    exist on disk, or None."""
    for m in _PATH.finditer(str(exc)):
        path = m.group(1).rstrip(".")
        if not os.path.exists(path):
            return path
    return None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import duckdb

    import __spark_entry__ as entry

    from glirel_spark.session import get_spark

    spark = get_spark("oracle-check")

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry.queries()
    oracles = entry.oracle_sql()
    fails, errors, skips = [], [], []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        # one failing query must not hide the verdict on the rest
        try:
            sdf = fn(spark, sf_dir).toPandas()
            odf = con.execute(oracles[name]).fetchdf() if name in oracles else None
        except Exception as exc:  # noqa: BLE001
            path = missing_path(exc)
            if path is None:
                print(f"  ERROR {name}: {exc}")
                errors.append(name)
            else:
                print(f"  SKIP {name}: missing {path}")
                skips.append(name)
            continue
        if odf is None:
            print(f"  {name:32s} rows={len(sdf):7d}  (no oracle — rows-only)")
            continue
        cols_ok = sorted(sdf.columns) == sorted(odf.columns)
        rows_ok = len(sdf) == len(odf)
        hash_ok = cols_ok and rows_ok and norm_hash(sdf) == norm_hash(odf)
        status = "OK " if (cols_ok and rows_ok and hash_ok) else "FAIL"
        print(
            f"  {name:32s} rows={len(sdf):7d}/{len(odf):7d}"
            f" cols={'=' if cols_ok else sorted(sdf.columns)}"
            f"{'' if cols_ok else ' vs ' + str(sorted(odf.columns))} hash={'=' if hash_ok else 'X'} {status}"
        )
        if status == "FAIL":
            fails.append(name)
            if cols_ok and rows_ok:
                m = sdf.merge(odf, how="outer", indicator=True)
                diff = m[m["_merge"] != "both"]
                print(diff.head(10).to_string())
    spark.stop()
    if skips:
        print("SKIPPED (missing inputs):", skips)
    if fails or errors:
        print("FAILED:", {"FAIL": fails, "ERROR": errors})
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    sys.exit(main())
