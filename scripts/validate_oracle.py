"""Local stand-in for the driver's correctness gate: run every
queries() entry at sf0.01 and compare with oracle_sql() via DuckDB
(row count + column names + order-insensitive value comparison)."""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
# optional: query names after the sf_dir restrict the run (targeted
# re-validation after touching a family); no names = full suite
ONLY = set(sys.argv[2:])


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].astype("float64").round(6)
        elif "int" in str(df[c].dtype):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    from cianparser_spark.engine.session import get_spark

    spark = get_spark(app_name="oracle_validate", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    if ONLY:
        qs = {k: v for k, v in qs.items() if k in ONLY}
        missing = ONLY - set(qs)
        assert not missing, f"unknown query names: {sorted(missing)}"
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok   {name:22s} rows-only ({len(got)} rows, {dt:.1f}s)")
            if len(got) == 0:
                print(f"     WARNING: {name} returned 0 rows")
            continue
        want = con.execute(oracles[name]).df()
        g, w = normalize(got), normalize(want)
        if list(g.columns) != list(w.columns):
            failures.append((name, f"columns {list(g.columns)} != {list(w.columns)}"))
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}")
            continue
        if len(g) != len(w):
            failures.append((name, f"rowcount {len(g)} != {len(w)}"))
            print(f"FAIL {name}: rowcount {len(g)} != {len(w)}")
            continue
        if not g.equals(w):
            neq = (g != w).any(axis=1)
            failures.append((name, f"{int(neq.sum())} differing rows"))
            print(f"FAIL {name}: {int(neq.sum())} differing rows of {len(g)}")
            print("  got:", g[neq].head(3).to_dict("records"))
            print("  want:", w[neq].head(3).to_dict("records"))
            continue
        print(f"ok   {name:22s} oracle match ({len(g)} rows, {dt:.1f}s)")

    # entry() smoke
    res = entrymod.entry(spark)
    n = res.count()
    print(f"entry(): {n} rows, schema={res.schema.simpleString()}")
    assert n > 0

    print(f"\n{len(qs) - len(failures)}/{len(qs)} queries ok; {len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
