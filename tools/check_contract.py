"""Local mimic of the driver's correctness gate.

Runs every ``queries()[name]`` at sf0.01 on Spark and the matching
``oracle_sql()[name]`` in DuckDB, then compares row count, column-name
set, and order-insensitive values (columns sorted by name, rows sorted).
Exact equality for ints/strings/timestamps; flags float columns that are
not bit-identical with the max abs diff so hash-risk is visible BEFORE
the driver runs.

A query without an oracle in ``oracle_sql()`` counts as a failure.

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, "/root/repo")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        dt = df[c].dtype
        if pd.api.types.is_datetime64_any_dtype(dt):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(dt):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(dt):
            df[c] = df[c].astype("float64")
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as ent
    from sptag_spark.session import get_spark
    from sptag_spark.sources.tables import TABLES

    spark = get_spark(app_name="check_contract", cores=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = ent.queries(), ent.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            print(f"FAIL  {name}: no oracle in oracle_sql()")
            n_fail += 1
            continue
        t0 = time.time()
        try:
            got = canon(fn(spark, sf_dir).toPandas())
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        want = canon(con.sql(oracles[name]).df())
        problems = []
        if list(got.columns) != list(want.columns):
            problems.append(f"columns {list(got.columns)} != {list(want.columns)}")
        elif len(got) != len(want):
            problems.append(f"rows {len(got)} != {len(want)}")
        else:
            for c in got.columns:
                g, w = got[c], want[c]
                if pd.api.types.is_float_dtype(g.dtype):
                    gn, wn = g.fillna(1.5e308), w.fillna(1.5e308)
                    if not np.array_equal(gn.to_numpy(), wn.to_numpy()):
                        d = np.nanmax(np.abs(gn.to_numpy() - wn.to_numpy()))
                        problems.append(f"float col {c!r} not bit-identical "
                                        f"(max abs diff {d:.3e})")
                elif len(g) and isinstance(g.iloc[0], (list, np.ndarray)):
                    same = all(np.array_equal(np.asarray(a), np.asarray(b))
                               for a, b in zip(g, w))
                    if not same:
                        problems.append(f"array col {c!r} differs")
                elif not g.equals(w):
                    bad = (g.astype(str) != w.astype(str))
                    problems.append(
                        f"col {c!r} differs on {int(bad.sum())} rows, e.g. "
                        f"{g[bad].head(2).tolist()} vs {w[bad].head(2).tolist()}"
                    )
        if problems:
            n_fail += 1
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(f"ok    {name}: rows={len(got)} cols={len(got.columns)} "
                  f"[{time.time()-t0:.1f}s]")

    spark.stop()
    print(f"{'PASS' if n_fail == 0 else 'FAIL'}: {len(qs) - n_fail}/{len(qs)} ok")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
