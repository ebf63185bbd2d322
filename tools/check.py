"""Local stand-in for the driver's t2 correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at the given
sf dir, and compares: row count, column names, dtypes (loose), and an
order-insensitive multiset of canonicalized row values (exact — floats must
match bit-for-bit, which the deterministic-aggregate discipline guarantees).

Usage: python tools/check.py [sf_dir] [query_name ...]
       python tools/check.py --json OUT.json [sf_dir] [query_name ...]

--json writes a CORRECTNESS_r{N}.json-shaped artifact, so every round can
record the FULL suite locally even though the external driver only checks
a 50-entry prefix of the registry (queries outside that prefix would
otherwise have no recorded check at all).
"""

from __future__ import annotations

import json
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, "/root/repo")

from hbase_observer_elasticsearch_spark import registry  # noqa: E402
from hbase_observer_elasticsearch_spark.catalog import TABLES  # noqa: E402
from hbase_observer_elasticsearch_spark.session import get_spark  # noqa: E402


def canon(df: pd.DataFrame) -> list[tuple]:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False, name=None):
        row = []
        for v in tup:
            if v is None or (isinstance(v, float) and np.isnan(v)) or v is pd.NaT:
                row.append("<null>")
            elif isinstance(v, (np.floating, float)):
                row.append(repr(float(v)))
            elif isinstance(v, (np.integer, int)) and not isinstance(v, bool):
                row.append(str(int(v)))
            elif isinstance(v, pd.Timestamp):
                row.append(v.isoformat())
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return sorted(rows)


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    results: dict[str, dict] = {}

    qs = registry.queries()
    oracles = registry.oracle_sql()
    spark = get_spark("check")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_pass = n_fail = n_nooracle = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            results[name] = {"err": f"spark: {e}"}
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            results[name] = {"spark_rows": len(sdf), "err": "no_oracle"}
            n_nooracle += 1
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            results[name] = {"err": f"duckdb: {e}"}
            n_fail += 1
            continue

        ok = True
        msgs = []
        # Mimic the driver's canonicalizer exactly: it runs pandas
        # sort_values over ALL output columns, which raises TypeError on
        # list/array-valued columns. tools/check.py's own canon()
        # str()-coerces, so without this probe an array column passes
        # locally and still fails the driver (seen r2: cdc_stateful_stream).
        try:
            if len(sdf):
                sdf.sort_values(by=sorted(sdf.columns))
        except TypeError as e:
            ok, msgs = False, msgs + [f"driver-canonicalizer-crash: {e}"]
        if len(sdf) != len(ddf):
            ok, msgs = False, msgs + [f"rowcount {len(sdf)} vs {len(ddf)}"]
        if sorted(sdf.columns) != sorted(ddf.columns):
            ok, msgs = False, msgs + [
                f"cols {sorted(sdf.columns)} vs {sorted(ddf.columns)}"
            ]
        if ok:
            s_rows, d_rows = canon(sdf), canon(ddf)
            if s_rows != d_rows:
                ok = False
                diffs = [
                    (a, b) for a, b in zip(s_rows, d_rows) if a != b
                ][:3]
                msgs.append(f"values differ, first diffs: {diffs}")
        # loose dtype note (driver may compare schemas)
        sd = [str(t) for t in sdf.reindex(sorted(sdf.columns), axis=1).dtypes]
        dd = [str(t) for t in ddf.reindex(sorted(ddf.columns), axis=1).dtypes]
        dtype_note = "" if sd == dd else f"  [dtypes {sd} vs {dd}]"

        if ok:
            print(f"PASS  {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]{dtype_note}")
            n_pass += 1
        else:
            print(f"FAIL  {name}: {'; '.join(msgs)}{dtype_note}")
            n_fail += 1
        results[name] = {
            "rows_match": len(sdf) == len(ddf),
            "schema_match": sorted(sdf.columns) == sorted(ddf.columns),
            "hash_match": ok,
            "spark_rows": len(sdf),
            "oracle_rows": len(ddf),
            "err": "; ".join(msgs) if msgs else None,
        }

    print(f"\n{n_pass} pass, {n_fail} fail, {n_nooracle} rows-only")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(results, f, indent=1)
        print(f"wrote {json_out}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
