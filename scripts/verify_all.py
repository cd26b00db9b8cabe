#!/usr/bin/env python
"""Local replica of the driver's correctness gate at sf0.01 (the driver's
scale, vs the pytest gate's sf0.001): run every catalog query through the
__spark_entry__ contract and compare it with its DuckDB oracle the way
the driver does — sorted column names, row count, order-insensitive
values.  The compare is exact and typed (integer width is coerced, like
the driver's canonicalization) and rejects decimal columns.  A query can
be green at the small SF and diverge at the larger one (more edge-case
rows, Arrow batch boundaries, hot-bucket caps engaging).

    python scripts/verify_all.py [sf_dir] [--first-50] 2>/dev/null

``--first-50`` checks only the first 50 registrations: the driver
report's cap.
"""
from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from urbanistic_polygons_spark.catalog import TABLES  # noqa: E402
from urbanistic_polygons_spark.session import get_spark  # noqa: E402

REPORT_CAP = 50


def canon(tbl: pa.Table) -> pd.DataFrame:
    bad = [f.name for f in tbl.schema if pa.types.is_decimal(f.type)]
    if bad:
        raise AssertionError(f"decimal columns {bad}")
    df = tbl.to_pandas()
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif (pd.api.types.is_integer_dtype(df[c])
              or pd.api.types.is_bool_dtype(df[c])):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf = args[0] if args else "/root/testdata/sf0.01"
    spark = get_spark("verify-all", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet')")
    queries, oracles = E.queries(), E.oracle_sql()
    names = list(queries)
    if "--first-50" in sys.argv:
        names = names[:REPORT_CAP]
    bad = []
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            got = canon(queries[name](spark, sf).toArrow())
            if name in oracles:
                exp = canon(con.execute(oracles[name]).arrow())
                ok = (list(got.columns) == list(exp.columns)
                      and len(got) == len(exp))
                if ok:
                    try:
                        pd.testing.assert_frame_equal(
                            got, exp, check_dtype=False, check_exact=True)
                    except AssertionError:
                        ok = False
                detail = (f"{got.shape} " + ("MATCH" if ok else
                          f"MISMATCH vs {exp.shape}"))
            else:
                ok = len(got) > 0
                detail = f"rows-only ({len(got)} rows)"
        except Exception as exc:  # noqa: BLE001 — report, keep scanning
            ok, detail = False, f"ERROR {exc!r:.200}"
        print(f"{i:3d} {name:24s} {time.time() - t0:6.1f}s  {detail}",
              flush=True)
        if not ok:
            bad.append(name)
    print(f"\n{len(names) - len(bad)}/{len(names)} green; "
          + ("ALL GREEN" if not bad else "FAILURES: " + ", ".join(bad)))
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
