"""Full driver replica for the CORRECTNESS gate.

Runs every ``__spark_entry__.queries()`` entry on a VANILLA SparkSession
(``SparkSession.builder.master(...).getOrCreate()`` — none of the repo's
``get_spark`` confs, the way the correctness driver builds its session)
against its DuckDB oracle at the given sf dir, comparing row count,
sorted column list, and exact rendered values (the driver's
canonicalization: sort columns by name, stringify objects, round
floats, sort rows — and compare each value as rendered, so the type shows:
a BIGINT ``840`` and a DOUBLE ``840.0`` are different values).

Usage:  python scripts/correctness_replica.py [sf_dir] [query ...]

Exits non-zero and prints one line per mismatching query; prints a
single OK summary line otherwise. This is the pre-flight the r4
``pages_meta`` regression showed we need: the repo test suite runs on
the repo session factory, so a runtime-conf dependency is invisible to
it — only a vanilla-session replay of the full catalog catches that
class before the driver does.
"""

from __future__ import annotations

import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(df) -> tuple[list[str], list[tuple[str, ...]]]:
    """(sorted column names, sorted rows of rendered cells).

    Floats are rounded, then rendered with ``repr`` (``840.0``); ints
    render without a decimal point (``840``), so a column whose type
    differs between engine and oracle fails even when every value is
    numerically equal. Objects are stringified."""
    import pandas as pd

    cols = sorted(df.columns)
    rendered = []
    for c in cols:
        s = df[c]
        if pd.api.types.is_bool_dtype(s):
            rendered.append([str(bool(v)) for v in s])
        elif pd.api.types.is_integer_dtype(s):
            rendered.append([str(int(v)) if pd.notna(v) else "None" for v in s])
        elif pd.api.types.is_float_dtype(s):
            rendered.append([repr(float(v)) for v in s.round(9)])
        else:
            rendered.append([str(v) for v in s])
    return cols, sorted(zip(*rendered)) if cols else []


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])  # optional query-name filter

    import duckdb
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("correctness_replica")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    import __spark_entry__ as e

    queries = e.queries()
    oracles = e.oracle_sql()

    failures: list[str] = []
    for name in queries:
        if only and name not in only:
            continue
        try:
            got = _canon(queries[name](spark, sf_dir).toPandas())
        except Exception:
            failures.append(f"{name}: SPARK ERR {traceback.format_exc(limit=3)}")
            continue
        if name not in oracles:
            print(json.dumps({"q": name, "rows": len(got[1]), "oracle": None}))
            continue
        try:
            want = _canon(con.sql(oracles[name]).df())
        except Exception:
            failures.append(f"{name}: ORACLE ERR {traceback.format_exc(limit=3)}")
            continue
        (got_cols, got_rows), (want_cols, want_rows) = got, want
        if got_cols != want_cols:
            failures.append(f"{name}: columns {got_cols} != {want_cols}")
            continue
        if len(got_rows) != len(want_rows):
            failures.append(f"{name}: rows {len(got_rows)} != {len(want_rows)}")
            continue
        diff = next(
            (i for i, (g, w) in enumerate(zip(got_rows, want_rows)) if g != w),
            None,
        )
        if diff is not None:
            failures.append(
                f"{name}: values differ at sorted row {diff} — "
                f"spark {got_rows[diff]} != oracle {want_rows[diff]}"[:300]
            )
            continue
        print(json.dumps({"q": name, "rows": len(got_rows), "match": True}))

    spark.stop()
    n_run = len(only & set(queries)) if only else len(queries)
    if failures:
        print(f"\nFAIL {len(failures)}/{n_run}:")
        for f in failures:
            print(" -", f)
        return 1
    print(f"\nOK: {n_run} queries match at {sf_dir} on a vanilla session")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
