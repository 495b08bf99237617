#!/usr/bin/env python3
"""Write ``golden_queries.json``: the digest of each benchmark query's rows
on each fixed table set under ``data/``.

    python3 perfbench/make_golden.py

Before a digest is written, the Spark rows must equal the DuckDB oracle's
rows (``QUERIES[name][1]``, compared as ``tests/test_entry_oracle.py``
does) and a second Spark run must give the same digest. Run it from the
root of a checkout after a change that legitimately alters a result.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import duckdb  # noqa: E402

import queries  # noqa: E402
import run  # noqa: E402


def _duck_rows(con, sql: str) -> list[tuple]:
    rel = con.sql(sql)
    order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    return sorted(
        (tuple(queries.norm_cell(row[i]) for i in order) for row in rel.fetchall()),
        key=queries.row_key,
    )


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_run")
    shutil.rmtree(work, ignore_errors=True)
    conf = run._sandbox(work)
    from starchart_spark.queries import QUERIES
    from starchart_spark.session import get_spark

    cores = min(4, len(os.sched_getaffinity(0)))
    spark = get_spark(
        app_name="perfbench-golden", master=f"local[{cores}]",
        shuffle_partitions=2 * cores, extra_conf=conf,
    )
    out: dict[str, dict[str, str]] = {}
    bad = []
    try:
        for sf in ("sf0.001", "sf0.01"):
            d = os.path.join(HERE, "data", sf)
            con = duckdb.connect()
            for f in sorted(os.listdir(d)):
                t = f.removesuffix(".parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{f}')")
            out[sf] = {}
            for name in queries.NAMES:
                fn, sql = QUERIES[name]
                rows = queries.spark_rows(fn(spark, d))
                again = queries.spark_rows(fn(spark, d))
                if sql is None or rows != _duck_rows(con, sql) or rows != again:
                    bad.append(f"{sf}/{name}")
                    continue
                out[sf][name] = queries.digest(rows)
                print(f"{sf} {name}: {len(rows)} rows verified", file=sys.stderr)
    finally:
        run._stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print(f"not verified against the oracle: {bad}", file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "golden_queries.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
