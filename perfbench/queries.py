"""The ``queries`` layer: the operator registry, read-only, with no engine.

Measured inside the traced frontier run (and at smoke size inside the
traced crawl run), not as a workload of its own. A fixed subset of
``bench.HEADLINE_QUERIES`` runs over a fixed copy of four of the
repository's synthetic sf0.01 tables (``data/``): once cold, collecting
rows whose digests must equal ``golden_queries.json`` (written by
``make_golden.py`` from a run checked against the DuckDB oracle), then once
warm to the ``noop`` sink. The input does not depend on ``--seed``.

The whole 68-query list does not fit a run: at sf0.001 on four cores its
cold pass takes about 71 s and a warm sweep about 39 s. The subset keeps
the three queries the roadmap's operator diets target (``curated_corpus``,
``nb_classify``, ``dust_params``) and one query of each of four other
families: joins, the Python URL UDF, exact dedup and sketches.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

from common import CheckFailed, now
from starchart_spark.queries import QUERIES

NAMES = (
    "three_way_join",
    "url_canonicalize",
    "exact_dedup",
    "curated_corpus",
    "nb_classify",
    "theta_distinct",
    "dust_params",
)
HERE = os.path.dirname(os.path.abspath(__file__))


def norm_cell(v):
    """Cell normalization of ``tests/test_entry_oracle.py``."""
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, bool):
        return int(v)
    return v


def row_key(row):
    return tuple((v is None, type(v).__name__, v if v is not None else "") for v in row)


def spark_rows(df) -> list[tuple]:
    """Rows with columns in name order, cells normalized, rows sorted."""
    cols = sorted(df.columns)
    return sorted((tuple(norm_cell(r[c]) for c in cols) for r in df.collect()), key=row_key)


def digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def measure(ctx) -> dict:
    """Run the subset once cold, collecting rows, and once warm to the noop
    sink, each query under its own job group. The cold pass's digests are
    checked against the golden ones; returns the warm per-query seconds."""
    sf = "sf0.001" if ctx.smoke else "sf0.01"
    d = os.path.join(HERE, "data", sf)
    with open(os.path.join(HERE, "golden_queries.json")) as fh:
        golden = json.load(fh)[sf]
    for name in NAMES:
        def _one(name=name):
            got = digest(spark_rows(QUERIES[name][0](ctx.spark, d)))
            if got != golden[name]:
                raise CheckFailed(f"{name}: digest {got} != golden {golden[name]}")

        ctx.checked(f"queries.{name}", _one)
    per: dict[str, float] = {}
    for name in NAMES:
        with ctx.group(f"query:{name}"):
            t0 = now()
            QUERIES[name][0](ctx.spark, d).write.format("noop").mode("overwrite").save()
            per[name] = now() - t0
    return per


def from_log(groups, per: dict) -> dict:
    out = {f"queries.{n}_s": s for n, s in per.items()}
    gs = [g for k, g in groups.items() if k.startswith("query:")]
    out.update({
        "queries.gc_s": sum(g.gc_s for g in gs),
        "queries.shuffle_b": sum(g.shuffle_read_b for g in gs),
        "queries.python_run_s": sum(g.python_run_s for g in gs),
        "queries.jobs": sum(g.jobs for g in gs),
    })
    return out
