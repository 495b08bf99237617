"""Exact distributed order statistics — corpus quantiles without approx.

Spark ships ``percentile_approx`` (GK sketch) and the reference ships no
quantiles at all; but a training-data pipeline makes CONTRACT decisions on
distribution cut points — "drop docs below the 1st length percentile",
"cap at p99 token count", curriculum length buckets — and an approximate
cut point moves between runs and between cluster sizes, which silently
changes the corpus. This module computes EXACT order statistics at 100 TB
scale by reusing the repo's skew-proof two-pass rankers:

- global quantiles ride :func:`skew.ordered_prefix` (range-partition by
  value, per-partition offsets, local rank — the full sort is the range
  partitioner's, parallel and balanced; no single task ever sorts the
  corpus the way ``row_number() over (order by v)`` would);
- per-group quantiles ride :func:`skew.ranked_by_host` (a mega-group —
  think lang='en' at 90% corpus share — spans many range partitions
  instead of serializing one task).

Quantile definition (deterministic, integer-only): for q expressed in
MILLI units (0..1000) over n rows, the selected value is the one at
1-based rank

    qrank(q) = 1 + (q · (n − 1)) div 1000

i.e. the "lower" order statistic on the milli-grid — q=0 → min,
q=1000 → max, q=500 → lower median. No interpolation: interpolated
quantiles average two values in floats (engine-dependent last digit) and
land on values that don't exist in the data; rank selection returns a
value the corpus actually contains and is bit-identical on any
partitioning or engine. ``div`` in Spark and ``//`` in
DuckDB both truncate toward zero (verified: -7 // 2 = -3 in DuckDB) —
and every operand here is non-negative anyway, so the two agree (the
:mod:`kmeans` offset lesson).

Ties need no tie-break: rank assignment AMONG equal values is
partition-order-dependent, but the VALUE at any global rank is invariant
under permutations of equal values — which is the only thing returned.

NULL values (and NULL weights) are EXCLUDED before ranking, on both
engines: Spark's ascending sort puts NULLS FIRST while DuckDB's puts
NULLS LAST, so leaving them in would silently shift every rank between
the engines — the n that parameterizes qrank counts non-NULL rows only.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from starchart_spark.operators.skew import (
    grouped_ordered_prefix,
    ordered_prefix,
    ranked_by_host,
)


def _check_q(q_millis: Sequence[int]) -> list[int]:
    qs = [int(q) for q in q_millis]
    if not qs:
        raise ValueError("q_millis must be non-empty")
    for q in qs:
        if not 0 <= q <= 1000:
            raise ValueError(f"q_milli out of [0, 1000]: {q}")
    if len(set(qs)) != len(qs):
        raise ValueError("q_millis must be distinct")
    return qs


def _mass(weight_col: str) -> Column:
    """``weight_col`` as the BIGINT ``__w``, failing the query on a negative
    weight: a negative mass makes the running prefix non-monotone, so one
    target can straddle several rows (or none)."""
    w = F.col(weight_col).cast("long")
    return (
        F.when(w < 0, F.raise_error(F.lit(f"negative weight in {weight_col}")))
        .otherwise(w)
        .alias("__w")
    )


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    q_millis: Sequence[int],
    num_partitions: int | None = None,
) -> DataFrame:
    """(q_milli, qrank, value): exact global order statistics of
    ``value_col`` (BIGINT-cast) at each requested milli-quantile.

    One ranking pass (two-pass range-partitioned — see module doc), one
    1-row aggregate for n, and a broadcast join of the ≤len(q_millis)-row
    target dim back onto the ranked frame. The ranked frame is persisted
    by ``ordered_prefix`` so n and the selection read one materialization.
    """
    qs = _check_q(q_millis)
    vals = (
        df.select(F.col(value_col).cast("long").alias("value"))
        .filter(F.col("value").isNotNull())
        .withColumn("__one", F.lit(1).cast("long"))
    )
    ranked = ordered_prefix(
        vals,
        "value",
        "__one",
        rank_col="__rn",
        prefix_col="__pfx",
        num_partitions=num_partitions,
    ).drop("__pfx", "__one")
    n_df = ranked.agg(F.max("__rn").alias("__n"))
    arr = ", ".join(f"{q}L" for q in qs)
    targets = n_df.select(
        F.explode(F.expr(f"array({arr})")).alias("q_milli"), "__n"
    ).select(
        "q_milli",
        (F.lit(1) + F.expr("(q_milli * (__n - 1)) div 1000")).cast("long").alias(
            "qrank"
        ),
    )
    return (
        ranked.join(F.broadcast(targets), ranked["__rn"] == targets["qrank"])
        .select("q_milli", "qrank", "value")
    )


def exact_quantiles_sql(
    source_sql: str, value_expr: str, q_millis: Sequence[int]
) -> str:
    """DuckDB oracle for :func:`exact_quantiles` — kept beside the
    operator so the rank formula cannot drift between engines. The oracle
    pays the single-node global sort the Spark plan avoids."""
    qs = _check_q(q_millis)
    arr = ", ".join(str(q) for q in qs)
    return f"""
WITH v AS (SELECT CAST(({value_expr}) AS BIGINT) AS value FROM ({source_sql})
           WHERE ({value_expr}) IS NOT NULL),
r AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM v),
n AS (SELECT COUNT(*) AS n FROM v),
t AS (SELECT CAST(q_milli AS BIGINT) AS q_milli,
             1 + (q_milli * (n - 1)) // 1000 AS qrank
      FROM n, (SELECT unnest([{arr}]) AS q_milli))
SELECT t.q_milli, CAST(t.qrank AS BIGINT) AS qrank, r.value
FROM t JOIN r ON r.rn = t.qrank
"""


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    q_millis: Sequence[int],
    num_partitions: int | None = None,
) -> DataFrame:
    """(q_milli, target_mass, value): exact MASS quantiles — the smallest
    value v such that rows with value ≤ v carry cumulative weight ≥
    ``1 + (q · (W − 1)) div 1000`` (W = total weight, same milli-grid and
    lower-selection rule as :func:`exact_quantiles`, in weight units).

    This is the cut point a token-budget policy actually needs: "half the
    corpus TOKENS live in docs shorter than X" is a weighted p50, not a
    row p50 — long docs carry more mass. Weights must be non-negative
    BIGINTs (token counts, byte sizes), and a negative one fails the
    query; zero-weight rows are transparent
    (they can never straddle a target: their exclusive and inclusive
    prefixes are equal).

    Shape: ONE :func:`skew.ordered_prefix` pass (rank + EXCLUSIVE running
    weight — this is the primitive's prefix half doing the work), a 1-row
    total aggregate, and a broadcast of the ≤len(q_millis)-row target dim
    joined on the straddle predicate ``exclusive < T ≤ exclusive+w`` —
    exactly one row matches per target, so the broadcast-nested-loop scan
    emits len(q_millis) rows total.
    """
    qs = _check_q(q_millis)
    vals = df.select(
        F.col(value_col).cast("long").alias("value"),
        _mass(weight_col),
    ).filter(F.col("value").isNotNull() & F.col("__w").isNotNull())
    ranked = ordered_prefix(
        vals,
        "value",
        "__w",
        rank_col="__rn",
        prefix_col="__excl",
        num_partitions=num_partitions,
    )
    w_df = ranked.agg(F.sum("__w").alias("__wtot"))
    arr = ", ".join(f"{q}L" for q in qs)
    targets = w_df.select(
        F.explode(F.expr(f"array({arr})")).alias("q_milli"), "__wtot"
    ).select(
        "q_milli",
        (F.lit(1) + F.expr("(q_milli * (__wtot - 1)) div 1000"))
        .cast("long")
        .alias("target_mass"),
    )
    return (
        ranked.join(
            F.broadcast(targets),
            (targets["target_mass"] > ranked["__excl"])
            & (targets["target_mass"] <= ranked["__excl"] + ranked["__w"]),
        )
        .select("q_milli", "target_mass", "value")
    )


def weighted_quantiles_sql(
    source_sql: str, value_expr: str, weight_expr: str, q_millis: Sequence[int]
) -> str:
    """DuckDB oracle for :func:`weighted_quantiles`. The running sum must
    break ties over ALL rows deterministically? No — it need not: equal
    values may permute, but the straddle row's VALUE is invariant because
    permuting equal-valued rows permutes only prefixes within a run of
    one value."""
    qs = _check_q(q_millis)
    arr = ", ".join(str(q) for q in qs)
    return f"""
WITH v AS (SELECT CAST(({value_expr}) AS BIGINT) AS value,
                  CAST(({weight_expr}) AS BIGINT) AS w
           FROM ({source_sql})
           WHERE ({value_expr}) IS NOT NULL AND ({weight_expr}) IS NOT NULL),
r AS (SELECT value, w,
             COALESCE(SUM(w) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
      FROM v),
wt AS (SELECT COALESCE(SUM(w), 0) AS wtot FROM v),
t AS (SELECT CAST(q_milli AS BIGINT) AS q_milli,
             1 + (q_milli * (wtot - 1)) // 1000 AS target_mass
      FROM wt, (SELECT unnest([{arr}]) AS q_milli))
SELECT t.q_milli, CAST(t.target_mass AS BIGINT) AS target_mass, r.value
FROM t JOIN r ON t.target_mass > r.excl AND t.target_mass <= r.excl + r.w
"""


def group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    q_millis: Sequence[int],
    num_partitions: int | None = None,
) -> DataFrame:
    """(grp, q_milli, qrank, value): exact per-group order statistics.

    Per-group ranks come from the skew-proof per-host ranker (a dominant
    group spans many range partitions); per-group counts are one hash
    aggregate (map-side combined — 2 counters per group however mega the
    group); the (group, q, rank) target dim joins back on the equi-key
    (grp, rank) — #groups·#qs rows, broadcast by AQE when small.
    """
    qs = _check_q(q_millis)
    vals = df.select(
        F.col(group_col).alias("grp"), F.col(value_col).cast("long").alias("value")
    ).filter(F.col("value").isNotNull())
    ranked = ranked_by_host(
        vals, "grp", "value", out_col="__rn", num_partitions=num_partitions
    )
    counts = vals.groupBy("grp").agg(F.count(F.lit(1)).alias("__n"))
    arr = ", ".join(f"{q}L" for q in qs)
    targets = counts.select(
        "grp",
        F.explode(F.expr(f"array({arr})")).alias("q_milli"),
        "__n",
    ).select(
        "grp",
        "q_milli",
        (F.lit(1) + F.expr("(q_milli * (__n - 1)) div 1000")).cast("long").alias(
            "qrank"
        ),
    )
    return (
        ranked.join(
            targets,
            (ranked["grp"] == targets["grp"]) & (ranked["__rn"] == targets["qrank"]),
        )
        .select(ranked["grp"], "q_milli", "qrank", "value")
    )


def group_quantiles_sql(
    source_sql: str, group_expr: str, value_expr: str, q_millis: Sequence[int]
) -> str:
    """DuckDB oracle for :func:`group_quantiles`."""
    qs = _check_q(q_millis)
    arr = ", ".join(str(q) for q in qs)
    return f"""
WITH v AS (SELECT ({group_expr}) AS grp,
                  CAST(({value_expr}) AS BIGINT) AS value
           FROM ({source_sql})
           WHERE ({value_expr}) IS NOT NULL),
r AS (SELECT grp, value,
             row_number() OVER (PARTITION BY grp ORDER BY value) AS rn
      FROM v),
n AS (SELECT grp, COUNT(*) AS n FROM v GROUP BY grp),
t AS (SELECT grp, CAST(q_milli AS BIGINT) AS q_milli,
             1 + (q_milli * (n - 1)) // 1000 AS qrank
      FROM n, (SELECT unnest([{arr}]) AS q_milli))
SELECT t.grp, t.q_milli, CAST(t.qrank AS BIGINT) AS qrank, r.value
FROM t JOIN r ON r.grp = t.grp AND r.rn = t.qrank
"""


def quantile_buckets(
    df: DataFrame,
    value_col: str,
    q_millis: Sequence[int],
    num_partitions: int | None = None,
) -> DataFrame:
    """All of ``df``'s (non-NULL-valued) rows plus a ``bucket`` column:
    the number of exact quantile cut points strictly below the row's
    value — curriculum length buckets, winsorization bands, shard maps.

    ``bucket = |{j : value > t_j}|`` over the cut values t_j selected by
    :func:`exact_quantiles` at ``q_millis``; k cuts give buckets 0..k.
    A row EQUAL to a cut stays in the lower bucket (strict >), and two
    quantiles selecting the same value collapse their band to empty —
    both consequences of comparing against VALUES, which is what makes
    the assignment a pure function of the data (the bucketing is the
    CONTRACT; an approximate cut would move rows between buckets across
    runs and cluster sizes).

    Plan: the ranking pass computes the cuts, which fold to a ONE-ROW
    sorted array broadcast onto a second corpus scan; the bucket count is
    a codegen'd array filter — zero additional shuffles.
    """
    cuts = (
        exact_quantiles(df, value_col, q_millis, num_partitions=num_partitions)
        .agg(F.sort_array(F.collect_list("value")).alias("__cuts"))
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .crossJoin(F.broadcast(cuts))
        .withColumn(
            "bucket",
            F.expr(
                f"size(filter(__cuts, t -> CAST({value_col} AS BIGINT) > t))"
            ).cast("long"),
        )
        .drop("__cuts")
    )


def quantile_buckets_sql(
    source_sql: str, value_expr: str, q_millis: Sequence[int]
) -> str:
    """DuckDB oracle for :func:`quantile_buckets` — splices the
    :func:`exact_quantiles_sql` result as the cut CTE so the composition
    (cut selection AND bucket assignment) is gated end-to-end. Emits all
    source columns plus ``bucket``."""
    inner = exact_quantiles_sql(source_sql, value_expr, q_millis)
    return f"""
WITH __cuts AS ({inner})
SELECT s.*,
       (SELECT COUNT(*) FROM __cuts c
        WHERE CAST(({value_expr}) AS BIGINT) > c.value) AS bucket
FROM ({source_sql}) s
WHERE ({value_expr}) IS NOT NULL
"""


def group_weighted_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    q_millis: Sequence[int],
    num_partitions: int | None = None,
) -> DataFrame:
    """(grp, q_milli, target_mass, value): exact per-group MASS quantiles
    — the last cell of the module's matrix (global/grouped × count/mass).
    The per-LANGUAGE token-budget cut point lives here: "half of en's
    tokens sit in docs shorter than X" is a grouped weighted p500.

    Shape: one :func:`skew.grouped_ordered_prefix` pass (per-group rank +
    exclusive running weight, mega-group safe), per-group totals from one
    map-side-combined aggregate, and the #groups·#qs target dim joined on
    grp plus the straddle predicate (``excl < T ≤ excl + w`` — exactly
    one row per (group, target); the join is hash-equi on grp with the
    range as a residual filter). Zero-weight rows are transparent, a
    negative weight fails the query; NULL values/weights excluded as in
    the rest of the module.
    """
    qs = _check_q(q_millis)
    vals = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("long").alias("value"),
        _mass(weight_col),
    ).filter(F.col("value").isNotNull() & F.col("__w").isNotNull())
    ranked = grouped_ordered_prefix(
        vals,
        "grp",
        "value",
        "__w",
        rank_col="__rn",
        prefix_col="__excl",
        num_partitions=num_partitions,
    )
    totals = vals.groupBy("grp").agg(F.sum("__w").alias("__wtot"))
    arr = ", ".join(f"{q}L" for q in qs)
    targets = totals.select(
        "grp",
        F.explode(F.expr(f"array({arr})")).alias("q_milli"),
        "__wtot",
    ).select(
        "grp",
        "q_milli",
        (F.lit(1) + F.expr("(q_milli * (__wtot - 1)) div 1000"))
        .cast("long")
        .alias("target_mass"),
    )
    return (
        ranked.join(
            targets,
            (ranked["grp"] == targets["grp"])
            & (targets["target_mass"] > ranked["__excl"])
            & (targets["target_mass"] <= ranked["__excl"] + ranked["__w"]),
        )
        .select(ranked["grp"], "q_milli", "target_mass", "value")
    )


def group_weighted_quantiles_sql(
    source_sql: str,
    group_expr: str,
    value_expr: str,
    weight_expr: str,
    q_millis: Sequence[int],
) -> str:
    """DuckDB oracle for :func:`group_weighted_quantiles`."""
    qs = _check_q(q_millis)
    arr = ", ".join(str(q) for q in qs)
    return f"""
WITH v AS (SELECT ({group_expr}) AS grp,
                  CAST(({value_expr}) AS BIGINT) AS value,
                  CAST(({weight_expr}) AS BIGINT) AS w
           FROM ({source_sql})
           WHERE ({value_expr}) IS NOT NULL AND ({weight_expr}) IS NOT NULL),
r AS (SELECT grp, value, w,
             COALESCE(SUM(w) OVER (PARTITION BY grp ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
      FROM v),
wt AS (SELECT grp, COALESCE(SUM(w), 0) AS wtot FROM v GROUP BY grp),
t AS (SELECT grp, CAST(q_milli AS BIGINT) AS q_milli,
             1 + (q_milli * (wtot - 1)) // 1000 AS target_mass
      FROM wt, (SELECT unnest([{arr}]) AS q_milli))
SELECT t.grp, t.q_milli, CAST(t.target_mass AS BIGINT) AS target_mass, r.value
FROM t JOIN r ON t.grp = r.grp
            AND t.target_mass > r.excl AND t.target_mass <= r.excl + r.w
"""
