"""Skew handling: salting + two-phase aggregation (SURVEY.md §4).

A mega-forge (think github.com in a frontier of small Gitea hosts) puts
10^8+ URLs under one host key. Hash-partitioning by host alone would send
them to one task. Mitigations, in order of preference:

1. **AQE skew join** — enabled in session.py; splits oversized shuffle
   partitions at runtime. Zero code. This is the backstop.
2. **Explicit salting** (this module) — spread one host's rows over
   ``salt ∈ [0, S)`` subkeys for the heavy stages (fetch, parse, dedup,
   merge), then either (a) re-aggregate per host in a second phase for
   counters, or (b) keep salt in the key where per-host totality isn't
   needed. ``S`` is a fixed width per call site (``with_salt``).

Per-host *counters* (lineage: fetched/deduped/deferred, A3) use classic
two-phase aggregation: partial count per (host, salt) — map-side combined —
then a cheap final sum per host over ≤S rows each.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_salt(
    df: DataFrame,
    salt_buckets: int,
    row_key_cols: Sequence[str],
    out_col: str = "salt",
) -> DataFrame:
    """Deterministic salt from the row's own key (never random — crawl
    determinism and replay require salts to be pure functions of data)."""
    return df.withColumn(
        out_col, F.pmod(F.xxhash64(*row_key_cols), F.lit(salt_buckets)).cast("int")
    )


def ranked_by_host(
    df: DataFrame,
    host_col: str,
    order_col: str | Sequence[str],
    out_col: str = "host_rank",
    num_partitions: int | None = None,
    ascending: bool | Sequence[bool] = True,
) -> DataFrame:
    """Skew-proof per-host dense ranking (1-based) by ``order_col``.

    ``order_col`` may be a single column or a composite key (e.g. the
    priority queue's ``(priority DESC, page ASC)``); ``ascending`` applies
    per column. Both the range partitioner and the local window use the
    same sort order, so ranks stay globally consistent.

    A plain ``row_number() over (partition by host order by k)`` sorts each
    host inside ONE task — a mega-forge with 10^8 frontier rows becomes a
    serial bottleneck. This is the classic two-pass distributed ranking:

    1. range-partition globally by (host, k) — a hot host spans many
       partitions but stays contiguous and ordered across them;
    2. count rows per (partition, host) — a tiny table (≈ #hosts +
       #partitions rows, because only hosts straddling a boundary appear
       twice); prefix-sum it per host with a window, entirely distributed
       (a frontier with 10^6+ hosts must never collect this to the driver);
    3. local rank within (partition, host) + broadcast-joined offset.

    The expensive sort is the range partitioner's (parallel, balanced); no
    single task ever holds a whole hot host.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    asc_flags = (
        [ascending] * len(order_cols) if isinstance(ascending, bool) else list(ascending)
    )
    order_exprs = [
        F.col(c).asc() if a else F.col(c).desc() for c, a in zip(order_cols, asc_flags)
    ]
    ranged = df.repartitionByRange(
        num_partitions, F.col(host_col), *order_exprs
    ).withColumn("__pid", F.spark_partition_id())
    ranged = ranged.persist()
    counts = ranged.groupBy("__pid", host_col).agg(F.count(F.lit(1)).alias("__cnt"))
    # prefix offset per (pid, host): rows of the same host in earlier pids —
    # a per-host running sum over ≤ num_partitions rows each
    w_off = (
        Window.partitionBy(host_col)
        .orderBy(F.col("__pid").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_df = counts.select(
        host_col,
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
    )
    w = Window.partitionBy("__pid", host_col).orderBy(*order_exprs)
    out = (
        ranged.withColumn("__local", F.row_number().over(w))
        .join(F.broadcast(off_df), ["__pid", host_col])
        .withColumn(out_col, (F.col("__local") + F.col("__off")).cast("long"))
        .drop("__pid", "__local", "__off")
    )
    return out


def two_phase_count(
    df: DataFrame,
    group_cols: Sequence[str],
    salt_col: str = "salt",
    count_col: str = "n",
) -> DataFrame:
    """count per group via partial-per-salt then final-per-group. The partial
    shuffle key (group, salt) spreads a hot group over S reducers; the final
    phase aggregates ≤S small rows per group."""
    partial = df.groupBy(*group_cols, salt_col).agg(F.count(F.lit(1)).alias("__partial"))
    return partial.groupBy(*group_cols).agg(F.sum("__partial").alias(count_col))


def ordered_prefix(
    df: DataFrame,
    order_col: str | Sequence[str],
    value_col: str,
    rank_col: str = "ord_rank",
    prefix_col: str = "ord_prefix",
    num_partitions: int | None = None,
) -> DataFrame:
    """Skew-proof GLOBAL (1-based rank, EXCLUSIVE running sum of
    ``value_col``) in ascending ``order_col`` order — the scan/prefix
    primitive (waterfilling thresholds, quantile splits over exact mass).

    Same two-pass shape as :func:`ranked_by_host` with the whole frame as
    one ordered sequence: range-partition by the order key (the parallel,
    balanced sort), per-partition (count, sum) offsets — a ≤
    ``num_partitions``-row table whose running totals cost one trivial
    window — then local rank + local exclusive sum + broadcast offsets.
    A plain ``row_number() over (order by k)`` would sort the whole frame
    in ONE task; this never does.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    order_exprs = [F.col(c).asc() for c in order_cols]
    ranged = df.repartitionByRange(num_partitions, *order_exprs).withColumn(
        "__pid", F.spark_partition_id()
    )
    ranged = ranged.persist()
    per_pid = ranged.groupBy("__pid").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.coalesce(F.sum(value_col), F.lit(0)).cast("long").alias("__sum"),
    )
    w_off = (
        Window.partitionBy(F.lit(0))
        .orderBy(F.col("__pid").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = per_pid.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__roff"),
        F.coalesce(F.sum("__sum").over(w_off), F.lit(0)).alias("__soff"),
    )
    w = Window.partitionBy("__pid").orderBy(*order_exprs)
    return (
        ranged.withColumn("__lr", F.row_number().over(w))
        .withColumn(
            "__lp",
            F.coalesce(
                F.sum(value_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .join(F.broadcast(off), "__pid")
        .withColumn(rank_col, (F.col("__lr") + F.col("__roff")).cast("long"))
        .withColumn(prefix_col, (F.col("__lp") + F.col("__soff")).cast("long"))
        .drop("__pid", "__lr", "__lp", "__roff", "__soff")
    )


def grouped_ordered_prefix(
    df: DataFrame,
    group_col: str,
    order_col: str | Sequence[str],
    value_col: str,
    rank_col: str = "ord_rank",
    prefix_col: str = "ord_prefix",
    num_partitions: int | None = None,
) -> DataFrame:
    """Skew-proof PER-GROUP (1-based rank, EXCLUSIVE running sum of
    ``value_col``) in ascending ``order_col`` order — :func:`ordered_prefix`
    with a group key, or equivalently :func:`ranked_by_host` carrying a
    running sum beside the rank.

    Same two-pass shape: range-partition by (group, order) — a mega-group
    spans many partitions but stays contiguous and ordered across them —
    then per-(partition, group) (count, sum) offsets (a tiny table:
    ≈ #groups + #partitions rows), per-group running totals over ≤
    #partitions rows each, local rank + local exclusive sum + broadcast
    offsets. A plain window partitioned by group would sort each group in
    ONE task.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    order_exprs = [F.col(c).asc() for c in order_cols]
    ranged = df.repartitionByRange(
        num_partitions, F.col(group_col), *order_exprs
    ).withColumn("__pid", F.spark_partition_id())
    # RETENTION NOTE: this persist (like ordered_prefix's) is released by
    # the ContextCleaner when the returned frame is garbage-collected, not
    # eagerly — long-lived drivers calling the quantile family repeatedly
    # rely on session.py's 90 s periodic concurrent GC to bound the cached
    # partitions' lifetime.
    ranged = ranged.persist()
    per = ranged.groupBy("__pid", group_col).agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.coalesce(F.sum(value_col), F.lit(0)).cast("long").alias("__sum"),
    )
    w_off = (
        Window.partitionBy(group_col)
        .orderBy(F.col("__pid").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = per.select(
        group_col,
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__roff"),
        F.coalesce(F.sum("__sum").over(w_off), F.lit(0)).alias("__soff"),
    )
    w = Window.partitionBy("__pid", group_col).orderBy(*order_exprs)
    return (
        ranged.withColumn("__lr", F.row_number().over(w))
        .withColumn(
            "__lp",
            F.coalesce(
                F.sum(value_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .join(F.broadcast(off), ["__pid", group_col])
        .withColumn(rank_col, (F.col("__lr") + F.col("__roff")).cast("long"))
        .withColumn(prefix_col, (F.col("__lp") + F.col("__soff")).cast("long"))
        .drop("__pid", "__lr", "__lp", "__roff", "__soff")
    )
