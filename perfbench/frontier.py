"""Frontier workload: the scheduling data plane with no table writes.

A synthetic skewed frontier in the shape of ``bench.synth_frontier`` goes
through canonicalize -> bloom build and probe -> keep-first -> seen confirm
-> per-host budget -> hot-host ranking, as one fused pass. One host holds a
fifth of the URLs, every key appears twice, three in ten keys are already
seen, and the per-host budget is set below the mega-host's share so the
ranking has rows to defer. The crawl engine is not involved.

The traced run also measures the ``queries`` layer (see ``queries.py``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

import queries
from common import CheckFailed, median, now
from starchart_spark.functions.urls import canonicalize_via_dim, host_bucket
from starchart_spark.operators import bloom, dedup, skew

N_HOSTS = 997  # plus host 0, the mega-host
HOST_BUCKETS = 32


def _sizes(ctx) -> tuple[int, int]:
    n_urls = 200_000 if ctx.smoke else 500_000
    # the mega-host keeps ~0.07 n unseen keys; everyone else ~0.0003 n
    k_slots = n_urls // 40
    return n_urls, k_slots


def synth_frontier(spark, n_urls: int, seed: int):
    """Deterministic frontier, generated JVM-side; ``seed`` drives the
    host assignment and the key paths. Row ``id`` and ``id + n/2`` carry
    the same URL, so every key repeats twice."""
    parts = spark.sparkContext.defaultParallelism * 2
    k = F.col("id") % (n_urls // 2)
    host_id = F.when(k % 5 == 0, F.lit(0)).otherwise(
        F.pmod(F.xxhash64(F.lit(seed), k), F.lit(N_HOSTS)) + 1
    )
    return spark.range(0, n_urls, 1, parts).select(
        "id",
        F.concat(
            F.lit("HTTPS://Forge-"),
            host_id.cast("string"),
            F.lit(".Test/repo/"),
            F.xxhash64(F.lit(seed + 1), k).cast("string"),
            F.lit("?page=1#frag"),
        ).alias("url"),
        (F.pmod(F.xxhash64(F.lit(seed + 2), k), F.lit(10)) < 3).alias("pre_seen"),
    )


def keyed(frontier):
    """Canonical host through the URL layer, then the narrow key columns."""
    with_canon = canonicalize_via_dim(frontier, "url", "hostname")
    page_key = F.concat(F.col("hostname"), F.regexp_extract("url", r"\.Test(/[^?#]*)", 1))
    return with_canon.select(
        "id",
        F.xxhash64("hostname").alias("host_key"),
        F.xxhash64(page_key).alias("key_hash"),
        host_bucket("hostname", HOST_BUCKETS).alias("host_bucket"),
    )


def _inputs(ctx) -> dict:
    n_urls, k_slots = _sizes(ctx)
    frontier = synth_frontier(ctx.spark, n_urls, ctx.seed)
    seen = (
        keyed(frontier.filter("pre_seen"))
        .select("key_hash", "host_bucket")
        .dropDuplicates(["key_hash"])
        .persist()
    )
    seen.count()
    return {"frontier": frontier, "seen": seen, "n_urls": n_urls, "k_slots": k_slots}


def prepare(ctx) -> dict:
    t0 = now()
    st = _inputs(ctx)
    ctx.notes["inputs_s"] = now() - t0
    # warm-up: one untimed pass compiles every stage and starts the Python
    # workers, as in a long-lived scheduler (the next pass still runs about
    # a fifth slower than later ones while the JIT settles)
    ctx.notes["warmup_s"] = step(ctx, st)["wall_s"]
    return st


def step(ctx, st) -> dict:
    """One fused scheduling pass; returns its counters and wall time."""
    k_slots = st["k_slots"]
    t0 = now()
    filters = bloom.build(st["seen"])
    probed = bloom.probe_jvm(keyed(st["frontier"]), filters, strategy="broadcast")
    uniq0 = dedup.keep_first_agg(
        probed.select("id", "host_key", "key_hash", "maybe_seen"), ["key_hash"], "id"
    )
    uniq = (
        dedup.seen_filter(uniq0, st["seen"], ["key_hash"], "maybe_seen")
        .select("id", "host_key", "key_hash")
        .persist()
    )
    host_counts = uniq.groupBy("host_key").agg(F.count(F.lit(1)).alias("n"))
    row = host_counts.agg(
        F.sum("n").alias("n"),
        F.sum(F.greatest(F.col("n") - k_slots, F.lit(0))).alias("deferred"),
    ).collect()[0]
    hot = uniq.join(
        F.broadcast(host_counts.filter(F.col("n") > k_slots).select("host_key")),
        "host_key",
        "left_semi",
    )
    ranked = skew.ranked_by_host(hot, "host_key", "id")
    rank_deferred = ranked.agg(
        F.sum((F.col("host_rank") > k_slots).cast("long")).alias("d")
    ).collect()[0]["d"]
    wall = now() - t0
    uniq.unpersist()
    n = st["n_urls"]
    uniq_n, deferred = int(row["n"]), int(row["deferred"])
    return {
        "items": n,
        "wall_s": wall,
        "step_s": [wall],
        "out": {
            "scheduled": uniq_n - deferred,
            "deferred": deferred,
            "deduped": n - uniq_n,
            "rank_deferred": int(rank_deferred or 0),
        },
    }


def recount(st) -> dict:
    """Exact counts without the bloom filter: distinct keys, anti-join with
    the seen set, per-host count against the budget."""
    k_slots, n = st["k_slots"], st["n_urls"]
    distinct = keyed(st["frontier"]).select("host_key", "key_hash").dropDuplicates(["key_hash"])
    new = distinct.join(st["seen"].select("key_hash"), "key_hash", "left_anti")
    row = (
        new.groupBy("host_key")
        .count()
        .agg(
            F.sum("count").alias("n"),
            F.sum(F.greatest(F.col("count") - k_slots, F.lit(0))).alias("deferred"),
        )
        .collect()[0]
    )
    uniq_n, deferred = int(row["n"]), int(row["deferred"])
    return {"scheduled": uniq_n - deferred, "deferred": deferred, "deduped": n - uniq_n}


def check(ctx, st, results: list) -> None:
    want = recount(st)
    for i, r in enumerate(results):
        def _one(out=r["out"]):
            got = {k: out[k] for k in want}
            if got != want:
                raise CheckFailed(f"frontier counts {got} != recount {want}")
            if out["rank_deferred"] != want["deferred"]:
                raise CheckFailed(
                    f"ranked deferral {out['rank_deferred']} != recount {want['deferred']}"
                )
            if want["deferred"] <= 0:
                raise CheckFailed("the per-host budget does not bind: deferred == 0")

        ctx.checked(f"frontier.pass{i}", _one)


def layers(ctx, st, results: list) -> dict:
    """Staged pass for the trace: each layer materialized on its own under
    its own job group, in the shape of ``bench.frontier_pipeline_staged``;
    then the ``queries`` layer, which has no workload of its own."""
    k_slots = st["k_slots"]
    out: dict[str, float] = {}
    cache = []

    def _timed(name, fn):
        t0 = now()
        with ctx.group(name):
            res = fn()
        out[name + "_s"] = now() - t0
        return res

    def _persist(df):
        cache.append(df.persist())
        return df

    kd = _persist(keyed(st["frontier"]))
    _timed("urls", kd.count)
    filters = _persist(bloom.build(st["seen"]))
    _timed("bloom.build", filters.count)
    probed = _persist(bloom.probe_jvm(kd, filters, strategy="broadcast"))
    row = _timed(
        "bloom.probe",
        lambda: probed.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("maybe_seen").cast("long")).alias("m")
        ).collect()[0],
    )
    out["bloom.maybe_seen_share"] = row["m"] / row["n"]
    uniq = _persist(
        dedup.seen_filter(
            dedup.keep_first_agg(
                probed.select("id", "host_key", "key_hash", "maybe_seen"), ["key_hash"], "id"
            ),
            st["seen"],
            ["key_hash"],
            "maybe_seen",
        ).select("id", "host_key", "key_hash")
    )
    _timed("dedup", uniq.count)

    def _rank():
        counts = uniq.groupBy("host_key").agg(F.count(F.lit(1)).alias("n"))
        hot = uniq.join(
            F.broadcast(counts.filter(F.col("n") > k_slots).select("host_key")),
            "host_key",
            "left_semi",
        )
        ranked = skew.ranked_by_host(hot, "host_key", "id")
        return ranked.agg(F.sum((F.col("host_rank") > k_slots).cast("long"))).collect()[0][0]

    out["skew.deferred_rows"] = float(_timed("skew", _rank) or 0)
    # false positives: flagged keys the exact seen set does not hold
    with ctx.group("check"):
        flagged = probed.filter("maybe_seen").select("key_hash")
        fp = flagged.join(st["seen"].select("key_hash"), "key_hash", "left_anti").count()
    out["bloom.false_positive_share"] = fp / row["m"] if row["m"] else 0.0
    for df in cache:
        df.unpersist()
    out["queries"] = queries.measure(ctx)
    return out


def smoke_layers(ctx) -> dict:
    """The frontier layers at smoke size, for another workload's trace."""
    st = _inputs(ctx)
    out = layers(ctx, st, [])
    st["seen"].unpersist()
    return out


def from_log(groups, direct: dict) -> dict:
    urls, dd, sk = groups["urls"], groups["dedup"], groups["skew"]
    return {
        "urls.canonicalize_s": direct["urls_s"],
        "urls.python_run_s": urls.python_run_s,
        "urls.python_bytes_sent": urls.python_bytes_sent,
        "bloom.build_s": direct["bloom.build_s"],
        "bloom.probe_s": direct["bloom.probe_s"],
        "bloom.maybe_seen_share": direct["bloom.maybe_seen_share"],
        "bloom.false_positive_share": direct["bloom.false_positive_share"],
        "dedup.s": direct["dedup_s"],
        "dedup.shuffle_write_b": dd.shuffle_write_b,
        "dedup.shuffle_read_b": dd.shuffle_read_b,
        "dedup.spill_b": dd.spill_b,
        "dedup.gc_s": dd.gc_s,
        "dedup.task_s_max_over_p50": dd.task_s_max_over_p50(),
        "skew.rank_s": direct["skew_s"],
        "skew.deferred_rows": direct["skew.deferred_rows"],
        "skew.task_s_max_over_p50": sk.task_s_max_over_p50(),
        **queries.from_log(groups, direct["queries"]),
    }


def annotate(results: list) -> dict:
    return {"deferred": median([r["out"]["deferred"] for r in results]),
            "pass_s": [r["wall_s"] for r in results]}
