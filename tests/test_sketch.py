"""Sketch operators: HLL cardinality, count-min frequency, HRW sharding.

Each sketch's probabilistic guarantee is asserted against exact
recomputation on the same data; mergeability (the property that makes the
fixed-size state worth shipping through a shuffle) is asserted
structurally — registers of a union == merged registers of the parts.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from starchart_spark.operators import sketch


def _ids(spark, n, start=0):
    return spark.range(start, start + n).select(F.col("id").alias("key"))


@pytest.mark.parametrize("portable", [True, False])
def test_hll_accuracy(spark, portable):
    n, b = 20_000, 12
    df = _ids(spark, n)
    est = sketch.hll_estimate(df, "key", b=b, portable=portable).collect()[0]["est"]
    # 3σ at b=12: 3·1.04/√4096 ≈ 4.9%
    assert abs(est - n) / n < 0.05, est


def test_hll_grouped_and_duplicates(spark):
    """Duplicates never move the estimate (registers are max-folds), and
    grouping keys stay independent."""
    df = (
        _ids(spark, 5_000)
        .withColumn("g", (F.col("key") % 2).cast("int"))
        .withColumn("key", F.col("key") - F.pmod(F.col("key"), F.lit(2)))
    )  # per group: 2500 distinct keys, each key appearing once per group
    doubled = df.union(df).union(df)
    base = {
        r["g"]: r["est"]
        for r in sketch.hll_estimate(df, "key", ["g"], b=10, portable=True).collect()
    }
    dup = {
        r["g"]: r["est"]
        for r in sketch.hll_estimate(
            doubled, "key", ["g"], b=10, portable=True
        ).collect()
    }
    assert base == dup
    for g, est in base.items():
        assert abs(est - 2_500) / 2_500 < 0.12, (g, est)  # 3σ at b=10 ≈ 9.8%


def test_hll_registers_merge(spark):
    """Union-then-sketch == sketch-then-max-merge: the mergeability that
    lets per-partition / per-day register tables roll up without rescan."""
    a, bdf = _ids(spark, 3_000), _ids(spark, 3_000, start=1_500)
    whole = sketch.hll_registers(a.union(bdf), "key", b=8, portable=True)
    merged = (
        sketch.hll_registers(a, "key", b=8, portable=True)
        .union(sketch.hll_registers(bdf, "key", b=8, portable=True))
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))


def test_hll_linear_counting_small_range(spark):
    """Tiny cardinalities route through the linear-counting branch and
    land near-exact (the raw estimator is badly biased down here)."""
    df = _ids(spark, 30)
    est = sketch.hll_estimate(df, "key", b=12, portable=True).collect()[0]["est"]
    assert abs(est - 30) <= 2, est


@pytest.mark.parametrize("portable", [True, False])
def test_cms_overestimate_and_bound(spark, portable):
    """est ≥ true for EVERY key (structural), and the ε·N overshoot bound
    holds for the vast majority (probabilistic, d=4 ⇒ δ≈1.8%)."""
    # zipf-ish: key k appears ~ 2000//(k+1) times
    df = (
        spark.range(200)
        .select(
            F.explode(
                F.sequence(
                    F.lit(1), (2000 / (F.col("id") + 1)).cast("int")
                )
            ).alias("x"),
            F.col("id").alias("key"),
        )
        .select("key")
    )
    n_total = df.count()
    true = {r["key"]: r["cnt"] for r in df.groupBy("key").agg(F.count("*").alias("cnt")).collect()}
    d, w = 4, 1024
    sk = sketch.cms_build(df, "key", d=d, w=w, portable=portable)
    est = {
        r["key"]: r["est"]
        for r in sketch.cms_lookup(
            sk, df.select("key").distinct(), "key", d=d, w=w, portable=portable
        ).collect()
    }
    eps_n = math.e / w * n_total
    overshoots = 0
    for k, t in true.items():
        assert est[k] >= t, (k, est[k], t)
        if est[k] > t + eps_n:
            overshoots += 1
    assert overshoots <= max(2, 0.05 * len(true)), overshoots


def test_cms_heavy_hitters_no_miss(spark):
    """One-sided guarantee: every true-heavy key is returned."""
    hot = spark.range(5).select(
        F.explode(F.sequence(F.lit(1), F.lit(500))).alias("x"),
        F.col("id").alias("key"),
    ).select("key")
    cold = spark.range(100, 1100).select(F.col("id").alias("key"))
    df = hot.union(cold)
    hits = {
        r["key"]
        for r in sketch.cms_heavy_hitters(
            df, "key", threshold=400, d=4, w=2048, portable=True
        ).collect()
    }
    assert {0, 1, 2, 3, 4} <= hits


def test_cms_weighted(spark):
    """weight_col sums an integer measure (bytes) instead of occurrences."""
    df = spark.createDataFrame(
        [(1, 100), (1, 250), (2, 7)], ["key", "nbytes"]
    )
    sk = sketch.cms_build(df, "key", d=3, w=64, weight_col="nbytes", portable=True)
    est = {
        r["key"]: r["est"]
        for r in sketch.cms_lookup(
            sk, df.select("key").distinct(), "key", d=3, w=64, portable=True
        ).collect()
    }
    assert est[1] >= 350 and est[2] >= 7


@pytest.mark.parametrize("portable", [True, False])
def test_hrw_minimal_disruption(spark, portable):
    """Resizing W→W+1 only moves hosts TO the new shard, ≈1/(W+1) of them
    — the property that keeps politeness state put (mod-hashing moves
    (W-1)/W of all hosts)."""
    hosts = spark.range(4_000).select(F.col("id").alias("host_key"))
    w = 8
    before = {
        r["host_key"]: r["shard"]
        for r in sketch.hrw_assign(hosts, w, portable=portable).collect()
    }
    after = {
        r["host_key"]: r["shard"]
        for r in sketch.hrw_assign(hosts, w + 1, portable=portable).collect()
    }
    moved = [k for k in before if before[k] != after[k]]
    assert all(after[k] == w for k in moved)  # only TO the new shard
    frac = len(moved) / len(before)
    assert abs(frac - 1 / (w + 1)) < 0.04, frac


def test_hrw_balance_and_determinism(spark):
    hosts = spark.range(8_000).select(F.col("id").alias("host_key"))
    out = sketch.hrw_assign(hosts, 16, portable=True)
    loads = {r["shard"]: r["n"] for r in out.groupBy("shard").agg(F.count("*").alias("n")).collect()}
    assert set(loads) == set(range(16))
    mean = 8_000 / 16
    assert all(abs(n - mean) / mean < 0.25 for n in loads.values()), loads
    again = sketch.hrw_assign(hosts, 16, portable=True)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_log2_histogram_buckets_and_merge(spark):
    df = spark.createDataFrame(
        [("a", 0), ("a", 1), ("a", 2), ("a", 3), ("a", 4), ("a", 100)],
        ["g", "v"],
    )
    got = {
        (r["g"], r["hbucket"]): r["cnt"]
        for r in sketch.log2_histogram(df, "v", ["g"]).collect()
    }
    # 0→0, 1→1, 2..3→2, 4→3, 100→7 (bin(100)='1100100')
    assert got == {("a", 0): 1, ("a", 1): 1, ("a", 2): 2, ("a", 3): 1, ("a", 7): 1}
    # mergeability: histogram of union == summed histograms of the parts
    h1 = sketch.log2_histogram(df.limit(3), "v", ["g"])
    h2 = sketch.log2_histogram(df.subtract(df.limit(3)), "v", ["g"])
    merged = {
        (r["g"], r["hbucket"]): r["cnt"]
        for r in h1.union(h2).groupBy("g", "hbucket").agg(
            F.sum("cnt").alias("cnt")
        ).collect()
    }
    assert merged == got


def test_histogram_quantile_two_x_bound(spark):
    import random

    rnd = random.Random(7)
    vals = [rnd.randint(1, 100_000) for _ in range(5_000)]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    hist = sketch.log2_histogram(df, "v")
    for qpm in (500, 900, 999):
        upper = sketch.histogram_quantile(hist, qpm).collect()[0]["q_upper"]
        exact = sorted(vals)[
            min(len(vals) - 1, (len(vals) * qpm + 999) // 1000 - 1)
        ]
        assert upper / 2 < exact <= upper, (qpm, exact, upper)


def test_histogram_quantile_hand_case(spark):
    df = spark.createDataFrame([(1,), (2,), (3,), (4,), (100,)], ["v"])
    hist = sketch.log2_histogram(df, "v")
    # N=5, p50 rank = (5*500+999) div 1000 = 3 → first bucket with cum≥3 is
    # hbucket 2 (values 2,3) → upper 2^2−1 = 3
    assert sketch.histogram_quantile(hist, 500).collect()[0]["q_upper"] == 3
    # p100 → max bucket (100 → hbucket 7) → upper 127 ≥ max
    assert sketch.histogram_quantile(hist, 1000).collect()[0]["q_upper"] == 127


# --------------------------------------------------------------------------
# Theta / bottom-k sketch: accuracy, exact mergeability, set algebra


@pytest.mark.parametrize("portable", [True, False])
def test_theta_accuracy(spark, portable):
    n = 50_000
    df = _ids(spark, n)
    regs = sketch.theta_registers(df, "key", portable=portable)
    row = sketch.theta_estimate(regs).collect()[0]
    # k=256 → σ ≈ 1/√k ≈ 6.3%; deterministic, so a 12% band is generous
    assert abs(row["est"] - n) / n < 0.12, row["est"]
    assert row["theta"] < sketch.P31  # sampled regime


def test_theta_exhaustive_exact(spark):
    """Below k distinct keys the sketch IS the distinct set (modulo rare
    bucket collisions at n ≪ B) — theta pegs at P31 and est is integral."""
    n = 100
    regs = sketch.theta_registers(_ids(spark, n), "key", portable=True)
    row = sketch.theta_estimate(regs).collect()[0]
    assert row["theta"] == sketch.P31
    assert abs(row["est"] - n) <= 2
    assert row["est"] == row["n_kept"]


def test_theta_merge_is_exact(spark):
    """registers(A ∪ B) == merge(registers(A), registers(B)) bit-for-bit —
    the property that lets per-epoch ledgers fold without touching keys."""
    a, b = _ids(spark, 8_000), _ids(spark, 8_000, start=4_000)
    ra = sketch.theta_registers(a, "key", portable=True)
    rb = sketch.theta_registers(b, "key", portable=True)
    direct = sketch.theta_registers(a.union(b), "key", portable=True)
    merged = sketch.theta_merge(ra, rb)
    key = lambda r: (r["bucket"], r["minh"])
    assert sorted(map(key, direct.collect())) == sorted(map(key, merged.collect()))
    # and the union estimate reads the true |A ∪ B|
    est = sketch.theta_estimate(merged).collect()[0]["est"]
    assert abs(est - 12_000) / 12_000 < 0.12, est


def test_theta_intersect_accuracy(spark):
    a = _ids(spark, 30_000)
    b = _ids(spark, 30_000, start=15_000)
    ra = sketch.theta_registers(a, "key", portable=True)
    rb = sketch.theta_registers(b, "key", portable=True)
    row = sketch.theta_intersect(ra, rb).collect()[0]
    # true |A ∩ B| = 15000; intersection noise ≈ 1/√matches — wider band
    assert abs(row["est_inter"] - 15_000) / 15_000 < 0.2, row["est_inter"]
    diff = sketch.theta_difference(ra, rb).collect()[0]["est_diff"]
    assert abs(diff - 15_000) / 15_000 < 0.25, diff


def test_theta_intersect_exhaustive_exact(spark):
    """Both sketches exhaustive → every common hash retained → est_inter
    is the exact overlap (bucket-mask probability ~n²/2B ≈ 0.08 at n=50)."""
    a = _ids(spark, 50)
    b = _ids(spark, 50, start=25)
    ra = sketch.theta_registers(a, "key", portable=True)
    rb = sketch.theta_registers(b, "key", portable=True)
    row = sketch.theta_intersect(ra, rb).collect()[0]
    assert row["theta"] == sketch.P31
    assert row["matches"] == 25
    assert row["est_inter"] == 25.0


def test_theta_disjoint_and_grouped(spark):
    """Grouped path: per-group estimates are independent; disjoint groups'
    intersection reads 0 matches (the left-join zero-fill path)."""
    df = _ids(spark, 4_000).withColumn("g", (F.col("key") % 2).cast("int"))
    regs = sketch.theta_registers(df, "key", ["g"], portable=True)
    ests = {r["g"]: r["est"] for r in sketch.theta_estimate(regs, ["g"]).collect()}
    for g in (0, 1):
        assert abs(ests[g] - 2_000) / 2_000 < 0.15, ests
    # even/odd key sets are disjoint: intersect the two groups' sketches
    ra = regs.filter("g = 0").drop("g")
    rb = regs.filter("g = 1").drop("g")
    row = sketch.theta_intersect(ra, rb).collect()[0]
    assert row["matches"] == 0 and row["est_inter"] == 0.0


def test_streaming_hll_registers_match_batch(spark, tmp_path):
    """Streaming HLL registers (complete-mode max aggregate) == batch
    registers on the same rows, across several micro-batches — the
    bounded-state streaming cardinality path."""
    df = spark.range(2_000).select(
        (F.col("id") % 3).cast("int").alias("g"), F.col("id").alias("key")
    )
    drop_dir = str(tmp_path / "keys")
    df.repartition(4, "key").write.parquet(drop_dir)

    src = (
        spark.readStream.schema("g int, key long")
        .option("maxFilesPerTrigger", 1)
        .parquet(drop_dir)
    )
    q = (
        sketch.hll_registers(src, "key", ["g"], b=8, portable=True)
        .writeStream.format("memory")
        .queryName("hll_regs")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        map(tuple, spark.sql("SELECT g, bucket, rho FROM hll_regs").collect())
    )
    want = sorted(
        map(
            tuple,
            sketch.hll_registers(df, "key", ["g"], b=8, portable=True).collect(),
        )
    )
    assert got == want


def test_streaming_cms_matches_batch(spark, tmp_path):
    """Streaming CMS cells (complete-mode sum aggregate) == batch cells on
    the same rows across micro-batches."""
    df = spark.range(600).select((F.col("id") % 37).alias("key"))
    drop_dir = str(tmp_path / "cms_keys")
    df.repartition(4, "key").write.parquet(drop_dir)

    src = (
        spark.readStream.schema("key long")
        .option("maxFilesPerTrigger", 1)
        .parquet(drop_dir)
    )
    q = (
        sketch.cms_build(src, "key", d=3, w=128, portable=True)
        .writeStream.format("memory")
        .queryName("cms_cells")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("SELECT row, cell, cnt FROM cms_cells").collect())
    )
    want = sorted(
        map(tuple, sketch.cms_build(df, "key", d=3, w=128, portable=True).collect())
    )
    assert got == want
