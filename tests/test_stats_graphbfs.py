"""Exact quantiles (operators/stats.py) and BFS hop distance
(graph.hop_distance): brute-force parity, tie/edge semantics, and
partition-invariance (both are exact-integer contracts)."""

import pytest
from pyspark.sql import functions as F

from starchart_spark.operators import graph, stats

QS = [0, 100, 250, 500, 750, 900, 1000]


def _brute_quantiles(values, qs):
    s = sorted(values)
    n = len(s)
    return {q: (1 + (q * (n - 1)) // 1000, s[(q * (n - 1)) // 1000]) for q in qs}


# --------------------------------------------------------------------- stats


def test_exact_quantiles_brute_parity(spark):
    # deterministic pseudo-random values incl. heavy ties
    vals = [(i * 7919) % 113 for i in range(501)]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    out = {
        r["q_milli"]: (r["qrank"], r["value"])
        for r in stats.exact_quantiles(df, "x", QS).collect()
    }
    assert out == _brute_quantiles(vals, QS)


def test_exact_quantiles_partition_invariance(spark):
    vals = [(i * 31) % 47 for i in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    a = sorted(stats.exact_quantiles(df, "x", QS).collect())
    b = sorted(stats.exact_quantiles(df.repartition(7), "x", QS).collect())
    assert a == b


def test_exact_quantiles_edges(spark):
    # n=1: every quantile is the single value at rank 1
    one = spark.createDataFrame([(42,)], ["x"])
    rows = stats.exact_quantiles(one, "x", [0, 500, 1000]).collect()
    assert {(r["q_milli"], r["qrank"], r["value"]) for r in rows} == {
        (0, 1, 42),
        (500, 1, 42),
        (1000, 1, 42),
    }
    # q=0 is the min, q=1000 the max, exactly
    vals = list(range(10, 110))
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    out = {
        r["q_milli"]: r["value"]
        for r in stats.exact_quantiles(df, "x", [0, 1000]).collect()
    }
    assert out == {0: 10, 1000: 109}


def test_exact_quantiles_validation(spark):
    df = spark.createDataFrame([(1,)], ["x"])
    with pytest.raises(ValueError):
        stats.exact_quantiles(df, "x", [])
    with pytest.raises(ValueError):
        stats.exact_quantiles(df, "x", [1001])
    with pytest.raises(ValueError):
        stats.exact_quantiles(df, "x", [500, 500])


def test_group_quantiles_brute_parity(spark):
    rows = [("g%d" % (i % 3), (i * 97) % 59) for i in range(300)]
    df = spark.createDataFrame(rows, ["g", "x"])
    got = {
        (r["grp"], r["q_milli"]): (r["qrank"], r["value"])
        for r in stats.group_quantiles(df, "g", "x", QS).collect()
    }
    want = {}
    for g in {"g0", "g1", "g2"}:
        per = _brute_quantiles([x for gg, x in rows if gg == g], QS)
        for q, rv in per.items():
            want[(g, q)] = rv
    assert got == want


def test_group_quantiles_skewed_group(spark):
    # one group holds 95% of rows (the mega-group the two-pass ranker
    # exists for); result must equal the brute computation regardless
    rows = [("big", (i * 13) % 257) for i in range(950)] + [
        ("small", i) for i in range(50)
    ]
    df = spark.createDataFrame(rows, ["g", "x"]).repartition(11)
    got = {
        (r["grp"], r["q_milli"]): (r["qrank"], r["value"])
        for r in stats.group_quantiles(df, "g", "x", [250, 500, 750]).collect()
    }
    for g in ("big", "small"):
        per = _brute_quantiles([x for gg, x in rows if gg == g], [250, 500, 750])
        for q, rv in per.items():
            assert got[(g, q)] == rv


# ------------------------------------------------------------------- BFS


def _hops(df):
    return {r["host"]: r["hops"] for r in df.collect()}


def test_hop_distance_chain(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], ["src", "dst"]
    )
    seeds = spark.createDataFrame([("a",)], ["host"])
    assert _hops(graph.hop_distance(edges, seeds, max_hops=3)) == {
        "a": 0,
        "b": 1,
        "c": 2,
        "d": 3,  # exact on the <=k ball ...
    }  # ... and e (distance 4) is absent, not misreported


def test_hop_distance_min_over_seeds_and_cycle(spark):
    # two seeds, a cycle, and a host reachable from both at different
    # depths: min wins; the cycle must not inflate distances
    edges = spark.createDataFrame(
        [("s1", "x"), ("x", "y"), ("y", "x"), ("s2", "y"), ("y", "z")],
        ["src", "dst"],
    )
    seeds = spark.createDataFrame([("s1",), ("s2",)], ["host"])
    assert _hops(graph.hop_distance(edges, seeds, max_hops=4)) == {
        "s1": 0,
        "s2": 0,
        "x": 1,
        "y": 1,  # via s2, not 2 via s1
        "z": 2,
    }


def test_hop_distance_isolated_seed_and_invariance(spark):
    edges = spark.range(400).select(
        F.concat(F.lit("h"), (F.col("id") % 29).cast("string")).alias("src"),
        F.concat(F.lit("h"), ((F.col("id") * 11) % 31).cast("string")).alias("dst"),
    ).distinct()
    # "offgraph" has no edges: it must still report hops 0
    seeds = spark.createDataFrame([("h1",), ("offgraph",)], ["host"])
    a = _hops(graph.hop_distance(edges, seeds, max_hops=4))
    assert a["offgraph"] == 0
    b = _hops(graph.hop_distance(edges.repartition(13), seeds, max_hops=4))
    assert a == b


# --------------------------------------------------------- weighted mass


def _brute_weighted(pairs, qs):
    s = sorted(pairs)
    W = sum(w for _, w in s)
    out = {}
    for q in qs:
        t = 1 + (q * (W - 1)) // 1000
        acc = 0
        for v, w in s:
            if acc < t <= acc + w:
                out[q] = (t, v)
                break
            acc += w
    return out


def test_weighted_quantiles_brute_parity(spark):
    # ties in value, varying weights, and zero-weight rows (transparent)
    pairs = [((i * 13) % 17, (i * 7) % 5) for i in range(120)]
    df = spark.createDataFrame(pairs, ["v", "w"])
    got = {
        r["q_milli"]: (r["target_mass"], r["value"])
        for r in stats.weighted_quantiles(df, "v", "w", QS).collect()
    }
    assert got == _brute_weighted(pairs, QS)


def test_weighted_quantiles_mass_vs_row(spark):
    # one heavy row dominates the mass: weighted p500 must land on it
    # while the row p500 does not
    pairs = [(i, 1) for i in range(1, 100)] + [(1000, 1000)]
    df = spark.createDataFrame(pairs, ["v", "w"])
    wq = {
        r["q_milli"]: r["value"]
        for r in stats.weighted_quantiles(df, "v", "w", [500]).collect()
    }
    rq = {
        r["q_milli"]: r["value"]
        for r in stats.exact_quantiles(df, "v", [500]).collect()
    }
    assert wq[500] == 1000 and rq[500] < 100


def test_weighted_quantiles_partition_invariance(spark):
    pairs = [((i * 31) % 23, 1 + (i % 4)) for i in range(150)]
    df = spark.createDataFrame(pairs, ["v", "w"])
    a = sorted(stats.weighted_quantiles(df, "v", "w", QS).collect())
    b = sorted(stats.weighted_quantiles(df.repartition(9), "v", "w", QS).collect())
    assert a == b


def test_weighted_quantiles_reject_negative_weight(spark):
    # a negative mass breaks the prefix's monotonicity: without the check,
    # q=500 straddles two rows here, (500, 4, 1) and (500, 4, 3)
    df = spark.createDataFrame(
        [("g", 1, 5), ("g", 2, -3), ("g", 3, 5)], ["g", "v", "w"]
    )
    with pytest.raises(Exception, match="negative weight in w"):
        stats.weighted_quantiles(df, "v", "w", [500]).collect()
    with pytest.raises(Exception, match="negative weight in w"):
        stats.group_weighted_quantiles(df, "g", "v", "w", [500]).collect()


# ----------------------------------------------------- composed priority


def test_crawl_priority_composition(spark):
    # star authority 3 hops out vs modest host adjacent to the seed:
    # locality must win; beyond-ball hosts get the max_hops+1 discount
    edges = spark.createDataFrame(
        [
            ("seed", "near"),
            ("near", "mid"),
            ("mid", "far"),
            ("a", "hub"), ("b", "hub"), ("c", "hub"), ("d", "hub"),
            ("far", "hub"),
        ],
        ["src", "dst"],
    )
    seeds = spark.createDataFrame([("seed",), ("offgraph",)], ["host"])
    out = {
        r["host"]: r
        for r in graph.crawl_priority(edges, seeds, pr_iters=8, max_hops=2).collect()
    }
    # domain is the graph's host set: the edge-less seed is absent
    assert "offgraph" not in out
    pr = {r["host"]: r["rank_u"] for r in graph.pagerank(edges, iters=8).collect()}
    # locality reorders comparable-authority hosts: far has MORE pagerank
    # than near (chain mass accumulates) but sits beyond the 2-hop ball,
    # so its 1+3 discount loses to near's 1+1
    assert pr["far"] >= pr["near"]
    assert out["near"]["priority_u"] > out["far"]["priority_u"]
    # a 4-in-edge authority is discounted but not erased: the discount is
    # a divisor, so hub's 4x-rank edge over near survives a 2x divisor gap
    assert out["hub"]["priority_u"] < pr["hub"]
    # beyond-ball (hops NULL) uses the max_hops+1 discount, exactly
    assert out["far"]["hops"] is None
    assert out["far"]["priority_u"] == pr["far"] // (1 + 3)
    # in-ball discount exact
    assert out["near"]["priority_u"] == pr["near"] // (1 + 1)
    assert out["seed"]["priority_u"] == pr["seed"] // 1


def test_quantile_buckets_brute_parity(spark):
    vals = [(i, (i * 37) % 61) for i in range(300)]
    df = spark.createDataFrame(vals, ["id", "x"])
    cuts = sorted(
        r["value"] for r in stats.exact_quantiles(df, "x", [250, 500, 750]).collect()
    )
    got = {
        r["id"]: r["bucket"]
        for r in stats.quantile_buckets(df, "x", [250, 500, 750]).collect()
    }
    want = {i: sum(1 for t in cuts if v > t) for i, v in vals}
    assert got == want
    assert set(got.values()) == {0, 1, 2, 3}


def test_quantile_buckets_tie_on_cut(spark):
    # a row exactly equal to a cut stays in the LOWER bucket (strict >)
    vals = [(i, v) for i, v in enumerate([1, 1, 2, 2, 3, 3, 4, 4, 5])]
    df = spark.createDataFrame(vals, ["id", "x"])
    med = {
        r["q_milli"]: r["value"]
        for r in stats.exact_quantiles(df, "x", [500]).collect()
    }[500]
    got = {r["x"]: r["bucket"] for r in
           stats.quantile_buckets(df, "x", [500]).collect()}
    assert got[med] == 0 and all(b == 1 for v, b in got.items() if v > med)


def test_group_weighted_quantiles_brute_parity(spark):
    rows = [("g%d" % (i % 3), (i * 13) % 19, 1 + (i * 7) % 5) for i in range(240)]
    df = spark.createDataFrame(rows, ["g", "v", "w"])
    got = {
        (r["grp"], r["q_milli"]): (r["target_mass"], r["value"])
        for r in stats.group_weighted_quantiles(
            df, "g", "v", "w", [250, 500, 750]
        ).collect()
    }
    want = {}
    for g in ("g0", "g1", "g2"):
        per = _brute_weighted(
            [(v, w) for gg, v, w in rows if gg == g], [250, 500, 750]
        )
        for q, tv in per.items():
            want[(g, q)] = tv
    assert got == want


def test_group_weighted_quantiles_skewed_group(spark):
    # one group carries 95% of rows AND a mega-heavy row; both the
    # two-pass grouped prefix and the straddle must stay exact
    rows = [("big", (i * 11) % 101, 1 + (i % 7)) for i in range(950)]
    rows += [("big", 500, 10_000)] + [("small", i, i + 1) for i in range(50)]
    df = spark.createDataFrame(rows, ["g", "v", "w"]).repartition(13)
    got = {
        (r["grp"], r["q_milli"]): (r["target_mass"], r["value"])
        for r in stats.group_weighted_quantiles(df, "g", "v", "w", QS).collect()
    }
    for g in ("big", "small"):
        per = _brute_weighted([(v, w) for gg, v, w in rows if gg == g], QS)
        for q, tv in per.items():
            assert got[(g, q)] == tv
    # the heavy row dominates big's mass: p500 must land on it
    assert got[("big", 500)][1] == 500
