"""Seen-set membership: keep-first determinism (D5), anti-join gates
(D2-D4), and the bloom/cuckoo filter contract (probe-then-confirm never
flips an answer)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from starchart_spark.operators import bloom, cuckoo, dedup


@pytest.fixture(scope="module")
def keyed(spark):
    rows = [(i, f"host-{i % 7}", i % 16) for i in range(2000)]
    return spark.createDataFrame(rows, ["key_hash", "hostname", "host_bucket"])


def test_keep_first_deterministic(spark):
    rows = [
        ("h1", "bot", 1, 2, "second"),
        ("h1", "bot", 1, 1, "first"),
        ("h1", "bot", 2, 1, "later-page"),
        ("h1", "alice", 1, 3, "only"),
    ]
    df = spark.createDataFrame(rows, ["hostname", "username", "page", "idx", "tag"])
    out = dedup.keep_first(df, ["hostname", "username"], ["page", "idx"])
    got = {(r["username"], r["tag"]) for r in out.collect()}
    assert got == {("bot", "first"), ("alice", "only")}


def test_anti_join_seen(spark):
    cands = spark.createDataFrame([("a",), ("b",), ("c",)], ["k"])
    seen = spark.createDataFrame([("b",), ("x",)], ["k"])
    out = dedup.anti_join_seen(cands, seen, ["k"])
    assert {r["k"] for r in out.collect()} == {"a", "c"}


def test_bloom_no_false_negatives(spark, keyed):
    filters = bloom.build(keyed)
    probed = bloom.probe(spark, keyed, filters)
    # every inserted key must probe "maybe"
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_bloom_fpr_reasonable(spark, keyed):
    filters = bloom.build(keyed)
    fresh = spark.createDataFrame(
        [(i + 1_000_000, f"host-{i % 7}", i % 16) for i in range(2000)],
        ["key_hash", "hostname", "host_bucket"],
    )
    probed = bloom.probe(spark, fresh, filters)
    fp = probed.filter(F.col("maybe_seen")).count()
    assert fp / 2000 < 0.05  # 10 bits/key ⇒ ~1% expected


def test_bloom_missing_bucket_probes_false(spark, keyed):
    filters = bloom.build(keyed)
    other = spark.createDataFrame([(1, "h", 999)], ["key_hash", "hostname", "host_bucket"])
    probed = bloom.probe(spark, other, filters)
    assert probed.collect()[0]["maybe_seen"] is False


def test_seen_filter_same_answers_with_and_without_bloom(spark, keyed):
    # bucket must be a pure function of the key row (host), identical at
    # build and probe time — as in the engine (bucket(B, hostname))
    seen = keyed.filter(F.col("key_hash") < 1000)
    cands = spark.createDataFrame(
        [(i + 500, f"host-{(i + 500) % 7}", (i + 500) % 16) for i in range(2000)],
        ["key_hash", "hostname", "host_bucket"],
    )  # half overlap with seen
    filters = bloom.build(seen)
    probed = bloom.probe(spark, cands, filters)
    with_bloom = dedup.seen_filter(probed, seen, ["key_hash"], "maybe_seen").drop("maybe_seen")
    without = dedup.seen_filter(cands, seen, ["key_hash"])
    a = sorted(r["key_hash"] for r in with_bloom.collect())
    b = sorted(r["key_hash"] for r in without.collect())
    assert a == b


def test_bloom_incremental_update_no_false_negatives(spark, keyed):
    old = keyed.filter(F.col("key_hash") < 1000)
    new = keyed.filter(F.col("key_hash") >= 1000)
    filters = bloom.update(bloom.build(old), new)
    probed = bloom.probe(spark, keyed, filters)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    # fresh keys still mostly probe False (capacity headroom holds FPR)
    fresh = spark.createDataFrame(
        [(i + 5_000_000, f"host-{i % 7}", i % 16) for i in range(2000)],
        ["key_hash", "hostname", "host_bucket"],
    )
    fp = bloom.probe(spark, fresh, filters).filter(F.col("maybe_seen")).count()
    assert fp / 2000 < 0.05


def test_bloom_update_untouched_buckets_passthrough(spark, keyed):
    filters = bloom.build(keyed)
    one_bucket = spark.createDataFrame(
        [(7_777_777, "host-0", 0)], ["key_hash", "hostname", "host_bucket"]
    )
    updated = bloom.update(filters, one_bucket)
    before = {r["host_bucket"]: tuple(r["words"]) for r in filters.collect()}
    after = {r["host_bucket"]: tuple(r["words"]) for r in updated.collect()}
    assert set(before) == set(after)
    changed = [b for b in before if before[b] != after[b]]
    assert changed == [0]  # only the touched bucket's bitmap moved


def test_bloom_overfull_flags_outgrown_bucket(spark):
    small = spark.createDataFrame(
        [(i, "h", 3) for i in range(50)], ["key_hash", "hostname", "host_bucket"]
    )
    grow = spark.createDataFrame(
        [(i + 1000, "h", 3) for i in range(400)],
        ["key_hash", "hostname", "host_bucket"],
    )
    filters = bloom.build(small)
    assert bloom.overfull(filters).count() == 0
    updated = bloom.update(filters, grow)
    assert [r["host_bucket"] for r in bloom.overfull(updated).collect()] == [3]
    # no false negatives even while overfull
    both = small.unionByName(grow)
    assert bloom.probe(spark, both, updated).filter(~F.col("maybe_seen")).count() == 0


def test_probe_plan_is_copartitioned_not_broadcast(spark, keyed):
    """North-rule scale contract: the probe must never collect/broadcast the
    full filter set — the plan is a cogroup on host_bucket."""
    filters = bloom.build(keyed)
    plan = bloom.probe(spark, keyed, filters)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BroadcastExchange" not in plan
    cplan = cuckoo.probe(spark, keyed, cuckoo.build(keyed))._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in cplan
    assert "BroadcastExchange" not in cplan


def test_probe_jvm_matches_cogroup(spark, keyed):
    """The pure-JVM probe (frontier hot path) gives bit-identical answers to
    the cogroup probe on inserted keys, fresh keys (FPR pattern included),
    and missing buckets — for both join strategies."""
    filters = bloom.build(keyed)
    fresh = spark.createDataFrame(
        [(i + 3_000_000, f"host-{i % 7}", i % 16) for i in range(2000)]
        + [(1, "h", 999)],  # missing bucket
        ["key_hash", "hostname", "host_bucket"],
    )
    for cands in (keyed, fresh):
        a = sorted(
            (r["key_hash"], r["maybe_seen"])
            for r in bloom.probe(spark, cands, filters).collect()
        )
        for strat in ("auto", "broadcast", "shuffle"):
            b = sorted(
                (r["key_hash"], r["maybe_seen"])
                for r in bloom.probe_jvm(cands, filters, strategy=strat).collect()
            )
            assert a == b, f"mismatch strategy={strat}"


def test_probe_jvm_plan_has_no_python(spark, keyed):
    """The JVM probe stage must stay entirely Catalyst-side: no Arrow/Python
    eval nodes; and with strategy="shuffle" no BroadcastExchange either (the
    10^10-key design point ships one filter row per bucket via shuffle)."""
    filters = bloom.build(keyed).persist()
    filters.count()
    plan = (
        bloom.probe_jvm(keyed, filters, strategy="shuffle")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for node in ("ArrowEvalPython", "BatchEvalPython", "FlatMapCoGroupsInPandas"):
        assert node not in plan
    assert "BroadcastExchange" not in plan
    filters.unpersist()


def test_probe_jvm_parity_on_adversarial_keys(spark):
    """numpy-kernel vs Catalyst-expression parity on hostile key patterns:
    negative hashes, extreme longs, sequential runs — the signed/unsigned
    and shift-semantics corners."""
    keys = (
        [-(2**63), 2**63 - 1, -1, 0, 1]
        + list(range(-500, 500, 7))
        + [i * (2**40) for i in range(-20, 20)]
    )
    rows = [(int(k), "h", abs(int(k)) % 8) for k in keys]
    df = spark.createDataFrame(rows, ["key_hash", "hostname", "host_bucket"])
    filters = bloom.build(df.filter(F.col("key_hash") % 3 == 0))
    a = sorted(
        (r["key_hash"], r["maybe_seen"])
        for r in bloom.probe(spark, df, filters).collect()
    )
    b = sorted(
        (r["key_hash"], r["maybe_seen"])
        for r in bloom.probe_jvm(df, filters).collect()
    )
    assert a == b


def test_cuckoo_incremental_update_add_delete(spark, keyed):
    filters = cuckoo.build(keyed)
    changes = spark.createDataFrame(
        [(8_888_001, "host-1", 1, "add"), (8_888_002, "host-1", 1, "add")]
        + [(15, "host-1", 1, "delete")],  # key 15 lives in bucket 15%16... use its real bucket
        ["key_hash", "hostname", "host_bucket", "op"],
    )
    updated = cuckoo.update(filters, changes)
    added = spark.createDataFrame(
        [(8_888_001, "host-1", 1), (8_888_002, "host-1", 1)],
        ["key_hash", "hostname", "host_bucket"],
    )
    assert cuckoo.probe(spark, added, updated).filter(~F.col("maybe_seen")).count() == 0
    # all original keys in untouched buckets still present
    survivors = keyed.filter(F.col("host_bucket") != 1)
    assert (
        cuckoo.probe(spark, survivors, updated).filter(~F.col("maybe_seen")).count() == 0
    )


def test_cuckoo_membership_and_delete():
    ct = cuckoo.CuckooTable(1000)
    import numpy as np

    keys = np.arange(1, 1001, dtype=np.int64) * 2654435761
    for k in keys:
        assert ct.add(int(k))
    assert ct.contains_vec(keys).all()
    # delete half; deleted keys may still collide-in via twins, but the
    # *other* keys must all remain present (no false negatives on survivors)
    for k in keys[:500]:
        assert ct.delete(int(k))
    assert ct.contains_vec(keys[500:]).all()
    # deleted keys mostly gone (fingerprint collisions allowed, rare)
    assert ct.contains_vec(keys[:500]).sum() < 25


def test_cuckoo_spark_roundtrip(spark, keyed):
    filters = cuckoo.build(keyed)
    probed = cuckoo.probe(spark, keyed, filters)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    fresh = spark.createDataFrame(
        [(i + 9_000_000, f"host-{i % 7}", i % 16) for i in range(2000)],
        ["key_hash", "hostname", "host_bucket"],
    )
    fp = cuckoo.probe(spark, fresh, filters).filter(F.col("maybe_seen")).count()
    assert fp / 2000 < 0.05
