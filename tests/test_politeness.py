"""Politeness scheduler unit tests — slot math (P1/P2), consent gating
(P4/P5), deferral accounting, and the sliding limiter (P6), mirroring the
reference's counter tests (/root/reference/src/counter.rs:134-209) and DNS
config semantics (src/dns/mod.rs:61-81)."""

import pytest
from pyspark.sql import functions as F

from starchart_spark.operators import politeness


@pytest.fixture(scope="module")
def fetches(spark):
    rows = []
    for host, rate in [("a.test", 1000), ("b.test", 2000)]:
        for page in (1, 2):
            for idx in range(3):
                rows.append((host, page, idx, rate))
    return spark.createDataFrame(
        rows, ["hostname", "page", "idx_in_page", "effective_rate_ms"]
    )


def test_window_slots(fetches):
    out = politeness.assign_slots_window(fetches, ["page", "idx_in_page"])
    a = {
        (r["page"], r["idx_in_page"]): r["slot_ms"]
        for r in out.filter(F.col("hostname") == "a.test").collect()
    }
    # strictly rate-separated, in crawl order, per host
    assert a == {
        (1, 0): 0, (1, 1): 1000, (1, 2): 2000,
        (2, 0): 3000, (2, 1): 4000, (2, 2): 5000,
    }


def test_split_by_budget(fetches):
    slotted = politeness.assign_slots_window(fetches, ["page", "idx_in_page"])
    sched, deferred = politeness.split_by_budget(slotted, budget_ms=2500)
    # a.test (rate 1000): slots 0,1000,2000 fit; b.test (rate 2000): 0,2000 fit
    assert sched.filter(F.col("hostname") == "a.test").count() == 3
    assert sched.filter(F.col("hostname") == "b.test").count() == 2
    assert deferred.count() == 12 - 5
    sched_all, deferred_none = politeness.split_by_budget(slotted, None)
    assert sched_all.count() == 12 and deferred_none.count() == 0


def test_consent_gate(spark):
    frontier = spark.createDataFrame(
        [("a.test",), ("b.test",), ("c.test",), ("d.test",)], ["hostname"]
    )
    consent = spark.createDataFrame(
        [
            ("a.test", True, True, None),  # crawlable, default rate
            ("b.test", True, False, None),  # opted out (spidering=false)
            ("c.test", False, True, 500),  # unverified
        ],
        ["hostname", "verified", "spidering", "rate_ms"],
    ).withColumn("rate_ms", F.col("rate_ms").cast("long"))
    out = politeness.consent_gate(frontier, consent, default_rate_ms=2000)
    rows = {r["hostname"]: r["effective_rate_ms"] for r in out.collect()}
    # d.test absent from consent ⇒ never crawled (opt-in model)
    assert rows == {"a.test": 2000}


def test_consent_rate_override(spark):
    frontier = spark.createDataFrame([("a.test",)], ["hostname"])
    consent = spark.createDataFrame(
        [("a.test", True, True, 500)], ["hostname", "verified", "spidering", "rate_ms"]
    )
    out = politeness.consent_gate(frontier, consent)
    assert out.collect()[0]["effective_rate_ms"] == 500  # TXT rate=500 wins


def test_sliding_limiter(spark):
    # peer p1: 60 searches in one second ⇒ over the 50/54s threshold;
    # peer p2: 10 spread out ⇒ fine
    rows = [("p1", float(i) / 60.0) for i in range(60)]
    rows += [("p2", float(i) * 10.0) for i in range(10)]
    df = spark.createDataFrame(rows, ["peer", "ts"]).withColumn(
        "ts", F.timestamp_seconds(F.col("ts"))
    )
    out = politeness.sliding_limiter(df, "peer", "ts")
    assert out.filter((F.col("peer") == "p1") & F.col("over_limit")).count() > 0
    assert out.filter((F.col("peer") == "p2") & F.col("over_limit")).count() == 0


def test_budget_capacity_closed_form():
    """A host's per-batch fetch capacity in closed form (ceil(budget/rate))
    must equal the batch engine's split_by_budget on token-bucket slots
    (count of i with i*rate < budget) for any positive rate/budget."""
    import math

    for rate in (1, 2, 3, 7, 100, 999, 1000, 2000):
        for budget in (1, 2, 3, 500, 999, 1000, 1001, 2000, 3500, 10**6):
            bound = budget // rate + 2
            want = sum(1 for i in range(bound) if i * rate < budget)
            got = max(1, math.ceil(budget / rate))
            assert got == want, (rate, budget, got, want)


def test_txt_directive_parse_reference_vectors(spark):
    """The reference's dns_txt_parser_works vectors (src/dns/mod.rs:61-81)
    plus trim/whitespace and unknown-key behavior through
    parse_txt_directives."""
    df = spark.createDataFrame(
        [
            (1, "spidering=false,rate=500"),
            (2, "spidering=true"),
            (3, " spidering = true , rate = 200 "),
            (4, "other=1"),
        ],
        ["id", "txt_answer"],
    )
    out = {
        r["id"]: (r["spidering"], r["rate_ms"])
        for r in politeness.parse_txt_directives(df).collect()
    }
    assert out[1] == (False, 500)  # REQ/RES vector
    assert out[2] == (True, None)  # REQ_2/RES_2 vector
    assert out[3] == (True, 200)  # reference trims each k and v
    assert out[4] == (False, None)  # defaults when keys absent


def test_txt_challenge_key_and_verify(spark):
    """Challenge key construction (src/verify.rs:45-57) and the any-answer-
    equals-value membership test (src/verify.rs:65-72)."""
    df = spark.createDataFrame(
        [
            ("git.batsense.net", ["forge.forgeflux.org", "x"]),
            ("codeberg.org", ["nope"]),
            ("gitea.example", []),
        ],
        ["hostname", "answers"],
    )
    rows = df.select(
        "hostname",
        politeness.txt_challenge_key("forge.forgeflux.org").alias("key"),
        politeness.verify_txt_answers(F.col("answers"), "forge.forgeflux.org").alias(
            "ok"
        ),
    ).collect()
    got = {r["hostname"]: (r["key"], r["ok"]) for r in rows}
    assert got["git.batsense.net"] == (
        "starchart-forge.forgeflux.org.git.batsense.net",
        True,
    )
    assert got["codeberg.org"] == (
        "starchart-forge.forgeflux.org.codeberg.org",
        False,
    )
    assert got["gitea.example"][1] is False
