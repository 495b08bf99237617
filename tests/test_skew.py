"""Skew operators: salting, two-phase counters, skew-proof ranking."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from starchart_spark.operators import dedup, skew


def test_with_salt_deterministic(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], ["k"])
    a = {(r["k"], r["salt"]) for r in skew.with_salt(df, 8, ["k"]).collect()}
    b = {(r["k"], r["salt"]) for r in skew.with_salt(df, 8, ["k"]).collect()}
    assert a == b
    assert all(0 <= s < 8 for _, s in a)


def test_two_phase_count_equals_plain(spark):
    df = spark.createDataFrame(
        [(f"t{i % 3}", i) for i in range(1000)], ["event_type", "k"]
    )
    salted = skew.with_salt(df, 16, ["k"])
    got = {
        r["event_type"]: r["n"]
        for r in skew.two_phase_count(salted, ["event_type"]).collect()
    }
    want = {
        r["event_type"]: r["cnt"]
        for r in df.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got == want


def test_ranked_by_host_equals_window(spark):
    """Skew-proof two-pass ranking must equal the plain window rank exactly
    — including on a mega-host spanning many range partitions."""
    rows = [("mega", i * 7 % 5000) for i in range(5000)]
    rows += [(f"h{i % 11}", i) for i in range(1000)]
    df = spark.createDataFrame(rows, ["hostname", "k"]).dropDuplicates(
        ["hostname", "k"]
    )
    got = {
        (r["hostname"], r["k"]): r["host_rank"]
        for r in skew.ranked_by_host(df, "hostname", "k", num_partitions=16).collect()
    }
    w = Window.partitionBy("hostname").orderBy("k")
    want = {
        (r["hostname"], r["k"]): r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


def test_keep_first_agg_equals_window(spark):
    rows = [(i % 50, i, f"v{i}") for i in range(1000)]
    df = spark.createDataFrame(rows, ["key", "ord", "val"])
    a = sorted(
        tuple(r) for r in dedup.keep_first_agg(df, ["key"], "ord").collect()
    )
    b = sorted(tuple(r) for r in dedup.keep_first(df, ["key"], ["ord"]).collect())
    assert a == b


def test_ranked_by_host_empty_input(spark):
    df = spark.createDataFrame([], "hostname string, k long")
    out = skew.ranked_by_host(df, "hostname", "k", num_partitions=4)
    assert out.count() == 0
    assert "host_rank" in out.columns


def test_engine_docs_layout_spreads_mega_host(spark, tmp_path):
    """VERDICT r2 #9: with one host carrying ~50% of the documents, the
    engine's documents layout must not pin that host's share to one task —
    no partition may exceed 2x the median. The unsalted bucket-only layout
    is shown to violate exactly this (the hazard the salt removes)."""
    import statistics

    from starchart_spark.crawl.engine import CrawlEngine, CrawlSettings

    eng = CrawlEngine(spark, str(tmp_path / "wh"), CrawlSettings(host_buckets=8))
    n = 8000
    docs = spark.range(0, n).select(
        F.concat(F.lit("https://d"), F.col("id")).alias("doc_id"),
        F.array(F.struct(
            F.lit("api_json").alias("kind"), F.lit("{}").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        )).alias("spans"),
        F.when(F.col("id") % 2 == 0, F.lit("mega-forge.test")).otherwise(
            F.concat(F.lit("host"), (F.col("id") % 50).cast("string"), F.lit(".test"))
        ).alias("hostname"),
    )

    def partition_sizes(df):
        rows = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid").count().collect()
        )
        return sorted(r["count"] for r in rows)

    salted = partition_sizes(eng._prep_docs(docs))
    med = statistics.median(salted)
    assert salted[-1] <= 2 * med, (salted[-1], med, salted)

    unsalted = partition_sizes(
        docs.withColumn("host_bucket", eng._bucket("hostname"))
        .repartition(8, "host_bucket")
    )
    assert unsalted[-1] > 2 * statistics.median(unsalted), unsalted
