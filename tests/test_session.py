"""The session's generated-code cache holds the crawl engine's working set,
so a repeated crawl reuses its compiled classes instead of compiling them
again."""

from pyspark.sql import functions as F

from starchart_spark.crawl.corpus import CorpusSpec, make_corpus
from starchart_spark.crawl.engine import CrawlEngine, CrawlSettings
from starchart_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compiles
from starchart_spark.testing import corpus_to_spark


def test_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_repeated_crawl_compiles_nothing_new(spark, tmp_path_factory):
    """Two identical budgeted crawls back to back, each into a fresh
    warehouse: the second finds every class in the cache. With Spark's
    100-entry default the second crawl compiles ~850 classes."""
    dfs = corpus_to_spark(
        spark, make_corpus(CorpusSpec(n_forges=2, repos_per_forge=20, page_size=20))
    )

    def crawl(name):
        eng = CrawlEngine(
            spark, str(tmp_path_factory.mktemp(name)),
            CrawlSettings(host_buckets=4, budget_ms=9000),
        )
        eng.init_state(dfs["seed_forges"], dfs["consent"])
        eng.run(dfs["documents"])
        return eng

    crawl("wh_codegen_first")
    before = codegen_compiles(spark)
    eng = crawl("wh_codegen_second")
    assert codegen_compiles(spark) - before <= 10

    # the budget deferred fetches, so the pending branch ran too
    lin = eng.lineage.read(spark)
    assert lin.agg(F.sum("deferred_by_politeness")).collect()[0][0] > 0
