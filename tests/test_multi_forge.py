"""N1 forge-type dispatch e2e: a mixed gitea/github/sourcehut corpus crawls
to the exact golden entity tables through the same engine."""

import pytest
from pyspark.sql import functions as F

from starchart_spark.crawl.corpus import CorpusSpec, make_corpus
from starchart_spark.crawl.engine import CrawlEngine, CrawlSettings
from starchart_spark.testing import corpus_to_spark


@pytest.fixture(scope="module")
def mixed(spark, tmp_path_factory):
    spec = CorpusSpec(
        n_forges=3,
        repos_per_forge=25,
        page_size=10,
        forge_types=("gitea", "github", "sourcehut"),
    )
    corpus = make_corpus(spec)
    dfs = corpus_to_spark(spark, corpus)
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("wh_mixed")),
        # items_per_api_call must match the corpus page size — it's part of
        # the page-URL identity
        CrawlSettings(host_buckets=4, items_per_api_call=10),
    )
    eng.init_state(dfs["seed_forges"], dfs["consent"])
    eng.run(dfs["documents"])
    return spec, dfs, eng


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_repositories_exact_across_types(mixed):
    _, dfs, eng = mixed
    cols = ["hostname", "owner", "name", "description", "website", "html_url", "imported"]
    assert _rows(eng.repositories.read(eng.spark), cols) == _rows(
        dfs["golden_repositories"], cols
    )


def test_tags_per_type(mixed):
    _, _, eng = mixed
    repos = eng.repositories.read(eng.spark)
    gitea = repos.filter(F.col("hostname").contains("forge-0001"))
    github = repos.filter(F.col("hostname").contains("forge-0002"))
    srht = repos.filter(F.col("hostname").contains("forge-0003"))
    assert gitea.filter(F.array_contains("tags", "testing")).count() == gitea.count()
    assert github.filter(F.array_contains("tags", "testing")).count() == github.count()
    assert srht.filter(F.col("tags").isNotNull()).count() == 0


def test_users_exact_across_types(mixed):
    _, dfs, eng = mixed
    cols = ["hostname", "username", "html_link", "profile_photo"]
    assert _rows(eng.users.read(eng.spark), cols) == _rows(dfs["golden_users"], cols)


def test_crawl_order_mixed(mixed):
    """github/sourcehut hosts have no topics fetches — per-page order is just
    the page fetch; gitea interleaves topics. Golden order holds across all."""
    _, dfs, eng = mixed
    cols = ["seq", "hostname", "page", "idx_in_page", "doc_id"]
    assert _rows(eng.crawl_order(), cols) == _rows(dfs["golden_crawl_order"], cols)


def test_rate_override_consent_lifts_to_long(spark):
    """An optional per-forge rate reaches the LongType consent field as an
    int or NULL, never as a float."""
    spec = CorpusSpec(n_forges=4, rate_override_every=2)
    consent = corpus_to_spark(spark, make_corpus(spec))["consent"]
    rates = {r["hostname"]: r["rate_ms"] for r in consent.collect()}
    assert set(rates.values()) == {500, None}
    assert rates == {
        spec.host(fi): 500 if fi % 2 == 0 else None for fi in range(1, 5)
    }
