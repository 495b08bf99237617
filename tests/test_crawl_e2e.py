"""End-to-end crawl over the seeded corpus — the reference's own e2e
semantics (/root/reference/src/spider.rs:226-252: forge exists, user ``bot``
exists, all 100 repos exist with topic ``testing``), plus the stronger
golden assertions FIXTURES.md mandates: exact crawl order, exact URL-seen
membership, exact entity tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from starchart_spark import tables
from starchart_spark.crawl.corpus import CorpusSpec, make_corpus
from starchart_spark.crawl.engine import CrawlEngine, CrawlSettings
from starchart_spark.testing import corpus_to_spark


@pytest.fixture(scope="module")
def crawl_result(spark, tmp_path_factory):
    spec = CorpusSpec(n_forges=3, repos_per_forge=100, page_size=20)
    corpus = make_corpus(spec)
    dfs = corpus_to_spark(spark, corpus)
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("warehouse")),
        CrawlSettings(items_per_api_call=20, host_buckets=8),
    )
    eng.init_state(dfs["seed_forges"], dfs["consent"])
    stats = eng.run(dfs["documents"])
    return spec, corpus, dfs, eng, stats


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_batches_ran(crawl_result):
    spec, _, _, _, stats = crawl_result
    # 5 data pages + 1 sentinel page per host, hosts in parallel
    assert stats["batches"] == 6


def test_forge_exists(crawl_result):
    spec, _, _, eng, _ = crawl_result
    forges = eng.forges.read(eng.spark)
    hosts = {r["hostname"] for r in forges.collect()}
    assert hosts == {spec.forge_url(i) for i in range(1, spec.n_forges + 1)}


def test_users_exact(crawl_result):
    _, _, dfs, eng, _ = crawl_result
    cols = ["hostname", "username", "html_link", "profile_photo", "imported"]
    got = _sorted_rows(eng.users.read(eng.spark), cols)
    want = _sorted_rows(dfs["golden_users"], cols)
    assert got == want


def test_repositories_exact(crawl_result):
    _, _, dfs, eng, _ = crawl_result
    cols = ["hostname", "owner", "name", "description", "website", "html_url", "imported"]
    repos = eng.repositories.read(eng.spark)
    got = _sorted_rows(repos, cols)
    want = _sorted_rows(dfs["golden_repositories"], cols)
    assert got == want
    # topic 'testing' attached to every repo (J4 grouped join, D6 dedup)
    tagged = repos.filter(F.array_contains("tags", "testing")).count()
    assert tagged == repos.count()


def test_crawl_order_exact(crawl_result):
    """The pure-function visit order equals the reference's sequential order:
    (seed forge_id, page asc, in-page index), sentinel page included."""
    _, _, dfs, eng, _ = crawl_result
    cols = ["seq", "hostname", "page", "idx_in_page", "doc_id"]
    got = _sorted_rows(eng.crawl_order(), cols)
    want = _sorted_rows(dfs["golden_crawl_order"], cols)
    assert got == want


def test_url_seen_membership(crawl_result):
    spec, corpus, _, eng, _ = crawl_result
    seen = eng.url_seen.read(eng.spark)
    n_forges = spec.n_forges
    assert seen.filter(F.col("key_kind") == "forge").count() == n_forges
    assert seen.filter(F.col("key_kind") == "user").count() == n_forges  # bot per forge
    assert (
        seen.filter(F.col("key_kind") == "repo").count()
        == len(corpus.golden_repositories)
    )
    # membership keys are exact, not just counts
    repo_keys = {
        (r["hostname"], r["key1"], r["key2"])
        for r in seen.filter(F.col("key_kind") == "repo").collect()
    }
    want = {
        (r.hostname, r.name, r.owner)
        for r in corpus.golden_repositories.itertuples()
    }
    assert repo_keys == want


def test_idempotent_recrawl(crawl_result):
    """Re-running the whole crawl changes nothing (D9 import idempotency /
    exists-gate semantics): same users/repos, no new inserts."""
    _, _, dfs, eng, _ = crawl_result
    before_u = eng.users.read(eng.spark).count()
    before_r = eng.repositories.read(eng.spark).count()
    eng.init_state(dfs["seed_forges"], dfs["consent"])
    eng.run(dfs["documents"])
    assert eng.users.read(eng.spark).count() == before_u
    assert eng.repositories.read(eng.spark).count() == before_r


def test_lineage_totals(crawl_result):
    spec, corpus, _, eng, _ = crawl_result
    lin = eng.lineage.read(eng.spark)
    tot = lin.agg(
        F.sum("fetched").alias("f"),
        F.sum("deferred_by_politeness").alias("d"),
    ).collect()[0]
    # first run fetched every golden-visited doc exactly once; the idempotent
    # re-crawl (test above, module-scoped fixture order) may add more — so
    # check against the first run's batches only
    first_run = lin.filter(F.col("batch_id") <= 6)
    f = first_run.agg(F.sum("fetched")).collect()[0][0]
    assert f == len(corpus.golden_crawl_order)
    assert tot["d"] == 0  # unbounded budget ⇒ nothing deferred


def test_budget_carryover_no_tag_loss(spark, tmp_path_factory):
    """Politeness budget splits a page's topic fetches across batches: the
    deferred fetches are carried (pending table) and retried, so tags are
    never lost, every fetch is logged exactly once, and the final tables
    equal the unbudgeted run's (ADVICE round-1 high fix)."""
    spec = CorpusSpec(n_forges=2, repos_per_forge=20, page_size=20)
    corpus = make_corpus(spec)
    dfs = corpus_to_spark(spark, corpus)

    eng_a = CrawlEngine(
        spark, str(tmp_path_factory.mktemp("wh_nobudget")),
        CrawlSettings(host_buckets=4),
    )
    eng_a.init_state(dfs["seed_forges"], dfs["consent"])
    eng_a.run(dfs["documents"])

    # rate 2000 ms; a 20-repo page = 1 page fetch + 20 topic fetches with
    # slots 0..40000 ms; budget 9000 ms ⇒ ~5 fetches per host per batch
    eng_b = CrawlEngine(
        spark, str(tmp_path_factory.mktemp("wh_budget")),
        CrawlSettings(host_buckets=4, budget_ms=9000),
    )
    eng_b.init_state(dfs["seed_forges"], dfs["consent"])
    eng_b.run(dfs["documents"])

    # deferrals actually happened
    lin = eng_b.lineage.read(spark)
    assert lin.agg(F.sum("deferred_by_politeness")).collect()[0][0] > 0

    # tags identical — including on repos whose topic fetch was deferred
    cols = ["hostname", "owner", "name", "tags"]
    a = _sorted_rows(
        eng_a.repositories.read(spark).withColumn("tags", F.to_json("tags")), cols
    )
    b = _sorted_rows(
        eng_b.repositories.read(spark).withColumn("tags", F.to_json("tags")), cols
    )
    assert a == b
    assert eng_b.repositories.read(spark).filter(
        F.array_contains("tags", "testing")
    ).count() == spec.n_forges * spec.repos_per_forge

    # every fetch logged exactly once, and the pure-function crawl order
    # equals the unbudgeted run's
    log = eng_b.visit_log.read(spark)
    assert log.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0
    order_cols = ["seq", "hostname", "page", "idx_in_page", "doc_id"]
    assert _sorted_rows(eng_b.crawl_order(), order_cols) == _sorted_rows(
        eng_a.crawl_order(), order_cols
    )

    # users identical too (merged only after the page completed)
    ucols = ["hostname", "username"]
    assert _sorted_rows(eng_b.users.read(spark), ucols) == _sorted_rows(
        eng_a.users.read(spark), ucols
    )


def test_ttl_recrawl_cycle(spark, tmp_path_factory):
    """P3: drained hosts reactivate once the injected clock passes ttl; the
    second cycle reproduces the first cycle's crawl order and is idempotent
    (reference: publish tar, sleep ttl, restart page counter,
    src/spider.rs:192-202)."""
    spec = CorpusSpec(n_forges=2, repos_per_forge=20, page_size=20)
    dfs = corpus_to_spark(spark, make_corpus(spec))
    eng = CrawlEngine(
        spark, str(tmp_path_factory.mktemp("wh_ttl")),
        CrawlSettings(host_buckets=4),
    )
    eng.init_state(dfs["seed_forges"], dfs["consent"])
    stats1 = eng.run(dfs["documents"], batch_time_s=1_000)

    st = eng.state.read(spark)
    assert st.filter(F.col("active")).count() == 0
    assert st.filter(F.col("last_crawl_on") == 1_000).count() == spec.n_forges
    # forges table mirrors last_crawl_on (db/db-core/src/lib.rs:156-157)
    assert eng.forges.read(spark).filter(
        F.col("last_crawl_on") == 1_000
    ).count() == spec.n_forges
    cycle1 = [tuple(r) for r in eng.crawl_order().orderBy("seq").collect()]
    n_visits_1 = eng.visit_log.read(spark).count()

    # not due yet: ttl is 432000 s
    assert eng.reactivate_due(now_s=1_000 + 10) == 0
    # due: all hosts re-enter at page 1
    assert eng.reactivate_due(now_s=1_000 + 432_000) == spec.n_forges
    st2 = eng.state.read(spark)
    assert st2.filter(F.col("active")).count() == spec.n_forges
    assert st2.filter(F.col("next_page") == 1).count() == spec.n_forges

    before_u = eng.users.read(spark).count()
    before_r = eng.repositories.read(spark).count()
    eng.run(dfs["documents"], batch_time_s=1_000 + 432_000 + 500)
    # idempotent end state; second cycle visited the same docs again
    assert eng.users.read(spark).count() == before_u
    assert eng.repositories.read(spark).count() == before_r
    assert eng.visit_log.read(spark).count() == 2 * n_visits_1
    # second cycle's per-cycle order equals the first cycle's
    log2 = eng.visit_log.read(spark).filter(
        F.col("batch_id") > stats1["last_batch_id"]
    )
    got2 = [
        (r["hostname"], r["page"], r["idx_in_page"], r["doc_id"])
        for r in log2.orderBy("forge_id", "page", "idx_in_page").collect()
    ]
    got1 = [(t[0], t[1], t[2], t[3]) for t in cycle1]  # (host, page, idx, doc_id)
    assert got2 == got1
    assert eng.state.read(spark).filter(
        F.col("last_crawl_on") == 1_000 + 432_000 + 500
    ).count() == spec.n_forges


def test_delete_then_recrawl_readds(spark, tmp_path_factory):
    """delete_user/delete_repository parity: deleted entities leave the
    table AND the url_seen set, so the next crawl cycle re-adds them —
    add → delete → re-add equals the reference's observable state."""
    spec = CorpusSpec(n_forges=1, repos_per_forge=20, page_size=20)
    dfs = corpus_to_spark(spark, make_corpus(spec))
    eng = CrawlEngine(
        spark, str(tmp_path_factory.mktemp("wh_del")),
        CrawlSettings(host_buckets=4),
    )
    eng.init_state(dfs["seed_forges"], dfs["consent"])
    eng.run(dfs["documents"], batch_time_s=50)

    # the rows a delete returns are exactly the url_seen rows it removed,
    # key_hash and host_bucket included: the delete path must build the
    # same seen key as the batch that wrote it
    seen_cols = [f.name for f in tables.URL_SEEN.fields]

    def rows(df):
        return sorted(tuple(r) for r in df.select(seen_cols).collect())

    repos = eng.repositories.read(spark)
    victim = repos.orderBy("name").limit(1)
    vrow = victim.collect()[0]
    victim_seen = rows(eng.url_seen.read(spark).filter(
        (F.col("key_kind") == "repo") & (F.col("key1") == vrow["name"])
    ))
    assert len(victim_seen) == 1
    deleted = eng.delete_repositories(victim.select("hostname", "owner", "name"))
    assert rows(deleted) == victim_seen
    assert eng.repositories.read(spark).filter(
        F.col("name") == vrow["name"]
    ).count() == 0
    assert eng.url_seen.read(spark).filter(
        (F.col("key_kind") == "repo") & (F.col("key1") == vrow["name"])
    ).count() == 0

    users = eng.users.read(spark)
    user_seen = rows(eng.url_seen.read(spark).filter(F.col("key_kind") == "user"))
    assert len(user_seen) == 1
    deleted = eng.delete_users(users.select("hostname", "username").limit(1))
    assert rows(deleted) == user_seen
    assert eng.users.read(spark).count() == 0  # single 'bot' user
    assert eng.url_seen.read(spark).filter(F.col("key_kind") == "user").count() == 0

    # re-crawl cycle re-adds exactly the deleted entities
    eng.reactivate_due(now_s=50 + 432_000)
    eng.run(dfs["documents"], batch_time_s=50 + 432_000 + 1)
    assert eng.repositories.read(spark).filter(
        F.col("name") == vrow["name"]
    ).count() == 1
    assert eng.users.read(spark).count() == 1
    assert eng.repositories.read(spark).count() == spec.repos_per_forge


def test_delete_result_survives_maintenance(spark, tmp_path_factory):
    """The public delete APIs' returned keys stay readable after the
    engine's end-of-run maintenance GCs the merge_delete scratch files
    (ADVICE r4 #5: the raw merge_delete return is lazy over scratch;
    delete_users/delete_repositories checkpoint it)."""
    spec = CorpusSpec(n_forges=1, repos_per_forge=10, page_size=10)
    dfs = corpus_to_spark(spark, make_corpus(spec))
    eng = CrawlEngine(
        spark, str(tmp_path_factory.mktemp("wh_delgc")),
        CrawlSettings(host_buckets=4, items_per_api_call=10),
    )
    eng.init_state(dfs["seed_forges"], dfs["consent"])
    eng.run(dfs["documents"], batch_time_s=50)

    victim = eng.repositories.read(spark).orderBy("name").limit(2)
    deleted_keys = eng.delete_repositories(victim.select("hostname", "owner", "name"))
    # a full re-crawl cycle runs expire_snapshots on every table — the
    # scratch files behind merge_delete's raw return are gone after this
    eng.reactivate_due(now_s=50 + 432_000)
    eng.run(dfs["documents"], batch_time_s=50 + 432_000 + 1)
    rows = deleted_keys.collect()  # deferred consumption past maintenance
    assert len(rows) == 2
    assert {r["key_kind"] for r in rows} == {"repo"}
