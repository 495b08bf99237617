"""Per-host distinct-URL telemetry (track_host_distincts): the host_hll
append log, folded on read, must equal the HLL registers of the whole
url_seen table EXACTLY (each key appends its registers exactly once;
max-fold is associative/commutative/idempotent) — across multi-batch runs,
TTL re-crawl cycles, and resume. Default mode writes nothing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from starchart_spark.crawl.corpus import CorpusSpec, make_corpus
from starchart_spark.crawl.engine import HLL_B, CrawlEngine, CrawlSettings
from starchart_spark.operators import sketch
from starchart_spark.testing import corpus_to_spark


@pytest.fixture(scope="module")
def telemetry_crawl(spark, tmp_path_factory):
    spec = CorpusSpec(n_forges=2, repos_per_forge=30, page_size=10)
    corpus = make_corpus(spec)
    dfs = corpus_to_spark(spark, corpus)
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("hll_wh")),
        CrawlSettings(
            items_per_api_call=10,
            host_buckets=8,
            track_host_distincts=True,
        ),
    )
    eng.init_state(dfs["seed_forges"], dfs["consent"])
    stats = eng.run(dfs["documents"], batch_time_s=1_000)
    return corpus, dfs, eng, stats


def _expected_registers(eng):
    return sorted(
        map(
            tuple,
            sketch.hll_registers(
                eng.url_seen.read(eng.spark), "key_hash", ["hostname"], b=HLL_B
            ).collect(),
        )
    )


def test_ledger_fold_equals_full_sketch(telemetry_crawl):
    _, _, eng, _ = telemetry_crawl
    got = sorted(map(tuple, eng.host_distinct_registers().collect()))
    assert got == _expected_registers(eng)
    assert len(got) > 0


def test_estimates_near_exact_counts(telemetry_crawl):
    _, _, eng, _ = telemetry_crawl
    exact = {
        r["hostname"]: r["n"]
        for r in eng.url_seen.read(eng.spark)
        .groupBy("hostname")
        .agg(F.countDistinct("key_hash").alias("n"))
        .collect()
    }
    est = {r["hostname"]: r["est"] for r in eng.host_distinct_estimates().collect()}
    assert set(est) == set(exact)
    for h, n in exact.items():
        # tiny cardinalities route through linear counting — near exact
        assert abs(est[h] - n) / n < 0.15, (h, est[h], n)


def test_recrawl_cycle_appends_nothing(telemetry_crawl, spark):
    """A full TTL re-crawl re-sees every URL: url_seen is unchanged, so the
    ledger fold must be unchanged too (no phantom register growth)."""
    _, dfs, eng, _ = telemetry_crawl
    before = sorted(map(tuple, eng.host_distinct_registers().collect()))
    reactivated = eng.reactivate_due(now_s=1_000 + eng.s.ttl_s)
    assert reactivated > 0
    eng.run(dfs["documents"], batch_time_s=2_000 + eng.s.ttl_s)
    after = sorted(map(tuple, eng.host_distinct_registers().collect()))
    assert after == before


def test_default_mode_writes_nothing(spark, tmp_path_factory):
    dfs = corpus_to_spark(
        spark, make_corpus(CorpusSpec(n_forges=1, repos_per_forge=10))
    )
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("nohll_wh")),
        CrawlSettings(items_per_api_call=10, host_buckets=4),
    )
    eng.init_state(dfs["seed_forges"], dfs["consent"])
    eng.run(dfs["documents"], batch_time_s=1_000)
    assert eng.host_hll.current_snapshot() is None
    assert eng.host_distinct_registers().count() == 0


def test_compact_tables_preserves_everything(telemetry_crawl, spark):
    """Maintenance compaction: row content of every table identical, file
    counts reduced, ledger fold and crawl order unchanged."""
    _, _, eng, _ = telemetry_crawl
    before_regs = sorted(map(tuple, eng.host_distinct_registers().collect()))
    before_seen = sorted(
        map(tuple, eng.url_seen.read(spark).collect())
    )
    before_order = sorted(map(tuple, eng.crawl_order().collect()))
    compacted = eng.compact_tables(min_files=2)
    assert compacted  # multi-batch run left >1 file on several tables
    for tbl in (eng.url_seen, eng.visit_log, eng.host_hll):
        name = tbl.path.rstrip("/").split("/")[-1]
        if name in compacted:
            assert len(tbl.current_snapshot().data_files) < compacted[name]
    assert sorted(map(tuple, eng.host_distinct_registers().collect())) == before_regs
    assert sorted(map(tuple, eng.url_seen.read(spark).collect())) == before_seen
    assert sorted(map(tuple, eng.crawl_order().collect())) == before_order
