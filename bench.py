#!/usr/bin/env python3
"""Headline query sweep: median seconds per query over the 68 queries below.

Prints ONE JSON line:
    {"metric": "headline query medians, summed", "value": S, "unit": "s",
     "queries": {...per-query median seconds...}, "query_reps": {...},
     "query_compiles": {...}, "sf": ..., "cpus": N}

Each query runs once untimed (codegen warm-up) and then
``STARCHART_BENCH_QUERY_REPS`` times (default 3) into a ``noop`` sink.
``query_compiles`` counts the classes compiled during a query's timed
reps; nonzero flags a query whose generated code changes from run to run.
A query that raises ends the run with a non-zero exit; nothing is retried.
The frontier and the crawl engine are measured by ``perfbench/run.py``.

    SPARK_GRAFT_SF_DIR=<dir of sf parquet tables> python bench.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from starchart_spark.queries import QUERIES  # noqa: E402
from starchart_spark.session import codegen_compiles, get_spark  # noqa: E402

HEADLINE_QUERIES = [
    "three_way_join",
    "keep_first_window",
    "sliding_limiter",
    "mini_index",
    "url_canonicalize",
    "seen_anti_join",
    "exact_dedup",
    "minhash_lsh_dupes",
    "embedding_topk",
    "two_phase_count",
    "quality_features",
    "lang_id",
    "fingerprint",
    "token_count",
    # ANN production paths (VERDICT r4 "do this" #5): a plan regression in
    # the IVF/IVFADC index route (e.g. the probe join strategy) must show
    # up in the official per-query numbers, not only in pytest.
    "ann_ivf_topk",
    "ann_pq_topk",
    # round-5 curation suite: composed C4-style filter (scan-local signals
    # + broadcast decontamination), one-scan PII audit+scrub, native
    # session_window aggregation
    "curated_corpus",
    "pii_scrub",
    "sessionize",
    # round-5 session-2: packing/mixture (the pretraining last mile) —
    # per-shard window cumsum + hash agg, and the two-scan budget sampler
    "pack_sequences",
    "mixture_sample",
    # round-5 session-3: CCNet-style per-language quality terciles
    "quality_buckets",
    # round-5 session-4: paragraph-level dedup, DSIR selection, SemDedup
    "paragraph_dedup",
    "dsir_weights",
    # SemDedup headline is the within-cluster scale path: global dominance
    # at cos 0.4 defeats hyperplane LSH selectivity (BENCH.md round 5 —
    # k=2/L=32 enumerated ~650M candidates at 12.8k vectors, brute force
    # with LSH overhead); the global form stays driver-gated at sf0.01.
    "semantic_dedup_scale",
    "lm_score",
    "substring_dedup",
    # round-5 session-5: NB quality classifier (train+score, counting
    # only), vocab build + id encoding, BM25 scored retrieval
    "nb_classify",
    "vocab_encode",
    "bm25_rank",
    # round-5 session-6: RFC 9309 robots gate (relational parse + broadcast
    # per-URL decision) and the salted-keyed priority-queue scheduler (the
    # two-pass skew-proof ranker under a token-bucket budget split)
    "robots_gate",
    "priority_queue",
    # round-5 session-7: host-graph PageRank (exact-integer iterative
    # priority signal), MOSS winnowing fingerprints (the lead()-window
    # selection plan), crawl-trap frontier filter
    "host_pagerank",
    "winnow_fingerprint",
    "trap_filter",
    # round-5 session-8: PageRank->quota Hamilton apportionment, and the
    # fixed-size frontier-telemetry sketches (HLL distinct, count-min hot
    # hosts, rendezvous shard map) whose shuffles carry registers/cells,
    # not keys
    "crawl_budget",
    "hll_distinct",
    "cms_hot_hosts",
    "hrw_shards",
    # round-5 session-9: theta/bottom-k sketch — the set-algebra ledger
    # (distinct + intersection estimates from fixed-size register tables)
    "theta_distinct",
    "theta_intersect",
    # round-5 session-10: HITS hubs/authorities — the second iterative
    # priority signal (two rank⋈edges exchanges per round vs PageRank's one)
    "host_hits",
    # seed-personalized PageRank (spam demotion): same exchange budget as
    # host_pagerank plus one broadcast seed-flag join at build
    "trust_rank",
    # eTLD+1 site roll-up: distinct-host dim resolves PSL rules (one
    # exchange), fact enriched via broadcast — the fact never shuffles
    "site_rollup",
    # inbound anchor-term profiles: host-distinct weighting + two-pass
    # skew-proof per-target top-k
    "anchor_terms",
    # sitemap-protocol ingestion: codegen'd regex scan, in-plan fan-out,
    # zero shuffles until the frontier dedup
    "sitemap_parse",
    # deep-URL normalization: RFC 3986 dot-segment/port/userinfo rules +
    # tracking-strip + query sort, pure codegen, one dedup exchange
    "deep_url_dedup",
    # redirect-chain resolution: pointer doubling, O(log L) self-joins
    "redirect_resolve",
    # DUST param-relevance mining: one explode + one high-cardinality
    # hash aggregate + one URL equi-join
    "dust_params",
    # Kneser–Ney bigram cross-entropy (the smoothing KenLM ships): three
    # counting dims + one scoring join, all JVM
    "lm_kn_score",
    # interleaved media↔text context pairing (OBELICS/MMC4 extraction):
    # one explode + one doc-keyed window exchange
    "interleave_pairs",
    # BPE training's per-round hot path: corpus word-count aggregate +
    # weighted adjacent-pair counts on the distinct-word dim
    "bpe_pair_counts",
    # RFC 9111 revisit decisions: zero-shuffle scan-level projection
    "cache_policy",
    # UNIMAX waterfill: exact-integer capped-uniform budget apportionment
    # over the skew-proof ordered-prefix scan
    "unimax_mixture",
    # sitemap-driven re-crawl delta: parse + one URL-keyed ledger join
    "sitemap_recrawl_delta",
    # content-defined chunking dedup: one doc-keyed window pass + one
    # chunk-key keep-first window
    "cdc_dedup",
    # positional-index phrase search: broadcast anchor join + one agg
    "phrase_search",
    # RFC 9309 robots fetch-status semantics: zero-shuffle projection
    "robots_refresh",
    # per-host template stripping: two aggregates + broadcast anti-join
    "host_template_strip",
    # multimodal packing costs: one explode + one doc-keyed aggregate
    "multimodal_budget",
    # NEAR/k proximity: k conditional running-max columns, one exchange
    "proximity_search",
    # round-5 session-12: AIMD controller fold (JVM HOFs, one host-keyed
    # exchange), temperature mixture (one agg + strata window), OPIC
    # online importance (one exchange per superstep, like pagerank)
    "aimd_rate",
    "temperature_mixture",
    "opic_scores",
    # exact-rational fairness over the AIMD rates: the fold + one 4-group agg
    "jain_fairness",
    # round-5 session-15: exact-integer Lloyd k-means — per round ONE
    # fused assign+partial-update Arrow pass (shuffle ≤ batches·k·d rows)
    "kmeans_centroids",
    # round-5 session-16: exact global quantiles via the skew-proof
    # ordered_prefix ranker (the two-pass range-partitioned sort path)
    "doclen_quantiles",
    # round-5 session-16: BFS crawl depth — host-level join + min-agg per
    # round, the third iterative graph signal beside pagerank/opic
    "hop_distance",
]


def sweep(spark, sf_dir: str, reps: int) -> tuple[dict, dict, dict]:
    """(median seconds, raw rep seconds, compiles over the reps) per
    headline query.

    The untimed run right before each query's reps warms its generated
    code: a long-lived cluster compiles a query once and amortizes it. The
    session's codegen cache (``session.CODEGEN_CACHE_ENTRIES`` classes) is
    sized so a query's classes last from its warm-up through its reps; a
    query that still compiles during its reps shows in the compile count.
    Medians of ``reps`` runs, because a single ambient burst once moved a
    one-shot timing by ~2x.
    """
    medians: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    compiles: dict[str, int] = {}
    for name in HEADLINE_QUERIES:
        fn, _ = QUERIES[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times = []
        c0 = codegen_compiles(spark)
        for _ in range(reps):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 3))
        compiles[name] = codegen_compiles(spark) - c0
        medians[name] = round(statistics.median(times), 3)
        raw[name] = times
    return medians, raw, compiles


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1)))
    reps = max(1, int(os.environ.get("STARCHART_BENCH_QUERY_REPS", "3")))
    spark = get_spark(
        app_name="starchart-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus * 2,
    )
    try:
        medians, raw, compiles = sweep(spark, sf_dir, reps)
    finally:
        spark.stop()
    sf = sf_dir.rstrip("/").split("sf")[-1]
    print(json.dumps({
        "metric": "headline query medians, summed",
        "value": round(sum(medians.values()), 3),
        "unit": "s",
        "queries": medians,
        "query_reps": raw,
        "query_compiles": compiles,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
    }))


if __name__ == "__main__":
    main()
