#!/usr/bin/env python3
"""spark-submit entrypoint for the crawl engine.

Cluster usage (north_rule packaging):

    make package   # builds dist/starchart_spark.zip
    spark-submit --master <cluster> --py-files dist/starchart_spark.zip \
        run_crawl.py --warehouse /path/wh --corpus /path/documents \
        --seeds /path/seed_forges --consent /path/consent

Local sandbox usage (synthesizes the deterministic FIXTURES.md corpus):

    python run_crawl.py --warehouse /tmp/wh --synth-forges 3 --cpus 32

Prints one JSON line of run metrics (batches, entity counts, lineage
totals, and ``codegen_compiles``: the classes compiled from generated code
during the crawl, read from Spark's counter) and exits 0 on a clean drain
of the frontier.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--warehouse", required=True)
    p.add_argument("--corpus", help="parquet dir of documents(doc_id, spans, hostname)")
    p.add_argument("--seeds", help="parquet dir of seed_forges")
    p.add_argument("--consent", help="parquet dir of consent table")
    p.add_argument("--synth-forges", type=int, default=0,
                   help="synthesize a deterministic corpus with N forges instead")
    p.add_argument("--repos-per-forge", type=int, default=100)
    p.add_argument("--cpus", type=int, default=0, help="local[N]; 0 = spark-submit master")
    p.add_argument("--budget-ms", type=int, default=0, help="politeness budget per batch (0=unbounded)")
    p.add_argument("--rate-ms", type=int, default=2000)
    p.add_argument("--host-buckets", type=int, default=64)
    p.add_argument("--discover-media", action="store_true",
                   help="media spans enter the frontier (media_assets table)")
    p.add_argument("--resume", action="store_true", help="continue from warehouse snapshots")
    args = p.parse_args(argv)

    from starchart_spark.crawl.engine import CrawlEngine, CrawlSettings
    from starchart_spark.session import codegen_compiles, get_spark

    spark = get_spark(
        app_name="starchart-crawl",
        master=f"local[{args.cpus}]" if args.cpus else None,
    )

    engine = CrawlEngine(
        spark,
        args.warehouse,
        CrawlSettings(
            rate_ms=args.rate_ms,
            budget_ms=args.budget_ms or None,
            host_buckets=args.host_buckets,
            discover_media=args.discover_media,
        ),
    )

    if args.synth_forges:
        from starchart_spark.crawl.corpus import CorpusSpec, make_corpus
        from starchart_spark.testing import corpus_to_spark

        dfs = corpus_to_spark(
            spark,
            make_corpus(
                CorpusSpec(n_forges=args.synth_forges, repos_per_forge=args.repos_per_forge)
            ),
        )
        seeds, consent, docs = dfs["seed_forges"], dfs["consent"], dfs["documents"]
    else:
        if not (args.corpus and args.seeds and args.consent):
            p.error("--corpus/--seeds/--consent required without --synth-forges")
        docs = spark.read.parquet(args.corpus)
        seeds = spark.read.parquet(args.seeds)
        consent = spark.read.parquet(args.consent)

    compiles0 = codegen_compiles(spark)
    if not args.resume:
        engine.init_state(seeds, consent)
    stats = engine.run(docs)
    compiles = codegen_compiles(spark) - compiles0

    lineage = engine.lineage.read(spark)
    totals = lineage.agg(
        F.sum("fetched").alias("fetched"),
        F.sum("deduped").alias("deduped"),
        F.sum("deferred_by_politeness").alias("deferred_by_politeness"),
        F.sum("blocked_by_robots").alias("blocked_by_robots"),
        F.sum("media_discovered").alias("media_discovered"),
    ).collect()[0]
    out = {
        **stats,
        "users": engine.users.read(spark).count(),
        "repositories": engine.repositories.read(spark).count(),
        "url_seen": engine.url_seen.read(spark).count(),
        "lineage_totals": {k: int(totals[k] or 0) for k in totals.asDict()},
        "codegen_compiles": compiles,
    }
    if args.discover_media:
        out["media_assets"] = engine.media_assets.read(spark).count()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
