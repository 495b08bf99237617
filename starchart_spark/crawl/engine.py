"""The crawl engine: frontier → politeness → fetch → normalize → dedup → merge.

Spark re-expression of the reference daemon loop
(/root/reference/src/spider.rs:36-223). One micro-batch = "page k for every
active host": the reference crawls each host's pages strictly sequentially
(page 1, 2, … until an empty page, src/spider.rs:65-122) and hosts
sequentially in seed order; since no data flows *between* hosts, per-host
sequential order with cross-host parallelism yields the identical per-host
visit sequence and the identical final state. The deterministic global visit
order the engine reports (``crawl_order``) is the pure-function sort
(forge_id, page, idx_in_page) — the reference's own effective order.

Batch dataflow (SURVEY.md §3.1):

    active_state ⋉ consent [P4/P5, broadcast]
      → page-URL construction (JVM concat) + pending carried fetches
      → politeness slot assignment per host [P1/P2] → over-budget fetches
        deferred to the pending table (a page merges only when ALL its
        fetches have run — no tag loss, and idx-0 always schedules so any
        budget > 0 makes progress)
      → "fetch" = co-partitioned join against the documents table [S3]
      → from_json parse + normalize [N1-N3] ; topics join [S4/J4]
      → keep-first user dedup in crawl order [D5] ; array_distinct tags [D6]
      → bloom-prefiltered anti-join vs url_seen [D1-D4] (filters persisted
        per bucket and updated incrementally — O(new keys)/batch)
      → MERGE (insert-if-absent) into users / repositories / forges [S5-S7]
      → url_seen append ; visit-log append ; lineage counters append [A3]
      → pending overwrite ; state snapshot commit (the checkpoint)

All of the above commits through ONE write action per batch
(snapstore.multi_commit): the sink rows union into a single partitioned
write whose per-table counts and next-batch active-host count are observed
metrics, and the snapshot commits are driver-side file moves in order,
state last — the Spark equivalent of the reference's one-transaction-per-
page commit (src/spider.rs:88-123). The write is not the batch's only SQL
execution: two eager ``localCheckpoint``s cut the plan's lineage before it
(the parsed repo rows, then the parsed topics), so a default-mode batch
runs three. On the e2e corpus (3 forges x 100 repos, 20 per page) at
local[4] with 8 shuffle partitions, a warm batch runs 7 + 3 + 19 = 29
jobs; transport mode adds one checkpoint per fetch wave.
tests/test_single_action_batch.py asserts one write and no
count/collect/toPandas per batch.

TTL re-crawl (P3): hosts stamp ``last_crawl_on`` from the injected batch
clock when they drain; ``reactivate_due(now_s)`` re-enters them at page 1
once ``now - last_crawl_on >= ttl`` (src/spider.rs:192-202).

Scale: every table is keyed/bucketed by host_bucket = bucket(B, hostname);
the fetch join and the seen anti-join are co-partitioned on it. Mega-host
skew is spread by a deterministic per-document salt on the documents layout
(``_prep_docs``, skew.with_salt) and by AQE skew-join. The documents "fetch"
join stands in for the HTTP fetch; on a real crawl it becomes an
``applyInPandas`` per host bucket doing batched HTTP, same partitioning.
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from starchart_spark import tables
from starchart_spark.functions.urls import canonicalize_udf, host_bucket, url_hash
from starchart_spark.operators import bloom as bloom_mod
from starchart_spark.operators import dedup, multimodal, normalize, politeness, skew
from starchart_spark.operators import robots as robots_mod
from starchart_spark.operators import sketch as sketch_mod
from starchart_spark.snapstore import (
    SnapshotTable,
    _key_join,
    empty_relation,
    multi_commit,
)

# RFC 9309 product token the engine selects robots.txt groups for — the
# package-name component of the reference UA (crawl/fetcher.py builds
# "{version}---starchart---{host}"; robots group matching is on the product
# token, not the full UA string).
ROBOTS_UA = "starchart"

# seen-key hash preimage separator. \x01 cannot occur in hostnames or names,
# so (kind, hostname, key1, key2) → string is injective. The bloom filter is
# built from stored hashes and probed with candidate hashes, so both must come
# from one function, CrawlEngine._with_seen_key — round 2 had a second
# user-key site hashing with "" instead, which made every user-key bloom probe
# a false negative.
KEY_SEP = "\x01"

# url_seen key per key kind: the (key1, key2) source columns of its rows;
# None stands for NULL
SEEN_KEY_SOURCES = {
    "forge": (None, None),
    "user": ("username", None),
    "repo": ("name", "owner"),
    "media": ("media_ref", None),
}

# documents-layout salt width: a mega-forge's host_bucket would otherwise pin
# ~its whole corpus share to ONE task (a real Iceberg scan splits a big bucket
# by file size; the local repartition must emulate that). Deterministic
# per-doc salt, so results never depend on it.
DOC_SALT = 8

# snapshots each table keeps through run()'s end-of-run expiry
SNAPSHOT_KEEP = 50

# register precision of the host_hll ledger (track_host_distincts): m = 2^b
# registers per host, relative error ≈ 1.04/√m — b=12 ⇒ ±1.6%
HLL_B = 12

STATE = T.StructType(
    [
        T.StructField("forge_id", T.LongType(), False),
        T.StructField("hostname", T.StringType(), False),  # bare host
        T.StructField("forge_url", T.StringType(), False),  # canonical, clean_url'd
        T.StructField("forge_type", T.StringType(), False),
        T.StructField("next_page", T.IntegerType(), False),
        T.StructField("active", T.BooleanType(), False),
        T.StructField("effective_rate_ms", T.LongType(), False),
        T.StructField("host_bucket", T.IntegerType(), False),
        # epoch seconds of the host's last completed crawl cycle (P3); set
        # from injected batch time when a host drains, read by
        # ``reactivate_due`` — never from wall clock (replay determinism)
        T.StructField("last_crawl_on", T.LongType(), True),
    ]
)

VISIT_LOG = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("forge_id", T.LongType(), False),
        T.StructField("hostname", T.StringType(), False),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("idx_in_page", T.IntegerType(), False),
        T.StructField("doc_id", T.StringType(), False),
    ]
)

# fetches deferred by the politeness budget, carried to the next batch so a
# partially-fetched page eventually completes (no tag loss, no livelock):
# idx 0 (the page fetch itself) always schedules at slot 0, so pending rows
# are topic fetches only (a transport fault fails the batch, it never defers)
PENDING = T.StructType(
    [
        T.StructField("hostname", T.StringType(), False),
        T.StructField("forge_id", T.LongType(), False),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("idx_in_page", T.IntegerType(), False),
        T.StructField("effective_rate_ms", T.LongType(), False),
        T.StructField("host_bucket", T.IntegerType(), False),
        T.StructField("doc_id", T.StringType(), False),
    ]
)


# transport mode: fetched bodies carried for budget-deferred hosts
BODY_CACHE = T.StructType(
    [
        T.StructField("hostname", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(tables.SPAN), True),
    ]
)


@dataclass
class CrawlSettings:
    items_per_api_call: int = 20  # config/default.toml:36
    rate_ms: int = politeness.DEFAULT_RATE_MS
    budget_ms: int | None = None  # politeness budget per host per batch
    host_buckets: int = 32
    # below this many seen keys the exact anti-join alone is cheaper than a
    # probe pass — the bloom layer only engages past the threshold. The
    # check is DRIVER-side (a startup count + per-batch observed inserts),
    # so steady-state batches keep their one write; at engagement the
    # filters are (re)built once from url_seen. 0 = always engaged.
    # Measured at sandbox test scale: probe+update cost ~2.8 s/batch of
    # pure plan/stage overhead while the exact anti-join is already
    # trivial — the threshold is what makes small crawls fast and 10^10
    # frontiers correct (there the probe prunes the shuffle, which is the
    # whole point).
    bloom_min_keys: int = 200_000
    max_batches: int = 10_000
    ttl_s: int = 432_000  # crawler.ttl — re-crawl cycle (config/default.toml:35)
    # real-fetch mode (S3 real path): a picklable ``(url) -> spans | None``
    # transport (crawl/fetcher.py). None = sandbox documents-join stand-in.
    # With a transport, fetches are performed by per-host applyInPandas
    # workers honoring the politeness slots as send times; fetch waves are
    # materialized (side effects must never re-run), so the one-action-per-
    # batch contract applies to the default mode only.
    transport: object | None = None
    # media-frontier discovery (the "interleaved text + media" axis at the
    # crawl tier): when on, each completing page's media spans (avatars,
    # assets) are canonical-keyed and ride the SAME unified keep-first /
    # bloom / url_seen pass as the user/repo keys (key_kind='media' — zero
    # extra stages), first sightings landing in the media_assets table and
    # the media_discovered lineage counter. Off by default: the reference
    # never schedules media, so reference-parity runs keep their exact
    # plan and url_seen membership.
    discover_media: bool = False
    # per-host distinct-URL telemetry (operators/sketch.py): when on, each
    # batch APPENDS the HLL registers of its new url_seen keys to the
    # host_hll log inside the same multi_commit (one extra groupBy in the
    # commit DAG, no ledger read in the hot path). A key enters url_seen
    # exactly once and registers are max-folds, so folding the log equals
    # the sketch of the whole table — see host_distinct_estimates(). Off by
    # default: default-mode plans stay byte-identical.
    track_host_distincts: bool = False


class CrawlEngine:
    def __init__(self, spark: SparkSession, warehouse: str, settings: CrawlSettings | None = None):
        self.spark = spark
        self.warehouse = warehouse
        self.s = settings or CrawlSettings()
        self._batch_time_s: int | None = None  # injected logical clock (N8)
        # entity⊆url_seen invariant flag: True lets every batch skip the
        # entity confirm anti-join (two table scans + union + NULL-safe
        # anti-join, ~4-6 AQE jobs at cadence). None = unknown (direct
        # _run_batch callers) → conservative join; run() verifies the
        # invariant with ONE startup isEmpty() job; a foreign-entity writer
        # (the tar import) sets it False for the rest of the process — see
        # _entity_confirm_skippable.
        self._entities_pure: bool | None = None
        # driver-maintained seen-set size for the bloom engage threshold;
        # None = unknown → treat as engaged (direct _run_batch callers);
        # run() seeds it with one startup count and then accumulates the
        # per-batch observed url_seen inserts
        self._seen_total: int | None = None
        os.makedirs(warehouse, exist_ok=True)
        B = self.s.host_buckets
        # every table the engine owns, in creation order: the resume guard
        # and the end-of-run expiry walk this list
        self._tables: list[SnapshotTable] = []

        def t(name, schema, keys, bucket_by=None) -> SnapshotTable:
            tbl = SnapshotTable(
                os.path.join(warehouse, name), schema, keys, bucket_by=bucket_by
            )
            self._tables.append(tbl)
            return tbl

        # bucket_by enables matched-files-only MERGE on the mutable tables:
        # TTL stamping (_sync_forge_last_crawl) and entity deletes rewrite
        # only the touched host buckets, never O(table)
        self.forges = t("forges", tables.FORGES, ["hostname"], ("hostname", B))
        self.users = t(
            "users", tables.USERS, ["hostname", "username"], ("hostname", B)
        )
        self.repositories = t(
            "repositories",
            tables.REPOSITORIES,
            ["hostname", "owner", "name"],
            ("hostname", B),
        )
        self.url_seen = t(
            "url_seen",
            tables.URL_SEEN,
            ["key_kind", "hostname", "key1", "key2"],
            ("host_bucket", B),
        )
        self.lineage = t("lineage", tables.LINEAGE, [])
        self.visit_log = t("visit_log", VISIT_LOG, [])
        self.state = t("state", STATE, ["hostname"])
        self.pending = t("pending", PENDING, [])
        # transport mode only: bodies already fetched by budget-deferred
        # hosts (their page + completed topic calls), carried so the
        # completing batch merges without refetching a single URL
        self.body_cache = t("body_cache", BODY_CACHE, ["hostname", "doc_id"])
        # persisted per-bucket bloom filters, maintained incrementally
        # (O(new keys) per batch — never rebuilt from the full seen set)
        self.bloom_state = t("bloom_state", bloom_mod.FILTER_SCHEMA, ["host_bucket"])
        # compiled robots.txt rules (north rule "robots.txt honored"):
        # written once at init_state when robots bodies are provided,
        # broadcast-gated onto every batch's fetch URLs. Empty/absent ⇒
        # the gate is skipped entirely (a driver-side metadata check), so
        # robots-free crawls pay zero plan overhead.
        self.robots_rules = t("robots_rules", tables.ROBOTS_RULES, ["hostname"])
        # media frontier (discover_media mode): first sighting of each
        # media URL from the interleaved spans; hostname = the MEDIA URL's
        # host (avatars often live on a CDN, not the forge host)
        self.media_assets = t(
            "media_assets", tables.MEDIA_ASSETS,
            ["hostname", "media_ref"], ("hostname", B),
        )
        # per-host HLL register log (track_host_distincts mode): append-only,
        # folded on read — see host_distinct_registers()
        self.host_hll = t("host_hll", tables.HOST_HLL, [])

    # -- helpers ---------------------------------------------------------------

    def _bucket(self, col: str) -> F.Column:
        return host_bucket(col, self.s.host_buckets)

    def _with_seen_key(self, df: DataFrame, kind: str) -> DataFrame:
        """Append url_seen's key columns (key_kind, key1, key2, key_hash,
        host_bucket) to rows of one key kind — the only place the seen-key
        hash is built (D1 canonicalize-then-hash: hostname is already
        canonical here; hashing is JVM-side xxhash64)."""
        kind_col = F.lit(kind)
        key1, key2 = (
            F.col(c) if c else F.lit(None).cast("string")
            for c in SEEN_KEY_SOURCES[kind]
        )
        return df.select(
            "*",
            kind_col.alias("key_kind"),
            key1.alias("key1"),
            key2.alias("key2"),
            url_hash(
                F.concat_ws(KEY_SEP, kind_col, F.col("hostname"), key1, key2)
            ).alias("key_hash"),
            self._bucket("hostname").alias("host_bucket"),
        )

    def _seen_key_rows(self, df: DataFrame, kind: str) -> DataFrame:
        """Only the seen-key columns of ``_with_seen_key``."""
        return self._with_seen_key(df, kind).select(
            *self.url_seen.key_cols, "key_hash", "host_bucket"
        )

    def _entity_keys(self) -> DataFrame:
        """Natural seen keys of every stored entity: users, repositories
        and, when media keys ride the unified pass, media assets."""
        sources = [(self.users, "user"), (self.repositories, "repo")]
        if self.s.discover_media:
            sources.append((self.media_assets, "media"))
        # narrow to the key's source columns first: media_assets carries a
        # host_bucket of its own, which _with_seen_key would duplicate
        keys = [
            self._with_seen_key(
                tbl.read(self.spark).select(
                    "hostname", *filter(None, SEEN_KEY_SOURCES[kind])
                ),
                kind,
            ).select(*self.url_seen.key_cols)
            for tbl, kind in sources
        ]
        return functools.reduce(DataFrame.unionByName, keys)

    def _host_hll_part(self, seen_rows: DataFrame) -> tuple:
        """The host_hll ledger append for url_seen rows entering the table."""
        regs = sketch_mod.hll_registers(
            seen_rows, "key_hash", ["hostname"], b=HLL_B
        ).select(
            "hostname",
            F.col("bucket").cast("int").alias("hll_bucket"),
            F.col("rho").cast("int").alias("hll_rho"),
        )
        return (self.host_hll, regs, "append")

    def _new_against_seen(self, cands: DataFrame, bloom_filters) -> DataFrame:
        """Bloom-prefiltered exact anti-join against url_seen."""
        seen = self.url_seen.read(self.spark)
        key_cols = self.url_seen.key_cols
        if bloom_filters is not None:
            # pure-JVM probe; AQE picks the join by stats (one filter row
            # per bucket shuffles at 10^10 keys, broadcasts when tiny)
            probed = bloom_mod.probe_jvm(cands, bloom_filters)
            return dedup.seen_filter(probed, seen, key_cols, "maybe_seen").drop("maybe_seen")
        return dedup.seen_filter(cands, seen, key_cols)

    def _entity_confirm_skippable(self) -> bool:
        """ONE startup job deciding the per-batch entity confirm skip.

        The confirm anti-join (vs the users/repositories tables themselves)
        exists for entities that are NOT covered by url_seen: foreign rows
        from a tar import (interchange.import_into_engine), which merges
        entities without seen keys. Engine batches always commit an
        entity's seen key in the same multi_commit (and the rollback guard
        repairs any torn commit before this runs), so when
        ``entities left-anti url_seen`` is empty the anti-join is provably a
        no-op for every batch of this run and each batch drops two entity
        table scans, a union and a NULL-safe anti-join (~4-6 AQE jobs — the
        next term in the small-batch cadence floor after the unified pass).

        Invariant-based, not history-based: snapshot summaries would name
        the foreign writers, but expire_snapshots prunes history, so the
        check verifies the data itself. Self-healing: a rediscovered
        imported entity gets its seen key added (seen_rows derive from
        new_keys, not confirmed), so the skip re-engages on a later run once
        imports are fully re-crawled. isEmpty() stops at the first
        counterexample."""
        return _key_join(
            self._entity_keys(),
            self.url_seen.read(self.spark),
            self.url_seen.key_cols,
            "left_anti",
        ).isEmpty()

    # -- lifecycle ---------------------------------------------------------------

    def init_state(
        self,
        seed_forges: DataFrame,
        consent: DataFrame,
        robots: DataFrame | None = None,
    ) -> None:
        """Canonicalize seeds (D1), gate on consent (P4/P5), create forge rows
        (D2→S5) and commit the initial frontier state snapshot.

        ``robots`` — optional ``(hostname, robots_txt)`` bodies (north rule
        "robots.txt honored"; RFC 9309 semantics in operators/robots.py).
        When provided: per-host ``crawl-delay`` raises the persisted
        ``effective_rate_ms`` (most-conservative merge — the token bucket
        honors whichever of consent rate / robots delay is slower), and the
        compiled allow/disallow rules are committed to the ``robots_rules``
        table, which every batch broadcast-gates its fetch URLs against. A
        host whose search endpoint is disallowed still gets its forge row
        (robots restricts FETCHING, not knowledge of the forge) but drains
        in batch 1 with zero fetches. Robots are static per crawl cycle,
        like the reference's consent table.

        ONE Spark action (multi_commit): forge rows are anti-joined against
        the current forges snapshot inside the DAG (idempotent re-init), the
        forge seen keys derive from those fresh rows, and the state snapshot
        commits last — same commit shape as a micro-batch."""
        seeds = seed_forges.withColumn("forge_url", canonicalize_udf(F.col("hostname")))
        seeds = seeds.withColumn(
            "host", F.regexp_extract("forge_url", r"^[a-z0-9+.\-]+://([^/]+)/", 1)
        )
        gated = politeness.consent_gate(
            seeds.drop("hostname").withColumnRenamed("host", "hostname"),
            consent,
            default_rate_ms=self.s.rate_ms,
        ).filter(~F.col("imported"))  # get_all_forges(with_imports=false), spider.rs:191

        compiled_rules = None
        if robots is not None:
            compiled_rules = (
                robots_mod.compile_rules(robots_mod.parse_robots(robots, ROBOTS_UA))
                .select(
                    "hostname",
                    F.col("pos").cast("long").alias("pos"),
                    F.col("plen").cast("int").alias("plen"),
                    "allow", "is_plain", "pattern", "rx",
                )
            )
            gated = robots_mod.merge_crawl_delay(
                gated, robots_mod.parse_crawl_delay(robots, ROBOTS_UA)
            )

        state = gated.select(
            "forge_id",
            "hostname",
            "forge_url",
            "forge_type",
            F.lit(1).alias("next_page"),
            F.lit(True).alias("active"),
            "effective_rate_ms",
            self._bucket("hostname").alias("host_bucket"),
            F.lit(None).cast("long").alias("last_crawl_on"),
        )

        forge_rows = gated.select(
            F.col("forge_url").alias("hostname"),
            "forge_type",
            "verified_on",
            F.lit(None).cast("long").alias("last_crawl_on"),
            F.lit(False).alias("imported"),
            F.lit(None).cast("string").alias("starchart_instance"),
        ).dropDuplicates(["hostname"])
        fresh = _key_join(
            forge_rows, self.forges.read(self.spark), ["hostname"], "left_anti"
        )
        keys_fresh = _key_join(
            self._seen_key_rows(fresh, "forge"),
            self.url_seen.read(self.spark),
            self.url_seen.key_cols,
            "left_anti",
        )
        parts = [
            (self.forges, fresh, "merge-append"),
            (self.url_seen, keys_fresh, "merge-append"),
        ]
        if self.s.track_host_distincts:
            # the ledger must cover EVERY url_seen writer, or the fold
            # drifts from the table sketch — seed keys enter here, not
            # through a batch commit (test_host_telemetry fold-equality)
            parts.append(self._host_hll_part(keys_fresh))
        if compiled_rules is not None:
            parts.append((self.robots_rules, compiled_rules, "overwrite"))
        parts.append((self.state, state, "overwrite"))
        multi_commit(
            self.spark,
            os.path.join(self.warehouse, "_staging", "init"),
            parts,
            {"batch_id": 0},
        )

    def _rollback_partial_batches(self) -> None:
        """Atomic-batch resume guard (ADVICE r3 #2). A batch is committed iff
        its STATE snapshot landed — state commits last in the multi_commit
        order. A kill inside the driver-side commit sequence leaves some
        tables one batch ahead of state; the merge-append tables would
        absorb a replay via their anti-joins, but visit_log and lineage are
        key-less appends and would double. Instead of replay-deduping, roll
        every table that is ahead of the state batch back to its parent —
        the partial batch then re-runs from scratch and the visit log stays
        exactly-once. Driver-side JSON metadata only; orphaned data files
        are GC'd by expire_snapshots.

        The watermark is the MAX batch_id across the state table's retained
        snapshot history, not the latest snapshot's: a re-init or TTL
        reactivation legitimately writes a state snapshot with a lower (or
        no) batch_id, and must not make completed batches look partial."""
        b_state = None
        for snap in self.state.snapshots():
            b = snap.summary.get("batch_id")
            if isinstance(b, int) and (b_state is None or b > b_state):
                b_state = b
        if b_state is None:
            return
        # state itself and robots_rules (batch 0) never stand ahead of the
        # watermark, so the walk leaves them be
        for tbl in self._tables:
            while True:
                cur = tbl.current_snapshot()
                if cur is None:
                    break
                b = cur.summary.get("batch_id")
                if not isinstance(b, int) or b <= b_state:
                    break
                tbl.rollback(cur.parent_id if cur.parent_id is not None else 0)

    def _last_batch_id(self) -> int:
        """Max committed batch_id — metadata-only: every batch commit stamps
        its batch_id into the snapshot summary (the rollback guard already
        relies on this), and lineage batch_ids are monotone, so walking the
        snapshot log backwards replaces the old full-table max() scan
        (VERDICT r4 "do this" #8). Scan fallback only for summaries from
        non-batch ops (init/import)."""
        if self.lineage.current_snapshot() is None:
            return 0
        for snap in reversed(self.lineage.snapshots()):
            b = snap.summary.get("batch_id")
            if isinstance(b, int):
                return b
        df = self.lineage.read(self.spark)
        row = df.agg(F.max("batch_id").alias("m")).collect()[0]
        return int(row["m"]) if row["m"] is not None else 0

    # -- bloom filter lifecycle ----------------------------------------------

    def _bloom_engaged(self) -> bool:
        """Driver-only engage decision: the seen set is past the threshold
        (or unknown — direct callers get round-3 behavior). No Spark jobs:
        the size comes from the startup count + observed per-batch
        inserts."""
        if self.s.bloom_min_keys <= 0 or self._seen_total is None:
            return True
        return self._seen_total >= self.s.bloom_min_keys

    def _ensure_bloom(self, last_batch_id: int) -> None:
        """Engagement/resume guard: if the persisted filter table is missing
        or lags the last committed batch (kill between url_seen merge and
        filter persist, or batches run below the engage threshold), rebuild
        it from the seen set — the only full rebuild the engine ever does;
        steady state is incremental ``bloom.update``."""
        if not self._bloom_engaged():
            return
        snap = self.bloom_state.current_snapshot()
        if snap is not None and snap.summary.get("batch_id") == last_batch_id:
            return
        filters = bloom_mod.build(self.url_seen.read(self.spark))
        self.bloom_state.overwrite(filters, {"batch_id": last_batch_id})

    def _prep_docs(self, documents: DataFrame) -> DataFrame:
        """Documents layout for the batch loop: bucketed by host for
        production-layout parity, SALTED so a mega-forge's bucket spreads
        over many tasks instead of pinning ~its whole corpus share to one
        (a real Iceberg scan splits a large bucket into many file splits;
        repartition-by-bucket-alone would not). The salt is a deterministic
        function of doc_id — nothing downstream depends on the physical
        layout (the fetch join keys on doc_id), so results are unchanged;
        tests/test_skew.py asserts no partition exceeds 2x the median even
        with one host holding half the corpus."""
        docs = documents.withColumn("host_bucket", self._bucket("hostname"))
        docs = skew.with_salt(docs, DOC_SALT, ["doc_id"], "__doc_salt")
        return docs.repartition(
            self.s.host_buckets, "host_bucket", "__doc_salt"
        ).drop("__doc_salt")

    def run(
        self,
        documents: DataFrame | None = None,
        max_batches: int | None = None,
        batch_time_s: int | None = None,
    ) -> dict:
        """Run micro-batches until the frontier drains (or max_batches).

        Idempotent and resumable: state/url_seen/entity tables are reopened
        from their current snapshots, so calling run() again after a kill
        continues where the last *committed* batch left off (a batch is
        committed only when its state snapshot lands — the final commit of
        the batch; uncommitted partial merges are absorbed by merge-insert
        idempotency, same observable end state as the reference's re-crawl,
        SURVEY.md P8).

        ``batch_time_s`` is the injected logical clock (N8 determinism —
        never wall time): hosts that drain during this run get
        ``last_crawl_on = batch_time_s``, which ``reactivate_due`` later
        compares against ttl (P3, src/spider.rs:192-202).
        """
        self._batch_time_s = batch_time_s
        if self.s.transport is not None:
            # real-fetch mode: bodies come from the transport, not the
            # documents join; budget-deferred hosts carry fetched bodies
            # in the body_cache table so nothing is ever refetched
            docs = None
        else:
            if documents is None:
                raise ValueError("documents is required without a transport")
            docs = self._prep_docs(documents).persist()
        batches = 0
        limit = max_batches if max_batches is not None else self.s.max_batches
        # a batch that raises commits nothing (state lands last) and must not
        # leave its cached frames behind for a retrying caller to pile up
        try:
            self._rollback_partial_batches()
            # one cold-path job; sound to re-verify even after a foreign
            # import (the check reads the data, and mid-run writers set the
            # flag False)
            self._entities_pure = self._entity_confirm_skippable()
            batch_id = self._last_batch_id()
            if self.s.bloom_min_keys > 0:
                # one startup count seeds the driver-side engage threshold;
                # per-batch growth comes from the observed url_seen inserts
                self._seen_total = self.url_seen.read(self.spark).count()
            self._ensure_bloom(batch_id)

            # the active-host count for batch k+1 is observed on batch k's
            # commit write — only the FIRST iteration pays a count() job
            n_active: int | None = None
            while batches < limit:
                active = self.state.read(self.spark).filter(F.col("active")).persist()
                try:
                    if n_active is None:
                        n_active = active.count()
                    if n_active == 0:
                        break
                    batch_id += 1
                    batches += 1
                    n_active = self._run_batch(batch_id, active, docs)
                finally:
                    active.unpersist()
        finally:
            if docs is not None:
                docs.unpersist()

        if batch_time_s is not None:
            self._sync_forge_last_crawl()
        for tbl in self._tables:
            tbl.expire_snapshots(SNAPSHOT_KEEP)
        return {"batches": batches, "last_batch_id": batch_id}

    def _sync_forge_last_crawl(self) -> None:
        """Mirror state.last_crawl_on into the forges table (the reference's
        ``last_crawl_on`` column, db/db-core/src/lib.rs:156-157)."""
        st = self.state.read(self.spark).filter(F.col("last_crawl_on").isNotNull())
        updates = (
            self.forges.read(self.spark)
            .drop("last_crawl_on")
            .join(
                st.select(
                    F.col("forge_url").alias("hostname"), "last_crawl_on"
                ),
                "hostname",
            )
        )
        self.forges.merge_update(self.spark, updates)

    def reactivate_due(self, now_s: int) -> int:
        """P3 crawl-cycle TTL: drained hosts whose last crawl is at least
        ``ttl_s`` old re-enter the frontier at page 1 (the reference sleeps
        ttl then restarts its page counter, src/spider.rs:192-202 +
        config/default.toml:35). Returns the number of reactivated hosts.

        ONE Spark action (VERDICT r4 "do this" #8): the due-count rides the
        overwrite's write job as an observed metric; a nothing-due wake —
        the common case for a perpetual daemon — discards the staged file
        and commits nothing, so the old count()-then-maybe-overwrite pair
        collapses without snapshot churn."""
        st = self.state.read(self.spark)
        due = (
            (~F.col("active"))
            & F.col("last_crawl_on").isNotNull()
            & (F.lit(now_s) - F.col("last_crawl_on") >= F.lit(self.s.ttl_s))
        )
        return self.state.overwrite_if(
            st.select(
                "forge_id", "hostname", "forge_url", "forge_type",
                F.when(due, F.lit(1)).otherwise(F.col("next_page")).alias("next_page"),
                F.when(due, F.lit(True)).otherwise(F.col("active")).alias("active"),
                "effective_rate_ms", "host_bucket", "last_crawl_on",
                due.alias("_due"),
            ),
            F.sum(F.col("_due").cast("long")).alias("n"),
            {"op": "reactivate", "now_s": now_s},
        )

    # -- one micro-batch -----------------------------------------------------------

    def _run_batch(self, batch_id: int, active: DataFrame, docs: DataFrame) -> int:
        """One micro-batch, committed by ONE write action (multi_commit).

        Returns the observed active-host count of the NEW state — the
        driver loop's continue/stop signal, collected as a metric on the
        commit write instead of a separate count() job. At default settings
        a batch runs the two eager lineage checkpoints (module docstring)
        and exactly one write, with no count/collect (asserted by
        tests/test_single_action_batch.py); the only extra jobs are the
        rare overfull-bucket bloom rebuild and the one-time filter rebuild
        when the seen set first crosses the engage threshold (the
        threshold check itself is driver-side metadata).

        Every frame the batch persists is unpersisted on the way out, also
        when the batch raises.
        """
        persisted: list[DataFrame] = []
        try:
            got = self._commit_batch(batch_id, active, docs, persisted)
        finally:
            for df in persisted:
                df.unpersist()
        if self._seen_total is not None:
            self._seen_total += int(got.get("n_url_seen") or 0)

        # rare path: a bucket outgrew its bitmap — rebuild just that bucket
        # (n_overfull is observed only while the bloom layer is engaged)
        if int(got.get("n_overfull") or 0) > 0:
            over = [
                int(r["host_bucket"])
                for r in bloom_mod.overfull(
                    self.bloom_state.read(self.spark)
                ).collect()
            ]
            if over:
                cur = self.bloom_state.read(self.spark)
                rebuilt = bloom_mod.build(
                    self.url_seen.read(self.spark).filter(
                        F.col("host_bucket").isin(over)
                    )
                )
                self.bloom_state.overwrite(
                    cur.filter(~F.col("host_bucket").isin(over)).unionByName(rebuilt),
                    {"batch_id": batch_id, "rebuilt_buckets": len(over)},
                )
        return int(got.get("n_active_next") or 0)

    def _commit_batch(
        self,
        batch_id: int,
        active: DataFrame,
        docs: DataFrame,
        persisted: list[DataFrame],
    ) -> dict:
        """Declare the batch's commit DAG and run its multi_commit; returns
        the observed metrics. Every frame persisted here is appended to
        ``persisted`` for the caller to release."""
        s = self.s

        def persist(df: DataFrame) -> DataFrame:
            persisted.append(df.persist())
            return df

        # 0. fetches deferred by the politeness budget in earlier batches:
        # hosts with pending rows resume their partially-fetched page instead
        # of opening a new one (their next_page never advanced).
        #
        # SLIM PATH (per-batch fixed-overhead cut, VERDICT r3 "do this" #2):
        # with no budget configured and an empty pending table — the steady
        # state of an unbudgeted crawl, detectable from snapshot METADATA
        # with zero Spark jobs — every pending/deferral branch is dead code:
        # skip the pending scan, the three anti-joins against it, the
        # deferred-host joins, and the pending/body_cache commit parts. The
        # batch DAG shrinks by ~40% of its operators, which is what the
        # small-batch wall-clock is made of (Catalyst + stage scheduling,
        # not data).
        pending_snap = self.pending.current_snapshot()
        slim = s.budget_ms is None and (
            pending_snap is None or not pending_snap.data_files
        )
        if slim:
            pending = pending_hosts = None
        else:
            pending = self.pending.read(self.spark)
            pending_hosts = pending.select("hostname").distinct()

        def anti_pending(df: DataFrame) -> DataFrame:
            return df if slim else df.join(pending_hosts, "hostname", "left_anti")

        # robots.txt gate (north rule): engaged only when init_state stored
        # compiled rules — a driver-side METADATA check, so robots-free
        # crawls keep their exact plan. The dim is a handful of rows per
        # consenting host; rules_dim's collapse rides the batch DAG and the
        # per-URL decision is one broadcast join + one projection
        # (operators/robots.py).
        robots_snap = self.robots_rules.current_snapshot()
        robots_dim = None
        if robots_snap is not None and robots_snap.data_files:
            robots_dim = robots_mod.rules_dim(self.robots_rules.read(self.spark))

        def _robots_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
            """(allowed, blocked) by the RFC 9309 decision on the URL's
            path+query (``doc_id`` is the fetch URL here)."""
            gated = robots_mod.robots_gate(
                df.withColumn(
                    "__path",
                    F.regexp_extract("doc_id", r"^[a-z0-9+.\-]+://[^/]+(/.*)$", 1),
                ),
                robots_dim,
                path_col="__path",
            )
            return (
                gated.filter(F.col("robots_allowed")).drop("__path", "robots_allowed"),
                gated.filter(~F.col("robots_allowed")).drop("__path", "robots_allowed"),
            )

        # 1. page-fetch URLs for each active host (JVM-side string build),
        # templated per forge type (N1 dispatch starts at URL construction)
        page_url = normalize.url_col(
            "search_url", F.col("forge_type"), host=F.col("hostname"),
            page=F.col("next_page"), limit=s.items_per_api_call,
        )
        pages = active.select(
            "forge_id", "hostname", "forge_url", "forge_type", "next_page",
            "effective_rate_ms", "host_bucket",
            page_url.alias("doc_id"),
        )
        # a robots-disallowed page is never fetched; pages are strictly
        # sequential per host, so the host cannot progress past it — it
        # drains exactly like the empty-page sentinel (page_status union
        # below), but WITHOUT a fetch or a visit-log row
        blocked_pages = None
        if robots_dim is not None:
            pages, blocked_pages = _robots_split(pages)

        # 2. fetch = co-partitioned join against documents (left: missing page
        # == empty page == termination sentinel, spider.rs:74-77)
        if s.transport is not None:
            # wave 1: real page fetches — the page call is always slot 0
            # per host (idx 0). Materialized: a fetch is a side effect and
            # must never re-run when the DAG re-evaluates a branch.
            # Hosts resuming a partially-fetched page do NOT refetch the
            # page — its body was cached when the budget first deferred the
            # host (every URL is fetched exactly once per crawl cycle,
            # asserted by test_fetcher's call-count test).
            from starchart_spark.crawl import fetcher

            cache = (
                empty_relation(self.spark, BODY_CACHE)
                if slim
                else self.body_cache.read(self.spark)
            )
            fetched_fresh = fetcher.fetch_batch(
                anti_pending(pages).withColumn("slot_ms", F.lit(0).cast("long")),
                s.transport,
            ).drop("slot_ms", "sent_at_ms")
            if not slim:
                resumed = pages.join(pending_hosts, "hostname", "left_semi").join(
                    cache.select("doc_id", "spans"), "doc_id", "left"
                )
                fetched_fresh = fetched_fresh.unionByName(resumed)
            # localCheckpoint (eager): materializes the wave NOW and cuts
            # the lineage, so no downstream branch re-evaluation can ever
            # re-invoke the real transport. A plain persist() is not
            # durable — cache eviction or executor loss would recompute the
            # partition and refetch (ADVICE r3 #3); with the lineage cut,
            # block loss fails the job instead of silently refetching.
            fetched_pages = fetched_fresh.localCheckpoint(eager=True)
        else:
            # lazy persist: the fetch join feeds the parse chain, the page
            # scheduling AND the termination status — one materialization
            fetched_pages = persist(
                pages.join(
                    docs.select("doc_id", "spans", "host_bucket").withColumnRenamed(
                        "host_bucket", "hb_doc"
                    ),
                    "doc_id",
                    "left",
                ).drop("hb_doc")
            )

        parsed = normalize.parse_search_pages_typed(
            fetched_pages.filter(F.col("spans").isNotNull()).select(
                "doc_id", "hostname", "spans", "forge_type"
            )
        )
        # re-attach frontier metadata
        meta = pages.select(
            "doc_id", "forge_id", "forge_url", "forge_type", "effective_rate_ms",
            "host_bucket",
        )
        # materialize the parse ONCE and cut its lineage: every branch of
        # the commit DAG (topics, politeness, entities, lineage,
        # termination) otherwise re-embeds the full from_json parse plan,
        # and at micro-batch cadence the driver's plan analysis/AQE
        # re-optimization over that depth IS the wall-clock — round-5 job
        # dumps showed a ~4 s Catalyst analysis gap before the first commit
        # job plus 0.3-1 s AQE gaps between stages, while the jobs ran in
        # <0.2 s. The cost is lineage: a lost checkpoint block fails the
        # batch instead of recomputing it.
        repo_rows = parsed.join(meta, "doc_id").localCheckpoint(eager=True)

        # 3. politeness: fetch list = page fetch (idx 0) + one topics call per
        # repo in page order (P1: ≥rate between calls within a host), for the
        # forge types whose topics need a second fetch (S4 is
        # forge-type-specific). Hosts resuming a partially-fetched page
        # contribute their carried-over rows instead.
        forge_type = F.col("forge_type")
        all_topic_fetches = repo_rows.filter(
            forge_type.isin(normalize.TOPIC_FETCH_TYPES)
        ).select(
            "hostname", "forge_id", "page", "idx_in_page", "effective_rate_ms",
            "host_bucket",
            normalize.url_col(
                "topics_url", forge_type, host=F.col("hostname"),
                owner=F.col("owner_username"), name=F.col("name"),
            ).alias("doc_id"),
        )
        # per-URL robots decisions on the varying surface (topic URLs carry
        # owner/name path segments): blocked fetches never slot, never
        # defer, never log — the repo row still merges, with the topics it
        # is allowed to see (the grouped topics join is a left join)
        blocked_topics = None
        if robots_dim is not None:
            all_topic_fetches, blocked_topics = _robots_split(all_topic_fetches)
        page_fetches = anti_pending(fetched_pages).select(
            "hostname", "forge_id",
            F.col("next_page").alias("page"),
            F.lit(0).alias("idx_in_page"),
            "effective_rate_ms", "host_bucket", "doc_id",
        )
        all_fetches = page_fetches.unionByName(anti_pending(all_topic_fetches))
        if not slim:
            all_fetches = all_fetches.unionByName(
                pending.select(*[f.name for f in PENDING.fields])
                .select("hostname", "forge_id", "page", "idx_in_page",
                        "effective_rate_ms", "host_bucket", "doc_id")
            )
        # arrivals are all zero in the engine (deferred rows re-slot from 0
        # next batch), so the token bucket's cummax closed form collapses to
        # (rank-1)·rate — the pure-JVM window fast path, no Python stage
        slotted = politeness.assign_slots_window(
            all_fetches, order_cols=["page", "idx_in_page"]
        )
        scheduled, deferred = politeness.split_by_budget(slotted, s.budget_ms)
        scheduled = persist(scheduled)
        if not slim:
            deferred = persist(deferred)
        # a page completes only when EVERY one of its fetches has been
        # scheduled: ANY deferred fetch keeps the host on its current page
        # and postpones the page's entity merge (the reference processes a
        # page's CrawlResp only after all its topic calls finished,
        # forge/gitea/src/lib.rs:74-172). idx 0 always schedules at slot 0,
        # so the carried rows are topic fetches only and progress is
        # guaranteed for any budget > 0. Slim: budget None ⇒ nothing
        # defers, by construction of split_by_budget.
        deferred_hosts = None if slim else deferred.select("hostname").distinct()

        def completing(df: DataFrame) -> DataFrame:
            """Rows of the hosts whose page completes this batch."""
            return df if slim else df.join(deferred_hosts, "hostname", "left_anti")

        sched_repo_rows = persist(completing(repo_rows))
        # 4. topics "fetch" + parse + J4 grouped join (no N+1). For pages
        # completing this batch the full topic list is re-derived and
        # joined against docs — a pure function, regardless of which
        # batch actually scheduled each topic fetch.
        topic_docs = completing(all_topic_fetches)
        if s.transport is not None:
            # wave 2: real topic fetches, honoring the token-bucket slots
            # (slot i·rate relative to the wave start — spacing is always
            # ≥ rate, conservative vs the reference's in-line timeline).
            # A completing page's bodies come from this wave PLUS the body
            # cache (topic rows its host fetched in earlier batches before
            # the budget deferred it). Same durability contract as the page
            # wave above.
            fetched_topics = fetcher.fetch_batch(
                scheduled.filter(F.col("idx_in_page") > 0), s.transport
            ).localCheckpoint(eager=True)
            bodies = (
                fetched_topics.select("doc_id", "spans")
                .unionByName(cache.select("doc_id", "spans"))
                .dropDuplicates(["doc_id"])
            )
            topics_raw = topic_docs.join(bodies, "doc_id", "left")
        else:
            topics_raw = topic_docs.join(
                docs.select("doc_id", "spans"), "doc_id", "left"
            )
        topics = normalize.parse_gitea_topics_pages(
            topics_raw.filter(F.col("spans").isNotNull()).select(
                "doc_id", "hostname", "spans"
            )
        )
        # same trade as repo_rows: one tiny job now, a shallow scan in
        # every downstream reference of the topics parse
        topics = topics.localCheckpoint(eager=True)

        # 5. normalize + in-batch dedup. Lazy persists: these plans feed
        # several branches of the single commit DAG (entity insert, seen
        # keys, lineage counters); caching the first materialization keeps
        # the per-batch stage count flat instead of re-running the
        # parse→normalize→dedup pipeline once per branch. All persists are
        # lazy — they add no action; the write below materializes them.
        user_cands = normalize.normalize_users(sched_repo_rows)
        repo_cands = persist(normalize.normalize_repositories(sched_repo_rows, topics))

        # 6. seen filter (bloom prefilter when engaged + exact anti-join)
        # and MERGE sinks.
        # Steps 6-9 are DECLARED here and materialized by ONE write action
        # (snapstore.multi_commit) at the end of the batch — the reference
        # commits a page's users/repos/seen rows in one sqlite transaction
        # (src/spider.rs:88-123); round 2's ~6 jobs with a count() sync
        # point per table made driver round-trips the cadence floor at
        # 10^4-batch scale. Per-table row counts (and the next batch's
        # active-host count) ride along as observed metrics on the single
        # write job — never as separate count() jobs.
        engaged = self._bloom_engaged()
        if engaged:
            # no-op metadata check in steady state; rebuilds once when the
            # threshold is first crossed (filters lag the committed batches)
            self._ensure_bloom(batch_id - 1)
            bloom_filters = self.bloom_state.read(self.spark)
        else:
            bloom_filters = None

        # Unified entity pass (VERDICT r4 "do this" #1): users and repos
        # ride ONE key_kind-discriminated stream through ONE keep-first,
        # ONE bloom probe, ONE url_seen anti-join and ONE entity confirm
        # anti-join (the round-4 shape ran the whole ladder twice — 8-10
        # extra AQE stages, the per-batch cadence floor). The unified
        # keep-first key (key_kind, hostname, key1, key2) is exactly the
        # per-kind keys — user (hostname, username), repo (hostname,
        # owner, name) — because key_kind discriminates, and window
        # partitioning groups NULL key2 values correctly.
        ukey_cols = self.url_seen.key_cols
        cands_keyed = self._with_seen_key(user_cands, "user").unionByName(
            self._with_seen_key(repo_cands, "repo"), allowMissingColumns=True
        )
        if s.discover_media:
            # interleaved-media frontier: every completing page's media
            # spans become canonical (host, ref) keys and join the SAME
            # unified stream — one more union input, zero extra stages.
            # Same completion gate as the entity merges: a budget-deferred
            # host's page re-derives its media refs (a pure function of the
            # body) in the batch that finally completes it.
            media_cands = (
                completing(fetched_pages)
                .filter(F.col("spans").isNotNull())
                .select(
                    F.col("next_page").alias("page"),
                    F.explode(
                        F.filter("spans", lambda sp: sp["kind"] == F.lit("media"))
                    ).alias("__sp"),
                )
                .select(
                    "page",
                    F.col("__sp.media_ref").alias("media_ref"),
                    F.col("__sp.offset").alias("idx_in_page"),
                )
                .filter(F.col("media_ref").isNotNull())
                .withColumn(
                    # the media URL's own host — avatars/assets are often
                    # cross-host (CDN), so the seen key must NOT inherit
                    # the forge host. JVM regex, same shape the robots
                    # split uses for paths.
                    "hostname",
                    F.lower(
                        F.regexp_extract(
                            "media_ref", r"^[A-Za-z0-9+.\-]+://([^/:?#]+)", 1
                        )
                    ),
                )
                .filter(F.length("hostname") > 0)
                .withColumn(
                    "media_type", multimodal.media_type_col("media_ref")
                )
            )
            cands_keyed = cands_keyed.unionByName(
                self._with_seen_key(media_cands, "media"),
                allowMissingColumns=True,
            )
        first = persist(
            dedup.keep_first(cands_keyed, ukey_cols, ["page", "idx_in_page"])
        )
        # new vs url_seen (crawl semantics) ...
        new_keys = persist(self._new_against_seen(first, bloom_filters))
        # ... and vs the entity tables themselves (kill-replay idempotency:
        # a crash after the entity commit but before url_seen's replays
        # this batch; this anti-join suppresses the double insert while the
        # seen keys — derived from new_keys, NOT the confirmed inserts —
        # still land, so both tables converge whichever side of the commit
        # sequence the crash fell on). Both entity tables project to the
        # same key shape, so ONE NULL-safe anti-join confirms both kinds.
        if self._entities_pure:
            # entity⊆url_seen verified at run() start (and maintained by
            # every batch commit), so the confirm anti-join is a no-op:
            # new_keys already excludes everything in url_seen ⊇ entities
            confirmed = new_keys
        else:
            confirmed = persist(
                _key_join(new_keys, self._entity_keys(), ukey_cols, "left_anti")
            )
        u_ins = confirmed.filter(F.col("key_kind") == "user").select(
            *[f.name for f in tables.USERS.fields]
        )
        r_ins = confirmed.filter(F.col("key_kind") == "repo").select(
            *[f.name for f in tables.REPOSITORIES.fields]
        )
        m_ins = None
        if s.discover_media:
            m_ins = confirmed.filter(F.col("key_kind") == "media").select(
                *[f.name for f in tables.MEDIA_ASSETS.fields]
            )
        # reuse the PROBED hash instance — the stored seen key is, by
        # construction, the exact value the bloom layer was probed with
        seen_rows = new_keys.select(*[f.name for f in tables.URL_SEEN.fields])
        # bloom maintenance in the same DAG: OR this batch's new keys into
        # their buckets (O(new keys)); the overfull probe is an observed
        # metric, so the (rare) per-bucket rebuild is the only extra job
        bloom_part = None
        if engaged:
            bloom_part = bloom_mod.update(
                self.bloom_state.read(self.spark),
                seen_rows.select("host_bucket", "key_hash"),
            )

        # 7. visit log (pure-function crawl order evidence): every scheduled
        # fetch was actually performed this batch and is logged exactly once
        # — carried-over rows log in the batch that finally schedules them.
        visits = scheduled.select(
            F.lit(batch_id).alias("batch_id"),
            "forge_id", "hostname", "page", "idx_in_page", "doc_id",
        )

        # 8. lineage counters per partition (A3 / north_rule): every input
        # row is tagged with its counter kind and ONE groupBy(host_bucket)
        # produces all three columns — a single exchange where the round-3
        # shape paid three groupBys plus two full joins (per-batch stage
        # count is the small-batch wall-clock, VERDICT r3 "do this" #2)
        def _tagged(df: DataFrame, which: str, has_bucket: bool) -> DataFrame:
            b = (
                F.col("host_bucket")
                if has_bucket
                else self._bucket("hostname")
            )
            return df.select(b.alias("host_bucket"), F.lit(which).alias("__w"))

        # media rows have their own ledger (media_discovered): keep them
        # out of the reference's dedup accounting (c−i) — the conditional
        # keeps the default-mode plan byte-identical
        nonmedia_confirmed = (
            confirmed.filter(F.col("key_kind") != "media")
            if s.discover_media
            else confirmed
        )
        tagged = (
            _tagged(scheduled, "f", True)
            # user candidates count post-keep-first, repo candidates
            # pre-keep-first — the reference's dedup accounting; both read
            # from already-persisted intermediates, no recompute
            .unionByName(_tagged(first.filter(F.col("key_kind") == "user"), "c", True))
            .unionByName(_tagged(repo_cands, "c", False))
            .unionByName(_tagged(nonmedia_confirmed, "i", True))
        )
        if s.discover_media:
            tagged = tagged.unionByName(
                _tagged(confirmed.filter(F.col("key_kind") == "media"), "m", True)
            )
        if not slim:
            tagged = tagged.unionByName(_tagged(deferred, "d", True))
        if blocked_pages is not None:
            tagged = tagged.unionByName(_tagged(blocked_pages, "b", True))
            tagged = tagged.unionByName(_tagged(blocked_topics, "b", True))
        lineage = tagged.groupBy("host_bucket").agg(
            F.sum((F.col("__w") == "f").cast("long")).alias("fetched"),
            (
                F.sum((F.col("__w") == "c").cast("long"))
                - F.sum((F.col("__w") == "i").cast("long"))
            ).alias("deduped"),
            F.sum((F.col("__w") == "d").cast("long")).alias("deferred_by_politeness"),
            F.sum((F.col("__w") == "b").cast("long")).alias("blocked_by_robots"),
            F.sum((F.col("__w") == "m").cast("long")).alias("media_discovered"),
        ).select(
            F.lit(batch_id).alias("batch_id"),
            F.col("host_bucket").alias("partition_id"),
            "fetched",
            "deduped",
            "deferred_by_politeness",
            "blocked_by_robots",
            "media_discovered",
        )

        # 9. state advance — THE commit point of the batch.
        # Termination (A2, spider.rs:74-77): an existing page with zero repos
        # is the sentinel — it IS fetched (and logged), then the host stops.
        host_repo_counts = repo_rows.groupBy("hostname").agg(
            F.count(F.lit(1)).alias("__n_repos")
        )
        page_status = fetched_pages.select(
            "hostname", F.col("spans").isNotNull().alias("page_found")
        ).join(host_repo_counts, "hostname", "left")
        if blocked_pages is not None:
            # robots-blocked page ⇒ sentinel semantics (host deactivates),
            # minus the fetch: page_found=false, no repos
            page_status = page_status.unionByName(
                blocked_pages.select(
                    "hostname",
                    F.lit(False).alias("page_found"),
                    F.lit(None).cast("long").alias("__n_repos"),
                )
            )
        if slim:
            page_status = page_status.withColumn(
                "__deferred", F.lit(None).cast("boolean")
            )
        else:
            page_status = page_status.join(
                deferred_hosts.withColumn("__deferred", F.lit(True)),
                "hostname",
                "left",
            )
        got_repos = F.col("page_found") & F.col("__n_repos").isNotNull()
        new_active = (
            F.when(F.col("__deferred").isNotNull(), F.lit(True))
            .when(F.col("page_found").isNull(), F.col("active"))
            .when(got_repos, F.lit(True))
            .otherwise(F.lit(False))
        )
        new_state = (
            self.state.read(self.spark)
            .join(page_status, "hostname", "left")
            .select(
                "forge_id", "hostname", "forge_url", "forge_type",
                F.when(F.col("__deferred").isNotNull(), F.col("next_page"))
                .when(got_repos, F.col("next_page") + 1)
                .otherwise(F.col("next_page"))
                .alias("next_page"),
                new_active.alias("active"),
                "effective_rate_ms", "host_bucket",
                # P3: stamp the injected batch time when the host drains
                F.when(
                    F.col("active") & ~new_active,
                    F.lit(self._batch_time_s).cast("long"),
                )
                .otherwise(F.col("last_crawl_on"))
                .alias("last_crawl_on"),
            )
        )
        # THE batch commit: one partitioned write materializes every
        # table's outgoing rows, then each table's snapshot lands in listed
        # order — state LAST (the commit point; a kill anywhere earlier
        # replays this batch idempotently via the in-DAG anti-joins above).
        parts = [
            (self.users, u_ins, "merge-append"),
            (self.repositories, r_ins, "merge-append"),
            (self.url_seen, seen_rows, "merge-append"),
        ]
        if m_ins is not None:
            parts.append((self.media_assets, m_ins, "merge-append"))
        if bloom_part is not None:
            parts.append((self.bloom_state, bloom_part, "overwrite"))
        if s.transport is not None and not slim:
            # bodies the still-deferred hosts will need when they complete:
            # their page body + every topic body fetched so far (this
            # batch's wave 2 ∪ the prior cache), nothing else
            new_cache = (
                fetched_pages.select("hostname", "doc_id", "spans")
                .unionByName(fetched_topics.select("hostname", "doc_id", "spans"))
                .unionByName(cache)
                .filter(F.col("spans").isNotNull())
                .join(deferred_hosts, "hostname", "left_semi")
                .dropDuplicates(["hostname", "doc_id"])
            )
            parts.append((self.body_cache, new_cache, "overwrite"))
        if s.track_host_distincts:
            # registers of THIS batch's new keys only: a key is new exactly
            # once (the in-DAG anti-joins above + the atomic-batch rollback
            # guard make the append exactly-once, like visit_log), so the
            # read-side max-fold over the log equals the registers of the
            # whole url_seen table — no ledger read here, one extra groupBy
            parts.append(self._host_hll_part(seen_rows))
        parts += [
            (self.visit_log, visits, "append"),
            (self.lineage, lineage, "append"),
        ]
        if not slim:
            # slim mode never defers, so pending stays the empty table it
            # already is — no need to overwrite it every batch
            parts.append(
                (
                    self.pending,
                    deferred.select(*[f.name for f in PENDING.fields]),
                    "overwrite",
                )
            )
        parts.append((self.state, new_state, "overwrite"))
        extra = {
            # the while-loop's continue/stop decision for the NEXT batch,
            # observed on this batch's write instead of a count() job
            "n_active_next": F.sum(
                F.when((F.col("__tbl") == "state") & F.col("active"), 1).otherwise(0)
            ),
        }
        if bloom_part is not None:
            # only meaningful (and only resolvable — the wide union carries
            # filter columns only when the bloom part is present) with bloom on
            extra["n_overfull"] = F.sum(
                F.when(
                    (F.col("__tbl") == "bloom_state")
                    & (F.col("n_keys") * F.lit(bloom_mod.DEFAULT_BITS_PER_KEY)
                       > F.col("m_bits")),
                    1,
                ).otherwise(0)
            )
        return multi_commit(
            self.spark,
            os.path.join(self.warehouse, "_staging", f"batch_{batch_id}"),
            parts,
            {"batch_id": batch_id},
            extra_metrics=extra,
        )

    # -- deletes (delete_user / delete_repository parity) ------------------------------

    def delete_users(self, keys: DataFrame) -> DataFrame:
        """Reference ``delete_user`` (db/db-sqlx-sqlite/src/lib.rs:677-705):
        remove matching users and their url_seen membership, so a later
        crawl re-adds them (observable add→delete→re-add state equals the
        reference's). Returns the deleted seen-key rows — a cuckoo-backed
        deployment feeds them to ``cuckoo.update`` as ``op='delete'``; the
        bloom layer needs no eviction (stale bits are false positives, which
        the exact confirm join resolves).

        The result is eagerly localCheckpoint'ed: ``merge_delete``'s raw
        return reads scratch files that ``expire_snapshots`` (run by
        ``run()``'s end-of-cycle maintenance) deletes, so a caller holding
        the lazy plan past maintenance would read nothing (ADVICE r4 #5) —
        checkpointing here makes the public API's result durable for the
        session regardless of when it's consumed, and the merge into
        url_seen reuses the same materialization."""
        _, del_rows = self.users.merge_delete(self.spark, keys)
        seen_keys = self._seen_key_rows(del_rows, "user").localCheckpoint(eager=True)
        self.url_seen.merge_delete(self.spark, seen_keys)
        return seen_keys

    def delete_repositories(self, keys: DataFrame) -> DataFrame:
        """Reference ``delete_repository`` (db/db-sqlx-sqlite/src/lib.rs:707-733).
        Result checkpointed for the same scratch-lifetime reason as
        ``delete_users``."""
        _, del_rows = self.repositories.merge_delete(self.spark, keys)
        seen_keys = self._seen_key_rows(del_rows, "repo").localCheckpoint(eager=True)
        self.url_seen.merge_delete(self.spark, seen_keys)
        return seen_keys

    # -- derived outputs -------------------------------------------------------------

    def compact_tables(self, min_files: int = 64) -> dict[str, int]:
        """Small-file maintenance (snapstore.compact): rewrite any table
        whose current snapshot references ≥ ``min_files`` data files down
        to one file per bucket. The micro-batch writer accretes one file
        per table per batch — at 10^4-batch cadence scan planning becomes
        file listing, the classic Iceberg maintenance case. Run from a
        maintenance window, never the batch loop (it rewrites O(table));
        resume/rollback safety is untouched because compact commits carry
        no batch_id, and incremental_read across a compact falls back to
        the exact key diff. Returns {table: files_before} for the tables
        compacted.

        Torn-batch ordering: the resume guard walks snapshot summaries
        newest-first and stops at the first non-batch commit, so compacting
        ON TOP of a partial batch would hide it — roll back partials first
        (idempotent no-op on a clean warehouse)."""
        self._rollback_partial_batches()
        out: dict[str, int] = {}
        for tbl in (self.users, self.repositories, self.url_seen,
                    self.media_assets, self.visit_log, self.lineage,
                    self.host_hll, self.forges):
            cur = tbl.current_snapshot()
            if cur is not None and len(cur.data_files) >= min_files:
                tbl.compact(self.spark)
                out[os.path.basename(tbl.path.rstrip("/"))] = len(cur.data_files)
        return out

    def host_distinct_registers(self) -> DataFrame:
        """Fold the host_hll append log to current registers
        (hostname, bucket, rho) — equals
        ``sketch.hll_registers(url_seen, 'key_hash', ['hostname'])``
        exactly (each key appended its registers once; max is associative,
        commutative, idempotent), asserted in test_host_telemetry."""
        log = self.host_hll.read(self.spark)
        return log.groupBy(
            "hostname", F.col("hll_bucket").alias("bucket")
        ).agg(F.max("hll_rho").alias("rho"))

    def host_distinct_estimates(self) -> DataFrame:
        """(hostname, est): estimated distinct seen URLs per host from the
        register ledger — the fixed-size answer to 'how big is each host's
        footprint' that never rescans url_seen (at 10^10 URLs the ledger
        fold touches hosts × ≤ 2^b rows, not keys).

        Semantics: EVER-seen distinct count. Registers are max-folds, so
        delete_users/delete_repositories (which remove url_seen rows)
        cannot subtract here — the right reading for discovery telemetry,
        and the standard HLL limitation (a decayed window would keep
        per-epoch ledgers and fold the live ones)."""
        return sketch_mod.hll_estimate_from_registers(
            self.host_distinct_registers(), ["hostname"], b=HLL_B
        )

    def crawl_order(self) -> DataFrame:
        """Golden-comparable visit order: pure function of (forge_id, page,
        idx_in_page) — SURVEY.md §3.1/§7."""
        from pyspark.sql import Window

        log = self.visit_log.read(self.spark)
        w = Window.orderBy("forge_id", "page", "idx_in_page")
        return log.select(
            "hostname", "page", "idx_in_page", "doc_id",
            (F.row_number().over(w) - 1).cast("long").alias("seq"),
        )
