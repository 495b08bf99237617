"""Structured Streaming surface (SURVEY.md §2.10).

The reference daemon is an unbounded micro-batch loop over DB state
(/root/reference/src/spider.rs:175-223) — no watermarks or event-time
semantics. The natural Spark mapping is what crawl/engine.py already does
(driver-orchestrated batches over snapshot tables). This module adds the
genuinely streaming pieces for deployments that want them:

- ``stream_documents`` + ``incremental_ingest``: new page documents landing
  in a directory are parsed/deduped/merged exactly once per micro-batch via
  ``foreachBatch`` + ``Trigger.AvailableNow`` — the idempotent merge sinks
  make replays safe (same contract as engine resume).
- ``stateful_rate_limiter``: the P6 leaky bucket as
  ``applyInPandasWithState`` with a processing-time timeout standing in for
  the reference's GC sweep (src/master.rs:63-106, gc=45 s): per-peer event
  counts age out of state exactly like idle Counter actors being reaped.

**Trigger caveat for budgeted frontier mode** (VERDICT r4 "do this" #4):
budget continuation rounds are driven by PROCESSING-TIME state timeouts —
a host whose buffered work outlasts the arriving data only progresses when
the timeout fires in a later micro-batch. ``Trigger.AvailableNow`` stops
as soon as the available DATA is consumed, BEFORE those timeouts fire, so
a budgeted stream under availableNow terminates with work still buffered.
availableNow is safe only for UNbudgeted mode (``budget_ms=None`` — every
buffered page drains within the round its data arrives) and for
``incremental_ingest`` (stateless per batch). For budgeted mode use a
``processingTime`` trigger and stop on the drained markers —
``drain_frontier`` below packages that pattern.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from starchart_spark import tables

DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(tables.SPAN), False),
        T.StructField("hostname", T.StringType(), False),
    ]
)


def stream_documents(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of interleaved documents (one parquet drop per
    crawl fetch batch)."""
    return (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def incremental_ingest(engine, docs_stream: DataFrame, checkpoint_dir: str):
    """foreachBatch bridge into the engine's merge sinks: each micro-batch of
    fetched pages is normalized and merged insert-if-absent; the streaming
    checkpoint plus idempotent MERGE give effective exactly-once."""
    from starchart_spark.operators import dedup, normalize

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        search_docs, topics_docs = normalize.split_documents(batch_df)
        parsed = normalize.parse_gitea_search_pages(
            search_docs.select("doc_id", "hostname", "spans")
        )
        if parsed.isEmpty():
            return
        repo_rows = parsed.withColumn(
            "forge_url", F.concat(F.lit("https://"), F.col("hostname"), F.lit("/"))
        )
        topics = normalize.parse_gitea_topics_pages(
            topics_docs.select("doc_id", "hostname", "spans")
        )
        users = dedup.keep_first(
            normalize.normalize_users(repo_rows),
            ["hostname", "username"],
            ["page", "idx_in_page"],
        )
        repos = normalize.normalize_repositories(repo_rows, topics)
        engine.users.merge_insert(engine.spark, users, {"stream_batch": batch_id})
        engine.repositories.merge_insert(engine.spark, repos, {"stream_batch": batch_id})
        # these entities carry no url_seen keys — the batch engine's entity
        # confirm anti-join must run until a later run() re-verifies the
        # entity⊆url_seen invariant
        engine._entities_pure = False

    return (
        docs_stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


LIMITER_OUT = T.StructType(
    [
        T.StructField("peer", T.StringType(), False),
        T.StructField("count_in_window", T.LongType(), False),
        T.StructField("over_limit", T.BooleanType(), False),
    ]
)

LIMITER_STATE = T.StructType([T.StructField("count", T.LongType(), False)])


def _limiter_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Leaky bucket per peer: accumulate counts; state times out (GC) after
    54 s idle, mirroring counter decay + master GC."""
    if state.hasTimedOut:
        state.remove()
        return
    count = state.get[0] if state.exists else 0
    for pdf in pdfs:
        count += len(pdf)
    state.update((count,))
    state.setTimeoutDuration(54 * 1000)
    yield pd.DataFrame(
        {"peer": [key[0]], "count_in_window": [count], "over_limit": [count > 50]}
    )


def stateful_rate_limiter(events: DataFrame, peer_col: str = "peer") -> DataFrame:
    """P6/P7 as a stateful streaming operator."""
    return events.groupBy(peer_col).applyInPandasWithState(
        _limiter_fn,
        outputStructType=LIMITER_OUT,
        stateStructType=LIMITER_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


# -- streaming frontier scheduler (SURVEY §2.10 upgrade, VERDICT r2 #6) ------

FRONTIER_EVENT = T.StructType(
    [
        T.StructField("hostname", T.StringType(), False),
        T.StructField("forge_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # visit | defer | drained
        T.StructField("page", T.IntegerType(), False),
        T.StructField("idx_in_page", T.IntegerType(), False),
        T.StructField("doc_id", T.StringType(), True),  # null for drained
        # politeness send slot relative to this round's wave start (ms);
        # null for drained markers
        T.StructField("slot_ms", T.LongType(), True),
    ]
)

FRONTIER_STATE = T.StructType(
    [
        T.StructField("next_page", T.IntegerType(), False),
        T.StructField("active", T.BooleanType(), False),
        # pages fetched ahead of the cursor, JSON {page: {doc_id, repos}} —
        # file-source micro-batches deliver a host's pages in arbitrary
        # order; the walk only advances through CONTIGUOUS pages, exactly
        # the reference's strictly-sequential per-host page loop
        T.StructField("buffer_json", T.StringType(), False),
        # fetches of the CURRENT page already emitted in earlier rounds
        # (budgeted mode: a page may take several rounds, like the batch
        # engine's pending-carryover)
        T.StructField("done_in_page", T.IntegerType(), False),
        # host dimension carried in state so budget-continuation rounds
        # (which may have no input rows) can still emit
        T.StructField("forge_id", T.LongType(), True),
        T.StructField("forge_type", T.StringType(), True),
        # per-host pacing (consent-table rate override, P5): the batch
        # engine paces by effective_rate_ms per host, so budgeted parity
        # must too — one global rate silently mis-caps and mis-splits
        # hosts with overrides (ADVICE r4 #2)
        T.StructField("rate_ms", T.LongType(), True),
    ]
)


def shape_frontier_input(docs_stream: DataFrame, seeds: DataFrame) -> DataFrame:
    """Stateless pre-shaping (streaming-safe: filter/join/from_json only).

    Search-page documents → one MARKER row per page (idx 0, the page fetch
    itself — a sentinel page with zero repos still produces its marker,
    which is what lets the stateful walk terminate) + one row per parsed
    wire repo. ``seeds`` is the static (hostname, forge_id, forge_type)
    dimension, broadcast into the stream.
    """
    from starchart_spark.operators import normalize

    # per-host rate override rides the seed dim when present (consent-table
    # effective_rate_ms, P5); absent → NULL → the scheduler's default rate
    dim_cols = ["hostname", "forge_id", "forge_type"]
    if "effective_rate_ms" in seeds.columns:
        dim = seeds.select(
            *dim_cols, F.col("effective_rate_ms").cast("long")
        )
    else:
        dim = seeds.select(
            *dim_cols, F.lit(None).cast("long").alias("effective_rate_ms")
        )
    pages = docs_stream.filter(F.col("doc_id").rlike(r"[?&]page=\d+")).join(
        F.broadcast(dim), "hostname"
    )
    common = ["hostname", "forge_id", "forge_type", "effective_rate_ms",
              "page", "idx_in_page", "owner_username", "name", "is_marker",
              "doc_id"]
    markers = pages.select(
        "hostname",
        "forge_id",
        "forge_type",
        "effective_rate_ms",
        F.regexp_extract("doc_id", r"[?&]page=(\d+)", 1).cast("int").alias("page"),
        F.lit(0).alias("idx_in_page"),
        F.lit(None).cast("string").alias("owner_username"),
        F.lit(None).cast("string").alias("name"),
        F.lit(True).alias("is_marker"),
        "doc_id",
    ).select(common)
    repo_rows = (
        normalize.parse_search_pages_typed(
            pages.select("doc_id", "hostname", "spans", "forge_type")
        )
        .join(F.broadcast(dim), "hostname")
        .select(
            "hostname", "forge_id", "forge_type", "effective_rate_ms",
            "page", "idx_in_page", "owner_username", "name",
            F.lit(False).alias("is_marker"), "doc_id",
        )
        .select(common)
    )
    return markers.unionByName(repo_rows)


def make_frontier_fn(rate_ms: int | None = None, budget_ms: int | None = None):
    """Build the per-host frontier cursor function (the continuous variant
    of the batch loop, state = next_page/active, spider.rs:65-122).

    Arriving page documents buffer by page number; the cursor walks
    contiguous pages emitting the page visit (idx 0) and, for gitea, one
    topic visit per repo in page order (S4); a zero-repo page is the A2
    sentinel: its visit IS emitted, then the host drains (kind='drained'
    carries the final next_page for end-state comparison).

    **Politeness + budget parity (VERDICT r3 "do this" #3).** With
    ``budget_ms`` set, each invocation is one batch-engine micro-batch for
    this host: fetches get token-bucket slots 0, rate, 2·rate, … and only
    the ``ceil(budget/rate)`` fetches whose slot < budget are emitted as
    visits — exactly ``politeness.assign_slots_window`` + ``split_by_budget``.
    The remainder of the current page is emitted as ``kind='defer'`` rows
    (mirror of the batch engine's pending table after that batch, slot ≥
    budget) and carried in state via ``done_in_page``; like the batch
    engine, at most ONE page advances per round even when budget remains.
    Equality of per-round visits AND per-round deferrals with the batch
    engine under the same (rate, budget) is asserted by
    tests/test_streaming.py. Reference anchor: the per-host rate sleeps at
    forge/gitea/src/lib.rs:133-148 inside the daemon loop
    src/spider.rs:175-223.

    ``rate_ms`` here is the DEFAULT rate; a host whose seed row carries a
    consent-table ``effective_rate_ms`` override paces (slots, budget cap,
    defer split, continuation timeout) by ITS rate, exactly like the batch
    engine (ADVICE r4 #2). The override is captured into state on first
    contact so budget-continuation rounds with no input rows keep it.
    """
    import json
    import math

    budgeted = budget_ms is not None
    default_rate = int(rate_ms or 0)

    def _cap_for(rate: int) -> int | None:
        if budgeted and rate > 0:
            # number of slots i·rate strictly under the budget
            return max(1, math.ceil(budget_ms / rate))
        return None

    def _fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        timed_out = bool(getattr(state, "hasTimedOut", False))
        if state.exists:
            (next_page, active, buf_json, done, forge_id, forge_type,
             host_rate) = state.get
            buffer = json.loads(buf_json)
        elif timed_out:
            return
        else:
            next_page, active, buffer, done = 1, True, {}, 0
            forge_id, forge_type, host_rate = None, None, None
        host = key[0]
        if not timed_out:
            for pdf in pdfs:
                for r in pdf.itertuples(index=False):
                    forge_id = int(r.forge_id)
                    forge_type = r.forge_type
                    if r.effective_rate_ms is not None and not pd.isna(
                        r.effective_rate_ms
                    ):
                        host_rate = int(r.effective_rate_ms)
                    ent = buffer.setdefault(
                        str(int(r.page)), {"doc_id": None, "repos": []}
                    )
                    if r.is_marker:
                        ent["doc_id"] = r.doc_id
                    else:
                        ent["repos"].append(
                            [int(r.idx_in_page), r.owner_username, r.name]
                        )
        rate = default_rate if host_rate is None else int(host_rate)
        cap = _cap_for(rate)
        rows = []
        while active:
            ent = buffer.get(str(next_page))
            if ent is None or ent["doc_id"] is None:
                break
            repos = sorted(ent["repos"])
            fetches = [(0, ent["doc_id"])]
            if forge_type == "gitea":  # S4: only gitea needs the topics fetch
                for idx, owner, name in repos:
                    fetches.append(
                        (idx, f"https://{host}/api/v1/repos/{owner}/{name}/topics")
                    )
            remaining = fetches[done:]
            take = remaining if cap is None else remaining[:cap]
            for j, (idx, url) in enumerate(take):
                rows.append(
                    (host, forge_id, "visit", next_page, idx, url, j * rate)
                )
            if len(take) < len(remaining):
                # over-budget remainder = the batch engine's pending rows
                for j, (idx, url) in enumerate(remaining[len(take):]):
                    rows.append(
                        (host, forge_id, "defer", next_page, idx, url,
                         (len(take) + j) * rate)
                    )
                done += len(take)
                break
            # page complete
            del buffer[str(next_page)]
            done = 0
            if not repos:
                active = False
                rows.append((host, forge_id, "drained", next_page, 0, None, None))
            else:
                next_page += 1
                if budgeted:
                    # one page per round — the batch engine opens the next
                    # page only in the next micro-batch
                    break
        state.update(
            (next_page, active, json.dumps(buffer), done, forge_id,
             forge_type, host_rate)
        )
        if budgeted and active and (done > 0 or str(next_page) in buffer):
            # work remains buffered: schedule a continuation round even if
            # no new documents arrive for this host
            state.setTimeoutDuration(max(rate, 100))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    "hostname", "forge_id", "kind", "page", "idx_in_page",
                    "doc_id", "slot_ms",
                ],
            )

    return _fn


# default (unbudgeted) cursor — the original round-3 behavior
_frontier_fn = make_frontier_fn()


def drain_frontier(
    spark: SparkSession,
    query,
    events_table: str,
    n_hosts: int,
    timeout_s: float = 120.0,
    poll_s: float = 1.0,
    stop: bool = True,
) -> int:
    """Run a budgeted frontier stream until every host drains (or timeout).

    ``query`` is a started ``StreamingQuery`` writing the scheduler's
    events to the in-memory (or any queryable) sink named
    ``events_table`` with a **processingTime** trigger — availableNow
    would stop before the timeout-driven continuation rounds fire (see
    module docstring). Polls the drained-marker count until it reaches
    ``n_hosts``; returns the count observed (callers assert
    ``== n_hosts``). Stops the query on exit unless ``stop=False``.
    """
    import time

    deadline = time.time() + timeout_s
    drained = 0
    try:
        while time.time() < deadline and drained < n_hosts:
            drained = spark.sql(
                f"select count(*) from {events_table} where kind='drained'"
            ).collect()[0][0]
            if drained < n_hosts:
                time.sleep(poll_s)
    finally:
        if stop:
            query.stop()
    return int(drained)


def streaming_frontier_scheduler(
    docs_stream: DataFrame,
    seeds: DataFrame,
    rate_ms: int | None = None,
    budget_ms: int | None = None,
) -> DataFrame:
    """The crawl frontier as a continuous stateful stream: page documents
    arrive (in any order, across any micro-batch boundaries), visit events
    leave in the reference's per-host sequential order. Equality with the
    batch engine's visit log / final state on the same corpus is asserted
    by tests/test_streaming.py. With ``budget_ms`` set the scheduler also
    reproduces the batch engine's politeness pacing and budget deferral
    (see make_frontier_fn); a processing-time timeout drives continuation
    rounds for hosts whose buffered work outlasts the arriving data."""
    shaped = shape_frontier_input(docs_stream, seeds)
    return shaped.groupBy("hostname").applyInPandasWithState(
        make_frontier_fn(rate_ms, budget_ms),
        outputStructType=FRONTIER_EVENT,
        stateStructType=FRONTIER_STATE,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if budget_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def streaming_exact_dedup(
    docs_stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    horizon: str = "10 minutes",
) -> DataFrame:
    """Continuous exact dedup over an unbounded document stream: the
    first-arriving instance of each text passes, later copies within the
    watermark ``horizon`` are dropped, and per-key state is reclaimed once
    the watermark passes it (``dropDuplicatesWithinWatermark`` — the
    streaming form Spark provides exactly for this; plain
    ``dropDuplicates`` would keep the key set forever).

    Same key derivation as the batch ``dedup_text.exact_dedup`` — an
    8-byte ``xxhash64(text)``, so state is 8 bytes + timestamp per
    distinct doc, never the text. The horizon is the standard
    scale/completeness dial: duplicates arriving further apart than the
    horizon both survive (re-dedup batch-side downstream if that
    matters); 10^10-doc streams bound their state store with it."""
    return (
        docs_stream.withColumn("text_key", F.xxhash64(F.col(text_col)))
        .withWatermark(ts_col, horizon)
        .dropDuplicatesWithinWatermark(["text_key"])
        .drop("text_key")
    )


def streaming_hll_registers(
    docs_stream: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
    b: int = 12,
    portable: bool = False,
) -> DataFrame:
    """Continuous per-group distinct-cardinality registers over an
    unbounded stream — the batch :func:`sketch.hll_registers` plan is
    already a streaming-legal aggregation (projection + groupBy max), so
    this is the SAME operator handed a ``readStream`` frame; run the sink
    in **complete** (or update) output mode.

    Why this is the streaming-native cardinality operator: state is the
    register table itself — bounded by groups × 2^b rows FOREVER, however
    long the stream runs (an exact streaming distinct would grow state
    with every new key; `dropDuplicatesWithinWatermark` bounds state only
    by evicting, losing old keys from the count). Registers are max-folds,
    so restart/replay of any prefix is idempotent, and the table read at
    any point estimates the distinct count of everything seen so far
    (feed it to :func:`sketch.hll_sum`/``hll_estimate`` batch-side).
    Parity with the batch registers on the same rows is asserted in
    tests/test_streaming.py."""
    from starchart_spark.operators import sketch

    return sketch.hll_registers(
        docs_stream, key_col, group_cols, b=b, portable=portable
    )


def streaming_cms(
    docs_stream: DataFrame,
    key_col: str,
    d: int = 4,
    w: int = 8192,
    weight_col: str | None = None,
    portable: bool = False,
) -> DataFrame:
    """Continuous count-min sketch over an unbounded stream — the batch
    :func:`sketch.cms_build` plan (explode + groupBy sum) is streaming-
    legal in complete/update mode; state is the d×w cell table FOREVER,
    independent of stream length or key cardinality (an exact streaming
    frequency table grows with every new key). Read the sink's cell table
    with :func:`sketch.cms_lookup`/``cms_heavy_hitters`` batch-side —
    sums merge, so restart/replay from a checkpoint is the same fold.
    Batch parity asserted in tests/test_streaming.py."""
    from starchart_spark.operators import sketch

    return sketch.cms_build(
        docs_stream, key_col, d=d, w=w, weight_col=weight_col, portable=portable
    )


def aimd_fold_factory(
    state_dir: str,
    r0_mu: int = 1_000,
    add_mu: int = 50,
    min_mu: int = 10,
    max_mu: int = 10_000,
):
    """The foreachBatch fold for :func:`streaming_aimd_controller`,
    factored out so the re-delivery guard is unit-testable: folding the
    same batch_id twice is a no-op (the AIMD fold is not idempotent and
    foreachBatch is at-least-once)."""
    import os
    import shutil

    from starchart_spark.operators import aimd

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        os.makedirs(state_dir, exist_ok=True)
        cur = os.path.join(state_dir, "current")
        stamp = os.path.join(state_dir, "_last_batch")
        last = -1
        if os.path.exists(stamp):
            with open(stamp) as fh:
                last = int(fh.read().strip() or "-1")
        if batch_id <= last:  # re-delivered batch: the fold already landed
            return
        prior = spark.read.parquet(cur) if os.path.isdir(cur) else None
        rates = aimd.aimd_rates(
            batch_df,
            r0_mu=r0_mu,
            add_mu=add_mu,
            min_mu=min_mu,
            max_mu=max_mu,
            prior=prior,
        ).select("hostname", "rate_mu")
        if prior is not None:
            carried = prior.join(
                rates.select("hostname"), "hostname", "left_anti"
            )
            rates = rates.unionByName(carried)
        nxt = os.path.join(state_dir, f"state-{batch_id}")
        rates.coalesce(1).write.mode("overwrite").parquet(nxt)
        old_dir = os.path.join(state_dir, f"_old-{batch_id}")
        if os.path.isdir(cur):
            os.rename(cur, old_dir)
        os.rename(nxt, cur)
        if os.path.isdir(old_dir):
            shutil.rmtree(old_dir)
        with open(stamp, "w") as fh:
            fh.write(str(batch_id))

    return _fold


def streaming_aimd_controller(
    attempts_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    r0_mu: int = 1_000,
    add_mu: int = 50,
    min_mu: int = 10,
    max_mu: int = 10_000,
):
    """Continuous AIMD rate control over an unbounded fetch-attempt stream
    — the batch epoch-chaining property (tests/test_aimd.py: split-fold ≡
    one-fold) IS the streaming recurrence, so each micro-batch folds via
    ``aimd.aimd_rates(prior=<carried dim>)`` in ``foreachBatch`` and the
    controller dim persists to ``state_dir`` with an atomic swap.

    Exactness contract: per-host attempt order must be monotone ACROSS
    micro-batches (the natural arrival order — a host's epoch-2 attempts
    arrive after its epoch-1 attempts); order WITHIN a batch is free
    (the fold sorts). Replay safety: foreachBatch is at-least-once, and
    the AIMD fold is NOT idempotent, so a ``_last_batch`` stamp skips
    re-delivered batch ids — same guard shape as the engine's
    atomic-batch rollback. State is one (hostname, rate_mu) row per
    ever-seen host — the broadcast-size dim however long the stream runs;
    hosts absent from a batch carry their state forward untouched.

    Returns the StreamingQuery. Read ``{state_dir}/current`` at any time
    for the live controller dim (feed ``aimd.to_delay_ms`` /
    ``merge_consent``)."""
    fold = aimd_fold_factory(
        state_dir, r0_mu=r0_mu, add_mu=add_mu, min_mu=min_mu, max_mu=max_mu
    )
    return (
        attempts_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
