"""Politeness / scheduling operators (SURVEY.md §2.3, P1-P7).

The reference enforces politeness *by construction*: one sequential tokio
task per forge sleeps ``rate_limit`` between API calls
(/root/reference/forge/gitea/src/lib.rs:115,133-148) and crawls pages
strictly 1,2,3,… (/root/reference/src/spider.rs:65-122). We reproduce the
same per-host schedule declaratively:

- **consent gate** (P4/P5, src/verify.rs:44-70 + src/dns/mod.rs:20-59): a
  broadcast join of the frontier against the tiny consent table; unverified
  or opted-out hosts never schedule.
- **slot assignment** (P1/P2): within each host, fetches ordered by crawl
  order get slots ``slot[i] = max(arrival[i], slot[i-1] + rate_ms)`` — a
  token bucket of size 1. With uniform arrivals this telescopes to
  ``(row_number-1) * rate_ms``, which is pure window arithmetic (JVM-side,
  whole-stage codegen): ``assign_slots_window``.
- **deferral**: rows whose slot exceeds the batch's politeness budget are
  deferred to the next micro-batch and counted per partition
  (``deferred_by_politeness``, north_rule lineage).
- **sliding-window limiter** (P6, src/counter.rs:24-106 + src/search.rs:72-96):
  a range-window count per peer over the trailing 54 s; > 50 ⇒ back off.

Skew note: slot assignment groups by host, so a mega-forge's frontier rows
converge on one task — but the per-row work there is a cumsum (cheap). The
expensive stages before (fetch/parse) and after (dedup/merge) are keyed by
*salted* host buckets (operators/skew.py), which is where the data volume
lives. The per-host *order* is inherently sequential; its *bytes* need not be.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_RATE_MS = 2000  # crawler.wait_before_next_api_call (config/default.toml:38)
LIMITER_WINDOW_S = 54  # src/search.rs:78-90
LIMITER_THRESHOLD = 50


def consent_gate(
    frontier: DataFrame,
    consent: DataFrame,
    default_rate_ms: int = DEFAULT_RATE_MS,
    host_col: str = "hostname",
) -> DataFrame:
    """Keep only verified, spidering-enabled hosts; attach effective rate.

    The consent table is tiny (one row per host) — broadcast it explicitly.
    Hosts absent from the consent table are NOT crawled (opt-in model,
    README.md + DNS TXT verification flow).
    """
    c = consent.select(
        F.col("hostname").alias(host_col),
        "verified",
        "spidering",
        F.coalesce(F.col("rate_ms"), F.lit(default_rate_ms)).alias("effective_rate_ms"),
    )
    return (
        frontier.join(F.broadcast(c), host_col, "inner")
        .filter(F.col("verified") & F.col("spidering"))
        .drop("verified", "spidering")
    )


def assign_slots_window(
    df: DataFrame,
    order_cols: Sequence[str],
    host_col: str = "hostname",
    rate_col: str = "effective_rate_ms",
    out_col: str = "slot_ms",
) -> DataFrame:
    """Uniform-arrival token bucket == window arithmetic.

    slot = (rank within host by crawl order - 1) * rate. Fully JVM-side.
    """
    w = Window.partitionBy(host_col).orderBy(*[F.col(c).asc() for c in order_cols])
    return df.withColumn(
        out_col, ((F.row_number().over(w) - 1).cast("long") * F.col(rate_col))
    )


def split_by_budget(
    df: DataFrame, budget_ms: int | None, slot_col: str = "slot_ms"
) -> tuple[DataFrame, DataFrame]:
    """(scheduled, deferred-by-politeness) under a per-batch budget.

    ``budget_ms=None`` = unbounded batch (the reference's behavior: it simply
    sleeps through the whole host, src/spider.rs:65-122).
    """
    if budget_ms is None:
        return df, df.limit(0)
    return df.filter(F.col(slot_col) < budget_ms), df.filter(F.col(slot_col) >= budget_ms)


def sliding_limiter(
    events: DataFrame,
    peer_col: str,
    ts_col: str,
    window_s: int = LIMITER_WINDOW_S,
    threshold: int = LIMITER_THRESHOLD,
    out_col: str = "over_limit",
) -> DataFrame:
    """P6 leaky bucket as a range window: trailing count per peer; over the
    threshold ⇒ back off (the reference stops proxying searches to the peer).

    Millisecond precision: truncating to whole seconds would count
    sub-second-boundary events differently from an exact INTERVAL oracle.
    """
    w = (
        Window.partitionBy(peer_col)
        .orderBy(F.unix_millis(F.col(ts_col).cast("timestamp")))
        .rangeBetween(-window_s * 1000, 0)
    )
    return events.withColumn("window_count", F.count(F.lit(1)).over(w)).withColumn(
        out_col, F.col("window_count") > threshold
    )


# ---------------------------------------------------------------------------
# DNS TXT consent challenge (P4 upstream half, src/verify.rs:44-70 +
# src/dns/mod.rs:26-59)
# ---------------------------------------------------------------------------

def txt_challenge_key(our_domain: str, host_col: str = "hostname"):
    """Column: the DNS TXT record name a forge admin must publish to opt in.

    ``starchart-{our starchart instance's domain}.{forge hostname}`` —
    exactly ``TXTChallenge::get_challenge_txt_key`` (src/verify.rs:45-57).
    The challenge VALUE is ``our_domain`` itself (src/verify.rs:59-63);
    verification is "any TXT answer at the key equals the value"
    (src/verify.rs:65-72) — see ``verify_txt_answers``.
    """
    return F.concat(F.lit(f"starchart-{our_domain}."), F.col(host_col))


def verify_txt_answers(answers_col, our_domain: str):
    """Column: True iff any TXT answer string equals our domain.

    ``answers_col`` is an ``array<string>`` of the TXT strings returned at
    the challenge key (the resolver itself is driver-side I/O, out of
    engine scope like the reference's trust-dns call); the membership test
    mirrors ``res.iter().any(|r| r.to_string() == self.value)``
    (src/verify.rs:65-72). Pure JVM — no UDF.
    """
    return F.exists(answers_col, lambda a: a == F.lit(our_domain))


def parse_txt_directives(
    df: DataFrame, answer_col: str = "txt_answer"
) -> DataFrame:
    """Parse a raw spidering-directive TXT answer into typed columns.

    The reference's ``Configuration::parse`` (src/dns/mod.rs:26-59) splits
    on ``,`` then ``k=v`` with trim: ``"spidering=false,rate=500"`` →
    ``{spidering: false, rate: Some(500)}``; absent keys keep the default
    (``spidering=false``, ``rate=NULL``). Spark-side this is one JVM
    ``str_to_map`` over the whitespace-stripped answer — no UDF, feeds the
    consent table's ``(spidering, rate_ms)`` columns that ``consent_gate``
    already reads. Unknown keys (the reference panics) are simply ignored
    here: a scan operator must not crash the batch on one bad record —
    callers that want the strict behavior can assert on ``_txt_map``.
    """
    m = F.str_to_map(
        F.regexp_replace(F.col(answer_col), r"\s+", ""), F.lit(","), F.lit("=")
    )
    return (
        df.withColumn("_txt_map", m)
        .withColumn(
            "spidering", F.coalesce(F.col("_txt_map")["spidering"] == "true", F.lit(False))
        )
        .withColumn("rate_ms", F.col("_txt_map")["rate"].cast("long"))
        .drop("_txt_map")
    )
