"""AIMD per-host crawl-rate control — TCP-style congestion avoidance
for a polite fetcher.

The reference paces every forge at one fixed per-host delay
(config/default.toml ``crawler.wait_before_next_api_call``,
src/spider.rs crawl loop) and surfaces fetch errors without adapting the
pace. At open-frontier scale a static rate is wrong in both directions: a
healthy host could absorb far more than the configured trickle, and a
struggling host (429/5xx bursts) keeps getting hit at full rate until a
human retunes the config. The classic fix is the TCP congestion-avoidance
rule (Chiu & Jain 1989, "Analysis of the increase and decrease
algorithms"): **additive increase on success, multiplicative decrease on
failure** — AIMD is the unique linear control that converges to an
efficient fair allocation, which is exactly the property you want when
thousands of crawler partitions share one origin.

Formulation (exact integer, replay-deterministic on any engine):

    rate is kept in milli-requests/sec (``mu``); per fetch attempt,

        success:  rate <- rate + add_mu
        failure:  rate <- rate >> 1          (floor halving)

    applied rate = clamp(rate, min_mu, max_mu) — the clamp is applied at
    CONSUMPTION (when the scheduler converts the controller state to a
    delay), never fed back into the recursion, so the fold stays a pure
    integer function of the attempt log.

The fold is sequential per host, so it is NOT a closed-form window — but
per-host state is one long, and the log folded at once is only the
attempts of the CURRENT scheduling epoch (bounded by the politeness budget:
a host that is allowed `b` fetches per epoch contributes `b` steps however
mega it is). Epochs chain through the ``prior`` argument: fold epoch 1,
feed the resulting (hostname, rate_mu) dim back as epoch 2's starting
state — pytest asserts split-fold == one-fold. That is the 100 TB shape:
one hash aggregate per epoch over bounded per-host arrays, a broadcast-size
controller dim carried between epochs, no unbounded collect anywhere.

Execution: ``collect_list`` → ``array_sort`` → ``aggregate`` (all JVM
higher-order functions; zero Python). Steps are encoded as one BIGINT
(``add_mu`` for success, −1 for failure) so the fold's accumulator and
element share a type, and the identical encoding replays in the DuckDB
oracle via ``list_reduce`` (queries.py SQL_AIMD_RATE). Halving uses a
right-shift, exact for the non-negative rates the recursion maintains.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def aimd_rates(
    attempts: DataFrame,
    r0_mu: int = 1_000,
    add_mu: int = 50,
    min_mu: int = 10,
    max_mu: int = 10_000,
    prior: Optional[DataFrame] = None,
    host_col: str = "hostname",
    ts_col: str = "ts",
    ok_col: str = "ok",
) -> DataFrame:
    """Fold one epoch of fetch attempts into the per-host AIMD controller
    state: ``(hostname, n_attempts, n_fails, rate_mu, applied_mu)``.

    ``attempts``: one row per fetch attempt — ``ts_col`` orders attempts
    within a host (must be unique per host; the visit log's epoch-ms or a
    per-host sequence both qualify), boolean ``ok_col`` is the outcome.
    ``prior``: optional ``(hostname, rate_mu)`` dim from the previous
    epoch's fold; hosts absent from it (first sighting) start at
    ``r0_mu``. ``rate_mu`` is the raw controller state (carry THIS into
    the next epoch); ``applied_mu`` is the clamped rate the scheduler
    consumes (see :func:`to_delay_ms`).
    """
    steps = attempts.select(
        F.col(host_col).alias("hostname"),
        F.col(ts_col).cast("long").alias("__ts"),
        F.when(F.col(ok_col), F.lit(int(add_mu)))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("__step"),
    )
    agg = steps.groupBy("hostname").agg(
        F.count(F.lit(1)).alias("n_attempts"),
        F.sum(F.when(F.col("__step") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_fails"),
        F.array_sort(F.collect_list(F.struct("__ts", "__step"))).alias("__log"),
    )
    if prior is not None:
        init = F.coalesce(
            F.col("__prior_mu"), F.lit(int(r0_mu)).cast("long")
        )
        agg = agg.join(
            F.broadcast(
                prior.select(
                    "hostname", F.col("rate_mu").cast("long").alias("__prior_mu")
                )
            ),
            "hostname",
            "left",
        )
    else:
        init = F.lit(int(r0_mu)).cast("long")
    rate = F.aggregate(
        F.col("__log"),
        init,
        lambda acc, x: F.when(x["__step"] >= 0, acc + x["__step"]).otherwise(
            F.shiftright(acc, 1)
        ),
    )
    return agg.select(
        "hostname",
        "n_attempts",
        "n_fails",
        rate.alias("rate_mu"),
        F.least(F.greatest(rate, F.lit(int(min_mu))), F.lit(int(max_mu)))
        .cast("long")
        .alias("applied_mu"),
    )


def to_delay_ms(rates: DataFrame, col: str = "applied_mu") -> DataFrame:
    """Convert controller rates to the scheduler's per-host delay dim:
    ``(hostname, effective_rate_ms)`` with
    ``effective_rate_ms = 1_000_000 div max(applied_mu, 1)`` (milli-req/s
    → ms between requests, exact integer). The output joins the politeness
    layer exactly where the consent table's static ``rate_ms`` override
    sits today (operators/politeness.py consent_gate / token-bucket
    slots) — AIMD becomes a third, adaptive source of per-host pacing.
    """
    return rates.select(
        "hostname",
        F.expr(f"CAST(1000000 div greatest({col}, 1) AS BIGINT)").alias(
            "effective_rate_ms"
        ),
    )


def merge_consent(
    consent: DataFrame,
    rates: DataFrame,
    default_rate_ms: int = 2_000,
) -> DataFrame:
    """Fold the controller into the politeness layer: returns the consent
    table with ``rate_ms = greatest(static rate, AIMD delay)`` — the same
    most-conservative-wins merge the robots ``crawl-delay`` uses
    (operators/robots.py merge_crawl_delay), so the token bucket honors
    whichever of operator consent / robots / controller is slowest. Hosts
    without controller state keep their static rate; the scheduler's
    opt-in semantics (verified/spidering) pass through untouched. Feed the
    result to ``politeness.consent_gate`` / ``CrawlEngine.init_state`` exactly
    where the static consent table goes today.
    """
    d = to_delay_ms(rates).withColumnRenamed("effective_rate_ms", "__aimd_ms")
    return consent.join(F.broadcast(d), "hostname", "left").select(
        "hostname",
        "verified",
        "spidering",
        F.greatest(
            F.coalesce(F.col("rate_ms"), F.lit(int(default_rate_ms))).cast(
                "long"
            ),
            F.coalesce(F.col("__aimd_ms"), F.lit(0)).cast("long"),
        ).alias("rate_ms"),
    )


def jain_fairness(
    alloc: DataFrame,
    value_col: str = "applied_mu",
    by: Optional[str] = None,
) -> DataFrame:
    """Jain's fairness index over an allocation table — the metric from
    the same Chiu & Jain line of work AIMD's convergence proof targets:

        J = (Σ x_i)² / (n · Σ x_i²)     ∈ (0, 1], 1 = perfectly even.

    Emitted in EXACT-RATIONAL form — ``(n, sum_x, sum_x2, j_num, j_den,
    fairness)`` with ``j_num = sum_x²`` and ``j_den = n·sum_x2`` as
    BIGINTs and ``fairness`` their 6-dp quotient — so the index is a pure
    integer function of the allocation (one hash aggregate, map-side
    partials; order-independent) and only the final display division
    touches floats. Guard rails: x_i must be non-negative (rates,
    budgets, fetch counts all are); sums fit BIGINT for any real rate
    table (10^8 hosts × 10^4 mu ⇒ sum_x² ≈ 10^24 would overflow — pass
    rates in coarser units or roll up by site first; the engine's
    host-bucket rollup keeps n ≤ 10^6).

    ``by``: optional grouping column (e.g. forge_type or host_bucket) for
    per-stratum fairness; omitted = one global row (group key emitted as
    ``scope`` either way). The scheduler reads J after each epoch:
    J falling while aggregate throughput rises means mega-hosts are
    crowding out the tail — the signal to retune the budget split.
    """
    x = F.col(value_col).cast("long")
    key = (F.col(by) if by else F.lit("all")).cast("string").alias("scope")
    agg = alloc.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sum_x"),
        F.sum(x * x).alias("sum_x2"),
    )
    j_num = F.col("sum_x") * F.col("sum_x")
    j_den = F.col("n") * F.col("sum_x2")
    return agg.select(
        "scope",
        "n",
        "sum_x",
        "sum_x2",
        j_num.cast("long").alias("j_num"),
        j_den.cast("long").alias("j_den"),
        F.when(j_den <= 0, F.lit(None).cast("double"))
        .otherwise(F.round(j_num.cast("double") / j_den.cast("double"), 6))
        .alias("fairness"),
    )
