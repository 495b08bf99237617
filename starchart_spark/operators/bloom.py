"""Partitioned bloom filters for the URL-seen set (north_rule).

One bloom filter per ``host_bucket`` partition, built distributively with
``applyInPandas`` (numpy bit ops — no per-row Python), persisted as a small
parquet table next to the seen-set table, and maintained *incrementally*:
each batch ORs only the newly committed keys into the touched buckets'
bitmaps (O(new keys), not O(|seen|)).

Two probe paths, bit-identical (parity-tested):

- ``probe`` — cogroup on ``host_bucket``: each task gets one bucket's
  candidates plus that bucket's single filter row. Right shape for engine
  micro-batches (thousands of rows).
- ``probe_jvm`` — THE frontier-scale hot path: bitmaps live as
  ``array<long>`` words in the filter table and the k bit-tests are pure
  Catalyst expressions (join + element_at + shifts). Zero Python in the
  probe stage, so the scan→canonicalize→hash→probe pipeline stays inside
  whole-stage codegen and scales with executors instead of Python workers.

Layout: REGISTER-BLOCKED (Impala-style) — all k bits of a key live in one
64-bit word, so a probe is a single memory access + mask compare (one cache
line at 10^10 keys, vs k scattered line misses for a classic bloom).
JVM-exactness is by construction: keys are avalanche-mixed with
``xxhash64`` at every path boundary (the same JVM function everywhere),
capacities are powers of two so addressing is pure shift/mask, and every
intermediate fits a signed long — the numpy kernels and the Catalyst
expressions are bit-identical, ANSI-safe, with no wraparound arithmetic
anywhere. Capacity caps at 2^31 bits (256 MB / bucket ≈ 100M keys at
10 bits/key with 2x headroom) — past that, raise the bucket count rather
than the bitmap size.

Contract (SURVEY.md §2.2): the filter layer only changes *cost*, never
*answers* — a probe returns "maybe seen" (must be confirmed by the exact
anti-join) or "definitely new" (skips the join). False-positive rate is a
tuning knob (k=4 in-word bits at 20 bits/key capacity ⇒ ~1e-3); false
negatives are impossible for keys committed at or before the filter
snapshot (the engine rebuilds the filter table on resume if it lags the
seen-set).

Sizing: bitmaps are provisioned with 2× headroom (``_capacity_bits``); a
bucket whose key count outgrows its capacity is flagged by ``overfull`` and
rebuilt from that bucket's keys only — amortized-doubling, so per-batch
filter maintenance cost stays O(new keys).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_BITS_PER_KEY = 10
MAX_M_BITS = 1 << 31  # per-bucket cap; beyond this, add buckets

FILTER_SCHEMA = T.StructType(
    [
        T.StructField("host_bucket", T.IntegerType(), False),
        T.StructField("m_bits", T.LongType(), False),
        T.StructField("k_hashes", T.IntegerType(), False),
        T.StructField("n_keys", T.LongType(), False),
        # little-endian 64-bit words; length == m_bits/64 (m_bits >= 1024)
        T.StructField("words", T.ArrayType(T.LongType(), False), False),
    ]
)


def _word_and_bits(mixed: np.ndarray, k: int, m: int) -> tuple[np.ndarray, np.ndarray]:
    """Register-blocked bloom addressing: all k bits of a key live in ONE
    64-bit word, so a probe is a single load + mask compare.

    word index = low bits of the mixed hash (m/64 words, power of two);
    bit j    = 6-bit slices from bit 32 up (disjoint from the word index,
               which never needs more than 25 bits at the 2^31-bit cap).

    ``mixed`` must already be avalanche-mixed (every caller applies
    ``F.xxhash64`` JVM-side before the boundary). Everything is shift/mask —
    bit-identical in numpy uint64 and in ``probe_jvm``'s ANSI-safe
    signed-long Catalyst expressions, which is the point: the JVM probe is
    a tiny whole-stage-codegen expression, no Python, no higher-order
    functions.
    """
    h = mixed.astype(np.uint64)
    widx = (h & np.uint64(m // 64 - 1)).astype(np.int64)
    bits = np.zeros(len(h), dtype=np.uint64)
    for i in range(k):
        s = (h >> np.uint64(32 + 6 * i)) & np.uint64(63)
        bits |= np.uint64(1) << s
    return widx, bits


def _capacity_bits(n_keys: int, bits_per_key: int) -> int:
    """Bitmap size with ≈2x headroom, rounded up to a power of two (so the
    position arithmetic is maskable and JVM-replicable), capped at 2^31."""
    want = max(1024, int(n_keys) * bits_per_key * 2)
    return min(MAX_M_BITS, 1 << (want - 1).bit_length())


def _k_hashes(bits_per_key: int) -> int:
    # blocked layout: k bits share one word, so small k wins — with 2x
    # capacity headroom (~5% of each word set at bits_per_key=10), k=4
    # already gives FPR ~1e-3; larger k just burns word bits
    return max(1, min(4, bits_per_key // 2))


def _set_bits(words: np.ndarray, hashes: np.ndarray, k: int, m: int) -> None:
    widx, bits = _word_and_bits(hashes, k, m)
    np.bitwise_or.at(words, widx, bits)


def _test_bits(words: np.ndarray, hashes: np.ndarray, k: int, m: int) -> np.ndarray:
    widx, bits = _word_and_bits(hashes, k, m)
    return (words[widx] & bits) == bits


def _words_u64(words) -> np.ndarray:
    return np.asarray(words, dtype="<i8").view(np.uint64)


def build(
    seen: DataFrame,
    hash_col: str = "key_hash",
    bucket_col: str = "host_bucket",
    bits_per_key: int = DEFAULT_BITS_PER_KEY,
) -> DataFrame:
    """Build one bloom filter per bucket from the seen-set table.

    Distributed: each bucket's keys are grouped to one task which sets bits
    with numpy. Returns the FILTER_SCHEMA DataFrame (persist beside the
    table; ``update`` then maintains it incrementally).
    """

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        hashes = pdf["__mix"].to_numpy(dtype=np.int64).view(np.uint64)
        n = len(hashes)
        m = _capacity_bits(n, bits_per_key)
        k = _k_hashes(bits_per_key)
        words = np.zeros(m // 64, dtype=np.uint64)
        _set_bits(words, hashes, k, m)
        return pd.DataFrame(
            {
                "host_bucket": [int(pdf[bucket_col].iloc[0])],
                "m_bits": [m],
                "k_hashes": [k],
                "n_keys": [n],
                "words": [words.view(np.int64)],
            }
        )

    return (
        seen.select(bucket_col, F.xxhash64(hash_col).alias("__mix"))
        .groupBy(bucket_col)
        .applyInPandas(_build, FILTER_SCHEMA)
    )


def update(
    filters: DataFrame,
    new_keys: DataFrame,
    hash_col: str = "key_hash",
    bucket_col: str = "host_bucket",
    bits_per_key: int = DEFAULT_BITS_PER_KEY,
) -> DataFrame:
    """OR newly committed keys into the touched buckets only — O(new keys).

    Buckets with no new keys pass through untouched (their bitmaps never
    leave the JVM); buckets that have no filter row yet get a fresh one.
    Inserting past capacity degrades FPR but never creates false negatives;
    ``overfull`` flags such buckets for a per-bucket rebuild.
    """
    keys = new_keys.select(bucket_col, F.xxhash64(hash_col).alias("__mix"))
    touched_buckets = keys.select(bucket_col).distinct()
    untouched = filters.join(touched_buckets, bucket_col, "left_anti")
    touched = filters.join(touched_buckets, bucket_col, "left_semi")

    def _upd(flt_pdf: pd.DataFrame, keys_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(keys_pdf):  # filter row semi-joined on touched ⇒ unreachable
            return flt_pdf
        hashes = keys_pdf["__mix"].to_numpy(dtype=np.int64).view(np.uint64)
        if len(flt_pdf):
            m = int(flt_pdf["m_bits"].iloc[0])
            k = int(flt_pdf["k_hashes"].iloc[0])
            n0 = int(flt_pdf["n_keys"].iloc[0])
            words = _words_u64(flt_pdf["words"].iloc[0]).copy()
            bucket = int(flt_pdf[bucket_col].iloc[0])
        else:
            m = _capacity_bits(len(hashes), bits_per_key)
            k = _k_hashes(bits_per_key)
            n0 = 0
            words = np.zeros(m // 64, dtype=np.uint64)
            bucket = int(keys_pdf[bucket_col].iloc[0])
        _set_bits(words, hashes, k, m)
        return pd.DataFrame(
            {
                "host_bucket": [bucket],
                "m_bits": [m],
                "k_hashes": [k],
                "n_keys": [n0 + len(hashes)],
                "words": [words.view(np.int64)],
            }
        )

    updated = (
        touched.groupBy(bucket_col)
        .cogroup(keys.groupBy(bucket_col))
        .applyInPandas(_upd, FILTER_SCHEMA)
    )
    return untouched.unionByName(updated)


def overfull(filters: DataFrame, bits_per_key: int = DEFAULT_BITS_PER_KEY) -> DataFrame:
    """Buckets whose key count outgrew the bitmap's provisioned capacity
    (FPR above target) — rebuild these from the seen table, bucket-local."""
    return filters.filter(
        F.col("n_keys") * F.lit(bits_per_key) > F.col("m_bits")
    ).select("host_bucket")


def probe(
    spark: SparkSession,
    candidates: DataFrame,
    filters: DataFrame,
    hash_col: str = "key_hash",
    bucket_col: str = "host_bucket",
    out_col: str = "maybe_seen",
) -> DataFrame:
    """Add ``out_col``: True = maybe in the seen set, False = definitely new.

    Co-partitioned probe: candidates cogrouped with the filter table on
    ``host_bucket`` — each task sees one bucket's candidate rows and that
    bucket's single filter row. No driver collect, no broadcast of the
    filter set (the round-1 broadcast-all formulation was a scale-killer at
    the 10^10-key design point). Buckets with no filter row (nothing ever
    committed there) probe False.
    """
    cand_cols = list(candidates.columns)
    out_schema = T.StructType(
        list(candidates.schema.fields) + [T.StructField(out_col, T.BooleanType(), False)]
    )

    def _probe(cand_pdf: pd.DataFrame, flt_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cand_pdf):  # filter-only group: emit nothing
            cand_pdf[out_col] = pd.Series([], dtype=bool)
            return cand_pdf[cand_cols + [out_col]]
        if not len(flt_pdf):
            return cand_pdf.assign(**{out_col: False})[cand_cols + [out_col]]
        m = int(flt_pdf["m_bits"].iloc[0])
        k = int(flt_pdf["k_hashes"].iloc[0])
        words = _words_u64(flt_pdf["words"].iloc[0])
        h = cand_pdf["__mix"].to_numpy(dtype=np.int64).view(np.uint64)
        return cand_pdf.assign(**{out_col: _test_bits(words, h, k, m)})[
            cand_cols + [out_col]
        ]

    return (
        candidates.withColumn("__mix", F.xxhash64(hash_col))
        .groupBy(bucket_col)
        .cogroup(filters.groupBy(bucket_col))
        .applyInPandas(_probe, out_schema)
    )


def probe_jvm(
    candidates: DataFrame,
    filters: DataFrame,
    hash_col: str = "key_hash",
    bucket_col: str = "host_bucket",
    out_col: str = "maybe_seen",
    strategy: str = "auto",
) -> DataFrame:
    """Pure-JVM probe: join candidates to the filter table on the bucket and
    evaluate the k bit-tests as Catalyst expressions — no Python anywhere.

    Exactly replicates ``_word_and_bits``: keys are avalanche-mixed with
    ``xxhash64`` (same JVM function every other path applies before its
    pandas boundary), and the blocked layout makes the whole probe one
    ``element_at`` plus a shift-OR mask compare:

        g     = xxhash64(key)                      # avalanche mix
        widx  = g & (m/64 - 1)                     # word index (low bits)
        s_i   = (g >>> (32 + 6i)) & 63             # k in-word bit slots
        seen  = (words[widx] & OR_i(1<<s_i)) == OR_i(1<<s_i)

    Every op is shift/mask — ANSI-safe, interpreted nowhere (no
    higher-order functions: forall/transform lambdas are evaluated
    interpreted per element and measured 10x+ slower), and the expression
    is small enough that whole-stage codegen compiles the scan → join →
    probe stage into one loop with a single memory access per key.

    ``strategy``: "auto" lets Catalyst/AQE pick by stats (right default —
    small filter tables broadcast, big ones shuffle); "broadcast" forces the
    ship-everywhere plan; "shuffle" hints SHUFFLE_HASH so at the 10^10-key
    design point the join moves ONE filter row per bucket to the
    candidates' bucket partition (the same co-partitioned shape as
    ``probe``) and the full filter set is never collected or broadcast.

    k varies per bucket in principle, so each unrolled mask term is guarded
    by ``i < __k``. The unroll count is the constant ``_k_hashes`` cap (4):
    every filter ``build``/``update`` produces has k ≤ 4, the per-row guard
    keeps the evaluated mask exactly per-bucket, and a hypothetical k > 4
    filter would only test a subset of its bits — more false positives
    (confirmed downstream by the exact anti-join), never false negatives.
    The previous ``filters.agg(max(k_hashes)).collect()`` ran the WHOLE
    filter-build job once just to pick the unroll count, then the join
    executed it a second time — one full extra pass of the probe path's
    fixed cost (round-6 guide §2.4: remove shuffles/actions outright).
    """
    flt = filters.select(
        F.col(bucket_col).alias("__fbucket"),
        F.col("m_bits").alias("__m"),
        F.col("k_hashes").alias("__k"),
        F.col("words").alias("__w"),
    )
    if strategy == "broadcast":
        flt = F.broadcast(flt)
    elif strategy == "shuffle":
        flt = flt.hint("shuffle_hash")
    joined = candidates.withColumn("__mix", F.xxhash64(hash_col)).join(
        flt, F.col(bucket_col) == flt["__fbucket"], "left"
    )
    k_max = _k_hashes(DEFAULT_BITS_PER_KEY)  # constant cap — no collect
    word = "element_at(__w, cast((__mix & ((__m div 64) - 1)) as int) + 1)"
    terms = [
        f"if({i} < __k, shiftleft(cast(1 as bigint),"
        f" cast((shiftrightunsigned(__mix, {32 + 6 * i}) & 63) as int)), 0)"
        for i in range(max(k_max, 1))
    ]
    mask64 = "(" + " | ".join(terms) + ")"
    expr = f"(({word} & {mask64}) = {mask64})"
    return joined.withColumn(
        out_col,
        F.when(F.col("__m").isNull(), F.lit(False)).otherwise(F.expr(expr)),
    ).drop("__fbucket", "__m", "__k", "__w", "__mix")
