"""Corpus-curation operators for LLM training-data pipelines.

Signals and filters a large-scale pretraining pipeline runs over a
``documents(doc_id, text, ...)`` corpus *after* dedup (``dedup_text``) and
alongside the per-doc quality features (``text``):

- :func:`top_ngram_ratio` / :func:`repetition_ratios` — the Gopher-style
  "fraction of the document covered by its most frequent n-gram" repetition
  signal (Rae et al. 2021, §A1.1), computed **scan-local with zero
  shuffles**: the n-gram multiset of one document never needs to leave its
  row, so the whole signal is a sorted-array fold inside whole-stage
  codegen rather than the groupBy-per-shingle plan a naive port would run.
- :func:`contamination_hits` — C4/GPT-style benchmark decontamination: a
  document is contaminated if it shares any token n-gram with a held-out
  benchmark set (Brown et al. 2020 use 13-grams; n is a parameter). The
  benchmark n-gram set is orders of magnitude smaller than the corpus, so
  it broadcasts and the corpus side never shuffles.
- :func:`boilerplate_coverage` — corpus-frequent n-gram coverage per doc
  (navboxes, license headers, cookie banners): one doc-frequency
  aggregation over distinct (doc, shingle) pairs, then a broadcast join of
  the (small, by the frequency threshold itself) boilerplate set back onto
  per-doc shingles.
- :func:`curated_corpus` — the composed keep-filter (length x repetition x
  decontamination), a single scan + one broadcast anti-join.

All arithmetic is chosen to be expressible in ANSI SQL so every operator is
DuckDB-oracle-verifiable end-to-end (see ``__spark_entry__.oracle_sql``).
No Python runs in any of these paths.

Reference note: the reference crawler (forgeflux-org/starchart) has no
curation layer — these are the "beyond the reference" training-data ops the
build brief mandates, grounded in the public Gopher/C4 filtering rules.
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from . import dedup_text
from . import text as text_ops
from .text import token_count

TOKEN_SPLIT = r"\s+"
# Java \s is ASCII-only; Python \s matches unicode whitespace — the Arrow
# kernel must split exactly like the JVM/oracle expressions do
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")


def _jvm_tokens(t: str | None) -> list[str]:
    """Tokenize exactly like the JVM/oracle ``split(trim(text), '\\s+')``.

    Two JVM quirks the obvious ``t.strip().split()`` misses (each one a
    silent oracle mismatch for the affected doc):
    - Spark ``trim`` strips the SPACE character only, so a doc opening or
      closing with a tab/newline keeps it — and Java ``Pattern.split``
      then yields an EMPTY token at that end (Spark's ``split`` passes
      ``limit=-1``, which keeps trailing empties, unlike Java's
      ``String.split`` default);
    - Python ``re.split`` has exactly ``Pattern.split(limit=-1)``
      semantics for this pattern, so after the space-only strip the split
      needs no further adjustment.
    """
    if t is None:
        return []
    return _JAVA_WS.split(t.strip(" "))


def _ngram_array(text_col: Column, n: int) -> Column:
    """All token n-grams of a document, in order, with multiplicity.

    Same construction as ``dedup_text.shingles`` but WITHOUT the distinct —
    repetition signals need the multiset.
    """
    toks = F.split(F.trim(text_col), TOKEN_SPLIT)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _ratio_from_sorted(arr: Column) -> Column:
    """Mode-run ratio of a pre-sorted n-gram array column.

    IMPORTANT perf note: ``arr`` should be a plain column REFERENCE bound
    by a prior projection, not an inline construction — Catalyst inlines a
    non-trivial expression at every reference site (this expression uses
    the array three times), and higher-order functions evaluate interpreted
    (no whole-stage codegen), so inlining multiplies real work. Binding the
    sorted array once measured 2× on the repetition signals at sf0.01.
    """
    zero = F.lit(0).cast("long")
    folded = F.aggregate(
        arr,
        F.struct(
            F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).cast(
                "long"
            ).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .cast("long"),
            ).alias("best"),
        ),
    )
    return F.when(
        F.size(arr) > 0, F.round(folded["best"] / F.size(arr), 6)
    ).otherwise(F.lit(0.0))


def top_ngram_ratio(text_col: Column | str, n: int) -> Column:
    """count(most frequent n-gram) / count(all n-grams), 0.0 if no n-grams.

    Pure-JVM form: sort the document's n-gram array, then a single
    ``aggregate`` fold tracks the longest run of equal neighbours — the
    mode count of the multiset. Shingles are non-empty strings (tokens come
    from ``split(trim(text))``), so the "" run-seed can never match a real
    shingle.

    NOTE this is the cross-validation / no-Python path, not the production
    one: higher-order functions evaluate INTERPRETED (outside whole-stage
    codegen), measured 37× slower than the Arrow kernel below at sf0.1
    (19.2 s vs 0.5 s for the full corpus). :func:`repetition_ratios` and
    :func:`curated_corpus` use :func:`mode_ratio_udf`; equality of the two
    paths is pytest-asserted.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return _ratio_from_sorted(F.array_sort(_ngram_array(c, n)))


def mode_ratio_udf(n: int):
    """Arrow-vectorized repetition kernel: mode-count / total over the
    document's token n-gram multiset, unrounded (wrap in ``F.round(..., 6)``
    JVM-side so rounding is engine-identical). One Counter pass per doc —
    O(tokens); the Arrow batch amortizes the Python boundary. Splits with
    the ASCII whitespace class so tokenization byte-matches the JVM `\\s+`
    split and the DuckDB oracle."""

    @pandas_udf("double")
    def ratio(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = _jvm_tokens(t)
            if len(toks) < n:
                out.append(0.0)
                continue
            grams = Counter(
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            )
            out.append(max(grams.values()) / (len(toks) - n + 1))
        return pd.Series(out)

    return ratio


def repetition_ratios(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Per-doc top-n-gram repetition ratios (Gopher rep. signal), one row
    per input doc with a ``top{n}_ratio`` column per n. Scan-local with
    zero shuffles — one ArrowEvalPython over the scan (the vectorized
    kernel; see :func:`mode_ratio_udf` for why not the JVM fold)."""
    return df.select(
        F.col(id_col),
        *[
            F.round(mode_ratio_udf(n)(F.col(text_col)), 6).alias(f"top{n}_ratio")
            for n in ns
        ],
    )


def contamination_hits(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bench_pred: Column | None = None,
) -> DataFrame:
    """Benchmark decontamination: for every non-benchmark doc sharing at
    least one distinct token n-gram with the benchmark subset, the number
    of distinct shared n-grams — ``(doc_id, n_shared)``.

    ``bench_pred`` selects the held-out benchmark docs (default: the
    deterministic ``doc_id % 10 == 0`` slice, a stand-in for the eval-set
    table a real pipeline would load). The benchmark n-gram set is tiny
    relative to the corpus, so it is broadcast; the corpus side's only wide
    operation is the final per-doc count, keyed on ``doc_id`` (already the
    scan's natural key).
    """
    if bench_pred is None:
        bench_pred = F.col(id_col) % 10 == 0
    df = text_ops.ensure_min_partitions(df)
    bench_sh = (
        dedup_text.shingles(df.filter(bench_pred), id_col, text_col, n)
        .select("shingle")
        .distinct()
    )
    rest_sh = dedup_text.shingles(
        df.filter(~bench_pred), id_col, text_col, n
    )
    return (
        rest_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
    )


def boilerplate_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_frac: float = 0.2,
) -> DataFrame:
    """Fraction of each doc's distinct n-grams that are corpus-frequent
    (appear in >= ceil(min_frac * n_docs) distinct docs) —
    ``(doc_id, coverage)``, 0.0 for docs with no n-grams.

    Doc frequency is one map-side-combined groupBy over distinct
    (doc, shingle) pairs; the qualifying boilerplate set shrinks with the
    threshold, so it rides a broadcast join back onto the per-doc shingles.
    The scalar corpus count joins in as a broadcast single-row aggregate
    (no driver action).
    """
    sh = dedup_text.shingles(text_ops.ensure_min_partitions(df), id_col, text_col, n)
    n_docs = df.select(F.count("*").alias("__nd"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    boiler = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .filter(F.col("__df") >= F.ceil(F.lit(min_frac) * F.col("__nd")))
        .select("shingle")
    )
    per_doc = (
        sh.join(F.broadcast(boiler).withColumn("__b", F.lit(1)),
                "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.round(
                F.count("__b") / F.count("*"), 6
            ).alias("coverage")
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("coverage"), F.lit(0.0)).alias("coverage"),
        )
    )


def curated_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 40,
    max_top2_ratio: float = 0.2,
    contamination_n: int = 3,
    bench_pred: Column | None = None,
) -> DataFrame:
    """The composed C4-style keep-filter: non-benchmark docs that are long
    enough, not degenerately repetitive, and share no ``contamination_n``-
    gram with the benchmark subset — ``(doc_id, n_tokens, top2_ratio)``.

    Plan shape at scale: ONE corpus scan computing both scan-local signals
    in the same projection, then a single broadcast left-anti join against
    the contaminated-doc set (itself corpus-scan + broadcast). Nothing
    shuffles on the corpus side except the contamination count keyed by
    doc_id.
    """
    if bench_pred is None:
        bench_pred = F.col(id_col) % 10 == 0
    contaminated = contamination_hits(
        df, id_col, text_col, contamination_n, bench_pred
    ).select(id_col)
    # cheap JVM signals filter first (pushes to the scan), then ONE Arrow
    # kernel pass for the repetition ratio — a Python UDF cannot be pushed
    # into the scan, so the threshold filter sits above the ArrowEvalPython
    # node and the kernel evaluates exactly once per surviving doc (the
    # pure-expression fold was getting duplicated into the pushed-down
    # predicate AND re-evaluated interpreted — see mode_ratio_udf)
    # spread before the Arrow kernel: a single-file corpus scan would run
    # the whole repetition-ratio pass in ONE Python worker (guide §4 — the
    # kernel parallelizes per task); no-op when the scan already has splits
    bound = text_ops.ensure_min_partitions(
        df.filter(~bench_pred).select(
            F.col(id_col),
            token_count(text_col).alias("n_tokens"),
            F.col(text_col),
        ).filter(F.col("n_tokens") >= min_tokens)
    )
    signals = bound.select(
        F.col(id_col),
        "n_tokens",
        F.round(mode_ratio_udf(2)(F.col(text_col)), 6).alias("top2_ratio"),
    )
    return (
        signals.filter(F.col("top2_ratio") <= max_top2_ratio)
        .join(F.broadcast(contaminated), id_col, "left_anti")
    )


def percentile_buckets(
    df: DataFrame,
    score_col: str,
    by_col: str,
    id_col: str = "doc_id",
    cuts: tuple[float, ...] = (1.0 / 3, 2.0 / 3),
    labels: tuple[str, ...] = ("tail", "middle", "head"),
) -> DataFrame:
    """CCNet-style per-stratum percentile bucketing (Wenzek et al. 2020
    split each language by perplexity terciles into head/middle/tail) —
    ``(id, by, score, bucket)``.

    EXACT form: ``percent_rank() over (partition by stratum order by
    score)`` then threshold the rank — deterministic under ties (equal
    scores share a rank, so they always share a bucket), and the identical
    expression exists in ANSI SQL, which makes this the oracle-checkable
    path. A single-row stratum ranks 0.0 → first label, both engines.

    Scale note: the window puts each stratum in ONE sort partition — right
    for verification and for moderate per-stratum volumes; when one
    stratum is a large corpus share, use :func:`percentile_buckets_at_scale`
    (broadcast approx thresholds onto a pure scan filter, no per-stratum
    global sort).
    """
    if len(labels) != len(cuts) + 1:
        raise ValueError("need exactly one more label than cuts")
    pr = F.percent_rank().over(Window.partitionBy(by_col).orderBy(score_col))
    bucket = F.lit(labels[-1])
    for cut, lab in reversed(list(zip(cuts, labels))):
        bucket = F.when(pr < F.lit(float(cut)), F.lit(lab)).otherwise(bucket)
    return df.select(
        F.col(id_col), F.col(by_col), F.col(score_col), bucket.alias("bucket")
    )


def percentile_bucket_thresholds(
    df: DataFrame,
    score_col: str,
    by_col: str,
    cuts: tuple[float, ...] = (1.0 / 3, 2.0 / 3),
    accuracy: int = 10000,
) -> DataFrame:
    """Per-stratum score thresholds at the given quantiles — the tiny dim
    the at-scale bucketing broadcasts. One map-side-combined aggregate
    (percentile_approx sketches merge associatively); ``accuracy`` trades
    sketch memory for quantile error exactly as documented by Spark."""
    return df.groupBy(by_col).agg(
        *[
            F.percentile_approx(score_col, float(c), accuracy).alias(f"__t{i}")
            for i, c in enumerate(cuts)
        ]
    )


def percentile_buckets_at_scale(
    df: DataFrame,
    score_col: str,
    by_col: str,
    id_col: str = "doc_id",
    cuts: tuple[float, ...] = (1.0 / 3, 2.0 / 3),
    labels: tuple[str, ...] = ("tail", "middle", "head"),
    accuracy: int = 10000,
) -> DataFrame:
    """The 100 TB form of :func:`percentile_buckets`: ONE aggregate builds
    the per-stratum threshold dim (strata-sized → broadcast), then bucket
    assignment is a pure projection on the corpus scan — no per-stratum
    sort anywhere, mega-stratum skew impossible by construction.

    Tie convention differs from the exact form at the boundary: a doc
    scoring exactly a threshold falls in the LOWER bucket here
    (``score <= t``), whereas rank-thresholding splits equal scores by
    their shared rank; and thresholds are approximate within Spark's
    documented ``1/accuracy`` quantile error. Both paths agree on bucket
    sizes within that error — pytest-asserted on the test corpus."""
    if len(labels) != len(cuts) + 1:
        raise ValueError("need exactly one more label than cuts")
    th = percentile_bucket_thresholds(df, score_col, by_col, cuts, accuracy)
    bucket = F.lit(labels[-1])
    for i, lab in reversed(list(enumerate(labels[:-1]))):
        bucket = F.when(F.col(score_col) <= F.col(f"__t{i}"), F.lit(lab)).otherwise(
            bucket
        )
    return (
        df.join(F.broadcast(th), by_col)
        .select(F.col(id_col), F.col(by_col), F.col(score_col), bucket.alias("bucket"))
    )
