"""Distributed Lloyd k-means in exact integer micro-units.

:func:`similarity.ivf_centroids` trains float centroids for ANN recall —
the right choice there, but a float k-means is NOT reproducible across
partitionings: partial sums add in partition-dependent order and float
addition is not associative, so the same corpus can flip an argmin and
cascade into different clusters run to run. Wherever a clustering feeds a
*contract* — deterministic curriculum buckets, embedding-space shard
assignment (the :mod:`sketch` HRW story), or a driver-gate oracle — the
assignment must be a pure function of the data on any cluster size. This
module is that variant: the ``lm_score`` micro-nat / :mod:`graph` PageRank
discipline applied to clustering.

Everything is BIGINT:

* quantize:  q = floor(x·Q + 0.5) + OFF  with Q = 1e6 and OFF = 2·Q.
  ``floor(x·Q + 0.5)`` (NOT engine ``round``: Spark rounds HALF_UP, DuckDB
  HALF_EVEN) is identical IEEE double math on both engines; the offset
  keeps every quantized component — and therefore every later mean
  numerator — non-negative, so truncating integer division equals floor
  division on BOTH engines (Spark ``div`` truncates; DuckDB ``//`` also
  truncates, e.g. ``-7 // 2 = -3``; on non-negative operands they agree).
  Distances use component differences, which the offset cancels out of.
* distance:  d(v, c) = Σ_pos (q − c)²  — exact int64 (|x| < 2 asserted,
  so |q − c| ≤ 8·10⁶ and d ≤ 64·6.4·10¹³ ≈ 4·10¹⁵, well inside int64).
* assignment: argmin over d with ties to the LOWEST cid (numpy argmin's
  first-minimum == the oracle's ORDER BY d, cid).
* update:    c' = Σq div n  — non-negative truncating div == floor.
* empty clusters keep their previous centroid (no row from the
  aggregate → carry-over), the standard Lloyd convention.

Scale shape (the plan you'd want at 100 TB): seeds are the k smallest-id
vectors (deterministic, no RNG). Each round is ONE Arrow pass that fuses
assignment and the partial update — centroids ride a broadcast (model
state, k·d int64, the one thing that SHOULD live on every node) and each
Arrow batch emits at most k·d narrow (cid, pos, psum, pcount) rows, so the
round's only shuffle carries ≤ batches·k·d rows regardless of corpus size
(map-side combine done in the kernel). The k·d mean update happens
driver-side — the standard k-means topology (faiss/Spark MLlib do the
same), model state, not a data collect; it also means each round's plan is
flat (no lineage growth, no checkpoint needed). Reference anchor: the
reference has no clustering — this is north-rule scale machinery feeding
the ANN/dedup family (`operators/similarity.py`, `operators/pq.py`).

The oracle unroller (:func:`kmeans_sql`) replays the identical recurrence
relationally in DuckDB: posexploded (vec_id, pos, q) rows, per-round
distance join + QUALIFY argmin + grouped floor-div means with a LEFT JOIN
carry-over for empty clusters. Same integers in, same integers out.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

QSCALE = 1_000_000  # micro-units per 1.0 of embedding component
OFFSET = 2 * QSCALE  # shifts quantized components non-negative (|x| < 2)

_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("cid", T.IntegerType(), False),
        T.StructField("pos", T.IntegerType(), False),
        T.StructField("psum", T.LongType(), False),
        T.StructField("pcount", T.LongType(), False),
    ]
)

_ASSIGN_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("cid", T.IntegerType(), False),
    ]
)


def quantize(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, qvec array<long>) — offset micro-unit quantization, pure JVM.

    The lambda references only its element, so the array argument
    evaluates once per row (the HOF-explode hazard needs a captured
    row-level expression re-evaluated per element — not the case here).
    """
    q = F.transform(
        F.col(vec_col),
        lambda x: (F.floor(x.cast("double") * QSCALE + 0.5) + OFFSET).cast("long"),
    )
    return vectors.select(F.col(id_col).alias("vec_id"), q.alias("qvec"))


def _seed_centroids(qvecs: DataFrame, k: int) -> np.ndarray:
    """k×d int64 seed matrix: the k smallest-id vectors, cid in id order."""
    rows = qvecs.orderBy("vec_id").limit(k).collect()
    if len(rows) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(rows)}")
    cents = np.stack([np.asarray(r["qvec"], dtype=np.int64) for r in rows])
    if cents.min() < 0 or cents.max() >= 2 * OFFSET:
        raise ValueError("embedding component out of the asserted |x| < 2 range")
    return cents


def _seed_farthest(qvecs: DataFrame, k: int) -> np.ndarray:
    """Deterministic farthest-first seeding (Gonzalez 1985 k-center
    heuristic — the quality k-means++ buys, without its RNG): seed 0 is
    the smallest-id vector; each next seed is the vector maximizing the
    minimum exact-int64 distance to the chosen set, ties to the lowest
    vec_id. k−1 Arrow passes, each a broadcast of ≤ k·d model state and a
    1-row TakeOrdered — no driver-side data collect, no shuffle beyond
    the top-1."""
    first = qvecs.orderBy("vec_id").limit(1).collect()
    if not first:
        raise ValueError(f"need at least k={k} vectors, got 0")
    seed0 = np.asarray(first[0]["qvec"], dtype=np.int64)
    if seed0.min() < 0 or seed0.max() >= 2 * OFFSET:
        raise ValueError("embedding component out of the asserted |x| < 2 range")
    cents = seed0[None, :]
    spark = qvecs.sparkSession
    mind_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("mind", T.LongType(), False),
        ]
    )
    for _ in range(k - 1):
        bc = spark.sparkContext.broadcast(cents)

        def _mind(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                mat = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
                dists = np.empty((len(mat), len(c)), dtype=np.int64)
                for ci in range(len(c)):
                    diff = mat - c[ci]
                    dists[:, ci] = (diff * diff).sum(axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].astype("int64"),
                        "mind": dists.min(axis=1),
                    }
                )

        far = (
            qvecs.mapInPandas(_mind, mind_schema)
            .orderBy(F.col("mind").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()[0]
        )
        nxt = qvecs.filter(F.col("vec_id") == far["vec_id"]).collect()[0]
        cents = np.vstack([cents, np.asarray(nxt["qvec"], dtype=np.int64)])
    if cents.min() < 0 or cents.max() >= 2 * OFFSET:
        raise ValueError("embedding component out of the asserted |x| < 2 range")
    return cents


def _assign_ids(batch: pd.DataFrame, cents: np.ndarray) -> np.ndarray:
    """Nearest-centroid ids for one Arrow batch — exact int64 distances,
    argmin first-minimum == lowest cid on ties."""
    mat = np.stack(batch["qvec"].to_numpy()).astype(np.int64)
    dists = np.empty((len(mat), len(cents)), dtype=np.int64)
    for ci in range(len(cents)):
        diff = mat - cents[ci]
        dists[:, ci] = (diff * diff).sum(axis=1)
    return np.argmin(dists, axis=1)


def _round(qvecs: DataFrame, cents: np.ndarray) -> np.ndarray:
    """One Lloyd round: fused assign + partial-update Arrow pass, one
    k·d-row aggregate, driver-side floor-div mean. Returns new centroids
    (empty clusters carry the previous row)."""
    spark = qvecs.sparkSession
    bc = spark.sparkContext.broadcast(cents)

    def _partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
            cid = _assign_ids(pdf, c)
            rows = []
            for ci in np.unique(cid):
                sel = mat[cid == ci]
                sums = sel.sum(axis=0, dtype=np.int64)
                rows.extend(
                    (int(ci), pos + 1, int(sums[pos]), len(sel))
                    for pos in range(mat.shape[1])
                )
            yield pd.DataFrame(rows, columns=["cid", "pos", "psum", "pcount"])

    agg = (
        qvecs.select("qvec")
        .mapInPandas(_partials, _PARTIAL_SCHEMA)
        .groupBy("cid", "pos")
        .agg(F.sum("psum").alias("s"), F.sum("pcount").alias("n"))
        # non-negative operands: truncating div == floor, same in DuckDB
        .select("cid", "pos", F.expr("s div n").alias("c"))
        .collect()
    )
    new = cents.copy()
    for r in agg:
        new[r["cid"], r["pos"] - 1] = r["c"]
    return new


def kmeans(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "first",
) -> DataFrame:
    """(cid, pos, c_u) after ``iters`` exact-integer Lloyd rounds —
    centroid component in micro-units (offset removed; may be negative).

    ``seed``: "first" = the k smallest-id vectors (cheapest, one scan);
    "farthest" = deterministic farthest-first (k−1 extra scans, spread
    seeds — the k-means++ quality story without RNG).

    Bit-identical on any partitioning / cluster size: int64 sums are
    order-independent and every division is non-negative floor-div.
    """
    spark = vectors.sparkSession
    qvecs = quantize(vectors, id_col, vec_col).persist()
    try:
        seeder = _seed_farthest if seed == "farthest" else _seed_centroids
        cents = seeder(qvecs, k)
        for _ in range(iters):
            cents = _round(qvecs, cents)
    finally:
        qvecs.unpersist()
    rows = [
        (ci, pos + 1, int(cents[ci, pos]) - OFFSET)
        for ci in range(k)
        for pos in range(cents.shape[1])
    ]
    schema = T.StructType(
        [
            T.StructField("cid", T.IntegerType(), False),
            T.StructField("pos", T.IntegerType(), False),
            T.StructField("c_u", T.LongType(), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def train_and_assign(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cid, n_assigned) — cluster sizes after ``iters`` rounds plus one
    final assignment pass (the composition a curriculum/shard consumer
    runs)."""
    spark = vectors.sparkSession
    qvecs = quantize(vectors, id_col, vec_col).persist()
    try:
        cents = _seed_centroids(qvecs, k)
        for _ in range(iters):
            cents = _round(qvecs, cents)
        bc = spark.sparkContext.broadcast(cents)

        def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].astype("int64"),
                        "cid": _assign_ids(pdf, c),
                    }
                )

        sizes = (
            qvecs.mapInPandas(_assign, _ASSIGN_SCHEMA)
            .groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n_assigned"))
            .collect()
        )
    finally:
        qvecs.unpersist()
    schema = T.StructType(
        [
            T.StructField("cid", T.IntegerType(), False),
            T.StructField("n_assigned", T.LongType(), False),
        ]
    )
    return spark.createDataFrame(
        [(r["cid"], r["n_assigned"]) for r in sizes], schema
    )


def _round_cte(r: int, k: int) -> str:
    """CTE fragments for Lloyd round ``r`` (cent{r-1} → cent{r})."""
    return f"""
dist{r} AS (
  SELECT v.vec_id, c.cid, sum((v.q - c.c) * (v.q - c.c)) AS d
  FROM vecs v JOIN cent{r - 1} c USING (pos)
  GROUP BY v.vec_id, c.cid
),
assign{r} AS (
  SELECT vec_id, cid FROM dist{r}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
),
newc{r} AS (
  SELECT a.cid, v.pos, sum(v.q) // count(*) AS c
  FROM assign{r} a JOIN vecs v USING (vec_id)
  GROUP BY a.cid, v.pos
),
cent{r} AS (
  SELECT p.cid, p.pos, coalesce(n.c, p.c) AS c
  FROM cent{r - 1} p LEFT JOIN newc{r} n ON n.cid = p.cid AND n.pos = p.pos
)"""


def _farthest_seed_ctes(k: int) -> str:
    """CTE chain for farthest-first seeding: scent1..scent{k} accumulate
    (cid, pos, c); each pick maximizes min distance, ties to lowest id."""
    body = """,
scent1 AS (
  SELECT 0 AS cid, v.pos, v.q AS c
  FROM (SELECT vec_id FROM vecs ORDER BY vec_id LIMIT 1) s
  JOIN vecs v USING (vec_id)
)"""
    for s in range(1, k):
        body += f""",
mind{s} AS (
  SELECT vec_id, min(dsum) AS mind FROM (
    SELECT v.vec_id, c.cid, sum((v.q - c.c) * (v.q - c.c)) AS dsum
    FROM vecs v JOIN scent{s} c USING (pos)
    GROUP BY v.vec_id, c.cid
  ) GROUP BY vec_id
),
pick{s} AS (
  SELECT vec_id FROM mind{s}
  QUALIFY row_number() OVER (ORDER BY mind DESC, vec_id) = 1
),
scent{s + 1} AS (
  SELECT * FROM scent{s}
  UNION ALL
  SELECT {s} AS cid, v.pos, v.q AS c
  FROM pick{s} p JOIN vecs v USING (vec_id)
)"""
    return body + f""",
cent0 AS (SELECT cid, pos, c FROM scent{k})"""


def kmeans_cte(
    vectors_sql: str,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "first",
) -> tuple[str, str]:
    """(cte_body, final_centroid_cte_name) — the identical recurrence
    unrolled for DuckDB over ``vectors_sql`` (must yield id + list
    columns). Shared by the centroid and size oracles so the recurrence
    cannot drift between them."""
    body = f"""vecs AS (
  SELECT {id_col} AS vec_id,
         unnest(range(1, len({vec_col}) + 1)) AS pos,
         CAST(floor(CAST(unnest({vec_col}) AS DOUBLE) * {QSCALE} + 0.5)
              AS BIGINT) + {OFFSET} AS q
  FROM ({vectors_sql})
)"""
    if seed == "farthest":
        body += _farthest_seed_ctes(k)
    else:
        body += f""",
seed_ids AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
  FROM (SELECT {id_col} AS vec_id FROM ({vectors_sql})
        ORDER BY {id_col} LIMIT {k})
),
cent0 AS (
  SELECT s.cid, v.pos, v.q AS c
  FROM seed_ids s JOIN vecs v USING (vec_id)
)"""
    for r in range(1, iters + 1):
        body += "," + _round_cte(r, k)
    return body, f"cent{iters}"


def kmeans_sql(
    vectors_sql: str, k: int = 8, iters: int = 3, seed: str = "first"
) -> str:
    """Full oracle: final centroids in un-offset micro-units."""
    body, final = kmeans_cte(vectors_sql, k=k, iters=iters, seed=seed)
    return f"""WITH {body}
SELECT cid, pos, c - {OFFSET} AS c_u FROM {final}
"""


def kmeans_sizes_sql(vectors_sql: str, k: int = 8, iters: int = 3) -> str:
    """Oracle for :func:`train_and_assign`: one more assignment round over
    the final centroids, then per-cluster counts."""
    body, final = kmeans_cte(vectors_sql, k=k, iters=iters)
    rf = int(final.removeprefix("cent")) + 1
    extra = f""",
dist{rf} AS (
  SELECT v.vec_id, c.cid, sum((v.q - c.c) * (v.q - c.c)) AS d
  FROM vecs v JOIN {final} c USING (pos)
  GROUP BY v.vec_id, c.cid
),
assign{rf} AS (
  SELECT vec_id, cid FROM dist{rf}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
)"""
    return f"""WITH {body}{extra}
SELECT cid, count(*) AS n_assigned FROM assign{rf} GROUP BY cid
"""
