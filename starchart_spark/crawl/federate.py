"""Federation surface: publiccode.yml exchange, mini-index, import.

Reproduces the reference's federation plane
(/root/reference/federate/publiccodeyml/src/):

- **render** (N5, schema.rs:100-134): canonical repository → publiccode.yml
  v0.2 mapping — description→``description.en.shortDescription``,
  website→``description.en.documentation`` + ``landingUrl``,
  tags→``intendedAudience.scope`` (their documented tag abuse),
  owner→``legal.repoOwner``. YAML text is produced by a vectorized pandas
  UDF (PyYAML per Arrow batch).
- **ingest** (N6, schema.rs:137-162): the inverse projection, with an
  ``imported=true`` lineage flag (D9).
- **export layout** (S8, lib.rs:61-110): one YAML per entity at
  ``<host>/<owner>/<repo>/publiccode.yml`` — written by
  ``interchange.export_tree``.
- **snapshot publish** (S9/S10, lib.rs:221-304): tar of the tree with
  retention 5 — our SnapshotTable already provides snapshot+expire; ``tar``
  remains only as the interchange format.
- **mini-index** (A1, db/db-sqlx-sqlite/src/lib.rs:923-974): unique words
  (case-sensitive! proven by db/db-core/src/tests.rs:154-170) joined into a
  single space-separated string, ordered by first insertion.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import yaml
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PUBLICCODE_VERSION = "0.2"  # federate/publiccodeyml/src/schema.rs:115


def repo_to_publiccode_dict(row: dict) -> dict:
    """Pure mapping, canonical repo row → publiccode dict (N5)."""
    desc_en: dict = {"shortDescription": row.get("description")}
    if row.get("website"):
        desc_en["documentation"] = row["website"]
    out = {
        "publiccodeYmlVersion": PUBLICCODE_VERSION,
        "name": row["name"],
        "url": row["html_url"],
        "description": {"en": desc_en},
        "legal": {"repoOwner": row["owner"]},
    }
    if row.get("website"):
        out["landingURL"] = row["website"]
    tags = row.get("tags")
    if tags is not None and len(tags):  # may arrive as a numpy array via Arrow
        out["intendedAudience"] = {"scope": [str(t) for t in tags]}
    return out


def render_publiccode(repos: DataFrame) -> DataFrame:
    """repositories → (hostname, owner, name, yaml string). Vectorized over
    Arrow batches; YAML render is pure CPU per row inside the batch loop."""
    cols = ["hostname", "owner", "name", "description", "website", "html_url", "tags"]
    out_schema = T.StructType(
        [
            T.StructField("hostname", T.StringType(), False),
            T.StructField("owner", T.StringType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField("yaml", T.StringType(), False),
        ]
    )

    def _render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ymls = [
                yaml.safe_dump(repo_to_publiccode_dict(r), sort_keys=True)
                for r in pdf.to_dict("records")
            ]
            yield pd.DataFrame(
                {
                    "hostname": pdf["hostname"],
                    "owner": pdf["owner"],
                    "name": pdf["name"],
                    "yaml": ymls,
                }
            )

    return repos.select(*cols).mapInPandas(_render, out_schema)


def ingest_publiccode(rendered: DataFrame) -> DataFrame:
    """(hostname, yaml) → canonical repository rows with imported=true (N6/D9,
    federate/publiccodeyml/src/schema.rs:137-162 + lib.rs:307-423)."""
    out_schema = T.StructType(
        [
            T.StructField("hostname", T.StringType(), False),
            T.StructField("owner", T.StringType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField("description", T.StringType(), True),
            T.StructField("website", T.StringType(), True),
            T.StructField("html_url", T.StringType(), False),
            T.StructField("tags", T.ArrayType(T.StringType()), True),
            T.StructField("imported", T.BooleanType(), False),
        ]
    )

    def _ingest(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for host, y in zip(pdf["hostname"], pdf["yaml"]):
                d = yaml.safe_load(y)
                desc = (d.get("description") or {}).get("en") or {}
                rows.append(
                    {
                        "hostname": host,
                        "owner": (d.get("legal") or {}).get("repoOwner"),
                        "name": d["name"],
                        "description": desc.get("shortDescription"),
                        "website": d.get("landingURL"),
                        "html_url": d["url"],
                        "tags": (d.get("intendedAudience") or {}).get("scope"),
                        "imported": True,
                    }
                )
            yield pd.DataFrame(rows)

    return rendered.mapInPandas(_ingest, out_schema)


# ---------------------------------------------------------------------------
# mini-index (A1)
# ---------------------------------------------------------------------------

def mini_index_words(repos: DataFrame, first_seen_col: str) -> DataFrame:
    """Unique words of repo names, case-sensitive, tagged with first-seen
    order (insertion order = crawl order; reference dedups at insert with
    INSERT OR IGNORE on word UNIQUE).

    ``first_seen_col`` is REQUIRED and must be a pure function of the data
    (e.g. the crawl ``seq`` from the visit log) — a physical-partitioning
    order such as ``monotonically_increasing_id()`` would make the exported
    index nondeterministic across repartitionings, breaking the repo's
    pure-function-ordering rule.
    """
    words = repos.select(
        F.explode(F.split(F.col("name"), r"[\s\-_]+")).alias("word"),
        F.col(first_seen_col).alias("__ord"),
    ).filter(F.col("word") != "")
    return words.groupBy("word").agg(F.min("__ord").alias("first_seen"))


def export_mini_index(words: DataFrame) -> str:
    """Single space-joined string in first-insertion order
    (db/db-sqlx-sqlite/src/lib.rs:956-974)."""
    row = (
        words.orderBy("first_seen", "word")
        .agg(F.concat_ws(" ", F.collect_list("word")).alias("mini_index"))
        .collect()[0]
    )
    return row["mini_index"]


def import_mini_index(
    store, spark, source_instance: str, mini_index: str
) -> None:
    """Delete-then-insert replacement keyed by source instance (S13,
    db/db-sqlx-sqlite/src/lib.rs:977-997): overwrite that partition."""
    df = spark.createDataFrame(
        [(source_instance, mini_index)], ["starchart_instance", "mini_index"]
    )
    store.overwrite(df, {"source": source_instance})
