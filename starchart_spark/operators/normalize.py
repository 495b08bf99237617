"""Forge types + wire-page normalization (SURVEY.md §2.4, N1-N3).

The reference instantiates a Rust trait object per forge type
(reference src/spider.rs:38-42, forge/forge-core/src/lib.rs:115-121;
Gitea is the only impl). Here ``FORGE_TYPES`` is that trait table: one
entry per type holding its search-page URL template, its topics URL
template (None when topics come inline with the search page) and its
search-page parser. Everything that builds a forge URL or picks a parser
reads it: the engine's page and topic fetch columns (``url_col``, JVM string
concats), the streaming frontier's topic visits and
``parse_search_pages_typed``. GitHub/Sourcehut shapes follow the public APIs
of those forges, slotted behind the same table. forge_type is a *column*:
per-type parsers are plain DataFrame plans unioned together — no per-row
dispatch, and Catalyst prunes the JSON parse to the consumed fields.

Parsing itself is ``from_json`` against the declared wire schema
(forge/gitea/src/schema.rs:22-151) — JVM-side, no Python in the loop.
Normalization (N2/N3) reproduces ``to_user`` / repo construction at
forge/gitea/src/lib.rs:103-113,150-170: profile link = instance URL + "/" +
username, avatar → profile_photo, ``empty_is_none`` on website.

Span handling: the interleaved ``spans`` array is *re-sorted by offset*
before the first text span is taken — span order is the per-row invariant
(BASELINE.json input_hint) and must never depend on upstream array layout.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from starchart_spark import tables

SEARCH_PATH = "/api/v1/repos/search"  # forge/gitea/src/lib.rs:31


def first_text_span(df: DataFrame, out_col: str = "wire_json") -> DataFrame:
    """Extract the first api_json span's text, in offset order."""
    spans_sorted = F.expr("array_sort(spans, (a, b) -> a.offset - b.offset)")
    api = F.filter(spans_sorted, lambda s: s["kind"] == F.lit("api_json"))
    return df.withColumn(out_col, F.element_at(api, 1)["text"])


def split_documents(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(search_pages, topics_pages) from the documents table, by URL shape."""
    is_search = F.col("doc_id").contains(SEARCH_PATH)
    is_topics = F.col("doc_id").endswith("/topics")
    return docs.filter(is_search), docs.filter(is_topics & ~is_search)


def parse_gitea_search_pages(search_docs: DataFrame) -> DataFrame:
    """Search-page documents → one row per wire repo, with crawl-order keys.

    Output: hostname, page, idx_in_page (1-based; 0 is the page fetch
    itself), name, description, website, html_url, owner struct.
    """
    df = first_text_span(search_docs)
    df = df.withColumn("parsed", F.from_json("wire_json", tables.GITEA_SEARCH_RESULTS))
    df = df.withColumn("page", F.regexp_extract("doc_id", r"[?&]page=(\d+)", 1).cast("int"))
    # plain posexplode: an empty data array (termination sentinel page,
    # src/spider.rs:74-77) contributes zero repo rows
    df = df.select(
        "doc_id",
        "hostname",
        "page",
        F.posexplode("parsed.data").alias("pos", "repo"),
    )
    return df.select(
        "doc_id",
        "hostname",
        "page",
        (F.col("pos") + 1).alias("idx_in_page"),
        F.col("repo.name").alias("name"),
        F.col("repo.description").alias("description"),
        F.col("repo.website").alias("website"),
        F.col("repo.html_url").alias("html_url"),
        F.col("repo.owner.username").alias("owner_username"),
        F.col("repo.owner.avatar_url").alias("owner_avatar_url"),
        # gitea topics come from a second fetch (S4), never inline
        F.lit(None).cast("array<string>").alias("tags_inline"),
    )


def parse_github_search_pages(search_docs: DataFrame) -> DataFrame:
    """GitHub search-page documents → unified repo rows. Topics arrive inline
    (``tags_inline``), so no per-repo second fetch exists for this type."""
    df = first_text_span(search_docs)
    df = df.withColumn("parsed", F.from_json("wire_json", tables.GITHUB_SEARCH_RESULTS))
    df = df.withColumn("page", F.regexp_extract("doc_id", r"[?&]page=(\d+)", 1).cast("int"))
    df = df.select(
        "doc_id", "hostname", "page", F.posexplode("parsed.items").alias("pos", "repo")
    )
    return df.select(
        "doc_id",
        "hostname",
        "page",
        (F.col("pos") + 1).alias("idx_in_page"),
        F.col("repo.name").alias("name"),
        F.col("repo.description").alias("description"),
        F.col("repo.homepage").alias("website"),
        F.col("repo.html_url").alias("html_url"),
        F.col("repo.owner.login").alias("owner_username"),
        F.col("repo.owner.avatar_url").alias("owner_avatar_url"),
        F.array_distinct("repo.topics").alias("tags_inline"),
    )


def parse_sourcehut_search_pages(search_docs: DataFrame) -> DataFrame:
    """Sourcehut list documents → unified repo rows. No avatars or topics in
    the wire shape; html_url derived from the canonical name."""
    df = first_text_span(search_docs)
    df = df.withColumn("parsed", F.from_json("wire_json", tables.SOURCEHUT_RESULTS))
    df = df.withColumn("page", F.regexp_extract("doc_id", r"[?&]page=(\d+)", 1).cast("int"))
    df = df.select(
        "doc_id", "hostname", "page", F.posexplode("parsed.results").alias("pos", "repo")
    )
    return df.select(
        "doc_id",
        "hostname",
        "page",
        (F.col("pos") + 1).alias("idx_in_page"),
        F.col("repo.name").alias("name"),
        F.col("repo.description").alias("description"),
        F.lit(None).cast("string").alias("website"),
        F.concat(
            F.lit("https://"), F.col("hostname"), F.lit("/"),
            F.col("repo.owner.canonical_name"), F.lit("/"), F.col("repo.name"),
        ).alias("html_url"),
        F.regexp_replace(F.col("repo.owner.canonical_name"), r"^~", "").alias(
            "owner_username"
        ),
        F.lit(None).cast("string").alias("owner_avatar_url"),
        F.lit(None).cast("array<string>").alias("tags_inline"),
    )


@dataclass(frozen=True)
class ForgeType:
    """One forge type's wire API. URL templates are absolute, with
    ``{host}`` (bare hostname), ``{page}`` and ``{limit}`` (page size) in the
    search URL and ``{host}``, ``{owner}``, ``{name}`` in the topics URL."""

    search_url: str
    # None: topics arrive inline with the search page (or not at all), so
    # the type has no per-repo second fetch (S4 is forge-type-specific)
    topics_url: str | None
    parse_page: Callable[[DataFrame], DataFrame]


FORGE_TYPES = {
    "gitea": ForgeType(
        "https://{host}" + SEARCH_PATH + "?page={page}&limit={limit}",
        "https://{host}/api/v1/repos/{owner}/{name}/topics",
        parse_gitea_search_pages,
    ),
    "github": ForgeType(
        "https://{host}/search/repositories?q=forge&page={page}&per_page={limit}",
        None,
        parse_github_search_pages,
    ),
    "sourcehut": ForgeType(
        "https://{host}/api/repos?page={page}", None, parse_sourcehut_search_pages
    ),
}

# the reference's only implementation: its URL shapes are the ELSE arm of
# every per-type URL column, so a host of a type missing from FORGE_TYPES
# fetches gitea's first search page, which parses to nothing, and drains
DEFAULT_FORGE_TYPE = "gitea"

TOPIC_FETCH_TYPES = [t for t, ft in FORGE_TYPES.items() if ft.topics_url is not None]


def url_col(which: str, forge_type: Column, **fields) -> Column:
    """One ``ForgeType`` URL (``which`` = "search_url" or "topics_url") per
    row as a JVM-side ``concat``: ``CASE forge_type WHEN t THEN … ELSE
    <DEFAULT_FORGE_TYPE's URL> END``. Column fields vary per row; any other
    field is formatted into the literal text."""
    urls = {}
    for ftype, ft in FORGE_TYPES.items():
        template = getattr(ft, which)
        if template is None:
            continue
        for name, value in fields.items():
            if not isinstance(value, Column):
                template = template.replace("{" + name + "}", str(value))
        # literal, field, literal, … — empty literals are left out
        pieces = re.split(r"\{(\w+)\}", template)
        urls[ftype] = F.concat(
            *[fields[p] if i % 2 else F.lit(p)
              for i, p in enumerate(pieces) if i % 2 or p]
        )
    default = urls.pop(DEFAULT_FORGE_TYPE)
    out = None
    for ftype, url in urls.items():
        cond = forge_type == ftype
        out = F.when(cond, url) if out is None else out.when(cond, url)
    return default if out is None else out.otherwise(default)


def parse_search_pages_typed(search_docs: DataFrame) -> DataFrame:
    """N1 dispatch over the forge_type column: per-type from_json parsers
    unioned into one unified repo-row frame. Types with no rows prune to
    empty scans; unknown types yield nothing (callers may report them)."""
    parts = []
    for ftype, ft in FORGE_TYPES.items():
        parts.append(
            ft.parse_page(
                search_docs.filter(F.col("forge_type") == ftype).drop("forge_type")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def parse_gitea_topics_pages(topics_docs: DataFrame) -> DataFrame:
    """Topics documents → (hostname, owner, name, tags array)."""
    df = first_text_span(topics_docs)
    df = df.withColumn("parsed", F.from_json("wire_json", tables.GITEA_TOPICS))
    return df.select(
        "hostname",
        F.regexp_extract("doc_id", r"/api/v1/repos/([^/]+)/([^/]+)/topics$", 1).alias(
            "owner_username"
        ),
        F.regexp_extract("doc_id", r"/api/v1/repos/([^/]+)/([^/]+)/topics$", 2).alias("name"),
        # D6 in-batch tag dedup (HashSet semantics, gitea/src/lib.rs:151-156)
        F.array_distinct("parsed.topics").alias("tags"),
    )


def empty_is_none(col: F.Column) -> F.Column:
    """N3: trim; '' → NULL (gitea/src/lib.rs:75-82)."""
    t = F.trim(col)
    return F.when(t == "", F.lit(None)).otherwise(t)


def normalize_users(repo_rows: DataFrame, forge_url_col: str = "forge_url") -> DataFrame:
    """N2 ``to_user``: one candidate user row per wire repo row (dedup is the
    caller's job — keep-first in crawl order, D5)."""
    return repo_rows.select(
        F.col(forge_url_col).alias("hostname"),
        F.col("owner_username").alias("username"),
        F.concat(F.lit("https://"), F.col("hostname"), F.lit("/"), F.col("owner_username")).alias(
            "html_link"
        ),
        F.col("owner_avatar_url").alias("profile_photo"),
        F.lit(False).alias("imported"),
        "page",
        "idx_in_page",
    )


def normalize_repositories(
    repo_rows: DataFrame, topics: DataFrame, forge_url_col: str = "forge_url"
) -> DataFrame:
    """N3 + J4: attach tags with one grouped join (replaces the reference's
    per-repo N+1 topics lookup, db/db-sqlx-sqlite/src/lib.rs:774-795).
    Forge types with inline topics (github) fall back to ``tags_inline``."""
    joined = repo_rows.join(
        topics, on=["hostname", "owner_username", "name"], how="left"
    )
    inline = (
        F.col("tags_inline")
        if "tags_inline" in repo_rows.columns
        else F.lit(None).cast("array<string>")
    )
    return joined.select(
        F.col(forge_url_col).alias("hostname"),
        F.col("owner_username").alias("owner"),
        "name",
        F.col("description"),
        empty_is_none(F.col("website")).alias("website"),
        "html_url",
        F.coalesce(F.col("tags"), inline).alias("tags"),
        F.lit(False).alias("imported"),
        "page",
        "idx_in_page",
    )
