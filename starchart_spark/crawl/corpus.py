"""Deterministic synthetic crawl corpus (FIXTURES.md).

Reproduces the reference's seeded-Gitea test corpus as pure data
(/root/reference/scripts/gitea.py:10-14,151-196: user ``bot``, repos
``repository_0..N-1`` with description ``"this repository is named {name}"``
and topic ``testing``), paged ``page_size`` per search page with a trailing
empty page as the termination sentinel (/root/reference/src/spider.rs:74-77).

Everything is a pure function of the spec — no wall clock, no RNG state
outside ``seed`` — so golden outputs (users, repositories, crawl order,
url_seen membership) are generated alongside the inputs and the engine can be
asserted byte-exact against them.

The ``documents`` table is the mandated interleaved text+media input: span 0
of a search page is the Gitea ``SearchResults`` wire JSON
(/root/reference/forge/gitea/src/schema.rs:22-151), followed by alternating
html text spans and avatar media spans per repo, ordered by ``offset``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import pandas as pd


@dataclass(frozen=True)
class CorpusSpec:
    n_forges: int = 1
    repos_per_forge: int = 100
    page_size: int = 20  # crawler.items_per_api_call default (config/default.toml:36)
    seed: int = 42
    # skew fixture: forge #1 gets mega_factor × repos_per_forge repos
    mega_factor: int = 1
    # every k-th forge opts out via spidering=false (0 = none)
    opt_out_every: int = 0
    # every k-th forge overrides rate_ms (0 = none)
    rate_override_every: int = 0
    rate_override_ms: int = 500
    base_epoch: int = 1_600_000_000
    extra_owners: int = 0  # >0: repos cycle through bot, user-1..user-k owners
    # forge types cycle across forges (N1 dispatch fixture); default all-gitea
    # matches the reference's test corpus exactly
    forge_types: tuple = ("gitea",)

    def host(self, forge_idx: int) -> str:
        return f"forge-{forge_idx:04d}.test"

    def forge_url(self, forge_idx: int) -> str:
        return f"https://{self.host(forge_idx)}/"

    def n_repos(self, forge_idx: int) -> int:
        if forge_idx == 1 and self.mega_factor > 1:
            return self.repos_per_forge * self.mega_factor
        return self.repos_per_forge

    def owners(self) -> list[str]:
        return ["bot"] + [f"user-{i}" for i in range(1, self.extra_owners + 1)]

    def forge_type(self, forge_idx: int) -> str:
        return self.forge_types[(forge_idx - 1) % len(self.forge_types)]


def _repo_name(i: int) -> str:
    return f"repository_{i}"


def _avatar(host: str, owner: str) -> str:
    return f"https://{host}/avatars/{owner}.png"


def _search_page_url(host: str, page: int, limit: int, ftype: str = "gitea") -> str:
    # gitea: REPO_SEARCH_PATH + page/limit (forge/gitea/src/lib.rs:31,88-92);
    # github/sourcehut follow their public API list endpoints
    if ftype == "github":
        return f"https://{host}/search/repositories?q=forge&page={page}&per_page={limit}"
    if ftype == "sourcehut":
        return f"https://{host}/api/repos?page={page}"
    return f"https://{host}/api/v1/repos/search?page={page}&limit={limit}"


def _topics_url(host: str, owner: str, name: str) -> str:
    # forge/gitea/src/lib.rs:127-131
    return f"https://{host}/api/v1/repos/{owner}/{name}/topics"


def _page_json(host: str, repos: list[tuple[str, str]], ftype: str = "gitea") -> str:
    """Wire JSON for one search page; repos = [(owner, name)]."""
    if ftype == "github":
        items = [
            {
                "name": name,
                "description": f"this repository is named {name}",
                "homepage": "",
                "html_url": f"https://{host}/{owner}/{name}",
                "topics": ["testing"],
                "owner": {
                    "login": owner,
                    "avatar_url": _avatar(host, owner),
                    "html_url": f"https://{host}/{owner}",
                },
            }
            for owner, name in repos
        ]
        return json.dumps(
            {"total_count": len(items), "incomplete_results": False, "items": items},
            sort_keys=True,
        )
    if ftype == "sourcehut":
        results = [
            {
                "name": name,
                "description": f"this repository is named {name}",
                "visibility": "public",
                "owner": {"canonical_name": f"~{owner}", "name": owner},
            }
            for owner, name in repos
        ]
        return json.dumps({"next": None, "results": results}, sort_keys=True)
    data = [
        {
            "name": name,
            "description": f"this repository is named {name}",
            "website": "",  # empty → NULL via empty_is_none (gitea/src/lib.rs:75-82)
            "html_url": f"https://{host}/{owner}/{name}",
            "owner": {
                "username": owner,
                "avatar_url": _avatar(host, owner),
                "html_url": f"https://{host}/{owner}",
            },
        }
        for owner, name in repos
    ]
    return json.dumps({"ok": True, "data": data}, sort_keys=True)


@dataclass
class Corpus:
    spec: CorpusSpec
    seed_forges: pd.DataFrame = field(default_factory=pd.DataFrame)
    consent: pd.DataFrame = field(default_factory=pd.DataFrame)
    documents: pd.DataFrame = field(default_factory=pd.DataFrame)
    golden_users: pd.DataFrame = field(default_factory=pd.DataFrame)
    golden_repositories: pd.DataFrame = field(default_factory=pd.DataFrame)
    golden_crawl_order: pd.DataFrame = field(default_factory=pd.DataFrame)


def make_corpus(spec: CorpusSpec) -> Corpus:
    forges, consent, docs = [], [], []
    g_users, g_repos, g_order = [], [], []
    owners = spec.owners()
    seq = 0

    for fi in range(1, spec.n_forges + 1):
        host = spec.host(fi)
        url = spec.forge_url(fi)
        ftype = spec.forge_type(fi)
        forges.append(
            dict(
                forge_id=fi,
                hostname=url,
                forge_type=ftype,
                verified_on=spec.base_epoch + fi,
                last_crawl_on=None,
                imported=False,
                starchart_instance=None,
            )
        )
        opted_out = spec.opt_out_every and fi % spec.opt_out_every == 0
        rate = (
            spec.rate_override_ms
            if spec.rate_override_every and fi % spec.rate_override_every == 0
            else None
        )
        consent.append(
            dict(hostname=host, verified=True, spidering=not opted_out, rate_ms=rate)
        )

        n = spec.n_repos(fi)
        repo_list = [(owners[i % len(owners)], _repo_name(i)) for i in range(n)]

        # golden users: first occurrence order per host (D5 keep-first)
        seen_owner: set[str] = set()
        for owner, _ in repo_list:
            if owner not in seen_owner:
                seen_owner.add(owner)
                g_users.append(
                    dict(
                        hostname=url,
                        username=owner,
                        html_link=f"https://{host}/{owner}",
                        profile_photo=None if ftype == "sourcehut" else _avatar(host, owner),
                        imported=False,
                    )
                )
        for owner, name in repo_list:
            owner_path = f"~{owner}" if ftype == "sourcehut" else owner
            g_repos.append(
                dict(
                    hostname=url,
                    owner=owner,
                    name=name,
                    description=f"this repository is named {name}",
                    website=None,
                    html_url=f"https://{host}/{owner_path}/{name}",
                    tags=None if ftype == "sourcehut" else ["testing"],
                    imported=False,
                )
            )

        n_pages = (n + spec.page_size - 1) // spec.page_size
        for page in range(1, n_pages + 2):  # +1 empty sentinel page
            page_repos = repo_list[(page - 1) * spec.page_size : page * spec.page_size]
            doc_id = _search_page_url(host, page, spec.page_size, ftype)
            spans = [
                dict(
                    kind="api_json",
                    text=_page_json(host, page_repos, ftype),
                    media_ref=None,
                    offset=0,
                )
            ]
            off = 1
            for owner, name in page_repos:
                spans.append(
                    dict(kind="html", text=f"<h1>{name}</h1>", media_ref=None, offset=off)
                )
                spans.append(
                    dict(kind="media", text=None, media_ref=_avatar(host, owner), offset=off + 1)
                )
                off += 2
            docs.append(dict(doc_id=doc_id, spans=spans, hostname=host))
            g_order.append(
                dict(hostname=host, page=page, idx_in_page=0, doc_id=doc_id, seq=seq)
            )
            seq += 1
            if ftype != "gitea":
                continue  # topics second-fetch is gitea-specific (S4)
            # topics docs, visited in in-page order right after the page fetch
            for idx, (owner, name) in enumerate(page_repos, start=1):
                t_doc = _topics_url(host, owner, name)
                docs.append(
                    dict(
                        doc_id=t_doc,
                        spans=[
                            dict(
                                kind="api_json",
                                text=json.dumps({"topics": ["testing"]}),
                                media_ref=None,
                                offset=0,
                            )
                        ],
                        hostname=host,
                    )
                )
                g_order.append(
                    dict(hostname=host, page=page, idx_in_page=idx, doc_id=t_doc, seq=seq)
                )
                seq += 1

    return Corpus(
        spec=spec,
        seed_forges=pd.DataFrame(forges),
        # object dtype keeps an optional rate_ms as int / None: inferred, a
        # column mixing ints and None becomes float64, which the LongType
        # consent field rejects
        consent=pd.DataFrame(consent, dtype=object),
        documents=pd.DataFrame(docs),
        golden_users=pd.DataFrame(g_users),
        golden_repositories=pd.DataFrame(g_repos),
        golden_crawl_order=pd.DataFrame(g_order),
    )
