"""Crawl workload: the driver-bound, write-heavy control plane.

``CrawlEngine.run`` drains a synthetic multi-forge corpus: one
``multi_commit`` per micro-batch, mixed forge dispatch (gitea, github,
sourcehut), a politeness budget that binds on one host only, and a
mega-forge whose pages set the batch count. The seen set
stays far below the engine's 200k-key bloom threshold, so the bloom layer
is bypassed. Each crawl starts from a fresh warehouse and a fresh
``init_state``; the timed span is ``run`` until the frontier drains. There
is no warm-up crawl: like a crawl CLI invocation, the first crawl of a
process compiles its batch plans, so its first batches take about twice a
warm one, and the median batch is the steady state.
"""

from __future__ import annotations

import os
import random
import time

from pyspark.sql import functions as F

from common import CheckFailed, busy_s, median, now, tree_size
from starchart_spark import tables
from starchart_spark.crawl.corpus import CorpusSpec, make_corpus
from starchart_spark.crawl.engine import CrawlEngine, CrawlSettings
from starchart_spark.testing import DOC_INPUT

BUDGET_MS = 24_000
HOST_BUCKETS = 8


def corpus_spec(seed: int, smoke: bool) -> CorpusSpec:
    """Forge 1 is a github mega-forge whose pages set the batch count.
    Every even forge overrides its rate to 500 ms; the odd ones keep the
    2000 ms default, and a gitea forge among them needs more slots per page
    (the page plus one topics fetch per repo) than the budget gives, so the
    budget binds on that host only. ``seed`` shuffles the forge types within
    the even and within the odd forges, which keeps those properties."""
    if smoke:
        return CorpusSpec(n_forges=2, repos_per_forge=20, seed=seed,
                          forge_types=("gitea", "github"),
                          rate_override_every=2, rate_override_ms=500)
    rng = random.Random(seed)
    even = ["gitea", "github", "sourcehut"]  # forges 2, 4, 6
    odd = ["gitea", "sourcehut"]  # forges 3, 5
    rng.shuffle(even)
    rng.shuffle(odd)
    return CorpusSpec(
        n_forges=6,
        repos_per_forge=20,
        mega_factor=3,
        seed=seed,
        forge_types=("github", even[0], odd[0], even[1], odd[1], even[2]),
        rate_override_every=2,
        rate_override_ms=500,
    )


def _records(pdf) -> list[dict]:
    """pandas rows with NaN turned into None."""
    return [
        {k: (None if isinstance(v, float) and v != v else v) for k, v in r.items()}
        for r in pdf.to_dict("records")
    ]


def corpus_frames(spark, corpus) -> dict:
    """The engine's inputs as typed DataFrames. ``rate_ms`` is cast back to
    int: pandas turns the optional override column into floats, which a
    LongType column rejects."""
    consent = [
        {**r, "rate_ms": None if r["rate_ms"] is None else int(r["rate_ms"])}
        for r in _records(corpus.consent)
    ]
    return {
        "seed_forges": spark.createDataFrame(_records(corpus.seed_forges), tables.SEED_FORGES),
        "consent": spark.createDataFrame(consent, tables.CONSENT),
        "documents": spark.createDataFrame(_records(corpus.documents), DOC_INPUT),
    }


def _fresh_engine(ctx, st) -> CrawlEngine:
    st["crawls"] = st.get("crawls", 0) + 1
    wh = os.path.join(ctx.work, f"warehouse{st['crawls']}")
    eng = CrawlEngine(
        ctx.spark, wh, CrawlSettings(budget_ms=BUDGET_MS, host_buckets=HOST_BUCKETS)
    )
    t0 = now()
    eng.init_state(st["frames"]["seed_forges"], st["frames"]["consent"])
    st["init_state_s"] = now() - t0
    return eng


def prepare(ctx) -> dict:
    t0 = now()
    corpus = make_corpus(corpus_spec(ctx.seed, ctx.smoke))
    st = {"corpus": corpus, "frames": corpus_frames(ctx.spark, corpus)}
    ctx.notes["frames_s"] = now() - t0
    st["engine"] = _fresh_engine(ctx, st)
    st["cold_init_state_s"] = st["init_state_s"]
    return st


def step(ctx, st) -> dict:
    """One crawl from init_state to a drained frontier, each micro-batch
    timed and labelled with the job group ``crawl:b<k>``."""
    eng = st.pop("engine", None) or _fresh_engine(ctx, st)
    batches: list[dict] = []
    inner = eng._run_batch

    def timed(batch_id, active, docs):
        before = tree_size(eng.warehouse) if ctx.trace else None
        with ctx.group(f"crawl:b{batch_id}"):
            t_epoch, t0 = time.time(), now()
            out = inner(batch_id, active, docs)
            wall = now() - t0
        rec = {"id": batch_id, "wall_s": wall, "start": t_epoch, "end": t_epoch + wall}
        if before is not None:
            after = tree_size(eng.warehouse)
            rec["bytes"], rec["files"] = after[0] - before[0], after[1] - before[1]
        batches.append(rec)
        return out

    eng._run_batch = timed
    t0 = now()
    eng.run(documents=st["frames"]["documents"])
    wall = now() - t0
    fetched, deferred = eng.lineage.read(ctx.spark).agg(
        F.sum("fetched"), F.sum("deferred_by_politeness")
    ).collect()[0]
    return {
        "items": int(fetched),
        "wall_s": wall,
        "step_s": [b["wall_s"] for b in batches],
        "out": {
            "engine": eng, "batches": batches, "fetched": int(fetched),
            "deferred": int(deferred),
        },
    }


def _norm(row) -> tuple:
    return tuple(tuple(v) if isinstance(v, list) else v for v in row)


def _rows(df, cols) -> list[tuple]:
    return sorted(_norm(r) for r in df.select(*cols).collect())


def _golden(pdf, cols) -> list[tuple]:
    return sorted(_norm(rec[c] for c in cols) for rec in _records(pdf))


USER_COLS = ["hostname", "username", "html_link", "profile_photo", "imported"]
REPO_COLS = ["hostname", "owner", "name", "description", "website", "html_url", "tags", "imported"]
ORDER_COLS = ["seq", "hostname", "page", "idx_in_page", "doc_id"]


def check(ctx, st, results: list) -> None:
    c = st["corpus"]
    n_forges = c.spec.n_forges
    for i, r in enumerate(results):
        out = r["out"]
        eng = out["engine"]

        def _one():
            t0 = now()
            got = {
                "order": _rows(eng.crawl_order(), ORDER_COLS),
                "users": _rows(eng.users.read(ctx.spark), USER_COLS),
                "repos": _rows(eng.repositories.read(ctx.spark), REPO_COLS),
                "seen": eng.url_seen.read(ctx.spark).count(),
            }
            out["read_s"] = now() - t0
            log = eng.visit_log.read(ctx.spark)
            n_log, n_docs = log.agg(F.count(F.lit(1)), F.countDistinct("doc_id")).collect()[0]
            want_order = _golden(c.golden_crawl_order, ORDER_COLS)
            if got["order"] != want_order:
                raise CheckFailed("crawl order differs from the golden order")
            if got["users"] != _golden(c.golden_users, USER_COLS):
                raise CheckFailed("users differ from the golden table")
            if got["repos"] != _golden(c.golden_repositories, REPO_COLS):
                raise CheckFailed("repositories differ from the golden table")
            want_seen = n_forges + len(c.golden_users) + len(c.golden_repositories)
            if got["seen"] != want_seen:
                raise CheckFailed(f"url_seen has {got['seen']} keys, want {want_seen}")
            if not (n_log == n_docs == len(want_order) == out["fetched"]):
                raise CheckFailed(
                    f"visit log {n_log} rows / {n_docs} docs, fetched {out['fetched']},"
                    f" want each of {len(want_order)} documents once"
                )

        ctx.checked(f"crawl.run{i}", _one)


def layers(ctx, st, results: list) -> dict:
    """The crawl is traced through its timed steps: nothing to rerun. The
    cold-start numbers come from the run's first crawl."""
    return {"traced": results[1]["out"], "first_batch_s": results[0]["step_s"][0],
            "init_state_s": st["cold_init_state_s"]}


def smoke_layers(ctx) -> dict:
    """One traced crawl of the smoke corpus, for another workload's trace."""
    corpus = make_corpus(corpus_spec(ctx.seed, smoke=True))
    st = {"corpus": corpus, "frames": corpus_frames(ctx.spark, corpus)}
    st["engine"] = _fresh_engine(ctx, st)
    init_s = st["init_state_s"]
    r = step(ctx, st)
    check(ctx, st, [r])
    return {"traced": r["out"], "first_batch_s": r["step_s"][0], "init_state_s": init_s}


def from_log(groups, direct: dict) -> dict:
    """Per-layer numbers of the traced crawl."""
    out = direct["traced"]
    bs = out["batches"]
    per = [groups[f"crawl:b{b['id']}"] for b in bs]
    fetched, deferred = out["fetched"], out["deferred"]
    wh_b, wh_files = tree_size(out["engine"].warehouse)
    return {
        "engine.init_state_s": direct["init_state_s"],
        "engine.first_batch_s": direct["first_batch_s"],
        "engine.batches": len(bs),
        "engine.jobs_per_batch": median([g.jobs for g in per]),
        "engine.stages_per_batch": median([g.stages for g in per]),
        "engine.tasks_per_batch": median([g.tasks for g in per]),
        "engine.driver_idle_s": median(
            [b["wall_s"] - busy_s(g.job_spans, b["start"], b["end"]) for b, g in zip(bs, per)]
        ),
        "engine.task_run_s": median([g.run_s for g in per]),
        "engine.gc_s": median([g.gc_s for g in per]),
        "politeness.deferred": deferred,
        "politeness.deferred_share": deferred / (fetched + deferred),
        "snapstore.bytes_written_per_batch": median([b["bytes"] for b in bs]),
        "snapstore.files_written_per_batch": median([b["files"] for b in bs]),
        "snapstore.warehouse_b": wh_b,
        "snapstore.warehouse_files": wh_files,
        "snapstore.read_s": out["read_s"],
    }


def annotate(results: list) -> dict:
    return {
        "batches": [len(r["out"]["batches"]) for r in results],
        "docs_fetched": results[0]["out"]["fetched"],
        "deferred_by_politeness": results[0]["out"]["deferred"],
        "crawl_s": [r["wall_s"] for r in results],
        "batch_s": [b["wall_s"] for r in results for b in r["out"]["batches"]],
    }
