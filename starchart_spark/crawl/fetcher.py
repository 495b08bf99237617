"""Batched HTTP fetcher — the production fetch path for S3 (real mode).

The sandbox engine "fetches" by joining page URLs against the documents
table (the S3 stand-in, SURVEY.md §2.1). This module is the real-crawl
hook the engine docstring promised: an ``applyInPandas`` per HOST that
performs the batch's fetches for that host strictly in slot order,
sleeping until each fetch's politeness send time — the token-bucket slots
computed by operators/politeness.py ARE the send schedule; the worker just
honors it. Reference anchor: the per-host sequential fetch loop with rate
sleeps (/root/reference/forge/gitea/src/lib.rs:88-148,
/root/reference/src/spider.rs:65-122).

Transport contract: an injected picklable callable ``(url: str) -> spans |
None`` where ``spans`` is the interleaved span sequence (list of
``{kind, text, media_ref, offset}``) and ``None`` means missing page / 404
— the engine's termination sentinel. In the interleaved-document data
model the wire body IS the span sequence; a deployment fetching real
HTML/JSON parses the body into spans inside its transport. Tests inject
fakes: a recording transport asserting per-host call spacing ≥ rate, and a
corpus-backed transport proving engine end-state equality with the
documents-join path (tests/test_fetcher.py).

Scale shape: one task per host group — per-host fetches are inherently
sequential (politeness), hosts fan out across executors. The group columns
stay narrow (URLs + slots); bodies surface as the ``spans`` column, i.e.
the same shape the documents join produces, so everything downstream of
the fetch is identical between the two modes.
"""

from __future__ import annotations

import time
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from starchart_spark import tables

SPANS_TYPE = next(f for f in tables.DOCUMENTS.fields if f.name == "spans").dataType

Transport = Callable[[str], "list | None"]


def fetch_batch(
    scheduled: DataFrame,
    transport: Transport,
    slot_col: str = "slot_ms",
    host_col: str = "hostname",
    url_col: str = "doc_id",
    rate_col: str = "effective_rate_ms",
) -> DataFrame:
    """Fetch every scheduled row, per host in slot order, honoring slots.

    Each host group establishes its own t0 when its task starts; fetch i
    sleeps until ``max(slot_ms[i], send[i-1] + rate)`` relative to that t0
    before calling the transport. The second term is the reference's token
    bucket (fetch_time[i] = max(arrival, fetch_time[i-1] + rate),
    forge/gitea/src/lib.rs:133-148): the precomputed slots alone only space
    the calls when every call returns inside its inter-slot gap — a slow
    response must push the NEXT send out by the full rate, not let it fire
    at an already-passed slot. ``rate_col`` is read when present in the
    input (the engine's scheduled frames always carry it); without it the
    schedule degrades to slots-only. Output = input columns + ``spans``
    (null for missing pages) + ``sent_at_ms`` (actual send time relative to
    the group t0, for audit/tests).

    A transport exception (timeout, 5xx, connection reset) fails the Spark
    task and with it the batch, as in the reference, which treats a fetch
    error as fatal. The engine commits nothing for a failed batch, so the
    next ``CrawlEngine.run()`` retries it from the last committed one.
    """
    out_schema = T.StructType(
        scheduled.schema.fields
        + [
            T.StructField("spans", SPANS_TYPE, True),
            T.StructField("sent_at_ms", T.LongType(), False),
        ]
    )
    has_rate = rate_col in scheduled.columns

    def _fetch(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(slot_col, kind="mergesort").reset_index(drop=True)
        t0 = time.monotonic()
        spans_out, sent = [], []
        prev_send_s = None
        for i in range(len(pdf)):
            target_s = float(pdf[slot_col].iloc[i]) / 1000.0
            if has_rate and prev_send_s is not None:
                target_s = max(
                    target_s,
                    prev_send_s + float(pdf[rate_col].iloc[i]) / 1000.0,
                )
            now_s = time.monotonic() - t0
            if now_s < target_s:
                time.sleep(target_s - now_s)
            prev_send_s = time.monotonic() - t0
            spans_out.append(transport(pdf[url_col].iloc[i]))
            sent.append(int(prev_send_s * 1000))
        pdf["spans"] = spans_out
        pdf["sent_at_ms"] = sent
        return pdf

    return scheduled.groupBy(host_col).applyInPandas(_fetch, out_schema)


NODEINFO_PATH = "/api/v1/nodeinfo"  # GITEA_NODEINFO, forge/gitea/src/lib.rs:32
CLIENT_TIMEOUT_S = 60.0  # CLIENT_TIMEOUT, src/ctx.rs:29 / config/default.toml:37


class HttpTransport:
    """Real HTTP client behind the Transport seam (VERDICT r3 "do this" #7).

    Reference semantics reproduced:

    - **timeout 60 s** on every call (``CLIENT_TIMEOUT`` src/ctx.rs:29,
      ``crawler.client_timeout`` config/default.toml:37);
    - **User-Agent** ``{version}---{pkg}---{host}`` where host is this
      instance's public host (src/ctx.rs:40-55);
    - **is_forge** probes the Gitea nodeinfo endpoint
      (``GITEA_NODEINFO`` forge/gitea/src/lib.rs:32) — the reference's impl
      then returns true unconditionally (lib.rs:62-64); we additionally
      require the endpoint to answer at all (S2).

    Picklable by construction: only config strings/numbers are instance
    state; the stdlib urllib client is created per call inside the
    executor. A GET returning 200 parses the body into the interleaved
    span shape (default: the whole body as one ``api_json`` span at offset
    0 — the wire body IS the span payload in this data model; a custom
    ``parser(url, body) -> spans`` hook covers HTML-to-spans deployments);
    404 returns None — the engine's missing-page termination sentinel.
    """

    def __init__(
        self,
        instance_host: str,
        version: str = "0.1.0",
        pkg: str = "starchart-spark",
        timeout_s: float = CLIENT_TIMEOUT_S,
        parser: "Callable[[str, str], list] | None" = None,
    ):
        self.user_agent = f"{version}---{pkg}---{instance_host}"
        self.timeout_s = timeout_s
        self.parser = parser

    def _get(self, url: str) -> "str | None":
        import urllib.error
        import urllib.request

        req = urllib.request.Request(url, headers={"User-Agent": self.user_agent})
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                return resp.read().decode("utf-8", errors="replace")
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return None
            raise

    def fetch_text(self, url: str) -> "str | None":
        """Raw-body GET (no span parsing) — the robots.txt surface:
        robots bodies are line-oriented text, never spans."""
        return self._get(url)

    def __call__(self, url: str) -> "list | None":
        body = self._get(url)
        if body is None:
            return None
        if self.parser is not None:
            return self.parser(url, body)
        return [{"kind": "api_json", "text": body, "media_ref": None, "offset": 0}]

    def is_forge(self, instance_url: str) -> bool:
        """S2 forge probe against the nodeinfo endpoint."""
        try:
            return self._get(instance_url.rstrip("/") + NODEINFO_PATH) is not None
        except Exception:
            return False


ROBOTS_PATH = "/robots.txt"

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("hostname", T.StringType(), False),
        T.StructField("robots_txt", T.StringType(), False),
    ]
)


def fetch_robots(
    hosts: DataFrame, transport: Transport, scheme: str = "https"
) -> DataFrame:
    """Really fetch ``{scheme}://{host}/robots.txt`` per distinct host.

    Returns ``(hostname, robots_txt)`` — the exact shape
    ``CrawlEngine.init_state(robots=...)`` consumes. Hosts whose robots
    file is missing (404 → ``None``) are OMITTED: RFC 9309 §2.3.1.2 says
    an unavailable robots.txt means unrestricted, and an absent row is
    precisely how the robots gate encodes "allowed by default".

    Transports exposing ``fetch_text`` (HttpTransport) get the raw body;
    bare-callable transports are invoked through the span contract and the
    span texts concatenated — so a corpus transport can serve robots
    bodies as one-span documents.

    The result is ``localCheckpoint(eager=True)``-materialized: the fetch
    is a side effect and init_state's DAG consumes the bodies twice
    (rule parse + crawl-delay parse) — the wire must be hit exactly once
    per host. Hosts are dim-scale (one row per forge instance), so the
    checkpoint is small; fetches fan out across executors one host-batch
    per task.
    """

    def _fetch(it):
        get_text = getattr(transport, "fetch_text", None)
        for pdf in it:
            rows = []
            for h in pdf["hostname"]:
                url = f"{scheme}://{h}{ROBOTS_PATH}"
                if get_text is not None:
                    body = get_text(url)
                else:
                    spans = transport(url)
                    body = (
                        None
                        if spans is None
                        else "".join(s.get("text") or "" for s in spans)
                    )
                if body is not None:
                    rows.append((h, body))
            yield pd.DataFrame(rows, columns=["hostname", "robots_txt"])

    distinct = hosts.select("hostname").distinct()
    return distinct.mapInPandas(_fetch, ROBOTS_SCHEMA).localCheckpoint(eager=True)


def corpus_transport(documents_rows: dict) -> Transport:
    """A transport backed by an in-memory doc_id → spans mapping — the
    sandbox stand-in for a live HTTP client, used to prove the real-fetch
    engine mode reproduces the documents-join mode exactly."""

    def _get(url: str):
        return documents_rows.get(url)

    return _get
