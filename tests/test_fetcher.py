"""Real-fetch mode (S3 real path, VERDICT r2 'do this' #10).

The transport-backed fetcher must (a) space consecutive calls to one host
by at least the politeness rate — the token-bucket slots are the send
schedule and the per-host worker honors them — and (b) plugged into the
engine, reproduce the documents-join mode's final state exactly on the
same corpus (the fetch mode changes WHERE bodies come from, never what is
crawled).
"""

from __future__ import annotations

import time

import pytest

from starchart_spark.crawl import fetcher
from starchart_spark.crawl.corpus import CorpusSpec, make_corpus
from starchart_spark.crawl.engine import CrawlEngine, CrawlSettings
from starchart_spark.testing import corpus_to_spark


def make_recording_transport(log_path):
    """Transport that logs (url, monotonic_ms) to a shared file —
    applyInPandas workers run in separate processes, so an in-memory list
    would never reach the driver. A closure, so cloudpickle ships it by
    value (a test-module class is not importable on workers)."""

    def _t(url):
        import time as _time

        with open(log_path, "a") as f:
            f.write(f"{url}\t{_time.monotonic_ns() // 1_000_000}\n")
        return [{"kind": "api_json", "text": "[]", "media_ref": None, "offset": 0}]

    return _t


def test_per_host_call_spacing(spark, tmp_path):
    rate = 80  # ms — small enough for a fast test, large vs clock noise
    rows = [
        (f"h{h}.test", f"https://h{h}.test/call/{i}", i * rate, rate)
        for h in range(3)
        for i in range(4)
    ]
    scheduled = spark.createDataFrame(
        rows, "hostname string, doc_id string, slot_ms long, effective_rate_ms long"
    )
    log = str(tmp_path / "calls.log")
    open(log, "w").close()
    out = fetcher.fetch_batch(scheduled, make_recording_transport(log))
    got = out.collect()
    assert len(got) == 12 and all(r["spans"] is not None for r in got)

    by_host: dict[str, list[int]] = {}
    for line in open(log):
        url, ts = line.rsplit("\t", 1)
        host = url.split("/")[2]
        by_host.setdefault(host, []).append(int(ts))
    assert len(by_host) == 3
    for host, stamps in by_host.items():
        stamps.sort()
        deltas = [b - a for a, b in zip(stamps, stamps[1:])]
        # sleep() guarantees >= target; allow 5ms for clock/read jitter
        assert all(d >= rate - 5 for d in deltas), (host, deltas)

    # the audit column tells the same story
    for r in got:
        if "call/3" in r["doc_id"]:
            assert r["sent_at_ms"] >= 3 * rate - 5


def test_engine_transport_mode_equals_join_mode(spark, tmp_path):
    spec = CorpusSpec(n_forges=2, repos_per_forge=25, page_size=10)
    dfs = corpus_to_spark(spark, make_corpus(spec))
    settings = dict(host_buckets=4, items_per_api_call=10, rate_ms=1)

    # reference: documents-join mode
    eng_a = CrawlEngine(spark, str(tmp_path / "wh_join"), CrawlSettings(**settings))
    eng_a.init_state(dfs["seed_forges"], dfs["consent"])
    eng_a.run(dfs["documents"])

    # transport mode: bodies served by a corpus-backed transport
    doc_map = {
        r["doc_id"]: [s.asDict() for s in r["spans"]]
        for r in dfs["documents"].collect()
    }
    eng_b = CrawlEngine(
        spark,
        str(tmp_path / "wh_http"),
        CrawlSettings(**settings, transport=fetcher.corpus_transport(doc_map)),
    )
    eng_b.init_state(dfs["seed_forges"], dfs["consent"])
    eng_b.run()

    def snap(eng):
        u = sorted(
            tuple(r) for r in eng.users.read(spark)
            .select("hostname", "username", "html_link").collect()
        )
        rp = sorted(
            tuple(r) for r in eng.repositories.read(spark)
            .select("hostname", "owner", "name", "html_url").collect()
        )
        seen = sorted(
            tuple(r) for r in eng.url_seen.read(spark)
            .select("key_kind", "hostname", "key1", "key2").collect()
        )
        order = sorted(
            tuple(r) for r in eng.crawl_order().select("seq", "doc_id").collect()
        )
        return u, rp, seen, order

    assert snap(eng_a) == snap(eng_b)

    # a transport fault on one topics URL of batch 2 fails the run loudly,
    # commits nothing of that batch and leaves no cached frame behind; the
    # next run() resumes from batch 1 to the join-mode end state
    fault_url = min(
        r["doc_id"]
        for r in eng_a.visit_log.read(spark)
        .filter("batch_id = 2 AND idx_in_page > 0")
        .collect()
    )
    eng_c = CrawlEngine(
        spark,
        str(tmp_path / "wh_fault"),
        CrawlSettings(
            **settings,
            transport=_fail_once_transport(
                doc_map, fault_url, str(tmp_path / "fault.mark")
            ),
        ),
    )
    eng_c.init_state(dfs["seed_forges"], dfs["consent"])
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    cached_before = cache_manager.numCachedEntries()
    with pytest.raises(Exception, match="injected fault"):
        eng_c.run()
    assert cache_manager.numCachedEntries() == cached_before
    snap_batches = {
        sn.summary.get("batch_id") for tbl in eng_c._tables for sn in tbl.snapshots()
    }
    assert snap_batches == {0, 1}
    eng_c.run()
    assert snap(eng_c) == snap(eng_a)


def _fail_once_transport(doc_map, fault_url, marker):
    """Corpus-backed transport that raises on the first request for
    ``fault_url``; the marker file makes "first" hold across the worker
    processes."""

    def _t(url):
        import os

        if url == fault_url and not os.path.exists(marker):
            open(marker, "w").close()
            raise ConnectionResetError(f"injected fault: {url}")
        return doc_map.get(url)

    return _t


def _counting_corpus_transport(doc_map, log_path):
    """Corpus-backed transport that also appends every fetched URL to a
    file (workers are separate processes)."""

    def _t(url):
        with open(log_path, "a") as f:
            f.write(url + "\n")
        return doc_map.get(url)

    return _t


def test_engine_transport_with_budget_no_refetch(spark, tmp_path):
    """Budgeted real-fetch crawl: deferred hosts carry their fetched bodies
    in the body cache, so (a) the end state equals the budgeted join-mode
    crawl and (b) NO URL is ever fetched twice — resumed pages come from
    the cache, carried topic rows were fetched when scheduled."""
    spec = CorpusSpec(n_forges=2, repos_per_forge=25, page_size=10)
    dfs = corpus_to_spark(spark, make_corpus(spec))
    # rate 1ms, budget 6ms → page + 5 topic calls per host per batch: every
    # page defers some of its 10 topic fetches at least once
    settings = dict(host_buckets=4, items_per_api_call=10, rate_ms=1, budget_ms=6)

    eng_a = CrawlEngine(spark, str(tmp_path / "wh_join_b"), CrawlSettings(**settings))
    eng_a.init_state(dfs["seed_forges"], dfs["consent"])
    eng_a.run(dfs["documents"])

    doc_map = {
        r["doc_id"]: [s.asDict() for s in r["spans"]]
        for r in dfs["documents"].collect()
    }
    log = str(tmp_path / "fetches.log")
    open(log, "w").close()
    eng_b = CrawlEngine(
        spark,
        str(tmp_path / "wh_http_b"),
        CrawlSettings(**settings, transport=_counting_corpus_transport(doc_map, log)),
    )
    eng_b.init_state(dfs["seed_forges"], dfs["consent"])
    eng_b.run()

    cols_r = ["hostname", "owner", "name", "html_url", "tags"]
    a_rep = sorted(
        (r["hostname"], r["owner"], r["name"], r["html_url"], tuple(r["tags"] or []))
        for r in eng_a.repositories.read(spark).select(*cols_r).collect()
    )
    b_rep = sorted(
        (r["hostname"], r["owner"], r["name"], r["html_url"], tuple(r["tags"] or []))
        for r in eng_b.repositories.read(spark).select(*cols_r).collect()
    )
    assert a_rep == b_rep  # incl. tags: carried topic bodies arrived intact
    a_vis = sorted(
        tuple(r) for r in eng_a.visit_log.read(spark)
        .select("hostname", "page", "idx_in_page", "doc_id").collect()
    )
    b_vis = sorted(
        tuple(r) for r in eng_b.visit_log.read(spark)
        .select("hostname", "page", "idx_in_page", "doc_id").collect()
    )
    assert a_vis == b_vis

    fetched = [ln.strip() for ln in open(log) if ln.strip()]
    dupes = {u for u in fetched if fetched.count(u) > 1}
    assert not dupes, f"refetched URLs: {sorted(dupes)[:5]}"
    # every visit-logged fetch actually happened, exactly once
    assert sorted(fetched) == sorted(v[3] for v in b_vis)


# -- real HTTP transport (VERDICT r3 "do this" #7) ---------------------------


@pytest.fixture()
def http_srv():
    """Local HTTP fixture: records request UA/paths; /missing* → 404,
    /slow* → 2 s delay, everything else → 200 JSON body."""
    import http.server
    import json
    import threading
    import time

    seen = {"ua": None, "paths": []}

    class _H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            seen["ua"] = self.headers.get("User-Agent")
            seen["paths"].append(self.path)
            if self.path.startswith("/missing"):
                self.send_response(404)
                self.end_headers()
                return
            if self.path.startswith("/slow"):
                time.sleep(2)
            body = json.dumps({"ok": True, "path": self.path}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv, seen
    srv.shutdown()


def test_http_transport_ua_and_spans(http_srv):
    """UA is the reference's {version}---{pkg}---{host} (src/ctx.rs:40-55);
    a 200 body lands as one api_json span at offset 0."""
    from starchart_spark.crawl.fetcher import HttpTransport

    srv, seen = http_srv
    port = srv.server_address[1]
    t = HttpTransport("me.example:8080", version="1.2.3", pkg="starchart-spark")
    spans = t(f"http://127.0.0.1:{port}/api/v1/repos/search?page=1")
    assert seen["ua"] == "1.2.3---starchart-spark---me.example:8080"
    assert len(spans) == 1
    s = spans[0]
    assert s["kind"] == "api_json" and s["offset"] == 0
    assert '"ok": true' in s["text"]


def test_http_transport_404_is_sentinel(http_srv):
    from starchart_spark.crawl.fetcher import HttpTransport

    srv, _ = http_srv
    port = srv.server_address[1]
    t = HttpTransport("me.example")
    assert t(f"http://127.0.0.1:{port}/missing/page") is None


def test_http_transport_nodeinfo_probe(http_srv):
    """S2: is_forge probes GITEA_NODEINFO (forge/gitea/src/lib.rs:32);
    unreachable host → False, answering host → True."""
    from starchart_spark.crawl.fetcher import HttpTransport, NODEINFO_PATH

    srv, seen = http_srv
    port = srv.server_address[1]
    t = HttpTransport("me.example")
    assert t.is_forge(f"http://127.0.0.1:{port}/")
    assert seen["paths"][-1] == NODEINFO_PATH
    # closed port: probe is False, never raises
    assert not t.is_forge("http://127.0.0.1:1/")


def test_http_transport_timeout_enforced(http_srv):
    """client_timeout semantics (src/ctx.rs:29): a response slower than the
    configured timeout raises instead of hanging the politeness schedule."""
    from starchart_spark.crawl.fetcher import CLIENT_TIMEOUT_S, HttpTransport

    srv, _ = http_srv
    port = srv.server_address[1]
    assert CLIENT_TIMEOUT_S == 60.0  # reference default
    t = HttpTransport("me.example", timeout_s=0.5)
    with pytest.raises(Exception):
        t(f"http://127.0.0.1:{port}/slow")


def test_http_transport_picklable():
    """The transport crosses the driver→executor boundary by pickle."""
    import pickle

    from starchart_spark.crawl.fetcher import HttpTransport

    t = HttpTransport("me.example:8080", parser=None)
    t2 = pickle.loads(pickle.dumps(t))
    assert t2.user_agent == t.user_agent and t2.timeout_s == t.timeout_s


def test_engine_e2e_over_http_transport(spark, tmp_path):
    """Full crawl through the REAL HttpTransport: a local HTTP server
    serves the corpus bodies (404 for missing pages — the termination
    sentinel travels over the wire), the engine runs in transport mode
    hitting it, and the final users/repositories/url_seen/crawl-order
    equal the documents-join reference run. Also asserts the reference UA
    reached the server on every request."""
    import http.server
    import json as _json
    import threading
    import urllib.parse

    spec = CorpusSpec(n_forges=2, repos_per_forge=10, page_size=5)
    dfs = corpus_to_spark(spark, make_corpus(spec))
    settings = dict(host_buckets=4, items_per_api_call=5, rate_ms=1)

    # reference: documents-join mode
    eng_a = CrawlEngine(spark, str(tmp_path / "wh_ref"), CrawlSettings(**settings))
    eng_a.init_state(dfs["seed_forges"], dfs["consent"])
    eng_a.run(dfs["documents"])

    # corpus served over HTTP: GET /fetch?url=<quoted original url>
    doc_map = {
        r["doc_id"]: [s.asDict() for s in r["spans"]]
        for r in dfs["documents"].collect()
    }
    uas = set()

    class _H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            uas.add(self.headers.get("User-Agent"))
            q = urllib.parse.urlparse(self.path).query
            url = urllib.parse.parse_qs(q).get("url", [""])[0]
            spans = doc_map.get(url)
            if spans is None:
                self.send_response(404)
                self.end_headers()
                return
            body = _json.dumps(spans).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]

    # the real client with the reference UA + a spans-JSON parser; the
    # closure maps forge URLs onto the local fixture (cloudpickle ships it
    # by value into the Python workers, which reach the server over TCP)
    http_t = fetcher.HttpTransport(
        "me.example:3000", version="9.9.9",
        parser=lambda _u, body: __import__("json").loads(body),
    )
    base = f"http://127.0.0.1:{port}/fetch?url="

    def transport(url):
        return http_t(base + urllib.parse.quote(url, safe=""))

    eng_b = CrawlEngine(
        spark, str(tmp_path / "wh_httpd"),
        CrawlSettings(**settings, transport=transport),
    )
    eng_b.init_state(dfs["seed_forges"], dfs["consent"])
    eng_b.run()
    srv.shutdown()

    def snap(eng):
        u = sorted(
            tuple(r) for r in eng.users.read(spark)
            .select("hostname", "username", "html_link").collect()
        )
        rp = sorted(
            tuple(r) for r in eng.repositories.read(spark)
            .select("hostname", "owner", "name", "html_url").collect()
        )
        order = sorted(
            tuple(r) for r in eng.crawl_order().select("seq", "doc_id").collect()
        )
        return u, rp, order

    assert snap(eng_a) == snap(eng_b)
    assert uas == {"9.9.9---starchart-spark---me.example:3000"}
