"""Wire-client config parity with the reference's ES client factory
(config/elasticsearch.js:42-138): AUTH_TOKEN Authorization header on
every request type, path-prefix URLs honored end-to-end, version probe
on reachability, version-gated features (sliced scroll >= 5, exact
totals >= 7), request timeouts, and the constant-memory page pipeline
(transfer.js:119-166)."""
import json
import ssl
from types import SimpleNamespace

import pytest

from chillastic_spark.sources import es_rest
from chillastic_spark.sources.es_rest import ESStore, Wire
from es_fixture import FakeES

TOKEN = "Basic Y2hpbGw6dGFzdGlj"


@pytest.fixture
def authed_es():
    es = FakeES(auth_token=TOKEN)
    url = es.start()
    yield es, url
    es.stop()


def test_auth_header_reaches_every_request_type(spark, authed_es):
    """The reference forwards AUTH_TOKEN verbatim on every request
    (config/elasticsearch.js:54-57); the fixture 401s anything without
    it, so success here proves the header rode along on catalog,
    template, search, scroll, clear-scroll, bulk, and root probes."""
    es, url = authed_es
    es.seed("ix", "t1", {f"d{i}": {"v": i} for i in range(12)})
    es.seed_template("tpl", {"index_patterns": ["ix*"]})
    store = ESStore(url, auth_token=TOKEN, slices=2)

    assert store.reachable()                       # root (version probe)
    assert store.get_indices("ix*")[0]["name"] == "ix"      # catalog
    assert store.get_templates("tpl")[0]["name"] == "tpl"   # template
    store.put_indices([{"name": "ix2", "settings": {}}])
    assert store.count(spark, "ix", "t1") == 12             # size=0 search
    df = store.read(spark, "ix", "t1", flush_size=5)        # search+scroll
    assert df.count() == 12
    assert store.deliver(spark, df, flush_size=5) == 12     # bulk
    assert store.purge(spark, "ix", ["d3"]) == 1            # ids scan+delete

    kinds = {r["kind"] for r in es.request_log}
    assert {"root", "catalog", "template", "search", "scroll",
            "clear_scroll", "bulk"} <= kinds
    assert all(r["auth"] == TOKEN for r in es.request_log)


def test_missing_auth_is_rejected(spark, authed_es):
    _es, url = authed_es
    store = ESStore(url)  # no token
    assert not store.reachable()  # 401 on the probe
    with pytest.raises(Exception):
        store.get_indices("ix*")


def test_path_prefix_honored_on_all_requests(spark):
    """A base URL carrying a path prefix (https proxy deployments,
    config/elasticsearch.js:49-52) keeps the prefix on every request —
    the fixture 404s any bare-path request."""
    es = FakeES(path_prefix="/es/v1")
    url = es.start()
    try:
        assert url.endswith("/es/v1")
        es.seed("ix", "t1", {f"d{i}": {"v": i} for i in range(7)})
        store = ESStore(url, slices=2)
        assert store.reachable()
        assert store.count(spark, "ix") == 7
        df = store.read(spark, "ix", flush_size=3)
        assert df.count() == 7
        assert store.deliver(spark, df, flush_size=3) == 7
        assert [c["name"] for c in store.get_indices("ix*")] == ["ix"]
    finally:
        es.stop()


def test_version_probe_gates_sliced_scroll(spark):
    """ES < 5.0 has no sliced scroll: a multi-slice read degrades to a
    single executor-side scroll instead of sending a slice body the
    cluster would reject."""
    es = FakeES(version="2.4.6")
    url = es.start()
    try:
        es.seed("ix", "t1", {f"d{i}": {"v": i} for i in range(9)})
        store = ESStore(url, slices=4)
        assert store.reachable()
        assert store.read(spark, "ix", flush_size=4).count() == 9
        assert all(st["slice"] is None for st in es.scrolls.values())
    finally:
        es.stop()


def test_es7_object_totals_and_capped_total_drain(spark):
    """ES >= 7 returns hits.total as {value, relation} and caps it at
    10k by default; the scroll loop must never trust an inexact total
    (relation: gte) — it drains to the empty page instead."""
    es = FakeES(version="7.10.2", total_cap=5)
    url = es.start()
    try:
        es.seed("ix", "t1", {f"d{i}": {"v": i} for i in range(23)})
        store = ESStore(url, slices=1)
        # full drain despite the total reading {value: 5, relation: gte}
        assert store.read(spark, "ix", flush_size=4).count() == 23
        # count() asks for exact totals (track_total_hits), which real
        # ES answers exactly even when the default total is capped
        assert store.count(spark, "ix") == 23
    finally:
        es.stop()


def test_es7_exact_totals_count(spark):
    es = FakeES(version="7.10.2")
    url = es.start()
    try:
        es.seed("ix", "t1", {f"d{i}": {"v": i} for i in range(23)})
        store = ESStore(url, slices=1)
        assert store.count(spark, "ix") == 23
        assert store.read(spark, "ix", flush_size=10).count() == 23
    finally:
        es.stop()


def test_https_url_builds_tls_context():
    w = Wire("https://example.invalid:9243/es")
    assert w.is_https
    ctx = w._ssl_context()
    assert isinstance(ctx, ssl.SSLContext) and ctx.check_hostname
    insecure = Wire("https://example.invalid:9243", insecure=True)._ssl_context()
    assert insecure.verify_mode == ssl.CERT_NONE
    assert Wire("http://example.invalid:9200")._ssl_context() is None


def test_wire_timeout_configured(monkeypatch):
    """Every request carries a timeout — a hung cluster can't block a
    worker thread forever (the retry/backoff never even started
    otherwise)."""
    seen = {}

    class FakeResp:
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def read(self):
            return b"{}"

    def fake_urlopen(req, timeout=None, context=None):
        seen["timeout"] = timeout
        return FakeResp()

    monkeypatch.setattr(es_rest.urllib.request, "urlopen", fake_urlopen)
    Wire("http://h:9200", timeout=7.5).get("/")
    assert seen["timeout"] == 7.5


def test_auth_token_defaults_from_env(monkeypatch):
    monkeypatch.setenv("AUTH_TOKEN", "Bearer zzz")
    assert Wire("http://h:9200").auth_token == "Bearer zzz"
    monkeypatch.delenv("AUTH_TOKEN")
    assert Wire("http://h:9200").auth_token is None


# --------------------------------------------------------------- pipe
def _reroute(dest_index):
    return SimpleNamespace(
        predicate=lambda doc, args: True,
        mutate=lambda doc, args: {**doc, "_index": dest_index},
        arguments=None,
    )


def test_pipe_is_page_streamed_constant_memory():
    """The r3 #2 item: the driver path reads a page, mutates it, and
    delivers it BEFORE fetching the next page (transfer.js:119-166).
    Proven two ways on a slice ≫ flush_size: the internal high-water
    mark never exceeds one flush batch, and on the wire the bulks
    interleave with the scrolls (a buffer-everything implementation
    would emit all scrolls first)."""
    es = FakeES()
    url = es.start()
    try:
        es.seed("src_ix", "t1", {f"d{i:04d}": {"v": i} for i in range(500)})
        stats = es_rest.pipe(
            url, url, "src_ix", "t1", flush_size=20,
            mutators=[_reroute("dst_ix")],
        )
        assert stats == {"delivered": 500, "scanned": 500, "peak_buffered": 20}
        assert len(es.contents("dst_ix")) == 500
        # wire-order proof of streaming: bulks happen between scrolls
        kinds = [r["kind"] for r in es.request_log]
        first_bulk = kinds.index("bulk")
        last_scroll = len(kinds) - 1 - kinds[::-1].index("scroll")
        assert first_bulk < last_scroll
        # each bulk bounded by flush_size docs
        sizes = [len(b.strip().splitlines()) // 2 for b in es.bulk_bodies]
        assert max(sizes) <= 20 and sum(sizes) == 500
    finally:
        es.stop()


def test_pipe_applies_mutator_drops():
    es = FakeES()
    url = es.start()
    try:
        es.seed("a", "t1", {f"d{i}": {"v": i} for i in range(10)})
        drop_odd = SimpleNamespace(
            predicate=lambda doc, args: doc["_source"]["v"] % 2 == 1,
            mutate=lambda doc, args: None,
            arguments=None,
        )
        stats = es_rest.pipe(url, url, "a", "t1", flush_size=3,
                             mutators=[_reroute("b"), drop_odd])
        assert stats["scanned"] == 10 and stats["delivered"] == 5
        assert sorted(es.contents("b")) == [f"d{i}" for i in range(0, 10, 2)]
    finally:
        es.stop()


# -------------------------------------------------------------- purge
def test_purge_dataframe_ids_chunked(spark):
    """Very large victim sets stream off the DataFrame in bounded
    chunks (one ids-query scroll + bulk delete per chunk) — driver
    memory never holds the full id set (parity with the parquet purge,
    sinks/__init__.py)."""
    es = FakeES()
    url = es.start()
    try:
        es.seed("ix", "t1", {f"d{i:03d}": {"v": i} for i in range(40)})
        store = ESStore(url, purge_chunk=7)
        victims = spark.createDataFrame(
            [(f"d{i:03d}",) for i in range(0, 40, 2)], "_id string"
        )
        assert store.purge(spark, "ix", victims) == 20
        assert len(es.contents("ix")) == 20
        # ≥ ceil(20/7) = 3 separate ids-query scans — chunked, not one
        # unbounded ids query
        id_searches = [
            r for r in es.requests_of("search")
        ]
        assert len(id_searches) >= 3
        # idempotent re-run
        assert store.purge(spark, "ix", victims) == 0
    finally:
        es.stop()


def test_bulk_delete_raises_on_item_failures():
    """A right-to-be-forgotten purge must never silently under-delete:
    any non-retryable item error raises (ADVICE r3)."""
    es = FakeES(fail_delete_ids={"d2"})
    url = es.start()
    try:
        es.seed("ix", "t1", {f"d{i}": {"v": i} for i in range(5)})
        with pytest.raises(RuntimeError, match="bulk delete item failures"):
            es_rest.bulk_delete(url, "ix", [("t1", "d1"), ("t1", "d2")])
    finally:
        es.stop()


def test_bulk_delete_retries_rejections_then_succeeds():
    es = FakeES(reject_first_bulks=2)
    url = es.start()
    try:
        es.seed("ix", "t1", {f"d{i}": {"v": i} for i in range(4)})
        n = es_rest.bulk_delete(url, "ix", [("t1", "d0"), ("t1", "d1")],
                                max_retries=5)
        assert n == 2
        assert len(es.contents("ix")) == 2
    finally:
        es.stop()


def test_bulk_delete_omits_null_type():
    es = FakeES()
    url = es.start()
    try:
        es.seed("ix", "t1", {"d0": {"v": 0}})
        # typeless key: the action must omit _type, not serialize null
        es_rest.bulk_delete(url, "ix", [(None, "ghost")])
        action = json.loads(es.bulk_bodies[-1].splitlines()[0])
        assert "_type" not in action["delete"]
    finally:
        es.stop()


def test_bulk_delete_counts_successes_on_partial_rejection():
    """Real ES rejects PER ITEM: when half a batch succeeds and half is
    429-rejected, the retry must resend only the rejected actions and
    the final count must include the first attempt's successes — a
    whole-payload retry would turn them into not_found and under-report
    the purge."""
    es = FakeES(reject_once_ids={"d1"})
    url = es.start()
    try:
        es.seed("ix", "t1", {f"d{i}": {"v": i} for i in range(3)})
        n = es_rest.bulk_delete(url, "ix", [("t1", "d0"), ("t1", "d1")],
                                max_retries=3)
        assert n == 2
        assert len(es.contents("ix")) == 1
        # the retry bulk carried ONLY the rejected action
        retry_actions = [json.loads(l) for l in es.bulk_bodies[-1].splitlines()]
        assert len(retry_actions) == 1
        assert retry_actions[0]["delete"]["_id"] == "d1"
    finally:
        es.stop()


def test_bulk_delete_ignores_exception_name_in_doc_id():
    """Rejection detection inspects ONLY the error field: a doc whose
    _id CONTAINS the rejection exception name must delete normally,
    not loop as phantom backpressure until the retry budget raises."""
    es = FakeES()
    url = es.start()
    try:
        evil = "es_rejected_execution_exception-user"
        es.seed("ix", "t1", {evil: {"v": 1}, "d1": {"v": 2}})
        n = es_rest.bulk_delete(
            url, "ix", [("t1", evil), ("t1", "d1")], max_retries=1
        )
        assert n == 2
        assert es.contents("ix") == {}
    finally:
        es.stop()


def test_bulk_upsert_partial_rejection_resends_only_rejected_item():
    """The upsert path's per-item retry accounting, exercised over the
    wire: one item of a 2-doc bulk is 429-rejected; the retry carries
    ONLY that op and every doc lands exactly once."""
    from chillastic_spark.sources.es_rest import Wire, _send_bulk, doc_to_bulk

    es = FakeES(reject_once_ids={"d1"})
    url = es.start()
    try:
        docs = [
            {"_index": "ix", "_type": "t1", "_id": "d0", "_source": {"v": 0}},
            {"_index": "ix", "_type": "t1", "_id": "d1", "_source": {"v": 1}},
        ]
        lines = [l for d in docs for l in doc_to_bulk(d)]
        n = _send_bulk(Wire(url), lines, n_docs=2, max_retries=3)
        assert n == 2
        assert set(es.contents("ix")) == {"d0", "d1"}
        retry_ops = [
            json.loads(l) for l in es.bulk_bodies[-1].splitlines()
        ]
        metas = [op for op in retry_ops if "update" in op]
        assert len(metas) == 1 and metas[0]["update"]["_id"] == "d1"
    finally:
        es.stop()


def test_bulk_delete_pre5_found_shape():
    """ES 1.x-4.x delete items report found: true/false with no
    'result' key — both are successes, not item failures (a 2.x purge
    used to classify every successful delete as a hard failure)."""
    es = FakeES(version="2.4.6")
    url = es.start()
    try:
        es.seed("ix", "t1", {f"d{i}": {"v": i} for i in range(3)})
        n = es_rest.bulk_delete(url, "ix", [("t1", "d0"), ("t1", "d1")])
        assert n == 2
        assert len(es.contents("ix")) == 1
        # idempotent re-run: found=false items count 0, no raise
        assert es_rest.bulk_delete(url, "ix", [("t1", "d0")]) == 0
    finally:
        es.stop()


def test_doc_to_bulk_tolerates_missing_type_and_source():
    """A mutator may return a rebuilt doc without _type (typeless ES 7+
    target) or without a body — JSON.stringify drops undefined in the
    reference's docToBulk, so neither may crash the transfer."""
    from chillastic_spark.sources.es_rest import doc_to_bulk

    action, body = doc_to_bulk({"_index": "ix", "_id": "d1"})
    assert "_type" not in json.loads(action)["update"]
    assert json.loads(body) == {"doc": {}, "doc_as_upsert": True}


def test_deliver_rows_null_source_upserts_empty_doc():
    """The envelope schema allows NULL _source (a _source-disabled
    index scans to hits with no body): delivery must upsert an empty
    doc, not TypeError in the executor."""
    from chillastic_spark.sources.es_rest import _deliver_rows

    es = FakeES()
    url = es.start()
    try:
        n = _deliver_rows(
            [
                {"_index": "ix", "_type": "t1", "_id": "d0", "_source": None},
                {"_index": "ix", "_type": "t1", "_id": "d1",
                 "_source": json.dumps({"v": 1})},
            ],
            es_rest.as_wire(url),
        )
        assert n == 2
        assert len(es.contents("ix")) == 2
    finally:
        es.stop()


def test_list_data_indices_pushes_es_safe_patterns_server_side():
    es = FakeES()
    url = es.start()
    try:
        es.seed("alpha1", "t1", {"d0": {}})
        es.seed("alpha2", "t1", {"d0": {}})
        es.seed("beta1", "t1", {"d0": {}})
        store = ESStore(url)
        assert store.list_data_indices("alpha*") == ["alpha1", "alpha2"]
        # fnmatch metacharacters ES doesn't speak still work
        assert store.list_data_indices("alpha?") == ["alpha1", "alpha2"]
        assert store.list_data_indices("[ab]*1") == ["alpha1", "beta1"]
    finally:
        es.stop()


def _es_knobs_with(**env_vars):
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from chillastic_spark.sources import es_rest as e\n"
        "n = e._resolve_slices(e.Wire('http://localhost:1'), None, None)\n"
        "print(e.DEFAULT_TIMEOUT, e.DEFAULT_SLICES, n)\n"
    )
    return subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo, env=dict(os.environ, **env_vars),
        capture_output=True, text=True, timeout=120,
    )


@pytest.mark.parametrize(
    "name,value",
    [
        ("CHILLASTIC_ES_TIMEOUT", "soon"),
        ("CHILLASTIC_ES_TIMEOUT", "-5"),
        ("CHILLASTIC_ES_TIMEOUT", "inf"),
        ("CHILLASTIC_ES_SLICES", "many"),
        ("CHILLASTIC_ES_SLICES", "2.5"),
    ],
)
def test_malformed_es_env_knob_falls_back_with_a_warning(name, value):
    """A malformed ES knob must neither break ``import es_rest`` (the
    timeout is parsed at import) nor raise on the first scan (the
    slices knob used to blow up inside ``_resolve_slices``): both fall
    back to their defaults, 30 s and ``auto``, with a stderr warning."""
    p = _es_knobs_with(**{name: value})
    assert p.returncode == 0, p.stderr
    assert p.stdout.split() == ["30.0", "auto", "1"]
    assert name in p.stderr and repr(value) in p.stderr


def test_valid_es_env_knobs_are_used_silently():
    p = _es_knobs_with(CHILLASTIC_ES_TIMEOUT="7.5", CHILLASTIC_ES_SLICES="1")
    assert p.returncode == 0, p.stderr
    assert p.stdout.split() == ["7.5", "1", "1"]
    assert "CHILLASTIC_ES" not in p.stderr
