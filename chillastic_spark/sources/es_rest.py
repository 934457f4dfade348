"""Jar-free Elasticsearch REST adapter: the reference's scan-scroll →
bulk-upsert data plane over plain HTTP.

Two ES paths exist in this repo:

* ``sources/elasticsearch.py`` — the es-hadoop connector options
  (jar-gated; the JVM-native cluster path).
* this module — a self-contained wire client that speaks the exact
  protocol the reference speaks (transfer.js:79-151:
  ``_search?scroll=30m&size=N`` → repeated ``_search/scroll`` until the
  slice is drained; transfer.js:159-189: ``_bulk`` NDJSON of
  ``{"update": {...}}\\n{"doc": ..., "doc_as_upsert": true}``;
  transfer.js:306-352: retry with backoff on
  ``es_rejected_execution_exception``).

Scale model (r3 verdict #1): the scan is EXECUTOR-SIDE. ``scan_to_df``
parallelizes N sliced scrolls (the ES ``slice`` search parameter,
ES >= 5.0) so each Spark task drains its own disjoint 1/N of the slice
— the reference's parallel-workers-each-scrolling-a-slice shape
(worker.js:61-123, transfer.js:103-151) mapped onto Spark tasks. The
slice never materializes on the driver. Delivery is likewise
distributed (``bulk_upsert_distributed``): each task flushes its own
``_bulk`` batches at the planned flushSize. The driver-paged
``pipe()`` remains as the constant-memory single-process fallback with
the reference's exact page → mutate → deliver loop.

On a real cluster ship this package to the Python workers
(``--py-files`` / a cluster-wide env) — the executor closures import it.

Config parity with the reference's client factory
(config/elasticsearch.js:42-138): ``AUTH_TOKEN`` becomes a verbatim
``Authorization`` header on every request, https/path-prefix URLs are
honored as given, a version probe runs on ``ESStore.reachable()`` and
gates version-dependent features (sliced scroll needs >= 5; exact
``track_total_hits`` counts need >= 7 — on 7.x ``hits.total`` is an
object and capped at 10k by default, so the scroll loop never trusts an
inexact total and drains to the empty page instead). All requests carry
a timeout; scroll contexts are cleared on drain instead of waiting out
the TTL.
"""
from __future__ import annotations

import json
import math
import os
import ssl
import time
import urllib.error
import urllib.request
from typing import Iterable, Optional, Union

import fnmatch

from pyspark.sql import DataFrame, SparkSession

from chillastic_spark.knobs import env_knob
from chillastic_spark.sources import (
    ENVELOPE_SCHEMA,
    StoreError,
    clean_index_settings,
    types_of_config,
)
from chillastic_spark.sources.elasticsearch import SCROLL_TTL, _range_body

BULK_REJECTED = "es_rejected_execution_exception"


def _seconds(raw: str) -> float:
    t = float(raw)
    if not 0 < t < math.inf:
        raise ValueError(raw)
    return t


DEFAULT_TIMEOUT = env_knob(
    "CHILLASTIC_ES_TIMEOUT", 30.0, _seconds, "a positive number of seconds"
)
# per-slice scroll fan-out: an integer, or "auto" (sized off
# spark.defaultParallelism)
DEFAULT_SLICES = env_knob(
    "CHILLASTIC_ES_SLICES", "auto",
    lambda raw: raw if raw == "auto" else int(raw), 'an integer or "auto"',
)
WORKER_HEADER = "X-Chillastic-Worker"


class Wire:
    """Picklable per-cluster HTTP config: base URL (scheme, host, and
    any path prefix preserved verbatim — ``https://host:443/es`` keeps
    ``/es`` on every request), optional ``Authorization`` header (the
    reference forwards ``AUTH_TOKEN`` on every request,
    config/elasticsearch.js:54-57), request timeout, and extra headers.
    Executor scan/deliver tasks carry a Wire into their closures."""

    def __init__(
        self,
        base_url: str,
        auth_token: Optional[str] = None,
        timeout: float = DEFAULT_TIMEOUT,
        headers: Optional[dict] = None,
        insecure: bool = False,
    ):
        self.base_url = base_url.rstrip("/")
        if auth_token is None:
            auth_token = os.environ.get("AUTH_TOKEN")
        self.auth_token = auth_token
        self.timeout = timeout
        self.headers = dict(headers or {})
        self.insecure = insecure
        self._version: Optional[tuple] = None

    # ------------------------------------------------------------ http
    @property
    def is_https(self) -> bool:
        return self.base_url.startswith("https://")

    def _ssl_context(self):
        if not self.is_https:
            return None
        ctx = ssl.create_default_context()
        if self.insecure:
            ctx.check_hostname = False
            ctx.verify_mode = ssl.CERT_NONE
        return ctx

    def with_headers(self, **hdrs: str) -> "Wire":
        w = Wire(self.base_url, self.auth_token, self.timeout,
                 {**self.headers, **hdrs}, self.insecure)
        w._version = self._version
        return w

    def request(
        self, method: str, path: str, body: "dict | list | str | None" = None,
        ndjson: bool = False,
    ) -> dict:
        headers = {
            "Content-Type": "application/x-ndjson" if ndjson else "application/json"
        }
        if self.auth_token:
            headers["Authorization"] = self.auth_token
        headers.update(self.headers)
        data = None
        if body is not None:
            data = (body if isinstance(body, str) else json.dumps(body)).encode()
        req = urllib.request.Request(
            self.base_url + path, data=data, headers=headers, method=method
        )
        with urllib.request.urlopen(
            req, timeout=self.timeout, context=self._ssl_context()
        ) as resp:
            return json.loads(resp.read().decode())

    def get(self, path: str) -> dict:
        return self.request("GET", path)

    def put(self, path: str, body: dict) -> dict:
        return self.request("PUT", path, body)

    def post(self, path: str, body: "dict | str | None", ndjson: bool = False) -> dict:
        return self.request("POST", path, body, ndjson=ndjson)

    # --------------------------------------------------------- version
    def version(self) -> tuple:
        """Cluster version as an int tuple, probed once from ``GET /``
        (the reference's blocking version negotiation,
        config/elasticsearch.js:80-104). ``()`` when unreachable or
        unparsable — callers degrade to the conservative choice."""
        if self._version is None:
            try:
                num = self.get("/")["version"]["number"]
                parsed = tuple(int(p) for p in num.split(".") if p.isdigit())
            except Exception:  # noqa: BLE001 — probe is best-effort; a
                return ()      # failure is NOT cached (cluster may come up)
            if not parsed:
                # a live cluster with an unparsable build string is a
                # success-shaped failure — don't cache the empty tuple
                # (it would mark the cluster unreachable forever)
                return ()
            self._version = parsed
        return self._version

    def major_version(self) -> int:
        v = self.version()
        return v[0] if v else 0


WireLike = Union[str, Wire]


def as_wire(x: WireLike) -> Wire:
    return x if isinstance(x, Wire) else Wire(x)


def _total_of(resp: dict) -> "tuple[int, bool]":
    """(total, exact): ES < 7 returns an int; >= 7 an object whose
    ``relation`` may be ``gte`` (capped at 10k without
    ``track_total_hits``) — an inexact total must never terminate a
    scroll early."""
    t = resp["hits"]["total"]
    if isinstance(t, dict):
        return int(t.get("value", 0)), t.get("relation", "eq") == "eq"
    return int(t), True


def scan(
    base_url: WireLike,
    index: str,
    doc_type: Optional[str] = None,
    flush_size: int = 100,
    min_size: float = -1,
    max_size: float = -1,
    body: "Optional[dict]" = None,
    slice_id: Optional[int] = None,
    slice_max: Optional[int] = None,
    include_source: bool = True,
) -> "Iterable[dict]":
    """Scan-and-scroll generator yielding raw hit dicts — the
    transfer.js:119-146 loop: page, then keep scrolling until the slice
    is drained (exact-total shortcut when available, empty-page stop
    otherwise). ``body`` overrides the query (e.g. an ids query for
    purge); the default is the subtask ``_size``-range body when bounds
    are given. ``slice_id``/``slice_max`` request a sliced scroll
    (disjoint 1/max of the hits — the executor-parallel scan unit).
    The scroll context is cleared when the generator finishes."""
    wire = as_wire(base_url)
    path = f"/{index}" + (f"/{doc_type}" if doc_type else "")
    if body is None and min_size >= 0 and max_size >= 0:
        body = _range_body(min_size, max_size)  # subtask.js:61-74
    if slice_max is not None and slice_max > 1:
        body = dict(body or {})
        body["slice"] = {"id": int(slice_id or 0), "max": int(slice_max)}
    if not include_source:
        # metadata-only scroll: planning must not ship every document
        # body over the wire
        body = dict(body or {})
        body["_source"] = False
    # the mapper-size plugin's _size is NOT part of hit metadata on a
    # real cluster unless the request asks for it — without the ask,
    # every envelope/planning size reads NULL and the size-bucket
    # planner degenerates to one bucket. Pre-5 wires spell the ask
    # 'fields'; 5+ 'docvalue_fields'. (The fixture only serves _size
    # when asked, under hits[].fields, mirroring real ES.)
    body = dict(body or {})
    size_key = "fields" if wire.major_version() < 5 else "docvalue_fields"
    if "_size" not in (body.get(size_key) or []):
        body[size_key] = list(body.get(size_key) or []) + ["_size"]
    resp = wire.post(f"{path}/_search?scroll={SCROLL_TTL}&size={flush_size}", body)
    scrolled = 0
    scroll_id = resp.get("_scroll_id")
    try:
        while True:
            hits = resp["hits"]["hits"]
            for h in hits:
                scrolled += 1
                yield h
            total, exact = _total_of(resp)
            if not hits or (exact and scrolled >= total):
                return
            # continuation keep-alive is '1h' exactly like the reference
            # (transfer.js:79-83 scroll: '1h')
            resp = wire.post(
                "/_search/scroll", {"scroll_id": scroll_id, "scroll": "1h"}
            )
            scroll_id = resp.get("_scroll_id", scroll_id)
    finally:
        if scroll_id:  # free the context now, not at TTL expiry
            try:
                wire.request("DELETE", "/_search/scroll",
                             {"scroll_id": [scroll_id]})
            except Exception:  # noqa: BLE001 — cleanup is best-effort
                pass


def _resolve_slices(wire: Wire, slices, spark: Optional[SparkSession]) -> int:
    """Slice fan-out for one scan: explicit int wins; "auto" sizes off
    the session's parallelism (capped — each slice is its own scroll
    context on the cluster); forced to 1 on ES < 5.0 (no sliced
    scroll) or when the version probe fails."""
    if slices is None:
        slices = DEFAULT_SLICES
    if isinstance(slices, str):
        if slices == "auto":
            par = spark.sparkContext.defaultParallelism if spark is not None else 1
            n = max(1, min(4, par))
        else:
            n = int(slices)
    else:
        n = int(slices)
    if n > 1 and wire.major_version() < 5:
        n = 1
    return max(1, n)


def scan_to_df(
    spark: SparkSession,
    base_url: WireLike,
    index: str,
    doc_type: Optional[str] = None,
    flush_size: int = 100,
    min_size: float = -1,
    max_size: float = -1,
    slices=None,
    include_source: bool = True,
) -> DataFrame:
    """Executor-side partitioned scan of one (index[,type][,size-range])
    slice: N Spark tasks each drain their own sliced scroll and yield
    envelope rows — no page, let alone the whole slice, is ever
    buffered on the driver (this replaces the r3 driver-side
    materialization). Each task tags its requests with a worker header
    so tests (and cluster operators) can attribute wire traffic to
    tasks."""
    wire = as_wire(base_url)
    n = _resolve_slices(wire, slices, spark)

    def scan_partition(slice_ids):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        for sid in slice_ids:
            worker = str(ctx.partitionId()) if ctx is not None else str(sid)
            w = wire.with_headers(**{WORKER_HEADER: worker})
            for h in scan(
                w, index, doc_type, flush_size, min_size, max_size,
                slice_id=sid, slice_max=n if n > 1 else None,
                include_source=include_source,
            ):
                yield (
                    h["_index"],
                    h.get("_type"),
                    str(h["_id"]),
                    json.dumps(h["_source"], sort_keys=True)
                    if h.get("_source") is not None
                    else None,
                    _hit_size(h),
                )

    rdd = spark.sparkContext.parallelize(range(n), n).mapPartitions(scan_partition)
    return spark.createDataFrame(rdd, ENVELOPE_SCHEMA)


def doc_to_bulk(doc: dict) -> list[str]:
    """One document → its two NDJSON bulk lines, field-for-field the
    reference's docToBulk (transfer.js:175-189). A mutator may return a
    rebuilt doc without ``_type`` (typeless ES 7+ targets) or without a
    body — tolerate both like JSON.stringify drops undefined; only
    ``_index`` and ``_id`` are hard requirements of the update op."""
    meta = {"_index": doc["_index"], "_type": doc.get("_type"), "_id": doc["_id"]}
    if meta["_type"] is None:
        del meta["_type"]  # JSON.stringify drops undefined; ES rejects null
    return [
        json.dumps({"update": meta}, separators=(",", ":")),
        json.dumps(
            {"doc": doc.get("_source") or {}, "doc_as_upsert": True},
            separators=(",", ":"),
        ),
    ]


def _hit_size(h: dict):
    """A hit's mapper-size value: real ES serves requested doc values
    under ``hits[].fields._size`` (a one-element list); a top-level
    ``_size`` is kept as a fallback for proxies that inline it."""
    if h.get("_size") is not None:
        return h["_size"]
    v = (h.get("fields") or {}).get("_size")
    return v[0] if v else None


def _item_rejected(err) -> bool:
    """True when a bulk item's ``error`` field is a queue rejection
    (retryable). ES ≥ 2 reports a dict with a ``type`` chain; ES 1.x
    reports a plain string — inspect ONLY the error field, never the
    serialized item (an ``_id`` containing the exception name must not
    look like a rejection)."""
    while isinstance(err, dict):
        if err.get("type") == BULK_REJECTED:
            return True
        err = err.get("caused_by")
    return isinstance(err, str) and BULK_REJECTED in err


def _post_bulk(
    wire: Wire, payload: str, attempt: int, max_retries: int,
    backoff_sec: float, what: str = "bulk",
) -> "dict | None":
    """POST one ``_bulk`` NDJSON payload, converting a WHOLE-REQUEST
    HTTP 429 into the same backoff discipline as per-item rejections:
    a real cluster under write pressure rejects the entire request at
    the HTTP layer (urllib raises HTTPError before any items array
    exists), which used to bypass every retry and kill the task on one
    transient rejection. Returns the parsed response, or None after
    sleeping when the caller should retry. Shared by the upsert and
    delete paths so their backpressure handling can never diverge."""
    import urllib.error

    try:
        return wire.post("/_bulk", payload, ndjson=True)
    except urllib.error.HTTPError as e:
        if e.code == 429:
            if attempt == max_retries:
                raise RuntimeError(
                    f"{what}: whole-request HTTP 429 after "
                    f"{max_retries} retries"
                ) from e
            time.sleep(backoff_sec * (2**attempt))
            return None
        raise


def _send_bulk(
    wire: Wire, lines: list[str], n_docs: int,
    max_retries: int = 5, backoff_sec: float = 0.01,
) -> int:
    """POST one ``_bulk`` upsert payload with per-item retry
    accounting (transfer.js:306-352): items whose error is an
    ``es_rejected_execution_exception`` are RESENT alone with backoff
    (safe — doc_as_upsert is idempotent), so delivered docs are never
    re-upserted alongside them and a permanent mapper/validation
    failure in the same batch raises IMMEDIATELY instead of burning
    every retry and being misreported as a rejection. Each update op
    spans two NDJSON lines (meta + doc), items align 1:1 with ops."""
    pending = lines
    for attempt in range(max_retries + 1):
        resp = _post_bulk(
            wire, "\n".join(pending) + "\n", attempt, max_retries,
            backoff_sec,
        )
        if resp is None:  # whole-request HTTP 429: backed off, retry
            continue
        if not resp.get("errors"):
            return n_docs
        items = resp.get("items", [])
        if 2 * len(items) != len(pending):
            # whole-request rejection shape (fewer items than ops):
            # nothing item-accountable — resend everything if it looks
            # like backpressure, raise otherwise (delete-path parity)
            if any(_item_rejected((next(iter(i.values()), None) or {}).get("error")) for i in items):
                if attempt == max_retries:
                    raise RuntimeError(
                        f"bulk rejected after {max_retries} retries"
                    )
                time.sleep(backoff_sec * (2**attempt))
                continue
            raise RuntimeError(
                f"bulk: {len(items)} items for {len(pending) // 2} ops"
            )
        retry_idx, hard = [], []
        for pos, item in enumerate(items):
            op = next(iter(item.values()), None) or {}
            err = op.get("error")
            if not err:
                continue
            if _item_rejected(err):
                retry_idx.append(pos)
            else:
                hard.append(item)
        if hard:
            raise RuntimeError(f"bulk item failures: {hard[:3]}")
        if not retry_idx:  # errors flag with no item error — surface it
            raise RuntimeError(f"bulk errors without item detail: {resp}")
        if attempt == max_retries:
            raise RuntimeError(
                f"bulk rejected after {max_retries} retries "
                f"({len(retry_idx)} items)"
            )
        pending = [
            ln for pos in retry_idx for ln in pending[2 * pos : 2 * pos + 2]
        ]
        time.sleep(backoff_sec * (2**attempt))
    return n_docs


class _BulkBatcher:
    """THE accumulate-then-``_send_bulk`` flush loop (transfer.js:159-167
    flush threshold), shared by the executor delivery path
    (``_deliver_rows``) and the driver-paged ``pipe`` so the two can
    never diverge on batching semantics. Constant memory: at most one
    pending batch is buffered; ``peak`` is the high-water mark of docs
    pending delivery."""

    def __init__(
        self, wire: Wire, flush_size: int, max_retries: int, backoff_sec: float
    ):
        self.wire = wire
        self.flush_size = flush_size
        self.max_retries = max_retries
        self.backoff_sec = backoff_sec
        self.delivered = 0
        self.peak = 0
        self._batch: list[str] = []
        self._pending = 0

    def add(self, doc: dict) -> None:
        self._batch.extend(doc_to_bulk(doc))
        self._pending += 1
        self.peak = max(self.peak, self._pending)
        if self._pending >= self.flush_size:
            self.flush()

    def flush(self) -> None:
        if self._pending:
            self.delivered += _send_bulk(
                self.wire, self._batch, self._pending,
                self.max_retries, self.backoff_sec,
            )
            self._batch, self._pending = [], 0


def _deliver_rows(
    rows: Iterable,
    wire: Wire,
    flush_size: int = 100,
    max_retries: int = 5,
    backoff_sec: float = 0.01,
) -> int:
    """Stream envelope rows (Row or dict) into ``_bulk`` doc_as_upsert
    batches of ``flush_size`` docs. Returns docs delivered."""
    b = _BulkBatcher(wire, flush_size, max_retries, backoff_sec)
    for row in rows:
        # the envelope schema allows NULL _source (a _source-disabled
        # index scans to hits with no body) — upsert an empty doc, the
        # _id existence still transfers
        src = row["_source"]
        b.add({
            "_index": row["_index"],
            "_type": row["_type"],
            "_id": row["_id"],
            "_source": json.loads(src) if src is not None else {},
        })
    b.flush()
    return b.delivered


def bulk_upsert(
    df: DataFrame,
    base_url: WireLike,
    flush_size: int = 100,
    max_retries: int = 5,
    backoff_sec: float = 0.01,
) -> int:
    """Driver-paged delivery of an envelope DataFrame (constant memory
    via toLocalIterator). Prefer ``bulk_upsert_distributed`` when the
    DataFrame is already partitioned across executors."""
    return _deliver_rows(
        df.toLocalIterator(), as_wire(base_url), flush_size, max_retries, backoff_sec
    )


def bulk_upsert_distributed(
    df: DataFrame,
    base_url: WireLike,
    flush_size: int = 100,
    max_retries: int = 5,
    backoff_sec: float = 0.01,
) -> int:
    """Executor-side delivery: each partition flushes its own ``_bulk``
    batches directly to the cluster — rows never travel through the
    driver. With ``scan_to_df`` upstream this makes the whole
    scan → mutate → deliver pipeline distributed (the reference's
    worker data plane, worker.js:61-123, as Spark tasks)."""
    wire = as_wire(base_url)

    def deliver_partition(rows):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        worker = str(ctx.partitionId()) if ctx is not None else "0"
        w = wire.with_headers(**{WORKER_HEADER: worker})
        yield _deliver_rows(rows, w, flush_size, max_retries, backoff_sec)

    return df.rdd.mapPartitions(deliver_partition).sum()


def pipe(
    source: WireLike,
    dest: WireLike,
    index: str,
    doc_type: Optional[str] = None,
    flush_size: int = 100,
    min_size: float = -1,
    max_size: float = -1,
    mutators: Optional[list] = None,
    max_retries: int = 5,
    backoff_sec: float = 0.01,
) -> dict:
    """Constant-memory driver-paged transfer — the reference's exact
    page pipeline (transfer.js:119-166): each scroll page is mutated
    and delivered before the next page is fetched; at no point are more
    than ~2·flush_size docs in memory (one in-flight page + one pending
    bulk batch). The distributed path (``scan_to_df`` →
    ``bulk_upsert_distributed``) is preferred on a cluster; this is the
    single-process fallback with the reference's memory profile.

    Returns ``{"delivered", "scanned", "peak_buffered"}`` where
    ``peak_buffered`` is the high-water mark of docs pending delivery —
    asserted ≤ flush_size in tests regardless of slice size."""
    from chillastic_spark.operators.mutate import apply_chain

    src, dst = as_wire(source), as_wire(dest)
    b = _BulkBatcher(dst, flush_size, max_retries, backoff_sec)
    scanned = 0
    for h in scan(src, index, doc_type, flush_size, min_size, max_size):
        scanned += 1
        doc = {
            "_index": h["_index"],
            "_type": h.get("_type"),
            "_id": str(h["_id"]),
            # a _source-disabled index scans to hits with no body
            "_source": h.get("_source") or {},
            "_size": _hit_size(h),
        }
        if mutators:
            doc = apply_chain(doc, mutators)
            if doc is None:
                continue
        b.add(doc)
    b.flush()
    return {"delivered": b.delivered, "scanned": scanned, "peak_buffered": b.peak}


class ESStore:
    """The DocumentStore surface spoken over the ES wire protocol, so a
    Task's source/destination can be an http(s) URL and the SAME Engine
    pipeline (admission → backlog planning → scan → mutate → deliver)
    runs against an Elasticsearch cluster — what the reference does
    natively (its source/destination are ES host configs,
    models/task.js).

    Catalog ops map to the index/template APIs the reference's client
    calls (transfer.js:364-372 indices.get, :224-258 indices.create,
    :383-406 getTemplate/putTemplate); data ops ride the executor-side
    scan_to_df / bulk_upsert_distributed above. Planning reads (count,
    size-stats sample) are ``size=0`` searches and scrolls, exactly the
    reference's subtasks.js:97-100 count query.

    ``auth_token`` defaults to the ``AUTH_TOKEN`` env var and is sent
    verbatim as the ``Authorization`` header on every request —
    catalog, search, scroll, and bulk alike (the reference's client
    factory, config/elasticsearch.js:54-57). ``reachable()`` doubles as
    the version probe (config/elasticsearch.js:80-110): the negotiated
    major version gates sliced scrolls (>= 5) and exact totals (>= 7).
    """

    def __init__(
        self,
        base_url: str,
        auth_token: Optional[str] = None,
        timeout: float = DEFAULT_TIMEOUT,
        slices=None,
        insecure: bool = False,
        purge_chunk: int = 10_000,
    ):
        self.wire = Wire(base_url, auth_token, timeout, insecure=insecure)
        self.root = self.wire.base_url
        self.slices = slices
        self.purge_chunk = purge_chunk

    def reachable(self) -> bool:
        """Liveness + version probe in one round-trip: an unparsable or
        unreachable cluster is not admissible (the reference refuses to
        construct a client without a negotiated version,
        config/elasticsearch.js:109-111)."""
        return bool(self.wire.version())

    # ---------------------------------------------------- index configs
    def get_indices(self, pattern: str) -> list[dict]:
        if not isinstance(pattern, str) or not pattern:
            raise StoreError("pattern must be a non-empty string")
        # ES speaks only '*' wildcards: fnmatch metacharacters ('?',
        # '[...]') passed straight through match nothing on a real
        # cluster, and planning would 'succeed' having copied zero
        # documents. Fetch-all + client-side fnmatch keeps parity with
        # the DocumentStore twin (same fallback as list_data_indices).
        if any(ch in pattern for ch in "?["):
            return [
                cfg
                for cfg in self.get_indices("*")
                if fnmatch.fnmatch(cfg["name"], pattern)
            ]
        try:
            resp = self.wire.get(f"/{pattern}")
        except urllib.error.HTTPError as e:
            if e.code == 404:  # no matching index — plan zero subtasks,
                return []      # same as the DocumentStore twin
            raise
        return [dict(cfg, name=name) for name, cfg in sorted(resp.items())]

    def put_indices(self, indices: list[dict]) -> None:
        if not isinstance(indices, list):
            raise StoreError("indices must be a list")
        for index in indices:
            index = json.loads(json.dumps(index))
            name = index.pop("name", None)
            if not isinstance(name, str):
                raise StoreError("index config must carry a string name")
            clean_index_settings(index)  # transfer.js:234-243
            self.wire.put(f"/{name}", index)

    # ------------------------------------------------------- templates
    def get_templates(self, pattern: str) -> list[dict]:
        if not isinstance(pattern, str) or not pattern:
            raise StoreError("pattern must be a non-empty string")
        try:
            resp = self.wire.get(f"/_template/{pattern}")
        except urllib.error.HTTPError as e:
            if e.code == 404:  # transfer.js:397-401
                raise StoreError("Templates asked to be copied, but none found") from e
            raise
        found = [
            dict(cfg, name=name)
            for name, cfg in sorted(resp.items())
            if not any(p.startswith(".") for p in cfg.get("index_patterns", []))
        ]
        if not found:
            raise StoreError("Templates asked to be copied, but none found")
        return found

    def put_templates(self, templates: list[dict]) -> None:
        if not isinstance(templates, list):
            raise StoreError("templates must be a list")
        for template in templates:
            template = json.loads(json.dumps(template))
            name = template.pop("name", None)
            if not isinstance(name, str):
                raise StoreError("template must carry a string name")
            self.wire.put(f"/_template/{name}", template)

    # ------------------------------------------------------------ types
    def types_of(self, index_cfg: dict) -> list[dict]:
        return types_of_config(index_cfg)

    # ------------------------------------------------------------- data
    def list_data_indices(self, pattern: str = "*") -> list[str]:
        # push the pattern server-side when it only uses ES wildcards:
        # GET /* on a big cluster ships every index's full mappings just
        # to produce a name list. fnmatch metacharacters ES doesn't
        # speak ('?', '[...]') keep the fetch-all + client-filter path.
        if not any(ch in pattern for ch in "?["):
            return sorted(c["name"] for c in self.get_indices(pattern))
        return sorted(
            fnmatch.filter((c["name"] for c in self.get_indices("*")), pattern)
        )

    def read(
        self,
        spark: SparkSession,
        index: str,
        type: Optional[str] = None,
        min_size: float = -1,
        max_size: float = -1,
        flush_size: int = 100,
    ) -> DataFrame:
        return scan_to_df(
            spark, self.wire, index, type, flush_size=flush_size,
            min_size=min_size, max_size=max_size, slices=self.slices,
        )

    def read_sizes(
        self, spark: SparkSession, index: str, type: Optional[str] = None
    ) -> DataFrame:
        """One-column planning scan: a metadata-only scroll
        (``_source: false``, page size 10k) shipping just hit metadata
        — plan_bounds needs ONLY ``_size``, and the default read would
        drag every document body across the wire to compute size
        stats (a full-index transfer before the transfer)."""
        return scan_to_df(
            spark, self.wire, index, type, flush_size=10_000,
            slices=self.slices, include_source=False,
        ).select("_size")

    def count(
        self,
        spark: SparkSession,
        index: str,
        type: Optional[str] = None,
        min_size: float = -1,
        max_size: float = -1,
    ) -> int:
        """size=0 count search (subtasks.js:97-100). On ES >= 7 the
        default total is capped at 10k, so the body requests
        ``track_total_hits`` for an exact planning count."""
        path = f"/{index}" + (f"/{type}" if type else "")
        body = _range_body(min_size, max_size) if (min_size >= 0 and max_size >= 0) else None
        if self.wire.major_version() >= 7:
            body = dict(body or {})
            body["track_total_hits"] = True
        total, exact = _total_of(self.wire.post(f"{path}/_search?size=0", body))
        if not exact:
            # version probe transiently failed against an ES >= 7
            # cluster: the total is the 10k cap, not a count. Re-ask
            # WITH track_total_hits (a no-op body key before 7.x, where
            # totals are always exact) instead of silently planning a
            # wrong backlog total.
            body = dict(body or {})
            body["track_total_hits"] = True
            total, exact = _total_of(
                self.wire.post(f"{path}/_search?size=0", body)
            )
            if not exact:
                raise RuntimeError(
                    f"could not obtain an exact count for {path}"
                )
        return total

    def deliver(self, spark: SparkSession, df: DataFrame, flush_size: int = 100) -> int:
        """Sink dispatch target for Transfer: executor-side bulk
        doc_as_upsert at the planned flushSize (transfer.js:159-167) —
        each partition delivers its own batches."""
        return bulk_upsert_distributed(df, self.wire, flush_size=flush_size)

    def index_path(self, index: str) -> str:  # lock key for Transfer
        return f"{self.root}/{index}"

    def purge(
        self,
        spark: SparkSession,
        index: str,
        ids: "DataFrame | list[str]",
        type: Optional[str] = None,
    ) -> int:
        """sinks.purge twin over the wire, sized for very large victim
        sets: ids stream off the DataFrame in ``purge_chunk`` batches
        (toLocalIterator — never a whole-set collect), and each chunk
        is one ids-query scroll + bulk delete. Driver memory is bounded
        by the chunk size regardless of how many billions of ids the
        DataFrame holds (parity with sinks/__init__.py purge)."""
        def id_chunks():
            # NULL ids are skipped, never coerced: str(None) would emit
            # the literal string 'None' into the ids query and DELETE an
            # unrelated document whose _id is literally "None". An ES
            # doc cannot have a NULL _id, so a NULL victim can match
            # nothing — the parquet twin no-ops them the same way.
            if isinstance(ids, list):
                vals = sorted({str(i) for i in ids if i is not None})
                for s in range(0, len(vals), self.purge_chunk):
                    yield vals[s : s + self.purge_chunk]
            else:
                buf: list[str] = []
                for r in ids.select("_id").distinct().toLocalIterator():
                    if r["_id"] is None:
                        continue
                    buf.append(str(r["_id"]))
                    if len(buf) >= self.purge_chunk:
                        yield sorted(buf)
                        buf = []
                if buf:
                    yield sorted(buf)

        deleted = 0
        for vals in id_chunks():
            victims = set(vals)
            # ids query: only the victims travel, not the index
            # _source: false — only (_type, _id) is needed, don't ship
            # every victim's document body back over the wire
            body = {"query": {"ids": {"values": vals}}, "_source": False}
            keys = [
                (h.get("_type"), str(h["_id"]))
                # page at the chunk size (ES caps pages at 10k): the
                # default 100-doc pages cost ~100 scroll round-trips
                # per chunk just to recover _type per id
                for h in scan(
                    self.wire, index, type, body=body,
                    flush_size=min(len(vals), 10_000),
                )
                if str(h["_id"]) in victims
            ]
            deleted += bulk_delete(self.wire, index, keys)
        return deleted


def bulk_delete(
    base_url: WireLike,
    index: str,
    keys: "list[tuple[str, str]]",
    flush_size: int = 100,
    max_retries: int = 5,
    backoff_sec: float = 0.01,
) -> int:
    """Targeted per-id delete via ``_bulk`` ``delete`` actions — the ES
    twin of sinks.purge (right-to-be-forgotten). ``keys`` are
    (doc_type, _id) pairs; a None doc_type is omitted from the action
    (ES rejects an explicit null, mirroring doc_to_bulk). Returns docs
    actually deleted (idempotent: re-running yields not_found, counted
    0). Batches rejected with ``es_rejected_execution_exception`` are
    retried whole with backoff (safe — delete is idempotent); any other
    item error raises so a right-to-be-forgotten purge can never
    silently under-delete."""
    wire = as_wire(base_url)
    deleted = 0
    for start in range(0, len(keys), flush_size):
        lines = []
        for t, i in keys[start : start + flush_size]:
            action = {"_index": index, "_type": t, "_id": i}
            if action["_type"] is None:
                del action["_type"]
            lines.append(json.dumps({"delete": action}, separators=(",", ":")))
        pending = lines
        for attempt in range(max_retries + 1):
            resp = _post_bulk(
                wire, "\n".join(pending) + "\n", attempt, max_retries,
                backoff_sec, what="bulk delete",
            )
            if resp is None:  # whole-request HTTP 429: backed off, retry
                continue
            items = resp.get("items", [])
            # ES rejects PER ITEM: count this attempt's successes and
            # resend only the rejected actions — retrying the whole
            # payload would turn already-deleted docs into not_found
            # and silently under-report the purge. A response with
            # fewer items than actions (whole-request rejection shape)
            # can't be item-accounted: nothing succeeded, resend all.
            # rejection detection inspects ONLY the error field
            # (_item_rejected) — substring-matching the serialized item
            # would misclassify a doc whose _id mentions the exception
            # name (the invariant _send_bulk already pins)
            if len(items) != len(pending):
                if any(
                    _item_rejected((next(iter(i.values()), None) or {}).get("error"))
                    for i in items
                ):
                    if attempt == max_retries:
                        raise RuntimeError(
                            f"bulk delete rejected after {max_retries} retries"
                        )
                    time.sleep(backoff_sec * (2**attempt))
                    continue
                raise RuntimeError(
                    f"bulk delete: {len(items)} items for {len(pending)} actions"
                )
            retry_lines = []
            bad = []
            for line, item in zip(pending, items):
                # op-type-agnostic item read (the _send_bulk pattern):
                # we only send delete ops, but a proxy/fixture may echo
                # a different op key on the rejection shape
                r = next(iter(item.values()), None) or {}
                if _item_rejected(r.get("error")):
                    retry_lines.append(line)
                # ES >= 5 reports 'result': deleted/not_found; ES 1.x-4.x
                # reports 'found': true/false with no 'result' key — both
                # shapes are successes, not item failures
                elif r.get("result") == "deleted" or r.get("found") is True:
                    deleted += 1
                elif r.get("result") != "not_found" and r.get("found") is not False:
                    bad.append(r)
            if bad:
                raise RuntimeError(f"bulk delete item failures: {bad[:3]}")
            if not retry_lines:
                break
            if attempt == max_retries:
                raise RuntimeError(
                    f"bulk delete rejected after {max_retries} retries"
                )
            pending = retry_lines
            time.sleep(backoff_sec * (2**attempt))
    return deleted
