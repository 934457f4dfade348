"""REST control plane (SURVEY §2.11, app/api/*).

Route parity with the reference:

    GET    /                         status (manager + tasks)      C9
    POST   /_start  /_stop           global run switch             C8
    GET    /tasks                    all task statuses             C10
    POST   /tasks/<id>               admit task + build backlog    C1
    GET    /tasks/<id>               one task status               C10
    DELETE /tasks/<id>               task + namespaced registry    C11
    GET    /tasks/<id>/errors        error log                     C7
    POST   /tasks/<id>/_run          drain backlog (Spark jobs)    —*
    GET/POST/DELETE /mutators/<ns>/<id>                            C12
    GET/POST/DELETE /filters/<ns>/<id>                             C12

*The reference's workers poll Redis continuously (worker.js:61-123);
here Spark is the worker pool, so execution is an explicit drain call
(or the streaming module for continuous operation).

Optional API-key auth via the ``api_key`` header (routes.js:14-35).
"""
from __future__ import annotations

import json
from typing import Optional

from chillastic_spark.engine import Engine, TaskError
from chillastic_spark.model import ActionRef, Task, TransferSpec
from chillastic_spark.registry import RegistryError


def task_from_json(body: dict) -> Task:
    try:
        t = body.get("transfer", {}) or {}
        indices = t.get("indices") or {}
        documents = t.get("documents") or {}
        return Task(
            source=body.get("source", ""),
            destination=body.get("destination", ""),
            transfer=TransferSpec(
                index_names=t.get("index_names") or indices.get("names"),
                template_names=t.get("template_names")
                or indices.get("templates"),
                from_indices=t.get("from_indices")
                or documents.get("fromIndices"),
                filters=[ActionRef.parse(f) for f in t.get("filters", [])],
                flush_size=t.get("flush_size") or documents.get("flushSize"),
                index_comparator=t.get("index_comparator")
                or indices.get("comparator"),
            ),
            mutators=[ActionRef.parse(m) for m in body.get("mutators", [])],
            arguments=body.get("arguments"),
        )
    except (KeyError, AttributeError, TypeError) as e:
        # client-shaped parse failures must be 400s, not 500s
        raise ValueError(f"malformed task body: {e!r}") from e


def create_app(
    engine: Engine,
    api_key: Optional[str] = None,
    search_index_dir: Optional[str] = None,
    vector_index_dir: Optional[str] = None,
    allow_code_registration: Optional[bool] = None,
):
    from flask import Flask, jsonify, request

    app = Flask("chillastic_spark")

    # Code-string registration is exec()'d Python (registry.compile_source)
    # — full remote code execution for whoever can reach the route. Serving
    # it unauthenticated by default would be an open RCE, so it is enabled
    # only when the app is key-protected (or explicitly opted in). Object /
    # module registration via the embedding API is unaffected.
    if allow_code_registration is None:
        allow_code_registration = api_key is not None

    @app.before_request
    def check_key():  # routes.js:14-35
        if api_key is None:
            return None
        # the reference's header is literally "api_key" (Express passes
        # it through), but WSGI servers drop underscore headers — accept
        # the hyphenated form as the WSGI-safe spelling
        sent = (
            request.environ.get("HTTP_API_KEY")
            or request.headers.get("api_key")
            or request.headers.get("api-key")
        )
        import hmac

        # compare BYTES: compare_digest raises TypeError on non-ASCII
        # str operands, which would turn a garbage api-key header into
        # a 500 instead of the 401 it deserves
        if not (
            sent
            and hmac.compare_digest(
                str(sent).encode("utf-8", "surrogateescape"),
                api_key.encode("utf-8", "surrogateescape"),
            )
        ):
            return jsonify({"error": "Not Authorized"}), 401

    def handle(fn):
        try:
            return fn()
        except (TaskError, RegistryError, ValueError) as e:
            return jsonify({"error": str(e)}), 400
        except FileNotFoundError as e:
            # a configured-but-unbuilt index is a client-visible 404
            # (like /drift and /stores/health), not a 500 traceback
            return jsonify({"error": f"index not built: {e}"}), 404

    @app.get("/")
    def root():
        return jsonify(engine.status())

    @app.post("/vectors/_search")
    def vector_search():
        # ANN serving from the materialized vector index (the ES kNN
        # search analog): body {"vector": [...], "k": 10, "probes": 1}
        if vector_index_dir is None:
            return jsonify({"error": "no vector index configured"}), 400
        from chillastic_spark.sources.vector_index import ann_query_index

        body = request.get_json(force=True, silent=True) or {}
        vec = body.get("vector")
        if not isinstance(vec, list) or not vec:
            return jsonify({"error": "vector (non-empty list) required"}), 400
        try:
            k = int(body.get("k", 10))
            probes = int(body.get("probes", 1))
            qvec = [float(x) for x in vec]
        except (TypeError, ValueError):
            return jsonify(
                {"error": "k/probes must be ints, vector elements numeric"}
            ), 400
        q = engine.spark.createDataFrame(
            [(-1, qvec)], "query_id long, embedding array<double>"
        )

        def run():
            # an unbuilt index (no meta.json) is a FileNotFoundError —
            # handle() turns it into a 404; a built index with no data
            # serves empty hits
            rows = ann_query_index(
                engine.spark, vector_index_dir, q, k=k, probes=probes
            ).collect()
            return jsonify(
                {
                    "hits": [
                        {"vec_id": r["neighbor_id"], "cos": r["cos"]} for r in rows
                    ]
                }
            )

        return handle(run)

    @app.get("/stores/health")
    def store_health():
        # table-maintenance dashboard: per-index file shape / bucket
        # layout / compaction verdict for a parquet document store
        # (catalog companion to the reference's /status control plane)
        from flask import request

        from chillastic_spark.sources import DocumentStore
        from chillastic_spark.sources.maintenance import store_health_report

        path = request.args.get("path")
        if not path:
            return jsonify({"error": "path query param required"}), 400
        store = DocumentStore(path, create=False)
        if not store.reachable():
            return jsonify({"error": f"no store at {path}"}), 404
        return jsonify(store_health_report(store, request.args.get("pattern", "*")))

    @app.get("/indexes/health")
    def index_health_endpoint():
        # materialized-index dashboard (r9 verdict #3): persisted
        # metas (incl. build-time dropped_rows for the IVF path —
        # mixed-width corpora losing index rows become visible HERE,
        # not only in logs), file shape, pending swap journals, plus
        # the session-level engine observability (ANN drop counters +
        # dedup hot-gram preflight verdicts)
        from flask import request

        from chillastic_spark.sources.maintenance import (
            engine_observability,
            index_health,
        )

        path = request.args.get("dir")
        if not path:
            return jsonify({"error": "dir query param required"}), 400
        body = index_health(path)
        if not body["exists"]:
            return jsonify({"error": f"no index dir at {path}"}), 404
        body["_engine"] = engine_observability()
        return jsonify(body)

    @app.get("/drift")
    def drift_report():
        # monitoring read for streaming.drift_stream output: the
        # latest micro-batch's per-source KL vs the frozen corpus,
        # worst drift first (the dashboard a pipeline watches during
        # ingest)
        from flask import request
        from pyspark.sql import functions as F

        path = request.args.get("path")
        if not path:
            return jsonify({"error": "path query param required"}), 400
        try:
            # mergeSchema: a dir may hold pre-PSI batches (kl only)
            # next to newer ones — take the union schema, not whichever
            # file Spark samples first
            df = engine.spark.read.option("mergeSchema", "true").parquet(path)
        except Exception:
            return jsonify({"error": f"no drift output at {path}"}), 404
        needed = {"batch", "source", "n_tokens", "kl"}
        if not needed.issubset(df.columns):
            return (
                jsonify({"error": f"not a drift output (needs {sorted(needed)})"}),
                400,
            )
        latest = df.agg(F.max("batch").alias("b")).first()["b"]
        if latest is None:  # readable but empty dataset
            return jsonify({"error": "drift output has no batches"}), 404
        rows = (
            df.filter(F.col("batch") == latest)
            .orderBy(F.desc("kl"), F.asc("source"))
            .collect()
        )
        has_psi = "psi" in df.columns
        return jsonify(
            {
                "batch": int(latest),
                "sources": [
                    {
                        "source": r["source"],
                        "n_tokens": int(r["n_tokens"]),
                        "kl": float(r["kl"]),
                        # per-row guard: a pre-PSI batch under a merged
                        # schema carries psi=None
                        **(
                            {"psi": float(r["psi"])}
                            if has_psi and r["psi"] is not None
                            else {}
                        ),
                    }
                    for r in rows
                ],
            }
        )

    @app.get("/search")
    def search():
        # the query side of the ES surface: BM25 / prefix / suggest
        # served from the materialized inverted index (search_index.py)
        if search_index_dir is None:
            return jsonify({"error": "no search index configured"}), 400
        from chillastic_spark.sources.search_index import (
            bm25_search_index,
            suggest_terms,
            wildcard_search_index,
        )

        def run():
            k = int(request.args.get("k", "10"))
            if request.args.get("suggest"):
                return jsonify(
                    {"suggest": suggest_terms(
                        engine.spark, search_index_dir, request.args["suggest"], k=k
                    )}
                )
            if request.args.get("prefix"):
                rows = wildcard_search_index(
                    engine.spark, search_index_dir, request.args["prefix"], k=k
                ).collect()
                return jsonify({"hits": [r.asDict() for r in rows]})
            terms = [t for t in request.args.get("terms", "").split(",") if t]
            if not terms:
                raise ValueError("pass ?terms=a,b or ?prefix=p or ?suggest=p")
            rows = bm25_search_index(
                engine.spark, search_index_dir, terms, k=k
            ).collect()
            return jsonify(
                {"hits": [
                    {**r.asDict(), "bm25": float(r["bm25"])} for r in rows
                ]}
            )

        return handle(run)

    @app.post("/_start")
    def start():
        engine.start()
        return jsonify({"running": True})

    @app.post("/_stop")
    def stop():
        engine.stop()
        return jsonify({"running": False})

    # ------------------------------------------------------------- tasks
    @app.get("/tasks")
    def all_tasks():
        out = {}
        for t in engine.list_tasks():
            try:
                out[t] = engine.get_task_status(t)
            except TaskError:
                # removed between the listing and the status read — a
                # routine concurrent DELETE, not a 500 (the same skip
                # guard engine.status() applies)
                pass
        return jsonify(out)

    @app.post("/tasks/<task_id>")
    def add_task(task_id):
        def run():
            body = request.get_json(force=True, silent=True) or {}
            task = task_from_json(body)
            # a task-supplied index_comparator is exec()'d Python
            # (engine._index_comparator → registry.compile_source) — the
            # same RCE surface as code-string registration, so the same
            # gate applies; without it an unauthenticated caller could
            # run code at admission that POST /mutators correctly 403s
            if task.transfer.index_comparator and not allow_code_registration:
                return (
                    jsonify(
                        {
                            "error": "index_comparator code is disabled on an "
                            "unauthenticated API; set an api_key (or pass "
                            "allow_code_registration=True) to enable it"
                        }
                    ),
                    403,
                )
            state = engine.add_task(task_id, task)
            return jsonify(state.status())

        return handle(run)

    @app.get("/tasks/<task_id>")
    def get_task(task_id):
        return handle(lambda: jsonify(engine.get_task_status(task_id)))

    @app.delete("/tasks/<task_id>")
    def delete_task(task_id):
        def run():
            engine.remove_task(task_id)
            return jsonify({"deleted": task_id})

        # handle(): removing a mid-run task raises TaskError (writer
        # lock held) — that is a 400 fail-fast, not a 500
        return handle(run)

    @app.get("/tasks/<task_id>/errors")
    def task_errors(task_id):
        return handle(lambda: jsonify(engine.get_task_errors(task_id)))

    @app.post("/tasks/<task_id>/_run")
    def run_task(task_id):
        # ?workers=N → N driver threads; ?shared=true → multi-process
        # cooperative draining (another API replica may drain the same
        # backlog; see TaskState shared mode)
        workers = request.args.get("workers", default=1, type=int)
        shared = request.args.get("shared", "false").lower() == "true"
        return handle(
            lambda: jsonify(
                engine.run_task(task_id, parallelism=max(1, workers), shared=shared)
            )
        )

    # --------------------------------------------- mutators / filters CRUD
    def registry_routes(name: str, registry):
        @app.get(f"/{name}/<ns>/<obj_id>", endpoint=f"get_{name}")
        def get_obj(ns, obj_id):
            return handle(
                lambda: jsonify(
                    {"namespace": ns, "id": obj_id, "type": registry.get(obj_id, ns).type}
                )
            )

        @app.post(f"/{name}/<ns>/<obj_id>", endpoint=f"post_{name}")
        def post_obj(ns, obj_id):
            def run():
                if not allow_code_registration:
                    return (
                        jsonify(
                            {
                                "error": "code-string registration is disabled on an "
                                "unauthenticated API; set an api_key (or pass "
                                "allow_code_registration=True) to enable it"
                            }
                        ),
                        403,
                    )
                source = request.get_data(as_text=True)
                registry.add(obj_id, source, namespace=ns)
                return jsonify({"registered": f"{ns}/{obj_id}"})

            return handle(run)

        @app.delete(f"/{name}/<ns>/<obj_id>", endpoint=f"delete_{name}")
        def delete_obj(ns, obj_id):
            registry.remove(obj_id, ns)
            return jsonify({"deleted": f"{ns}/{obj_id}"})

        @app.get(f"/{name}", endpoint=f"list_{name}")
        def list_objs():
            return jsonify(registry.list())

        @app.get(f"/{name}/_errors", endpoint=f"errors_{name}")
        def load_errors():
            # persisted sources that failed to load at startup (corrupt
            # file, malformed key, no-longer-compiling code) — the
            # operator-facing surface for finding and DELETEing them
            return jsonify(registry.load_errors)

    registry_routes("mutators", engine.mutators)
    registry_routes("filters", engine.filters)
    return app
