"""HTTP serving shim (A11): the reference's Drogon REST server
(`lintdb/server/main.cpp:40-48`, `controllers/v1/Index.h:36-41`)
re-expressed as a stdlib ThreadingHTTPServer over a long-lived
SparkSession + loaded Index — the "driver as query frontend" pattern a
Spark deployment would put behind Spark Connect or Livy in production.

Endpoints (parity with `lintdb/server/openapi.yaml` and
`server/api_tests.py:1-90`):

- ``POST /v1/Index/search/{tenant}`` — body
  ``{"query": <node>, "options": {<SearchOptions knobs, e.g. n_probe,
  num_second_pass>}, "k": N}`` ("search_options" is an accepted alias;
  unknown keys like the reference's colbert_field — here carried by
  the query node's name — are ignored) ->
  ``{"results": [{"id", "score", "metadata": {...}}]}``
- ``POST /v1/Index/add/{tenant}`` / ``update/{tenant}`` — body
  ``{"documents": [{"id", "fields": [{"name", "data_type", "value"}]}]}``
  -> ``{"ok": true}``
- ``POST /v1/Index/remove/{tenant}`` — ``{"ids": [...]}`` -> ``{"ok": true}``

Failures answer ``{"error": ...}``: 400 for a malformed request (a
body that is not JSON, a non-integer tenant; for search a query node
the translator rejects, options that do not construct SearchOptions
(negative counts included), a k that is not a non-negative integer;
for mutations ``documents``, ``ids`` or a document's ``fields`` that
is not a list, a document without an integer ``id``, a field entry that
is not an object with a ``name`` and a ``value``, an unknown field
name, a missing tensor field, a tensor with non-numeric values or
whose length is not a positive multiple of the field's dimensions, a
scalar value that does not match its field's type), 500 for anything
else.

Query-node JSON translation mirrors
`server/controllers/v1/query_node_translator.h:12-52` (TERM, TENSOR,
AND — plus OR and MATCH, which the JSON grammar reserves but the
reference never wired). Tensor values arrive as a flat float list plus
``num_tensors``, exactly like the reference's ``lintdb::Tensor``.

Concurrency: requests are handled on server threads; Spark job
submission from multiple threads is safe (each action is an
independent job). Every search reads one committed snapshot, whichever
path it takes, while writes commit. The reference uses 12 Drogon threads
(`server/main.cpp:44`); here the executor pool is the real concurrency
boundary.
"""

from __future__ import annotations

import dataclasses
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np

from lintdb_spark.index import SearchOptions
from lintdb_spark.index.query import (
    AndQuery,
    MatchQuery,
    OrQuery,
    TermQuery,
    VectorQuery,
    check_k,
)


class BadRequest(ValueError):
    """A malformed request: answered with 400, not 500."""


def _int(value, what: str) -> int:
    """A JSON integer (booleans and floats refused)."""
    if isinstance(value, bool) or not isinstance(value, int):
        raise BadRequest(f"{what} must be an integer, got {value!r}")
    return value


def _list(payload: dict, key: str) -> list:
    if not isinstance(payload, dict):
        raise BadRequest(f"body must be a JSON object, got {type(payload).__name__}")
    value = payload.get(key, [])
    if not isinstance(value, list):
        raise BadRequest(f"{key!r} must be a list, got {type(value).__name__}")
    return value


def query_node_from_json(node: dict):
    """JSON -> query tree (query_node_translator.h:12-52 parity)."""
    ntype = node.get("type")
    if ntype == "TERM":
        return TermQuery(node["name"], node["value"])
    if ntype == "TENSOR":
        flat = np.asarray(node["value"], dtype=np.float32)
        n = int(node.get("num_tensors", 1))
        return VectorQuery(node["name"], flat.reshape(n, -1))
    if ntype == "MATCH":
        return MatchQuery(node["name"], node["value"], node.get("mode", "any"))
    if ntype in ("AND", "OR"):
        children = [query_node_from_json(c) for c in node.get("children", [])]
        return AndQuery(children) if ntype == "AND" else OrQuery(children)
    raise ValueError(f"unknown QueryNodeType: {ntype!r}")


class IndexServer:
    """Wraps a loaded Index in the reference's REST surface."""

    def __init__(self, index, host: str = "127.0.0.1", port: int = 0):
        self.index = index
        # Mutations (add/update/remove) are read-modify-write of the
        # index meta + a meta-file flip; serialize them. Searches stay
        # lock-free and read ONE snapshot on every path: a commit
        # adopts its meta and trained state by one reference
        # assignment, and a search captures that snapshot once and
        # opens every table from it.
        self._write_lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            # silence per-request stderr logging
            def log_message(self, fmt, *args):  # noqa: D401
                pass

            def do_POST(self):
                try:
                    length = int(self.headers.get("Content-Length", 0))
                    try:
                        payload = json.loads(self.rfile.read(length) or b"{}")
                    except ValueError as exc:
                        raise BadRequest(f"malformed JSON body: {exc}") from exc
                    body, status = outer._route(self.path, payload)
                    # serialize INSIDE the try: a non-JSON-native stored
                    # field (DATETIME -> datetime.datetime) must produce
                    # a 500 error body, not an aborted connection.
                    # default=str covers datetime/date/Decimal.
                    data = json.dumps(body, default=str).encode()
                except Exception as exc:  # -> {"error": ...} like Index.h
                    status = 400 if isinstance(exc, BadRequest) else 500
                    body = {"error": str(exc)}
                    data = json.dumps(body, default=str).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    # ---- request routing ----

    def _route(self, path: str, payload: dict) -> tuple[dict, int]:
        parts = [p for p in path.split("/") if p]
        if len(parts) != 4 or parts[0] != "v1" or parts[1] != "Index":
            return {"ok": False}, 404
        op = parts[2]
        try:
            tenant = int(parts[3])
        except ValueError as exc:
            raise BadRequest(f"tenant must be an integer, got {parts[3]!r}") from exc
        if op == "search":
            return self._search(tenant, payload), 200
        if op in ("add", "update"):
            docs_df = self._documents_df(tenant, _list(payload, "documents"))
            with self._write_lock:
                getattr(self.index, op)(docs_df)
            return {"ok": True}, 200
        if op == "remove":
            ids = [_int(i, "id") for i in _list(payload, "ids")]
            with self._write_lock:
                self.index.remove(tenant, ids)
            return {"ok": True}, 200
        return {"ok": False}, 404

    def _search(self, tenant: int, payload: dict) -> dict:
        try:
            query = query_node_from_json(payload["query"])
            k = _int(payload.get("k", 10), "k")
            check_k(k)
            # the reference's body key is "options" (openapi.yaml);
            # accept "search_options" as an alias. Unknown keys (e.g.
            # the reference's colbert_field, which here lives on the
            # query node's name) are ignored rather than rejected.
            raw = {
                **(payload.get("options") or {}),
                **(payload.get("search_options") or {}),
            }
            known = {f.name for f in dataclasses.fields(SearchOptions)}
            opts = SearchOptions(**{k_: v for k_, v in raw.items() if k_ in known})
        except (KeyError, TypeError, ValueError, AttributeError) as exc:
            raise BadRequest(f"malformed search request: {exc!r}") from exc
        # materialize, then free any operator-persisted intermediates
        # (XTR's retrieval set, the cascade's token assignment) — a
        # long-lived server would otherwise accumulate one CacheManager
        # entry per request (see lintdb_spark/cache.py).
        from lintdb_spark.cache import release

        df = self.index.search(tenant, query, k=k, opts=opts)
        try:
            rows = df.collect()
        finally:
            # release even when collect fails — a long-lived server
            # must not leak one persisted intermediate per failed query
            release(df)
        stored = {"doc_id", "score"}
        return {
            "results": [
                {
                    "id": r["doc_id"],
                    "score": r["score"],
                    "metadata": {
                        c: r[c] for c in r.asDict() if c not in stored
                    },
                }
                for r in rows
            ]
        }

    def _documents_df(self, tenant: int, documents: list[dict]):
        """Document JSON -> one ingest DataFrame (Document::fromJson
        analogue): tensor fields arrive flat and are reshaped by the
        schema's declared dimensions. Every malformed document raises
        BadRequest here, before anything is written."""
        schema = self.index.schema
        dims = {f.name: f.parameters.dimensions for f in schema.colbert_fields()}
        names = {f.name for f in schema.scalar_fields()} | set(dims)
        rows = []
        for d in documents:
            if not isinstance(d, dict) or "id" not in d:
                raise BadRequest(f"document without an id: {d!r:.80}")
            row = {"tenant": tenant, "doc_id": _int(d["id"], "document id")}
            for f in _list(d, "fields"):
                if not isinstance(f, dict) or "name" not in f or "value" not in f:
                    raise BadRequest(f"field without a name and a value: {f!r:.80}")
                name, value = f["name"], f["value"]
                if name not in names:
                    raise BadRequest(f"unknown field: {name!r}")
                if name in dims:
                    try:
                        flat = np.asarray(value, dtype=np.float32)
                    except (TypeError, ValueError) as exc:
                        raise BadRequest(
                            f"tensor field {name!r} has non-numeric values: {exc}"
                        ) from exc
                    if flat.size == 0 or flat.size % dims[name]:
                        raise BadRequest(
                            f"tensor field {name!r} has {flat.size} values, not a "
                            f"positive multiple of its {dims[name]} dimensions"
                        )
                    row[name] = [
                        [float(x) for x in tok] for tok in flat.reshape(-1, dims[name])
                    ]
                else:
                    row[name] = value
            missing = sorted(set(dims) - set(row))
            if missing:
                raise BadRequest(f"document {row['doc_id']} has no tensor for {missing}")
            rows.append(row)
        try:
            # the schema check refuses a scalar value of the wrong type
            return self.index.spark.createDataFrame(
                rows, schema=schema.ingest_spark_schema()
            )
        except TypeError as exc:
            raise BadRequest(f"field value does not match its type: {exc}") from exc

    # ---- lifecycle ----

    def start(self, prewarm: bool = True, tenant: int = 0) -> "IndexServer":
        """Start serving. ``prewarm`` (default on) runs Index.prewarm
        first — one tiny batch through the real serve path, so the
        tenant's serve state, its broadcast and warm executor workers
        are resident BEFORE the port accepts traffic (on the sf10
        index the first 1000-q batch took 10.6 s cold vs 7.8 s
        prewarmed, SCALE.md). Pass prewarm=False to trade
        first-request latency for startup time."""
        if prewarm:
            self.index.prewarm(tenant)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="lintdb-spark-http", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=10)


def serve(
    index, host: str = "127.0.0.1", port: int = 8080, prewarm: bool = True
) -> IndexServer:
    """Blocking entry point: `python -c "...serve(Index.load(...))"`."""
    srv = IndexServer(index, host, port)
    if prewarm:
        index.prewarm()
    print(f"lintdb-spark serving on http://{host}:{srv.port}/v1/Index/...")
    try:
        srv._httpd.serve_forever()
    except KeyboardInterrupt:
        srv.stop()
    return srv
