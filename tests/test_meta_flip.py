"""One meta flip per commit, in both segment stores, and one snapshot
per read.

Every mutation, maintenance rewrite and (re)training of the Index and
the dedup artifact store builds its candidate meta in
``SegmentStore._commit_segments`` and adopts it only after the flip:

- the live meta a lock-free reader holds is the previous commit's,
  counters and segment lists alike, until the flip lands;
- a reader's staleness check in the window between the meta write and
  the adoption reloads nothing: each commit adopts exactly its own
  meta;
- a failed flip leaves the live meta, the meta file and every read as
  they were, and a retry succeeds;
- a search during a re-train scores with the trained state adopted
  with its snapshot, and a Spark-plan search opens every table from
  the snapshot it captured;
- a re-train whose flip fails leaves every meta on disk paired with
  the trained-state files it names;
- REST searches answer from one committed snapshot while add, remove,
  update and both compactions run, and no write makes a reader
  rebuild the serve state."""

from __future__ import annotations

import copy
import os
import shutil
import threading

import numpy as np
import pytest

from lintdb_spark.index import Index, OrQuery, VectorQuery
from lintdb_spark.operators.artifacts import DedupArtifacts
from lintdb_spark.server import IndexServer
from tests.test_artifacts import _rows, _two_group_rows
from tests.test_index_lifecycle import (
    DIM, NUM_TOKENS, OPTS, doc_tokens, make_docs, make_schema, search_ids,
)
from tests.test_server import _post

PAIR_COLS = ["doc_a", "doc_b", "n_common", "jaccard"]


def _texts(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _meta_file(st) -> bytes:
    with open(os.path.join(st.path, "_meta.json"), "rb") as f:
        return f.read()


def test_artifact_commits_keep_live_meta_until_flip(spark, tmp_path, monkeypatch):
    """At the moment of each flip the live meta still holds the
    pre-commit counters AND segment lists: a reader never pairs the
    next commit's n_docs / pair_seq / flip_rows_live with the previous
    commit's segments."""
    rows1, rows2 = _two_group_rows()
    st = DedupArtifacts.create(spark, str(tmp_path / "st"), verify_every=3)
    st.auto_compact = False
    st.update(_texts(spark, rows1))

    at_flip = []
    real = st._save_meta

    def spy(meta=None):
        at_flip.append(copy.deepcopy(st._meta))
        return real(meta)

    monkeypatch.setattr(st, "_save_meta", spy)
    ops = [
        ("update", lambda: st.update(_texts(spark, rows2))),
        ("remove", lambda: st.remove([0, 100])),
        ("flush_pairs", st.flush_pairs),
    ]
    for name, op in ops:
        before = copy.deepcopy(st._meta)
        at_flip.clear()
        op()
        assert len(at_flip) == 1, name
        live = at_flip[0]
        for key in ("n_docs", "nd_shingled", "tenants", "pair_seq",
                    "pair_unverified", "flip_rows_live", "shingle_docs_covers"):
            assert live.get(key) == before.get(key), (name, key)
        assert live["segments"] == before["segments"], name
        assert live == before, name
        assert st._meta != before, name  # the op did commit
    assert st._meta["n_docs"] == len(rows1) + len(rows2) - 2
    assert st.pending_pair_batches() == 0


def test_refresh_in_the_flip_window_reloads_nothing(spark, tmp_path, monkeypatch):
    """A reader's staleness check that runs after the writer wrote
    _meta.json but before it adopted the new meta (here: from the meta
    write itself) must not take the writer's own flip for an external
    commit: the writer's candidate is the one adopted, no sidecar
    reload runs and the commit adopts exactly one meta."""
    idx = Index.create(spark, str(tmp_path / "idx"), make_schema("none"))
    flipped, adopted, reloaded = [], [], []
    real_save, real_adopt = idx._save_meta, idx._adopt
    real_write = idx.fs.write_atomic
    checked = threading.Event()

    def refresh():
        idx._refresh_meta_if_stale()
        checked.set()

    reader = threading.Thread(target=refresh)

    def write_atomic(path, data):
        real_write(path, data)
        if path.endswith("_meta.json") and reader.ident is None:
            reader.start()
            checked.wait(timeout=1.0)  # the reader either finishes or waits

    def save(meta=None):
        flipped.append(meta)
        return real_save(meta)

    def adopt(meta, *rest):
        adopted.append(meta)
        real_adopt(meta, *rest)

    monkeypatch.setattr(idx.fs, "write_atomic", write_atomic)
    monkeypatch.setattr(idx, "_save_meta", save)
    monkeypatch.setattr(idx, "_adopt", adopt)
    monkeypatch.setattr(idx, "_on_meta_reloaded", lambda *a: reloaded.append(a))
    idx.set_coarse_quantizer("colbert", np.eye(8, DIM, dtype=np.float32))
    reader.join(timeout=30)
    assert not reader.is_alive() and checked.is_set()
    assert reloaded == []
    assert len(flipped) == 1 and idx._meta is flipped[0]
    assert len(adopted) == 1 and adopted[0] is flipped[0]
    assert idx._meta["trained"] and idx.centroids["colbert"].shape == (8, DIM)


@pytest.mark.parametrize("op", ["set_coarse_quantizer", "train"])
def test_search_during_retrain_scores_with_the_adopted_snapshot(
    spark, tmp_path, monkeypatch, op
):
    """A search that runs while a re-train has written its sidecar
    files but not yet flipped builds its serve state from the adopted
    snapshot: the old centroid matrix and the old meta. The first
    search after the flip scores with the new centroids."""
    idx = Index.create(spark, str(tmp_path / "idx"), make_schema("none"))
    docs = make_docs(spark, range(12))
    idx.train(docs)
    idx.auto_compact = False
    idx.add(docs)
    old_c, old_meta = idx.centroids["colbert"], idx._meta
    in_window = []
    real_write = idx.fs.write_atomic

    def write_atomic(path, data):
        real_write(path, data)
        if "centroids" in path and not in_window:
            assert search_ids(idx, VectorQuery("colbert", doc_tokens(3)))
            in_window.append(idx._serve_slot)

    monkeypatch.setattr(idx.fs, "write_atomic", write_atomic)
    if op == "train":
        idx.train(make_docs(spark, range(40, 52)))
    else:
        idx.set_coarse_quantizer("colbert", old_c[::-1].copy())
    monkeypatch.undo()
    (state,) = in_window
    assert state.meta is old_meta
    np.testing.assert_array_equal(state.C, old_c)
    new_c = idx.centroids["colbert"]
    assert not np.array_equal(new_c, old_c)
    search_ids(idx, VectorQuery("colbert", doc_tokens(3)))
    assert idx._serve_slot.meta is idx._meta
    np.testing.assert_array_equal(idx._serve_slot.C, new_c)


def test_failed_retrain_flip_keeps_the_trained_state_on_disk(spark, tmp_path, monkeypatch):
    """set_coarse_quantizer whose flip fails: a fresh load still reads
    the centroids the committed meta was published with and answers as
    before. vacuum keeps that live generation and collects the failed
    one's files; the retry publishes the new centroids."""
    idx = Index.create(spark, str(tmp_path / "idx"), make_schema("none"))
    docs = make_docs(spark, range(12))
    idx.train(docs)
    idx.auto_compact = False
    idx.add(docs)
    tree = OrQuery([VectorQuery("colbert", doc_tokens(3)), VectorQuery("colbert", doc_tokens(5))])

    def answer(ix):
        return [(r.doc_id, r.score) for r in ix.search(0, tree, k=5, opts=OPTS).collect()]

    before, old_c = answer(idx), idx.centroids["colbert"]
    new_c = old_c[::-1].copy()

    def flaky(meta):
        raise OSError("injected flip failure")

    monkeypatch.setattr(idx, "_save_meta", flaky)
    with pytest.raises(OSError, match="injected"):
        idx.set_coarse_quantizer("colbert", new_c)
    monkeypatch.undo()
    fresh = Index.load(spark, idx.path)
    np.testing.assert_array_equal(fresh.centroids["colbert"], old_c)
    assert answer(fresh) == before

    removed = fresh.vacuum(min_age_s=0)
    assert sorted(r.split("/")[0] for r in removed) == ["centroids", "quantizers"]
    fresh = Index.load(spark, idx.path)
    np.testing.assert_array_equal(fresh.centroids["colbert"], old_c)
    assert answer(fresh) == before

    idx.set_coarse_quantizer("colbert", new_c)
    np.testing.assert_array_equal(Index.load(spark, idx.path).centroids["colbert"], new_c)


def test_spark_plan_search_reads_one_snapshot(spark, tmp_path, monkeypatch):
    """A commit landing after a Spark-plan search opened the docs table
    and before it opened the postings (here: a remove of the top doc,
    run from the postings open) does not change that search's answer:
    both tables come from the snapshot it captured. The next search
    sees the remove."""
    idx = Index.create(spark, str(tmp_path / "idx"), make_schema("none"))
    docs = make_docs(spark, range(12))
    idx.train(docs)
    idx.auto_compact = False
    idx.add(docs)
    tree = OrQuery([VectorQuery("colbert", doc_tokens(3)), VectorQuery("colbert", doc_tokens(5))])

    def answer():
        return [(r.doc_id, r.score) for r in idx.search(0, tree, k=5, opts=OPTS).collect()]

    before = answer()
    top = before[0][0]
    real = idx._postings_serve

    def postings_serve(*args, **kwargs):
        if not removed:
            removed.append(top)
            idx.remove(0, [top])
        return real(*args, **kwargs)

    removed: list = []
    monkeypatch.setattr(idx, "_postings_serve", postings_serve)
    assert answer() == before
    assert removed == [top]
    monkeypatch.undo()
    after = answer()
    assert top not in [d for d, _ in after] and len(after) == 5


@pytest.fixture(scope="module")
def drift_src(spark, tmp_path_factory):
    """Two batches whose second drifts group B's df caps (flip_docs
    rows), then a remove (a removed_ids tombstone). Built once; each
    case works on its own copy."""
    rows1, rows2 = _two_group_rows()
    st = DedupArtifacts.create(spark, str(tmp_path_factory.mktemp("drift") / "st"))
    st.auto_compact = False
    st.update(_texts(spark, rows1))
    st.update(_texts(spark, rows2))
    st.remove([0])
    assert st._segments("flip_docs") and st._segments("removed_ids")
    return st.path


def _drift_store(spark, path, request):
    shutil.copytree(request.getfixturevalue("drift_src"), path)
    st = DedupArtifacts.load(spark, path)
    st.auto_compact = False
    return st


def _rev1_store(spark, path, request):
    rows1, rows2 = _two_group_rows()
    st = DedupArtifacts.create(spark, path)
    st.auto_compact = False
    st._commit_segments([], meta={"schema_rev": 1})
    st.update(_texts(spark, rows1))
    st.update(_texts(spark, rows2))
    return st


def _legacy_reads(st):
    return (
        _rows(st.candidate_pairs(), ["doc_a", "doc_b"]),
        sorted(r.doc_id for r in st.signatures().select("doc_id").collect()),
    )


def _artifact_reads(st):
    return _legacy_reads(st) + (
        _rows(st.verified_pairs(min_jaccard=0.0, min_overlap=1), PAIR_COLS),
    )


def _index(spark, path, request):
    idx = Index.create(spark, path, make_schema("none"))
    docs = make_docs(spark, range(8))
    idx.train(docs)
    idx.auto_compact = False
    idx.add(docs)
    idx.add(make_docs(spark, range(8, 16)))
    return idx


def _index_reads(idx):
    hits = idx.search(0, VectorQuery("colbert", doc_tokens(3)), k=5, opts=OPTS)
    return (
        sorted(r.doc_id for r in idx._docs().select("doc_id").collect()),
        [(r.doc_id, r.score, r.title) for r in hits.collect()],
    )


CASES = {
    "index_minor_compact": (_index, _index_reads, lambda s: s.minor_compact(force=True)),
    "artifact_minor_compact": (
        _drift_store, _artifact_reads, lambda s: s.minor_compact(force=True)
    ),
    "fold_flips": (_drift_store, _artifact_reads, lambda s: s.fold_flips()),
    "artifact_compact": (_drift_store, _artifact_reads, lambda s: s.compact()),
    "migrate_layout": (_rev1_store, _legacy_reads, lambda s: s.migrate_layout()),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_failed_flip_leaves_meta_and_reads(spark, tmp_path, monkeypatch, request, case):
    """A flip that raises leaves the live meta deep-equal to its value
    before the call, the meta file byte-identical and every read
    unchanged; the retry then commits (the suites of each operation
    check what it commits)."""
    build, reads, op = CASES[case]
    st = build(spark, str(tmp_path / case), request)
    before, disk, seen = copy.deepcopy(st._meta), _meta_file(st), reads(st)

    real = st._save_meta
    calls = []

    def flaky(meta=None):
        calls.append(1)
        if len(calls) == 1:
            raise OSError("injected flip failure")
        return real(meta)

    monkeypatch.setattr(st, "_save_meta", flaky)
    with pytest.raises(OSError, match="injected"):
        op(st)
    assert st._meta == before
    assert _meta_file(st) == disk
    assert reads(st) == seen

    op(st)
    assert len(calls) == 2
    assert st._meta != before and _meta_file(st) != disk


def _far_tokens(null: np.ndarray, seed: int) -> np.ndarray:
    """NUM_TOKENS unit tokens in the span of ``null``: orthogonal to
    every query token, so such a doc's MaxSim against any query is 0."""
    rng = np.random.RandomState(seed)
    t = rng.randn(NUM_TOKENS, null.shape[0]) @ null
    return (t / np.linalg.norm(t, axis=1, keepdims=True)).astype(np.float32)


def _docs_frame(spark, docs):
    schema = make_docs(spark, []).schema
    return spark.createDataFrame(
        [
            (0, d, [[float(x) for x in tok] for tok in toks], cat, d % 3, title)
            for d, toks, cat, title in docs
        ],
        schema,
    )


def test_rest_searches_read_one_snapshot_during_writes(spark, tmp_path, monkeypatch):
    """REST searches (TENSOR and AND(TERM, TENSOR) on the driver-local
    path, OR(TERM, TENSOR) on the Spark plan) run while add,
    minor_compact(force=True), remove, update and compact commit.
    Every written doc is orthogonal to every query token and every
    removed or updated doc is such a doc, so each query's exact answer
    is the same in every snapshot: each answer must equal it. Each
    commit adopts exactly its own meta, readers running or not."""
    qids = (1, 4, 9)
    Q = np.vstack([doc_tokens(q) for q in qids]).astype(np.float64)
    null = np.linalg.svd(Q)[2][Q.shape[0]:]
    assert np.abs(Q @ null.T).max() < 1e-6

    base = [(d, doc_tokens(d), "odd" if d % 2 else "even", f"doc-{d}") for d in range(16)]
    far = [(d, _far_tokens(null, d), "far", f"far-{d}") for d in range(100, 106)]
    idx = Index.create(spark, str(tmp_path / "idx"), make_schema("none"))
    initial = _docs_frame(spark, base + far)
    idx.train(initial)
    idx.auto_compact = False
    idx.add(initial)
    srv = IndexServer(idx).start()

    opts = {"n_probe": 8, "k_top_centroids": 2, "num_second_pass": 50,
            "centroid_score_threshold": 0.0}

    def tensor(q):
        return {"type": "TENSOR", "name": "colbert", "num_tensors": NUM_TOKENS,
                "value": [float(x) for x in doc_tokens(q).ravel()]}

    bodies = [{"query": tensor(q), "k": 5, "options": opts} for q in qids] + [
        {
            "query": {"type": "AND", "children": [
                {"type": "TERM", "name": "category", "value": "odd"}, tensor(q)]},
            "k": 5,
            "options": opts,
        }
        for q in qids
    ] + [
        {
            "query": {"type": "OR", "children": [
                {"type": "TERM", "name": "category", "value": "odd"}, tensor(q)]},
            "k": 5,
            "options": opts,
        }
        for q in qids
    ]

    def answer(body):
        res = _post(srv.port, "/v1/Index/search/0", body)["results"]
        return [(r["id"], round(r["score"], 9), r["metadata"]["title"]) for r in res]

    try:
        want = [answer(b) for b in bodies]
        # the fixed answer is the exact MaxSim top-5 over the base docs
        for body, got in zip(bodies, want):
            if body["query"]["type"] == "OR":
                continue  # pinned by staying equal to its first answer
            qv = np.asarray(body["query"].get("value") or body["query"]["children"][1]["value"])
            qv = qv.reshape(NUM_TOKENS, -1)
            pool = [d for d, _, cat, _ in base
                    if body["query"]["type"] == "TENSOR" or cat == "odd"]
            exact = sorted(pool, key=lambda d: (-(qv @ doc_tokens(d).T).max(axis=1).sum(), d))
            assert [d for d, _, _ in got] == exact[:5]
            assert got[-1][1] > 0.05  # far docs (score 0) rank below
        assert idx._serve_slot is not None and idx._serve_slot.loaded

        flipped, adopted = [], []
        real_save, real_adopt = idx._save_meta, idx._adopt

        def save(meta):
            flipped.append(meta)
            return real_save(meta)

        def adopt(meta, *rest):
            adopted.append(meta)
            real_adopt(meta, *rest)

        monkeypatch.setattr(idx, "_save_meta", save)
        monkeypatch.setattr(idx, "_adopt", adopt)
        writes = [
            lambda: idx.add(_docs_frame(
                spark, [(d, _far_tokens(null, d), "far", f"far-{d}") for d in range(200, 204)])),
            lambda: idx.minor_compact(force=True),
            lambda: idx.remove(0, [100, 101]),
            lambda: idx.update(_docs_frame(
                spark, [(d, _far_tokens(null, d + 1000), "far", f"upd-{d}") for d in (102, 103)])),
            idx.compact,
        ]
        done = threading.Event()
        errors: list = []
        answered = [0]

        def reader(offset):
            i = offset
            try:
                while not done.is_set():
                    j = i % len(bodies)
                    got = answer(bodies[j])
                    assert got == want[j], (j, got, want[j])
                    answered[0] += 1
                    i += 1
            except BaseException as exc:  # noqa: BLE001 — reported below
                errors.append(exc)

        rebuilds = idx.serve_rebuilds
        readers = [threading.Thread(target=reader, args=(o,)) for o in (0, 3, 6)]
        for t in readers:
            t.start()
        try:
            for w in writes:
                w()
        finally:
            done.set()
            for t in readers:
                t.join(timeout=120)
        assert not errors, errors[0]
        assert answered[0] >= len(writes)
        # one flip per write (auto_compact is off: no maintenance
        # commit), and each flip adopted exactly its own candidate — no
        # reader's staleness refresh adopted a reloaded copy
        assert len(flipped) == len(writes)
        assert len(adopted) == len(flipped)
        assert all(a is f for a, f in zip(adopted, flipped))
        assert idx._meta is flipped[-1]
        # every write carried the serve state: no reader rebuilt it
        assert idx.serve_rebuilds == rebuilds
        assert idx.serve_carries == len(writes)
        assert idx._serve_slot.meta is idx._meta
        assert len(idx._segments("docs")) == 1
        assert [answer(b) for b in bodies] == want
        assert sorted(r.doc_id for r in idx._docs().select("doc_id").collect()) == (
            list(range(16)) + [102, 103, 104, 105] + list(range(200, 204))
        )
    finally:
        srv.stop()
