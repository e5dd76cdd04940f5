"""The serve state follows in-process commits by their delta: add,
remove, update, merge, compact, minor_compact and stream adds hand the
driver's state of the parent snapshot to the new one, so the first
search after them runs no Spark job.

After each commit the carried state must equal a state rebuilt from
scratch for the same snapshot (a fresh ``Index.load`` of the path),
array for array, and both must answer ``search`` and ``search_batch``
alike. Commits that do not name a delta, and commits this process did
not make, rebuild once and answer exactly."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import uuid

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lintdb_spark import params
from lintdb_spark.index import AndQuery, Index, SearchOptions, TermQuery, VectorQuery
from lintdb_spark.index.schema import DataType, IndexedField, Schema
from tests.test_index_lifecycle import doc_tokens, make_docs, make_schema
from tests.test_local_serve import BASE, is_local, rows

OPTS = SearchOptions(**BASE, centroid_score_threshold=0.0)
QUERIES = (3, 101, 205)


def _path(kind: str, base) -> str:
    if kind == "mem":
        return f"mem://bucket/serve-delta-{uuid.uuid4().hex[:8]}"
    return str(base / f"idx-{uuid.uuid4().hex[:8]}")


def _build(spark, path, ids=range(12)):
    idx = Index.create(spark, path, make_schema("binarizer"))
    docs = make_docs(spark, ids)
    idx.train(docs)
    idx.auto_compact = False
    idx.add(docs)
    return idx


def assert_same_state(got, want):
    assert got.loaded and want.loaded
    assert got.key == want.key
    np.testing.assert_array_equal(got.doc_ids, want.doc_ids)
    assert len(got.code_arrs) == len(want.code_arrs)
    for a, b in zip(got.code_arrs, want.code_arrs):
        np.testing.assert_array_equal(a, b)
    assert got.blobs == want.blobs
    np.testing.assert_array_equal(got.nts, want.nts)
    assert got.scalars.equals(want.scalars)
    np.testing.assert_array_equal(got.post_ptr, want.post_ptr)
    np.testing.assert_array_equal(got.post_rows, want.post_rows)
    assert got.est_bytes == want.est_bytes


def _answers(idx):
    point = []
    for q in QUERIES:
        for tree in (
            VectorQuery("colbert", doc_tokens(q)),
            AndQuery([TermQuery("category", "odd"), VectorQuery("colbert", doc_tokens(q))]),
        ):
            df = idx.search(0, tree, k=5, opts=OPTS)
            assert is_local(df)
            point.append(rows(df))
    batch = idx.search_batch(
        0, "colbert", {q: doc_tokens(q) for q in QUERIES}, k=5, opts=OPTS
    )
    return point, sorted(
        (r["qid"], r["rank"], r["doc_id"], round(r["score"], 9), r["title"])
        for r in batch.collect()
    )


def assert_carried(idx, carries_before, rebuilds_before, min_carries=1):
    """The slot holds a state carried to the adopted snapshot, no
    rebuild ran, and a state rebuilt from scratch equals it and answers
    alike."""
    state = idx._serve_slot
    assert state is not None and state.meta is idx._meta
    assert idx.serve_rebuilds == rebuilds_before
    assert idx.serve_carries >= carries_before + min_carries
    fresh = Index.load(idx.spark, idx.path)
    assert_same_state(state, fresh._serve_state(0, "colbert"))
    assert idx._serve_slot is state  # comparing built nothing here
    assert _answers(idx) == _answers(fresh)
    assert idx.serve_rebuilds == rebuilds_before


def _step(idx, op, min_carries=1):
    c, r = idx.serve_carries, idx.serve_rebuilds
    op()
    assert_carried(idx, c, r, min_carries)


@pytest.mark.parametrize("kind", ["local", "mem"])
def test_every_commit_kind_carries_the_serve_state(spark, tmp_path, monkeypatch, kind):
    idx = _build(spark, _path(kind, tmp_path))
    _answers(idx)  # builds the state
    assert idx.serve_rebuilds == 1 and idx.serve_carries == 0

    _step(idx, lambda: idx.add(make_docs(spark, [100, 101, 102])))
    _step(idx, lambda: idx.remove(0, [100, 3, 999]))
    # update re-adds the removed id 100 and replaces 5 and 101
    _step(idx, lambda: idx.update(
        make_docs(spark, [5, 100, 101]).withColumn("title", F.lit("retitled"))
    ))
    assert idx._serve_slot.scalars.column("title").to_pylist().count("retitled") == 3
    other = idx.copy_trained(_path(kind, tmp_path))
    other.add(make_docs(spark, [205, 206]))
    _step(idx, lambda: idx.merge(other))
    _step(idx, lambda: idx.add(make_docs(spark, [300, 301], tenant=1)))
    assert 300 not in idx._serve_slot.doc_ids
    assert len(idx._segments("docs")) >= 3
    _step(idx, lambda: idx.minor_compact(force=True))
    _step(idx, idx.compact)
    assert len(idx._segments("docs")) == 1

    # an add whose maintenance compacts: two commits, both carried
    idx.auto_compact = True
    monkeypatch.setattr(params, "ARTIFACT_AUTOCOMPACT_SEGMENTS", 2)
    before = len(idx._segments("docs"))
    _step(idx, lambda: idx.add(make_docs(spark, [400, 401])), min_carries=2)
    assert len(idx._segments("docs")) <= before


def test_carry_reads_every_scalar_type(spark, tmp_path):
    """DATETIME and FLOAT columns, NULLs included, read from the
    appended segment's files equal what the Spark rebuild collects."""
    base = make_schema("none")
    schema = Schema(base.fields + [
        IndexedField("ts", DataType.DATETIME), IndexedField("w", DataType.FLOAT),
    ])
    idx = Index.create(spark, str(tmp_path / "types"), schema)

    def docs(ids):
        return (
            make_docs(spark, ids)
            .withColumn("ts", F.when(F.col("doc_id") % 3 == 0, None).otherwise(
                F.timestamp_seconds(F.col("doc_id") * 86_400 + 7)))
            .withColumn("w", F.when(F.col("doc_id") % 2 == 0, None).otherwise(
                F.col("doc_id") / 4.0))
        )

    idx.train(docs(range(12)))
    idx.auto_compact = False
    idx.add(docs(range(12)))
    idx.search(0, VectorQuery("colbert", doc_tokens(3)), k=3, opts=OPTS).collect()
    for op in (lambda: idx.add(docs([20, 21, 22])), lambda: idx.remove(0, [21])):
        c, r = idx.serve_carries, idx.serve_rebuilds
        op()
        assert (idx.serve_carries, idx.serve_rebuilds) == (c + 1, r)
        assert_same_state(idx._serve_slot, Index.load(spark, idx.path)._serve_state(0, "colbert"))
    assert idx._serve_slot.scalars.column("ts").null_count == 4


def test_searches_during_commits_never_rebuild(spark, tmp_path):
    """More search threads than cores, with a short switch interval,
    while adds and removes commit: each commit installs its carried
    state with its snapshot, so no search rebuilds, and every search
    answers from one snapshot (doc 3 stays the top hit of its own
    tokens)."""
    idx = _build(spark, str(tmp_path / "stress"))
    q = VectorQuery("colbert", doc_tokens(3))
    idx.search(0, q, k=3, opts=OPTS).collect()
    rebuilds = idx.serve_rebuilds
    done = threading.Event()
    errors, answered = [], [0]

    def reader():
        try:
            while not done.is_set():
                got = rows(idx.search(0, q, k=3, opts=OPTS))
                assert got[0][0] == 3, got
                answered[0] += 1
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=reader) for _ in range(2 * (os.cpu_count() or 4))]
    old_switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        idx.add(make_docs(spark, [900, 901]))
        idx.remove(0, [900])
    finally:
        sys.setswitchinterval(old_switch)
        done.set()
        for t in threads:
            t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
    assert answered[0] >= len(threads)
    assert idx.serve_rebuilds == rebuilds and idx.serve_carries == 2
    assert sorted(set(idx._serve_slot.doc_ids.tolist()) - set(range(12))) == [901]


def _spark_plan(idx, tree):
    idx.force_cogroup = True
    try:
        return rows(idx.search(0, tree, k=5, opts=OPTS))
    finally:
        idx.force_cogroup = False


FAILSAFE = {
    "external_commit": lambda spark, idx: Index.load(spark, idx.path).add(
        make_docs(spark, [700])
    ),
    "no_delta": lambda spark, idx: idx._commit_segments([]),
    "train": lambda spark, idx: idx.train(make_docs(spark, range(12))),
    "set_coarse_quantizer": lambda spark, idx: idx.set_coarse_quantizer(
        "colbert", idx.centroids["colbert"][::-1].copy()
    ),
}


def test_commits_without_a_delta_rebuild_once(spark, tmp_path):
    """A carried state whose estimate crosses the broadcast threshold is
    unloaded, as a rebuilt one is. Each commit in FAILSAFE leaves the
    state to be rebuilt: the searches after it share exactly one
    rebuild and answer as the Spark plan does."""
    idx = _build(spark, str(tmp_path / "failsafe"))
    idx.search(0, VectorQuery("colbert", doc_tokens(800)), k=5, opts=OPTS).collect()
    est = idx._serve_slot.est_bytes
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(est + 10))
    try:
        idx.add(make_docs(spark, [800]))
        state = idx._serve_slot
        assert state.meta is idx._meta and not state.loaded
        assert state.est_bytes > est + 10
        assert (idx.serve_carries, idx.serve_rebuilds) == (1, 1)
        df = idx.search(0, VectorQuery("colbert", doc_tokens(800)), k=5, opts=OPTS)
        assert not is_local(df)
        assert rows(df)[0][0] == 800 and idx.serve_rebuilds == 1
        fresh = Index.load(spark, idx.path)
        assert fresh._serve_state(0, "colbert").est_bytes == state.est_bytes
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    tree = VectorQuery("colbert", doc_tokens(700))
    for case, commit in FAILSAFE.items():
        commit(spark, idx)
        c, r = idx.serve_carries, idx.serve_rebuilds
        for _ in range(3):
            got = rows(idx.search(0, tree, k=5, opts=OPTS))
        assert (idx.serve_carries, idx.serve_rebuilds) == (c, r + 1), case
        assert idx._serve_slot.meta is idx._meta and idx._serve_slot.loaded, case
        assert got == _spark_plan(idx, tree), case
        if case == "external_commit":
            assert got[0][0] == 700


@pytest.fixture(scope="module")
def seed_index(spark, tmp_path_factory):
    return _build(spark, str(tmp_path_factory.mktemp("seed") / "idx")).path


OPS = st.lists(
    st.one_of(
        st.tuples(st.just("add"), st.lists(st.integers(20, 40), min_size=1, max_size=3, unique=True)),
        st.tuples(st.just("remove"), st.lists(st.integers(0, 40), min_size=1, max_size=3)),
        st.tuples(st.just("update"), st.lists(st.integers(0, 40), min_size=1, max_size=2, unique=True)),
        st.tuples(st.just("compact"), st.just([])),
        st.tuples(st.just("minor"), st.just([])),
    ),
    min_size=1,
    max_size=3,
)


@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=OPS)
def test_random_op_sequences_carry_exactly(spark, tmp_path, seed_index, ops):
    path = str(tmp_path / f"h-{uuid.uuid4().hex[:8]}")
    shutil.copytree(seed_index, path)
    idx = Index.load(spark, path)
    idx.auto_compact = False
    _answers(idx)
    live = set(range(12))
    for kind, ids in ops:
        if kind == "add":
            ids = [d for d in ids if d not in live]  # one row per id
            if not ids:
                continue
            op = lambda: idx.add(make_docs(spark, ids))  # noqa: E731
            live |= set(ids)
        elif kind == "remove":
            op = lambda: idx.remove(0, ids)  # noqa: E731
            live -= set(ids)
        elif kind == "update":
            op = lambda: idx.update(  # noqa: E731
                make_docs(spark, ids).withColumn("title", F.lit("upd"))
            )
            live |= set(ids)
        else:
            op = idx.compact if kind == "compact" else (lambda: idx.minor_compact(force=True))
        _step(idx, op, min_carries=0 if kind == "minor" else 1)
    assert set(idx._serve_slot.doc_ids.tolist()) == live
    shutil.rmtree(path, ignore_errors=True)
