"""Driver-local point search: Index.search scores bare TENSOR trees and
AND(TERM..., TENSOR) trees in the driver from the tenant's serve state.
It must return exactly what the Spark plan returns (pinned here with
``force_cogroup`` or a -1 broadcast threshold), follow every commit,
and run no Spark job once warm."""

from __future__ import annotations

import dataclasses
import gc
import logging
import os
import sys
import threading
import time
import weakref

import numpy as np
import pytest

from pyspark.sql import functions as F

from lintdb_spark.index import (
    AndQuery,
    Index,
    MatchQuery,
    OrQuery,
    SearchOptions,
    TermQuery,
    VectorQuery,
)
from lintdb_spark.index import kernels, serve
from lintdb_spark.index.schema import DataType, IndexedField, Schema
from tests.test_index_lifecycle import NUM_TOKENS, doc_tokens, make_docs, make_schema

NUM = 24
BASE = dict(n_probe=8, k_top_centroids=2, num_second_pass=50)


def trees():
    return {
        "tensor": VectorQuery("colbert", doc_tokens(5)),
        "term_tensor": AndQuery(
            [TermQuery("category", "odd"), VectorQuery("colbert", doc_tokens(7))]
        ),
        "term_term_tensor": AndQuery(
            [
                TermQuery("rank_i", 1),
                TermQuery("category", "even"),
                VectorQuery("colbert", doc_tokens(4)),
            ]
        ),
        "term_tensor_term": AndQuery(
            [
                TermQuery("category", "even"),
                VectorQuery("colbert", doc_tokens(10)),
                TermQuery("rank_i", 1),
            ]
        ),
    }


def build(spark, path, quant):
    idx = Index.create(spark, str(path), make_schema(quant))
    docs = make_docs(spark, range(NUM))
    idx.train(docs)
    idx.add(docs)
    return idx


@pytest.fixture(scope="module", params=["none", "binarizer", "product"])
def idx(request, spark, tmp_path_factory):
    return build(spark, tmp_path_factory.mktemp(f"ls_{request.param}") / "i", request.param)


def is_local(df) -> bool:
    # the local path returns a frame built from one Arrow table: its
    # analyzed plan IS a LocalRelation. A Spark plan may contain one
    # below its root (any small pandas/Arrow-built frame it joins).
    return df._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"


def rows(df):
    return [(r["doc_id"], r["score"], r["title"]) for r in df.collect()]


def spark_plan(idx, query, k, opts):
    idx.force_cogroup = True
    try:
        df = idx.search(0, query, k=k, opts=opts)
        assert not is_local(df)
        return rows(df)
    finally:
        idx.force_cogroup = False


def assert_parity(idx, query, k, opts, label=""):
    df = idx.search(0, query, k=k, opts=opts)
    assert is_local(df), label
    got, want = rows(df), spark_plan(idx, query, k, opts)
    assert [g[0] for g in got] == [w[0] for w in want], label
    assert [g[2] for g in got] == [w[2] for w in want], label
    np.testing.assert_allclose(
        [g[1] for g in got], [w[1] for w in want], rtol=0, atol=1e-9, err_msg=label
    )
    return got


def test_local_matches_spark_plan(idx):
    quant = idx.schema.field("colbert").parameters.quantization
    # (normalize, threshold, use_adc): each value of each knob once; on
    # PQ, normalize=False auto-selects ADC, and use_adc=False pins the
    # decode path
    configs = [(True, 0.0, None), (False, 0.45, None)]
    if quant == "product":
        configs.append((False, 0.0, False))
    for normalize, threshold, use_adc in configs:
        opts = SearchOptions(
            **BASE, centroid_score_threshold=threshold,
            normalize=normalize, use_adc=use_adc,
        )
        for name, q in trees().items():
            got = assert_parity(idx, q, 5, opts, f"{quant} {name} {opts}")
            assert got, name
            if name != "tensor":
                want = 1 if name == "term_tensor" else 0  # odd / even docs
                assert all(d % 2 == want for d, _, _ in got), name


def test_bad_knobs_raise_alike_and_zero_agrees(spark, tmp_path):
    """A negative k or count raises the same ValueError on the local
    path and on the Spark plan (force_cogroup), for search and
    search_batch; the boundary value 0 answers alike on both."""
    idx = build(spark, tmp_path / "knobs", "none")
    q = trees()["tensor"]
    for force in (False, True):
        idx.force_cogroup = force
        try:
            with pytest.raises(ValueError, match="k must be >= 0, got -1"):
                idx.search(0, q, k=-1, opts=SearchOptions(**BASE))
            with pytest.raises(ValueError, match="k must be >= 0, got -1"):
                idx.search_batch(0, "colbert", {0: q.query_tokens}, k=-1)
        finally:
            idx.force_cogroup = False
    for knob in ("n_probe", "k_top_centroids", "num_second_pass", "nearest_tokens_to_fetch"):
        with pytest.raises(ValueError, match=f"{knob} must be >= 0, got -1"):
            SearchOptions(**{**BASE, knob: -1})
    assert assert_parity(idx, q, 0, SearchOptions(**BASE)) == []
    for knob in ("n_probe", "num_second_pass"):
        assert assert_parity(idx, q, 5, SearchOptions(**{**BASE, knob: 0})) == [], knob
    assert assert_parity(idx, q, 5, SearchOptions(**{**BASE, "k_top_centroids": 0}))


def test_local_survivor_cut_below_candidate_count(spark, tmp_path):
    idx = build(spark, tmp_path / "cut", "binarizer")
    opts = SearchOptions(**{**BASE, "num_second_pass": 3}, centroid_score_threshold=0.0)
    state = idx._serve_state(0, "colbert")
    probes = idx._top_centroids("colbert", doc_tokens(5), opts)
    assert len(state.candidates(probes)) > 3
    for name, q in trees().items():
        got = assert_parity(idx, q, 10, opts, name)
        assert 0 < len(got) <= 3


def test_spark_plan_trees_and_over_threshold_keep_spark(spark, idx):
    v = VectorQuery("colbert", doc_tokens(3))
    opts = SearchOptions(**BASE)
    for q in (
        OrQuery([TermQuery("category", "odd"), v]),
        AndQuery([v, VectorQuery("colbert", doc_tokens(4))]),
        AndQuery([AndQuery([TermQuery("category", "odd")]), v]),
        AndQuery([TermQuery("category", 3), v]),  # cross-type equality
        TermQuery("category", "odd"),
    ):
        assert not is_local(idx.search(0, q, k=3, opts=opts)), q
    xtr = dataclasses.replace(opts, scoring_method="xtr")
    assert not is_local(idx.search(0, v, k=3, opts=xtr))

    want = rows(idx.search(0, v, k=5, opts=opts))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = idx.search(0, v, k=5, opts=opts)
        assert not is_local(df)
        got = rows(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert [g[0] for g in got] == [w[0] for w in want]
    np.testing.assert_allclose([g[1] for g in got], [w[1] for w in want], atol=1e-9)


def test_float_term_values_arrow_cannot_match_keep_spark(spark, tmp_path):
    # Spark SQL has NaN = NaN and compares a double with any bigint;
    # Arrow has NaN != NaN and refuses ints beyond 2^53 as float64
    schema = make_schema("none")
    idx = Index.create(
        spark, str(tmp_path / "fl"),
        Schema(schema.fields + [IndexedField("weight", DataType.FLOAT)]),
    )
    weight = (
        F.when(F.col("doc_id") % 2 == 0, F.lit(float("nan")))
        .when(F.col("doc_id") == 1, F.lit(float(2**60)))
        .otherwise(F.col("doc_id").cast("double"))
    )
    docs = make_docs(spark, range(NUM)).withColumn("weight", weight)
    idx.train(docs)
    idx.add(docs)
    opts = SearchOptions(**BASE, centroid_score_threshold=0.0)

    def spark_only(value, doc):
        df = idx.search(
            0, AndQuery([TermQuery("weight", value), VectorQuery("colbert", doc_tokens(doc))]),
            k=NUM, opts=opts,
        )
        assert not is_local(df), value
        return [d for d, _, _ in rows(df)]

    nan_hits = spark_only(float("nan"), 2)
    assert 2 in nan_hits and all(d % 2 == 0 for d in nan_hits)
    assert spark_only(2**60, 1) == [1]
    assert spark_only(-(2**53) - 1, 1) == []
    # in-range values stay local and agree with the Spark plan
    for value in (3, 3.0, -(2**53)):
        q = AndQuery([TermQuery("weight", value), VectorQuery("colbert", doc_tokens(3))])
        got = assert_parity(idx, q, 5, opts, str(value))
        assert [d for d, _, _ in got] == ([3] if value == 3 else [])


def test_size_estimate_counts_scalar_columns(spark, tmp_path):
    idx = build(spark, tmp_path / "est", "none")
    quant = idx.quantizers["colbert"]
    docs = idx._docs().filter(F.col("tenant") == 0)
    full = idx._serve_estimate(docs, "colbert", quant)
    text = sum(len(f"doc-{d}") + len("even" if d % 2 == 0 else "odd") for d in range(NUM))
    # per token the code bytes + 16; per doc 256 B of objects, doc_id
    # and rank_i at 8 B, category and title at 4 B of offset each
    tokens = NUM * NUM_TOKENS
    assert full == tokens * (quant.code_size + 16) + NUM * (256 + 8 + 8 + 2 * 4) + text
    # one byte over the threshold: the state is not loaded and the
    # search keeps the Spark plan
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(full - 1))
    try:
        df = idx.search(0, VectorQuery("colbert", doc_tokens(3)), k=3, opts=SearchOptions(**BASE))
        assert not is_local(df) and not idx._serve_slot.loaded
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_released_state_broadcasts_per_call(spark, tmp_path, monkeypatch):
    """A state replaced after search_batch picked it up (a commit, or a
    search of another tenant, took the one slot) must not create a
    broadcast it owns: nothing would ever free it. The state goes out
    as a per-call broadcast, released with the result."""
    from lintdb_spark.cache import release

    idx = build(spark, tmp_path / "rel", "none")
    idx.add(make_docs(spark, [100, 101], tenant=1))
    opts = SearchOptions(**BASE, centroid_score_threshold=0.0)
    picked = []
    real = Index._serve_state

    def replaced_after_pick(self, tenant, field, snap=None):
        picked.append(real(self, tenant, field, snap))
        real(self, 1, field)  # another tenant's search
        return picked[-1]

    monkeypatch.setattr(Index, "_serve_state", replaced_after_pick)
    df = idx.search_batch(0, "colbert", {1: doc_tokens(4)}, k=3, opts=opts)
    monkeypatch.undo()
    (state,) = picked
    assert idx._serve_slot.key == (1, "colbert") and idx._serve_slot is not state
    assert state._released and state._bc is None  # no owned broadcast
    payloads = [
        b for b in getattr(df, "_lintdb_broadcasts", ())
        if isinstance(b.value, serve.ServeState)
    ]
    assert len(payloads) == 1  # the state, tagged on the result
    assert 4 in payloads[0].value.doc_ids
    got = df.collect()
    assert sorted(got, key=lambda r: r["rank"])[0]["doc_id"] == 4
    release(df)
    assert getattr(df, "_lintdb_broadcasts", ()) == ()

    # an unreleased state owns its one broadcast across calls
    live = idx._serve_state(0, "colbert")
    b1 = live.broadcast(spark.sparkContext, idx._bc)
    assert live.broadcast(spark.sparkContext, idx._bc) is b1
    live.release()
    assert live._bc is None


def test_postings_inverted_from_codes_equal_postings_table(idx):
    state = idx._serve_state(0, "colbert")
    # the CSR: centroid c's posting list is post_rows[post_ptr[c]:post_ptr[c + 1]]
    cents = np.repeat(np.arange(len(state.post_ptr) - 1), np.diff(state.post_ptr))
    dids = state.doc_ids[state.post_rows]
    got = set(zip(cents.tolist(), dids.tolist()))
    want = {
        (r["centroid_id"], r["doc_id"])
        for r in idx._postings("colbert")
        .filter(F.col("tenant") == 0)
        .select("centroid_id", "doc_id")
        .collect()
    }
    assert got == want and len(cents) == len(want)


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"local-serve-{time.monotonic_ns()}"
    sc.setJobGroup(group, "local serve job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    time.sleep(1.0)  # the status store is fed by the async listener bus
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_local_search_follows_commits_with_few_jobs(spark, tmp_path):
    idx = build(spark, tmp_path / "snap", "none")
    opts = SearchOptions(**BASE, centroid_score_threshold=0.0)

    def top(doc, k=5):
        df = idx.search(0, VectorQuery("colbert", doc_tokens(doc)), k=k, opts=opts)
        assert is_local(df)
        return rows(df)

    top(3)  # builds the serve state
    got, jobs = _jobs(spark, lambda: top(3))
    assert got[0][0] == 3 and jobs == 0
    old = weakref.ref(idx._serve_slot)

    # each commit carries the serve state: the first search after it
    # runs no Spark job
    idx.add(make_docs(spark, [500]))
    got, jobs = _jobs(spark, lambda: top(500))
    assert got[0][0] == 500 and jobs == 0
    gc.collect()
    assert old() is None  # the replaced state is not kept alive

    idx.update(make_docs(spark, [500]).withColumn("title", F.lit("retitled")))
    got, jobs = _jobs(spark, lambda: top(500))
    assert got[0][0] == 500 and got[0][2] == "retitled" and jobs == 0

    idx.remove(0, [500])
    got, jobs = _jobs(spark, lambda: top(500, k=NUM))
    assert all(d != 500 for d, _, _ in got) and jobs == 0


def test_concurrent_searches_share_one_rebuild(spark, tmp_path):
    idx = build(spark, tmp_path / "conc", "none")
    opts = SearchOptions(**BASE, centroid_score_threshold=0.0)
    q = VectorQuery("colbert", doc_tokens(9))
    idx.search(0, q, k=5, opts=opts).collect()
    assert (idx.serve_carries, idx.serve_rebuilds) == (0, 1)
    # an add carries the state: no search rebuilds it
    idx.add(make_docs(spark, [600]))
    assert rows(idx.search(0, VectorQuery("colbert", doc_tokens(600)), k=1, opts=opts))[0][0] == 600
    assert (idx.serve_carries, idx.serve_rebuilds) == (1, 1)
    # a re-train's commit must rebuild: the concurrent first searches
    # after it share one rebuild
    idx.set_coarse_quantizer("colbert", idx.centroids["colbert"][::-1].copy())

    n = 2 * (os.cpu_count() or 4)
    barrier = threading.Barrier(n)
    results, errors = [None] * n, []

    def worker(i):
        try:
            barrier.wait()
            results[i] = rows(idx.search(0, q, k=5, opts=opts))
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
    old_switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old_switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert (idx.serve_carries, idx.serve_rebuilds) == (1, 2)
    assert all(r == results[0] for r in results)
    # the state every thread read is the post-commit snapshot
    state = idx._serve_slot
    assert state.meta is idx._meta and 600 in state.doc_ids


def is_batch_local(df) -> bool:
    # the broadcast batch path parallelizes qids: an RDD, no cogroup
    plan = df._jdf.queryExecution().analyzed().toString()
    return "LogicalRDD" in plan and "CoGroup" not in plan


def batch_rows(idx, queries, opts, doc_filter=None, local=True):
    df = idx.search_batch(0, "colbert", queries, k=5, opts=opts, doc_filter=doc_filter)
    assert is_batch_local(df) == local
    return sorted(
        (r["qid"], r["rank"], r["doc_id"], r["score"], r["title"]) for r in df.collect()
    )


def assert_same_rows(got, want):
    assert [g[:3] + g[4:] for g in got] == [w[:3] + w[4:] for w in want]
    np.testing.assert_allclose(
        [g[3] for g in got], [w[3] for w in want], rtol=0, atol=1e-9
    )


def test_batch_scores_like_local_search(idx):
    """Under the threshold search_batch scores each qid with the point
    search's scorer: its rows equal per-query local Index.search."""
    opts = SearchOptions(**BASE, centroid_score_threshold=0.0)
    queries = {5: doc_tokens(5), 11: doc_tokens(11), 30: doc_tokens(30)}
    got = batch_rows(idx, queries, opts)
    want = []
    for qid, q in queries.items():
        single = idx.search(0, VectorQuery("colbert", q), k=5, opts=opts)
        assert is_local(single)
        want += [(qid, rank, *r) for rank, r in enumerate(rows(single), 1)]
    assert len(got) == 15
    assert_same_rows(got, sorted(want))


def test_batch_doc_filter_matches_cogroup(spark, tmp_path):
    schema = make_schema("binarizer")
    idx = Index.create(
        spark, str(tmp_path / "bf"),
        Schema(schema.fields + [IndexedField("body", DataType.TEXT, analyzer="standard")]),
    )
    body = F.when(F.col("doc_id") % 3 == 0, "data pipelines").otherwise("other things")
    docs = make_docs(spark, range(NUM)).withColumn("body", body)
    idx.train(docs)
    idx.add(docs)
    opts = SearchOptions(**BASE, centroid_score_threshold=0.0)
    queries = {1: doc_tokens(6), 2: doc_tokens(9), 3: doc_tokens(4)}
    filters = {
        "term": (TermQuery("category", "odd"), lambda d: d % 2 == 1),
        "match": (MatchQuery("body", "data"), lambda d: d % 3 == 0),
        "or": (
            OrQuery([TermQuery("rank_i", 1), TermQuery("category", "even")]),
            lambda d: d % 3 == 1 or d % 2 == 0,
        ),
    }
    for name, (filt, holds) in filters.items():
        got = batch_rows(idx, queries, opts, filt)
        assert got and all(holds(r[2]) for r in got), name
        idx.force_cogroup = True
        try:
            want = batch_rows(idx, queries, opts, filt, local=False)
        finally:
            idx.force_cogroup = False
        assert_same_rows(got, want)


def test_warm_batch_runs_one_job(spark, tmp_path):
    idx = build(spark, tmp_path / "bj", "none")
    opts = SearchOptions(**BASE, centroid_score_threshold=0.0)
    queries = {1: doc_tokens(3), 2: doc_tokens(8), 3: doc_tokens(13)}
    batch_rows(idx, queries, opts)  # builds the state and its broadcast
    got, jobs = _jobs(spark, lambda: batch_rows(idx, queries, opts))
    assert len(got) == 15 and jobs == 1
    filt = TermQuery("category", "odd")
    got, jobs = _jobs(spark, lambda: batch_rows(idx, queries, opts, filt))
    assert got and all(r[2] % 2 == 1 for r in got)
    assert 1 <= jobs <= 2  # the filter's doc ids, then the batch


def _trace(idx, caplog, query, opts):
    caplog.clear()
    with caplog.at_level(logging.INFO, logger="lintdb_spark.index"):
        idx.search(0, query, k=3, opts=opts).collect()
    return [r.getMessage() for r in caplog.records if "expected_id" in r.getMessage()]


def test_expected_id_trace_on_local_path(spark, tmp_path, caplog):
    idx = build(spark, tmp_path / "eid", "none")
    base = SearchOptions(**BASE, centroid_score_threshold=0.0)
    cases = [
        # self-query: a candidate that survives the cut
        (VectorQuery("colbert", doc_tokens(7)), dataclasses.replace(base, expected_id=7),
         ("stage-1 candidate, s1=", "survived")),
        # a candidate cut by num_second_pass=1 (doc 7 outranks it)
        (VectorQuery("colbert", doc_tokens(7)),
         dataclasses.replace(base, expected_id=8, num_second_pass=1),
         ("stage-1 candidate, s1=", "ELIMINATED by")),
        # filtered out by the TERM child: not a candidate at all
        (AndQuery([TermQuery("category", "even"), VectorQuery("colbert", doc_tokens(7))]),
         dataclasses.replace(base, expected_id=7),
         ("NOT a stage-1 candidate", "ELIMINATED by")),
    ]
    for q, opts, (first, second) in cases:
        local = _trace(idx, caplog, q, opts)
        assert len(local) == 2, local
        assert first in local[0] and second in local[1], local
        idx.force_cogroup = True
        try:
            assert _trace(idx, caplog, q, opts) == local  # same lines as the Spark plan
        finally:
            idx.force_cogroup = False


def test_kernel_rank_orders_by_score_then_doc_id():
    scores = np.array([0.5, 0.9, 0.5, 0.9, 0.1])
    doc_ids = np.array([7, 3, 2, 1, 9])
    assert kernels.rank(scores, doc_ids, 4).tolist() == [3, 1, 2, 0]
    assert kernels.rank(scores, doc_ids, 0).tolist() == []
