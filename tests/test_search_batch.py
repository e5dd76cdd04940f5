"""Index.search_batch must agree with per-query Index.search."""

from __future__ import annotations

import pytest

from lintdb_spark.index import Index, VectorQuery
from tests.test_index_lifecycle import OPTS, doc_tokens, make_docs, make_schema


@pytest.mark.parametrize("quant", ["none", "binarizer"])
def test_batch_matches_single(quant, spark, tmp_path):
    idx = Index.create(spark, str(tmp_path / f"bidx_{quant}"), make_schema(quant))
    docs = make_docs(spark, range(15))
    idx.train(docs)
    idx.add(docs)

    queries = {100: doc_tokens(2), 200: doc_tokens(9), 300: doc_tokens(14)}
    batch = idx.search_batch(0, "colbert", queries, k=5, opts=OPTS).collect()
    by_qid = {}
    for r in batch:
        by_qid.setdefault(r["qid"], []).append(r)

    assert set(by_qid) == {100, 200, 300}
    for qid, q in queries.items():
        single = idx.search(0, VectorQuery("colbert", q), k=5, opts=OPTS).collect()
        got = sorted(by_qid[qid], key=lambda r: r["rank"])
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in single]
        for g, s in zip(got, single):
            assert abs(g["score"] - s["score"]) < 1e-9
            assert g["title"] == s["title"]
    # self-queries rank their own doc first
    assert sorted(by_qid[100], key=lambda r: r["rank"])[0]["doc_id"] == 2
    assert sorted(by_qid[200], key=lambda r: r["rank"])[0]["doc_id"] == 9


def test_batch_filtered_match_nested_in_and(spark, tmp_path):
    """doc_filter with a MatchQuery nested inside And/Or — previously
    only a bare top-level MatchQuery worked (the nested one fell into
    _scalar_predicate and raised TypeError)."""
    from pyspark.sql import types as T

    from lintdb_spark.index import AndQuery, MatchQuery, TermQuery
    from lintdb_spark.index.schema import (
        DataType,
        FieldType,
        IndexedField,
        Schema,
        StoredField,
        TensorField,
    )

    schema = Schema(
        [
            TensorField(
                "colbert", dimensions=16, roles=[FieldType.COLBERT],
                quantization="none", num_centroids=4,
            ),
            IndexedField("body", DataType.TEXT, analyzer="standard"),
            IndexedField("category", DataType.TEXT),
            StoredField("title", DataType.TEXT),
        ]
    )
    idx = Index.create(spark, str(tmp_path / "bm"), schema)
    rows = [
        (
            0,
            d,
            [[float(x) for x in tok] for tok in doc_tokens(d)],
            "data pipelines" if d % 3 == 0 else "other things",
            "even" if d % 2 == 0 else "odd",
            f"doc-{d}",
        )
        for d in range(12)
    ]
    df = spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("tenant", T.LongType()),
                T.StructField("doc_id", T.LongType()),
                T.StructField("colbert", T.ArrayType(T.ArrayType(T.FloatType()))),
                T.StructField("body", T.StringType()),
                T.StructField("category", T.StringType()),
                T.StructField("title", T.StringType()),
            ]
        ),
    )
    idx.train(df)
    idx.add(df)
    filt = AndQuery([MatchQuery("body", "data"), TermQuery("category", "even")])
    res = idx.search_batch(
        0, "colbert", {1: doc_tokens(6), 2: doc_tokens(3)}, k=6, opts=OPTS,
        doc_filter=filt,
    ).collect()
    assert len(res) > 0
    # survivors must match BOTH: body contains 'data' (d%3==0) and even
    assert all(r["doc_id"] % 3 == 0 and r["doc_id"] % 2 == 0 for r in res)
    by_qid = {}
    for r in res:
        by_qid.setdefault(r["qid"], []).append(r)
    assert sorted(by_qid[1], key=lambda r: r["rank"])[0]["doc_id"] == 6


def test_batch_filtered(spark, tmp_path):
    """Batch filtered search: shared term predicate restricts every
    query's candidates (BENCH-3 in batch form)."""
    from lintdb_spark.index import TermQuery

    idx = Index.create(spark, str(tmp_path / "bf"), make_schema("none"))
    docs = make_docs(spark, range(15))
    idx.train(docs)
    idx.add(docs)
    res = idx.search_batch(
        0,
        "colbert",
        {1: doc_tokens(4), 2: doc_tokens(7)},
        k=5,
        opts=OPTS,
        doc_filter=TermQuery("category", "odd"),
    ).collect()
    assert len(res) > 0
    assert all(r["doc_id"] % 2 == 1 for r in res)  # predicate holds everywhere
    by_qid = {}
    for r in res:
        by_qid.setdefault(r["qid"], []).append(r)
    # query 2's target (doc 7) is odd -> still top; query 1's target (4) is even -> excluded
    assert sorted(by_qid[2], key=lambda r: r["rank"])[0]["doc_id"] == 7
    assert all(r["doc_id"] != 4 for r in by_qid[1])


def test_search_xtr_matches_declarative_twin(spark, tmp_path):
    """With n_probe covering all centroids and the lossless identity
    quantizer, Index.search_xtr over the real tables equals
    scoring.xtr_topk on the raw (normalized) corpus exactly."""
    import numpy as np

    from pyspark.sql import functions as F

    from lintdb_spark.index import Index, SearchOptions
    from lintdb_spark.operators import scoring
    from tests.test_index_lifecycle import (
        NUM_TOKENS,
        doc_tokens,
        make_docs,
        make_schema,
    )

    idx = Index.create(spark, str(tmp_path / "idx"), make_schema("none"))
    docs = make_docs(spark, range(16))
    # normalize ingest tokens so decode's L2 normalization is identity
    docs = docs.withColumn(
        "colbert",
        F.transform(
            "colbert",
            lambda t: F.transform(
                t,
                lambda x: (
                    x
                    / F.sqrt(
                        F.aggregate(t, F.lit(0.0), lambda a, v: a + v * v)
                    )
                ).cast("float"),
            ),
        ),
    )
    idx.train(docs)
    idx.add(docs)

    Q = doc_tokens(3)
    opts = SearchOptions(
        n_probe=1000, k_top_centroids=1000, nearest_tokens_to_fetch=20,
        centroid_score_threshold=0.0,
    )
    got = {
        r["doc_id"]: r["score"]
        for r in idx.search_xtr(0, "colbert", Q, k=5, opts=opts).collect()
    }

    # declarative twin over the same normalized corpus
    dt = (
        idx._docs()
        .select("doc_id")
        .join(docs.select("doc_id", "colbert"), "doc_id")
        .select(
            "doc_id",
            F.posexplode(F.col("colbert").cast("array<array<double>>")).alias(
                "token_idx", "vec"
            ),
        )
    )
    q_df = spark.createDataFrame(
        [(j, [float(x) for x in Q[j]]) for j in range(NUM_TOKENS)],
        "q_id long, qvec array<double>",
    )
    want = {
        r["doc_id"]: r["score"]
        for r in scoring.xtr_topk(dt, q_df, k=5, nearest_tokens_to_fetch=20).collect()
    }
    assert set(got) == set(want)
    for d in want:
        assert abs(got[d] - want[d]) < 1e-6


def test_search_routes_xtr_scoring_method(spark, tmp_path):
    """SearchOptions.scoring_method='xtr' routes Index.search to the
    XTR path (same results as search_xtr); non-vector trees refuse."""
    import numpy as np
    import pytest

    from lintdb_spark.index import Index, SearchOptions, TermQuery, VectorQuery
    from tests.test_index_lifecycle import doc_tokens, make_docs, make_schema

    idx = Index.create(spark, str(tmp_path / "sm"), make_schema("none"))
    docs = make_docs(spark, range(12))
    idx.train(docs)
    idx.add(docs)
    Q = doc_tokens(5)
    opts = SearchOptions(
        n_probe=100, k_top_centroids=100, nearest_tokens_to_fetch=16,
        centroid_score_threshold=0.0, scoring_method="xtr",
    )
    via_search = idx.search(0, VectorQuery("colbert", Q), k=5, opts=opts).collect()
    direct = idx.search_xtr(0, "colbert", Q, k=5, opts=opts).collect()
    assert [(r["doc_id"], r["score"]) for r in via_search] == [
        (r["doc_id"], r["score"]) for r in direct
    ]
    with pytest.raises(NotImplementedError, match="bare VectorQuery"):
        idx.search(0, TermQuery("category", "even"), k=5, opts=opts)


@pytest.mark.slow
# Slow lane (round 16 suite budget): in-lane twins — the q_xtr oracle
# (driver window) checks XTR scoring byte-exact, and
# test_search_routes_xtr_scoring_method keeps the batch routing pinned.
def test_search_batch_xtr_matches_per_query(spark, tmp_path):
    """scoring_method='xtr' through search_batch: every qid's ranking
    equals the single-query search_xtr on the same index."""
    from lintdb_spark.index import Index, SearchOptions
    from tests.test_index_lifecycle import doc_tokens, make_docs, make_schema

    idx = Index.create(spark, str(tmp_path / "bx"), make_schema("none"))
    docs = make_docs(spark, range(14))
    idx.train(docs)
    idx.add(docs)
    queries = {7: doc_tokens(2), 8: doc_tokens(11), 9: doc_tokens(5)}
    opts = SearchOptions(
        n_probe=100, k_top_centroids=100, nearest_tokens_to_fetch=12,
        centroid_score_threshold=0.0, scoring_method="xtr",
    )
    batch = idx.search_batch(0, "colbert", queries, k=5, opts=opts).collect()
    by_qid = {}
    for r in batch:
        by_qid.setdefault(r["qid"], []).append(r)
    assert set(by_qid) == set(queries)
    for qid, q in queries.items():
        single = idx.search_xtr(0, "colbert", q, k=5, opts=opts).collect()
        got = sorted(by_qid[qid], key=lambda r: r["rank"])
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in single]
        for g, s in zip(got, single):
            assert abs(g["score"] - s["score"]) < 1e-9
            assert g["title"] == s["title"]


def test_search_batch_xtr_respects_doc_filter(spark, tmp_path):
    from lintdb_spark.index import Index, SearchOptions, TermQuery
    from tests.test_index_lifecycle import doc_tokens, make_docs, make_schema

    idx = Index.create(spark, str(tmp_path / "bxf"), make_schema("none"))
    docs = make_docs(spark, range(14))
    idx.train(docs)
    idx.add(docs)
    opts = SearchOptions(
        n_probe=100, k_top_centroids=100, nearest_tokens_to_fetch=12,
        centroid_score_threshold=0.0, scoring_method="xtr",
    )
    res = idx.search_batch(
        0, "colbert", {1: doc_tokens(4), 2: doc_tokens(7)}, k=5, opts=opts,
        doc_filter=TermQuery("category", "odd"),
    ).collect()
    assert len(res) > 0
    assert all(r["doc_id"] % 2 == 1 for r in res)


def test_batch_broadcast_and_cogroup_paths_agree(spark, tmp_path):
    """search_batch auto-routes between the broadcast-docs serve path
    and the qid-cogroup shuffle path on a size estimate vs
    autoBroadcastJoinThreshold; both must score identically (same
    SearchOptions => same results, whatever the physical strategy)."""
    idx = Index.create(spark, str(tmp_path / "bpath"), make_schema("binarizer"))
    docs = make_docs(spark, range(15))
    idx.train(docs)
    idx.add(docs)
    queries = {7: doc_tokens(3), 8: doc_tokens(11)}

    def run():
        rows = idx.search_batch(0, "colbert", queries, k=5, opts=OPTS).collect()
        return sorted(
            (r["qid"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows
        )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    bcast = run()  # tiny corpus: broadcast path
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cogroup = run()  # forced shuffle path
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert bcast == cogroup
    # the round-11 bench/ops knob routes the same way without touching
    # session conf — must also agree
    idx.force_cogroup = True
    try:
        assert run() == bcast
    finally:
        idx.force_cogroup = False


def test_batch_adc_parity_both_paths(spark, tmp_path):
    """PQ index: batch ADC scoring must equal the decode+matmul batch
    on BOTH physical paths (broadcast-docs and cogroup) and agree with
    per-query search — D11 through every batch strategy."""
    from lintdb_spark.index import SearchOptions

    idx = Index.create(spark, str(tmp_path / "badc"), make_schema("product"))
    docs = make_docs(spark, range(15))
    idx.train(docs)
    idx.add(docs)
    queries = {1: doc_tokens(3), 2: doc_tokens(12)}
    base = dict(
        n_probe=8, k_top_centroids=2, num_second_pass=50,
        centroid_score_threshold=0.0, normalize=False,
    )

    def run(use_adc, thresh):
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
            rows = idx.search_batch(
                0, "colbert", queries, k=5,
                opts=SearchOptions(**base, use_adc=use_adc),
            ).collect()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        return sorted((r["qid"], r["rank"], r["doc_id"]) for r in rows), {
            (r["qid"], r["doc_id"]): r["score"] for r in rows
        }

    big = str(64 * 1024 * 1024)
    ids_dec_b, s_dec_b = run(False, big)       # broadcast, decode
    ids_adc_b, s_adc_b = run(True, big)        # broadcast, ADC
    ids_adc_c, s_adc_c = run(True, "-1")       # cogroup, ADC
    assert ids_dec_b == ids_adc_b == ids_adc_c
    for k2 in s_dec_b:
        assert abs(s_dec_b[k2] - s_adc_b[k2]) < 1e-3
        assert abs(s_adc_b[k2] - s_adc_c[k2]) < 1e-9


def test_batch_broadcast_path_survives_tiny_arrow_batches(spark, tmp_path):
    """Arrow batches don't respect group boundaries: with
    maxRecordsPerBatch=3 the broadcast serve path must still emit
    exactly one ranked list per qid — identical to results under the
    default batch size."""
    idx = Index.create(spark, str(tmp_path / "bidx_tiny"), make_schema("none"))
    docs = make_docs(spark, range(15))
    idx.train(docs)
    idx.add(docs)
    queries = {100: doc_tokens(2), 200: doc_tokens(9), 300: doc_tokens(14)}

    def run():
        rows = idx.search_batch(0, "colbert", queries, k=5, opts=OPTS).collect()
        out = {}
        for r in rows:
            out.setdefault(r["qid"], []).append((r["rank"], r["doc_id"]))
        return {q: sorted(v) for q, v in out.items()}

    base = run()
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        tiny = run()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    assert tiny == base
    for q, ranked in tiny.items():
        ranks = [r for r, _ in ranked]
        assert ranks == list(range(1, len(ranks) + 1)), f"qid {q}: {ranks}"


def test_batch_serve_cache_reuses_and_invalidates(spark, tmp_path):
    """Batch serve reuses the serve state across calls on an unchanged
    index and rebuilds it after any committed mutation; a filtered call
    scores from the same state (its filter is a per-call row mask)."""
    from lintdb_spark.index import TermQuery

    idx = Index.create(spark, str(tmp_path / "bidx_cache"), make_schema("none"))
    docs = make_docs(spark, range(10))
    idx.train(docs)
    idx.add(docs)
    q = {1: doc_tokens(4)}

    idx.search_batch(0, "colbert", q, k=3, opts=OPTS).collect()
    cache1 = idx._serve_slot
    assert cache1.key == (0, "colbert")
    idx.search_batch(0, "colbert", q, k=3, opts=OPTS).collect()
    assert idx._serve_slot is cache1  # reused, not rebuilt

    # a filtered call must not replace the state
    res_f = idx.search_batch(
        0, "colbert", q, k=10, opts=OPTS,
        doc_filter=TermQuery("category", "even"),
    ).collect()
    assert idx._serve_slot is cache1
    assert all(r["doc_id"] % 2 == 0 for r in res_f)

    # committed mutation invalidates: the new doc is immediately servable
    idx.add(make_docs(spark, range(100, 101)))
    res = idx.search_batch(0, "colbert", {2: doc_tokens(100)}, k=3, opts=OPTS).collect()
    assert idx._serve_slot is not cache1
    assert res and sorted(res, key=lambda r: r["rank"])[0]["doc_id"] == 100


def test_batched_probe_selection_matches_sequential_reference():
    """kernels.top_centroids (round-7 vectorization) must select exactly
    what the sequential per-query algorithm selected — including on
    EXACT score ties (duplicated centroid vectors), where the contract
    is ascending-centroid_id tie-breaks at both the per-token
    nomination cut and the final n_probe cut. Pure numpy — no Spark."""
    import numpy as np

    from lintdb_spark.index import SearchOptions, kernels

    rng = np.random.RandomState(7)
    M, dim = 50, 8
    C = rng.randn(M, dim).astype(np.float32)
    C[13] = C[4]  # exact duplicates -> guaranteed rounded-score ties
    C[37] = C[4]
    C[22] = C[9]

    def sequential(qtok, opts):
        # the pre-round-7 per-query algorithm, verbatim
        scores = qtok.astype(np.float64) @ C.astype(np.float64).T
        k_top = min(max(opts.k_top_centroids, 1), C.shape[0])
        r6 = np.round(scores, 6)
        order = np.argsort(-r6, axis=1, kind="stable")[:, :k_top]
        high = np.full(C.shape[0], -np.inf, dtype=np.float64)
        rows = np.repeat(np.arange(scores.shape[0]), k_top)
        cols = order.ravel()
        np.maximum.at(high, cols, scores[rows, cols])
        cand = np.nonzero(high > 0)[0]
        ranked = sorted(cand.tolist(), key=lambda c: (-round(float(high[c]), 6), c))
        return [int(c) for c in ranked[: opts.n_probe]]

    for k_top, n_probe in ((1, 4), (2, 8), (5, 3), (M, M)):
        opts = SearchOptions(n_probe=n_probe, k_top_centroids=k_top)
        qmats = {qid: rng.randn(4, dim).astype(np.float32) for qid in range(17)}
        # make some query tokens EQUAL to centroids so positives + exact
        # ties are dense
        qmats[3][0] = C[4]
        qmats[5][1] = C[9]
        got = kernels.top_centroids(
            C.astype(np.float64), qmats, opts.k_top_centroids, opts.n_probe
        )
        want = [(qid, c) for qid in qmats for c in sequential(qmats[qid], opts)]
        assert got == want, (k_top, n_probe)
