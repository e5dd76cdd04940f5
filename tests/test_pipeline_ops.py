"""Behavior tests for the training-pipeline operators added in round 2:
near-dup cluster formation (connected components), decontamination, and
deterministic sampling/splits. The oracle equivalence of the q_* twins
is covered by test_queries_vs_oracle; these tests pin the operator
semantics on synthetic inputs where the expected answer is known by
construction."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from lintdb_spark.operators import dedup, sampling
from lintdb_spark.tables import load_table


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def test_dup_clusters_chain_transitivity(spark):
    # a 6-node path graph: diameter 5 forces multiple propagation
    # rounds; all nodes must land in the min-id (=1) cluster — on the
    # driver union-find path AND the forced distributed path
    pairs = _pairs(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)])
    for lme in (None, 0):
        got = {
            (r.doc_id, r.cluster_id)
            for r in dedup.dup_clusters(pairs, local_max_edges=lme).collect()
        }
        assert got == {(i, 1) for i in range(1, 7)}


def test_dup_clusters_separate_components(spark):
    pairs = _pairs(spark, [(10, 11), (11, 12), (20, 21), (30, 31)])
    for lme in (None, 0):
        labels = dict(
            (r.doc_id, r.cluster_id)
            for r in dedup.dup_clusters(pairs, local_max_edges=lme).collect()
        )
        assert labels == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 31: 30}


def test_dup_clusters_iteration_cap_converges_early(spark):
    # a triangle converges in one round regardless of the cap
    pairs = _pairs(spark, [(1, 2), (2, 3), (1, 3)])
    got = dedup.dup_clusters(pairs, max_iters=2, local_max_edges=0).collect()
    assert {r.cluster_id for r in got} == {1}


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_decontaminate_flags_overlap_only(spark):
    shared = "alpha beta gamma delta"
    docs = _docs(
        spark,
        [
            (50, f"{shared} eval doc here", "en", "s", 1),  # eval (50 % 50 == 0)
            (1, f"prefix {shared} suffix words", "en", "s", 1),  # contaminated
            (2, "completely different content entirely unrelated", "en", "s", 1),
            (100, "another eval document with other text", "en", "s", 1),  # eval
        ],
    )
    got = {r.doc_id: r.n_shared for r in dedup.decontaminate(docs).collect()}
    assert 1 in got and got[1] >= 1  # shares trigrams from the eval doc
    assert 2 not in got  # clean doc not flagged
    assert 50 not in got and 100 not in got  # eval docs never flagged


def test_stratified_sample_deterministic_and_stratum_scoped(spark):
    docs = _docs(
        spark,
        [(i, "t", "en" if i % 2 == 0 else "de", "s", 1) for i in range(200)],
    )
    rates = {"en": 0.5}  # de has no rate -> dropped entirely
    a = sorted(r.doc_id for r in sampling.stratified_sample(docs, rates).collect())
    b = sorted(r.doc_id for r in sampling.stratified_sample(docs, rates).collect())
    assert a == b  # rerun-stable
    assert all(d % 2 == 0 for d in a)  # only the configured stratum
    assert 0 < len(a) < 100  # a real subsample, not all/none
    # a different salt selects a different subset (same size regime)
    c = sorted(
        r.doc_id
        for r in sampling.stratified_sample(docs, rates, salt="other").collect()
    )
    assert c != a


def test_hash_split_stable_under_corpus_growth(spark):
    small = _docs(spark, [(i, "t", "en", "s", 1) for i in range(100)])
    big = _docs(spark, [(i, "t", "en", "s", 1) for i in range(300)])
    s_small = {r.doc_id: r.split for r in sampling.hash_split(small).collect()}
    s_big = {r.doc_id: r.split for r in sampling.hash_split(big).collect()}
    # the property randomSplit can't give: growing the corpus never
    # reassigns an existing doc's split
    assert all(s_big[d] == s for d, s in s_small.items())
    assert set(s_big.values()) == {"train", "val", "test"}
    # rough proportions at n=300 (train weight 0.9)
    n_train = sum(1 for s in s_big.values() if s == "train")
    assert n_train > 240


def test_hash_split_covers_every_doc_exactly_once(spark):
    docs = _docs(spark, [(i, "t", "en", "s", 1) for i in range(50)])
    out = sampling.hash_split(docs)
    assert out.count() == 50
    assert out.select("doc_id").distinct().count() == 50


def test_split_bounds_partition_the_bucket_space():
    bounds = sampling.split_bounds({"train": 0.8, "val": 0.1, "test": 0.1})
    assert bounds[0] == ("train", 8000)
    assert bounds[-1][1] == sampling.SAMPLE_BUCKETS  # exhaustive
    assert [b for _, b in bounds] == sorted(b for _, b in bounds)


def test_dup_clusters_60bit_ids_no_overflow(spark):
    # hash-derived 60-bit doc ids (the repo's hash60 idiom): 20 such
    # labels SUM past 2^63, so a label-sum convergence check would
    # throw under ANSI mode (or wrap silently with ANSI off) — the
    # changed-count check must converge and cluster correctly
    base = 1 << 60
    edges = [(base + i, base + i + 1) for i in range(0, 20, 2)]
    labels = dict(
        (r.doc_id, r.cluster_id)
        for r in dedup.dup_clusters(
            _pairs(spark, edges), local_max_edges=0
        ).collect()
    )
    assert len(labels) == 20
    for a, b in edges:
        assert labels[a] == labels[b] == a


def test_dup_clusters_warns_when_unconverged(spark):
    import pytest

    # diameter-5 chain can't converge in one round; partial labels must
    # not be returned silently
    pairs = _pairs(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)])
    with pytest.warns(RuntimeWarning, match="did not converge"):
        dedup.dup_clusters(pairs, max_iters=1, local_max_edges=0)


def test_release_unpersists_tagged_intermediates(spark):
    from lintdb_spark import cache

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 2), 0.5]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    out = dedup.embedding_lsh_neardup(
        emb, threshold=0.0, num_planes=6, bands=2, dim=4
    )
    out.collect()
    deps = getattr(out, "_lintdb_cached", ())
    assert deps, "builder must tag its persisted intermediates"
    assert any(d.storageLevel.useMemory or d.storageLevel.useDisk for d in deps)
    cache.release(out)
    assert all(
        not (d.storageLevel.useMemory or d.storageLevel.useDisk) for d in deps
    )


def test_jaccard_df_cap_drops_boilerplate_shingles(spark):
    """Heavy-tailed corpus: one boilerplate shingle shared by EVERY doc
    must not connect unrelated docs (without the cap it alone emits
    ~n^2/2 pairs); genuinely similar docs still pair on their rare
    shingles."""
    n = 40
    rows = []
    for d in range(n):
        rows.append((d, "COMMON"))  # df = 100% > cap -> dropped
        rows.append((d, f"uniq-{d}"))
    # docs 0 and 1 additionally share three rare shingles -> a real pair
    for s in range(3):
        rows.append((0, f"dup-{s}"))
        rows.append((1, f"dup-{s}"))
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    got = dedup.jaccard_pairs(sh, min_overlap=2, max_df_frac=0.5).collect()
    assert [(r.doc_a, r.doc_b, r.n_common) for r in got] == [(0, 1, 3)]
    # jaccard over the CAPPED sets: 3 shared / (4 + 4 - 3)
    assert abs(got[0].jaccard - 3 / 5) < 1e-9


def test_exhaustive_jaccard_guard_fires_above_cap(spark):
    """The exhaustive-tier guard (round-7, per the sf10 probe that
    measured the over-cap regime spilling >70 GB): jaccard_pairs must
    raise BEFORE launching the self-join when the candidate-pair bound
    sum(C(df, 2)) exceeds max_pairs, and the message must name the
    bounded production path."""
    import pytest

    # 30 docs sharing one shingle: bound = C(30, 2) = 435 candidates
    sh = spark.createDataFrame(
        [(d, "shared") for d in range(30)] + [(d, f"u{d}") for d in range(30)],
        "doc_id long, shingle string",
    )
    with pytest.raises(ValueError, match="jaccard_verify_pairs"):
        dedup.jaccard_pairs(sh, max_df_frac=1.0, max_pairs=100, on_overflow="raise")
    # same input under the cap still runs (435 <= 1000)
    assert (
        dedup.jaccard_pairs(sh, min_overlap=1, max_df_frac=1.0, max_pairs=1000).count()
        > 0
    )
    # the default params cap is far above bench-scale bounds (sf0.1
    # measures 1.27e6 candidates vs the 1e9 default) — unguarded here
    assert dedup.jaccard_pairs(sh, min_overlap=1, max_df_frac=1.0).count() > 0


def test_exhaustive_jaccard_auto_routes_to_verified_tier(spark):
    """Round-8: on_overflow='auto' (the default) must keep an over-cap
    dup_clusters(jaccard_pairs(...)) pipeline ALIVE by routing to the
    LSH-verified production tier — warning, same schema, and every
    returned pair carries the exact capped-set jaccard (i.e. it is a
    subset of the exhaustive tier's output with identical values)."""
    import pytest

    # two genuinely near-dup docs (high shared-shingle fraction) so
    # the 16-perm minhash banding collides with near-certainty, plus
    # a pile of one-common-shingle docs to blow past the cap
    rows = []
    for s in range(12):
        rows.append((0, f"dup-{s}"))
        rows.append((1, f"dup-{s}"))
    rows.append((0, "only-a"))
    rows.append((1, "only-b"))
    rows += [(d, "shared") for d in range(2, 40)]
    rows += [(d, f"u{d}-{i}") for d in range(2, 40) for i in range(3)]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")

    exhaustive = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in dedup.jaccard_pairs(
            sh, min_overlap=2, max_df_frac=1.0, max_pairs=10_000
        ).collect()
    }
    with pytest.warns(RuntimeWarning, match="auto-routing"):
        routed = dedup.jaccard_pairs(
            sh, min_overlap=2, max_df_frac=1.0, max_pairs=100
        )
    got = {(r.doc_a, r.doc_b): (r.n_common, r.jaccard) for r in routed.collect()}
    assert routed.columns == ["doc_a", "doc_b", "n_common", "jaccard"]
    # LSH-candidate subset of the exhaustive pairs, identical values
    assert got, "auto route returned no pairs for a near-dup corpus"
    for pair, vals in got.items():
        assert exhaustive[pair] == vals
    assert (0, 1) in got  # the true near-dup pair survives the routing


def test_exhaustive_embedding_guard_fires_above_cap(spark):
    """embedding_neardup_pairs guard: n*(n-1)/2 over max_pairs raises,
    naming embedding_lsh_neardup."""
    import pytest

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="embedding_lsh_neardup"):
        dedup.embedding_neardup_pairs(emb, max_pairs=100, on_overflow="raise")
    assert dedup.embedding_neardup_pairs(emb, threshold=0.99, max_pairs=10_000).count() >= 0


def test_exhaustive_embedding_auto_routes_to_lsh_tier(spark, sf_dir):
    """Round-8 auto mode for the embedding family: over-cap input
    routes to embedding_lsh_neardup with a warning; returned pairs are
    a subset of the exhaustive output with identical cosines."""
    import pytest

    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    exhaustive = {
        (r.vec_a, r.vec_b): r.cosine
        for r in dedup.embedding_neardup_pairs(emb, threshold=0.9).collect()
    }
    with pytest.warns(RuntimeWarning, match="auto-routing"):
        routed = dedup.embedding_neardup_pairs(emb, threshold=0.9, max_pairs=10)
    got = {(r.vec_a, r.vec_b): r.cosine for r in routed.collect()}
    assert set(routed.columns) == {"vec_a", "vec_b", "cosine"}
    for pair, cos in got.items():
        assert exhaustive[pair] == cos


def test_jaccard_df_cap_keeps_borderline_shingles(spark):
    """A shingle at exactly the cap (df == max_df_frac * n_docs) stays:
    the cap is strictly 'more than'."""
    sh = spark.createDataFrame(
        [(0, "s"), (1, "s"), (0, "x0"), (1, "x1"), (2, "y"), (3, "z")],
        "doc_id long, shingle string",
    )
    got = dedup.jaccard_pairs(sh, min_overlap=1, max_df_frac=0.5).collect()
    assert [(r.doc_a, r.doc_b, r.n_common) for r in got] == [(0, 1, 1)]


def test_asof_join_semantics(spark):
    """asof_join: latest right row at-or-before each left ts per key;
    equal ts matches (inclusive); ties on (key, ts) resolve to the
    greatest payload; unmatched left rows keep NULLs."""
    from lintdb_spark.operators import relational

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (2, 5, 102), (3, 7, 103)],
        "k long, t long, lid long",
    )
    right = spark.createDataFrame(
        # k=1: rows at t=10 (tie -> rid 21 wins), t=15
        [(1, 10, 20), (1, 10, 21), (1, 15, 22), (2, 6, 23)],
        "k long, t long, rid long",
    )
    out = relational.asof_join(left, right, on="k", ts="t", right_cols=["rid"])
    got = {r["lid"]: r["rid_r"] for r in out.collect()}
    assert got == {100: 21, 101: 22, 102: None, 103: None}


def test_range_join_semantics(spark):
    """range_join: half-open [ts+lower, ts+upper) bounds, bucket-edge
    pairs found exactly once, cross-key rows never match."""
    from lintdb_spark.operators import relational

    left = spark.createDataFrame(
        [(1, 100, 1), (1, 250, 2), (2, 100, 3)], "k long, t long, lid long"
    )
    right = spark.createDataFrame(
        # for lid=1 (t=100, window [100, 200)): 100 in, 199 in, 200 out
        # 199 sits in the NEXT bucket of width 100 -> edge case
        [(1, 100, 10), (1, 199, 11), (1, 200, 12), (2, 150, 13)],
        "k long, t long, rid long",
    )
    out = relational.range_join(
        left, right, on="k", ts="t", lower_us=0, upper_us=100, right_cols=["rid"]
    )
    got = sorted((r["lid"], r["rid_r"]) for r in out.collect())
    assert got == [(1, 10), (1, 11), (3, 13)]
    # no duplicates from the two candidate buckets
    assert len(got) == len(set(got))


def test_driver_probe_ids_match_declarative_top_centroids(spark, sf_dir):
    """probe_ids (driver-side numpy + half-up decimal ranking) must
    select EXACTLY the centroids the declarative ann.top_centroids
    plan selects — the cascade twins rely on this equivalence for
    oracle parity."""
    from lintdb_spark import queries as q
    from lintdb_spark.operators import ann

    cents, _, _ = q.cascade_inputs(spark, sf_dir)
    declarative = [
        r["centroid_id"]
        for r in ann.top_centroids(
            q.query_tokens_cached(spark, sf_dir), cents
        ).collect()
    ]
    assert q.probe_ids(spark, sf_dir) == declarative


def test_release_never_unpersists_session_pinned_frames(spark, sf_dir):
    """Regression (r04 advice): a consumer that builds on a
    session-cached frame and then release()s its result must NOT
    unpersist the session cache — the dict still hands that frame out,
    so unpersisting silently degrades later hits to recomputes."""
    from lintdb_spark import cache, queries as q

    buckets = q.lsh_bucketed(spark, sf_dir)
    assert getattr(buckets, "_lintdb_pinned", False)
    out = q.q_embedding_neardup_lsh(spark, sf_dir)
    out.collect()
    cache.release(out)
    lvl = buckets.storageLevel
    assert lvl.useMemory or lvl.useDisk, "session cache was unpersisted"
    # and tag_cached itself refuses to record pinned frames
    tagged = cache.tag_cached(out.limit(1), buckets)
    assert buckets not in getattr(tagged, "_lintdb_cached", ())


def test_jaccard_df_floor_keeps_small_corpora_working(spark):
    """Regression (r04 advice): on a tiny corpus the fractional cap
    alone drops EVERY df>=2 shingle (df=2 > 0.2*nd for nd<10), so
    jaccard_pairs silently returned zero pairs on legitimate small
    inputs. The DF_FLOOR keeps them."""
    sh = spark.createDataFrame(
        [(0, "a"), (0, "b"), (1, "a"), (1, "b"), (2, "c")],
        "doc_id long, shingle string",
    )
    got = dedup.jaccard_pairs(sh, min_overlap=2).collect()
    assert [(r.doc_a, r.doc_b, r.n_common) for r in got] == [(0, 1, 2)]
    assert abs(got[0].jaccard - 1.0) < 1e-9


def test_jaccard_df_ceiling_bounds_fanout(spark, monkeypatch):
    """The absolute ceiling drops a shingle whose df exceeds it even
    when the fractional cap would keep it — the 100 TB fan-out bound."""
    from lintdb_spark import params as p

    monkeypatch.setattr(p, "JACCARD_DF_CEIL", 5)
    monkeypatch.setattr(p, "JACCARD_DF_FLOOR", 2)
    n = 12
    rows = [(d, "HOT") for d in range(n)]  # df=12 > ceil=5, <= frac cap (1.0*12)
    rows += [(0, f"r{s}") for s in range(2)] + [(1, f"r{s}") for s in range(2)]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    got = dedup.jaccard_pairs(sh, min_overlap=2, max_df_frac=1.0).collect()
    # HOT is gone: only the rare-shingle pair survives, sized w/o HOT
    assert [(r.doc_a, r.doc_b, r.n_common) for r in got] == [(0, 1, 2)]
    assert abs(got[0].jaccard - 1.0) < 1e-9


def test_session_caches_reuse_and_key_on_application_id(spark, sf_dir):
    """The build/serve caches hand back the SAME persisted frame within
    a session and key on applicationId + sf_dir (not id(spark))."""
    from lintdb_spark import queries as q

    a1 = q.cascade_inputs(spark, sf_dir)
    a2 = q.cascade_inputs(spark, sf_dir)
    assert a1[2] is a2[2]
    lvl = a1[2].storageLevel
    assert lvl.useMemory or lvl.useDisk
    s1 = q.doc_shingles_cached(spark, sf_dir)
    assert q.doc_shingles_cached(spark, sf_dir) is s1
    t1 = q.text_tokens_cached(spark, sf_dir)
    assert q.text_tokens_cached(spark, sf_dir) is t1
    app = spark.sparkContext.applicationId
    assert all(k[0] == app for k in q._CASCADE_CACHE)
    # a key from a dead application is pruned when a new one builds
    q._SHINGLE_CACHE[("dead-app", sf_dir)] = s1
    q._SHINGLE_CACHE.pop((app, sf_dir))
    q.doc_shingles_cached(spark, sf_dir)
    assert ("dead-app", sf_dir) not in q._SHINGLE_CACHE


def test_quality_filter_rules(spark):
    """Each Gopher rule flags independently; keep is their AND."""
    import pandas as pd

    from lintdb_spark.operators import textstats

    good = "the cat and the dog sat with a mat for fun " * 5  # stopwords, clean
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    good,                               # passes everything
                    "word " * 5,                        # too short
                    good + " !!!!;;;;....,,,," * 40,    # punct-heavy
                    ("xx " * 60).strip(),               # no stopwords
                ],
            }
        )
    )
    rows = {r["doc_id"]: r for r in textstats.quality_filter(docs).collect()}
    assert rows[1]["keep"] == 1
    assert rows[2]["pass_len"] == 0 and rows[2]["keep"] == 0
    assert rows[3]["pass_punct"] == 0 and rows[3]["keep"] == 0
    assert rows[4]["pass_stopwords"] == 0 and rows[4]["keep"] == 0


def test_domain_mix_weights(spark):
    """Over-represented sources get down-weighted toward uniform;
    under-represented ones cap at 1.0; shares sum to 1."""
    import pandas as pd

    from lintdb_spark.operators import textstats

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(6),
                "source": ["big", "big", "big", "big", "small", "small"],
                "text": ["a b c d e f g h"] * 4 + ["a b"] * 2,
            }
        )
    )
    rows = {r["source"]: r for r in textstats.domain_mix(docs).collect()}
    assert abs(rows["big"]["token_share"] + rows["small"]["token_share"] - 1.0) < 1e-6
    assert rows["small"]["mix_weight"] == 1.0  # under-represented: keep all
    assert 0 < rows["big"]["mix_weight"] < 1.0  # down-weighted toward 0.5 target
    assert rows["big"]["n_tokens"] == 32 and rows["small"]["n_tokens"] == 4


def test_dedup_keep_survivorship(spark, sf_dir=None):
    """q_dedup_keep emits only dropped docs, each pointing at its
    cluster's min doc_id, consistent with q_dup_clusters."""
    from lintdb_spark.queries import q_dedup_keep, q_dup_clusters

    sf = "/root/testdata/sf0.001"
    clusters = {r["doc_id"]: r["cluster_id"] for r in q_dup_clusters(spark, sf).collect()}
    keep = {r["doc_id"]: r["keep_doc_id"] for r in q_dedup_keep(spark, sf).collect()}
    assert keep  # the synthetic corpus has near-dups
    for d, k in keep.items():
        assert d != k and clusters[d] == k
    dropped = {d for d, c in clusters.items() if d != c}
    assert set(keep) == dropped


def test_table_cached_layout(spark):
    """The fact-table cache must (a) key-partition on the consumer
    join/group column so equi-joins run exchange-free off it, and
    (b) return the SAME frame per (sf_dir, table) within a session."""
    from lintdb_spark.queries import table_cached

    sf = "/root/testdata/sf0.001"
    li = table_cached(spark, sf, "lineitem")
    assert li is table_cached(spark, sf, "lineitem")  # session-cached
    assert li.storageLevel.useMemory
    o = table_cached(spark, sf, "orders")
    # co-partitioned equi-join: no Exchange on either side
    import contextlib
    import io

    j = li.join(o, li.l_orderkey == o.o_orderkey)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        j.explain("formatted")
    p = buf.getvalue()
    assert "Exchange hashpartitioning" not in p.split("InMemoryRelation")[0]


def test_pack_plan_boundary_and_continuity(spark):
    """Packing semantics at the budget boundary: a doc that exactly
    fills a pack ends it (next doc starts at offset 0 of the next
    pack), a doc straddling the boundary starts in the earlier pack
    (streaming concat-and-chunk), and shards pack independently."""
    rows = [
        # lang 'en': 3 docs of 4 tokens each, budget 8
        (1, "a b c d", "en", "s", 7),
        (2, "a b c d", "en", "s", 7),
        (3, "a b c d", "en", "s", 7),
        # lang 'de': one 6-token doc then a 4-token doc straddling
        (4, "a b c d e f", "de", "s", 11),
        (5, "a b c d", "de", "s", 7),
    ]
    out = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"])
        for r in sampling.pack_plan(_docs(spark, rows), budget=8).collect()
    }
    assert out[1] == (0, 0)
    assert out[2] == (0, 4)
    assert out[3] == (1, 0)  # exactly-full pack: next doc opens pack 1
    assert out[4] == (0, 0)  # de shard packs independently
    assert out[5] == (0, 6)  # starts in pack 0, straddles into pack 1


def test_pack_plan_composite_shard_bounds_skew(spark):
    """The default composite (lang, doc_id // shard_docs) shard key
    fans a single-language corpus out over multiple window partitions
    (the round-5 scale flag: part_col='lang' serialized a skewed
    corpus through ONE cumulative-sum task). Each shard packs
    independently from offset 0."""
    rows = [(i, "a b c d", "en", "s", 7) for i in range(12)]
    out = sampling.pack_plan(_docs(spark, rows), budget=8, shard_docs=4)
    got = {
        r["doc_id"]: (r["pack_shard"], r["pack_id"], r["pack_offset"])
        for r in out.collect()
    }
    # 12 single-lang docs, 4 per shard -> 3 independent shards
    assert {s for s, _, _ in got.values()} == {0, 1, 2}
    # every shard restarts packing at (pack 0, offset 0)
    for first_doc in (0, 4, 8):
        assert got[first_doc][1:] == (0, 0)
    # within a shard the cumulative layout is unchanged
    assert got[1] == (0, 0, 4)
    assert got[2] == (0, 1, 0)


def test_fuzzy_decontaminate_flags_only_colliding_train_docs(spark):
    """A train doc identical to an eval doc collides in every band; an
    unrelated doc collides nowhere; eval docs never appear in the
    output."""
    text_dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (50, text_dup, "en", "s", 40),  # eval (doc_id % 50 == 0)
        (51, text_dup, "en", "s", 40),  # train dup of eval -> flagged
        (52, "one two three four five six seven eight", "en", "s", 40),
    ]
    buckets = dedup.lsh_buckets_wide(
        dedup.minhash_wide(dedup.doc_shingles(_docs(spark, rows)))
    )
    got = {
        r["doc_id"]: r["n_eval_matches"]
        for r in dedup.fuzzy_decontaminate(buckets, eval_mod=50).collect()
    }
    assert got == {51: 1}


def test_tfidf_keywords_rank_and_tiebreak(spark):
    """Corpus-wide terms score ln(1)=0 and lose to distinctive terms;
    equal-scored terms rank token-ascending."""
    from lintdb_spark.operators import textstats

    rows = [
        (1, "common zebra zebra apple", "en", "s", 10),
        (2, "common apple", "en", "s", 10),
        (3, "common banana", "en", "s", 10),
    ]
    out = textstats.tfidf_keywords(_docs(spark, rows), k=2).collect()
    d1 = sorted(
        [(r["rank"], r["token"]) for r in out if r["doc_id"] == 1]
    )
    # zebra: tf=2 * ln(3/1) beats apple: tf=1 * ln(3/2); 'common' has
    # df=3 -> score 0, never surfaces at k=2
    assert d1 == [(1, "zebra"), (2, "apple")]
    d2 = sorted(
        [(r["rank"], r["token"]) for r in out if r["doc_id"] == 2]
    )
    assert d2[0] == (1, "apple")


def test_unigram_loglik_orders_typical_above_rare(spark):
    """A doc of corpus-frequent tokens scores higher (less negative)
    than a doc of hapax tokens; n_tokens counts analyzed tokens."""
    from lintdb_spark.operators import textstats

    rows = [
        (1, "the the the the", "en", "s", 10),
        (2, "the the the the", "en", "s", 10),
        (3, "qwzx vbnm plkj uhygt", "en", "s", 10),
    ]
    out = {
        r["doc_id"]: (r["n_tokens"], r["mean_loglik"])
        for r in textstats.unigram_loglik(_docs(spark, rows)).collect()
    }
    assert out[1][0] == 4 and out[3][0] == 4
    assert out[1][1] == out[2][1] > out[3][1]


def test_cluster_stats_counts_cover_corpus(spark, sf_dir):
    """Every corpus vector lands in exactly one cell: n_vecs sums to
    the embedding count, and norm bounds are ordered."""
    from lintdb_spark import model
    from lintdb_spark.operators import knn
    from lintdb_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = knn.cluster_stats(emb, model.centroids(spark, sf_dir)).collect()
    assert sum(r["n_vecs"] for r in out) == emb.count()
    for r in out:
        assert r["min_norm"] <= r["avg_norm"] <= r["max_norm"]


def test_semantic_dedup_keeper_election_and_scoping(spark):
    """SemDeDup semantics on a constructed 2-cluster corpus
    (VERDICT r14 #2): above-threshold within-cluster pairs mark
    duplicates; the member with the LOWEST cosine-to-centroid is the
    keeper (the paper's rule — atypical examples survive); exact-tie
    c2c keeps the smaller vec_id; below-threshold and cross-cluster
    neighbors never pair; the verdict is corpus-complete."""
    from lintdb_spark.operators import knn

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),      # cluster 0; c2c = 1.0 -> dropped
            (2, [0.995, 0.1]),    # cluster 0; cos(v1,v2) ~ .995, lower c2c -> keeper
            (3, [0.6, 0.8]),      # cluster 1; cos to v5/v6 = .8 < thr
            (4, [-0.7, 0.714]),   # cluster 1 (ip .714 > -.7); no dup
            (5, [0.0, 2.0]),      # cluster 1; identical pair with v6
            (6, [0.0, 2.0]),      # tie on c2c -> larger id dropped
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, cvec array<double>",
    )
    got = {
        r["vec_id"]: (r["centroid_id"], r["n_dups"], r["keep"])
        for r in knn.semantic_dedup(emb, cents, threshold=0.95).collect()
    }
    assert got[1] == (0, 1, False)
    assert got[2] == (0, 1, True)
    assert got[3] == (1, 0, True)
    assert got[4] == (1, 0, True)
    assert got[5] == (1, 1, True)
    assert got[6] == (1, 1, False)
    assert len(got) == 6


def test_inrow_minhash_matches_aggregate_path(spark, sf_dir):
    """The in-row signature (array-min over in-row trigrams) equals
    the explode+distinct+aggregate minhash_wide signature for every
    document — min is duplicate-insensitive, so both paths converge."""
    from lintdb_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    inrow = docs.select(
        "doc_id", dedup.inrow_minhash("text").alias("sig")
    )
    wide = dedup.minhash_wide(dedup.doc_shingles(docs))
    from lintdb_spark import params

    joined = inrow.join(wide, "doc_id")
    mism = joined.filter(
        ~F.expr(
            " AND ".join(f"sig[{p}] = m{p}" for p in range(params.MINHASH_PERMS))
        )
    ).count()
    assert mism == 0
    assert inrow.count() == wide.count()


def test_doc_chunks_overlap_and_remainder(spark):
    """Multi-chunk docs: stride overlap, ragged tail, and the
    every-token-covered / adjacent-overlap invariants."""
    from lintdb_spark.operators import textstats

    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    rows = [(1, text, "en", "s", 10), (2, "a b", "en", "s", 3)]
    out = textstats.doc_chunks(
        _docs(spark, rows), chunk_tokens=4, stride=3
    ).collect()
    d1 = sorted(
        [(r["chunk_idx"], r["start_tok"], r["n_tokens"], r["chunk_text"])
         for r in out if r["doc_id"] == 1]
    )
    # 10 tokens, window 4, stride 3 -> starts 0,3,6; the window at 6
    # already covers the final token, so no extra ragged chunk appears
    assert d1 == [
        (0, 0, 4, "t0 t1 t2 t3"),
        (1, 3, 4, "t3 t4 t5 t6"),
        (2, 6, 4, "t6 t7 t8 t9"),
    ]
    # 11 tokens: the last stride lands at 9 with only 2 tokens left ->
    # ragged tail
    rows11 = [(3, " ".join(f"u{i}" for i in range(11)), "en", "s", 11)]
    tail = sorted(
        (r["chunk_idx"], r["start_tok"], r["n_tokens"])
        for r in textstats.doc_chunks(_docs(spark, rows11), chunk_tokens=4, stride=3).collect()
    )
    assert tail == [(0, 0, 4), (1, 3, 4), (2, 6, 4), (3, 9, 2)]
    d2 = [(r["chunk_idx"], r["n_tokens"]) for r in out if r["doc_id"] == 2]
    assert d2 == [(0, 2)]  # short doc: one whole-doc chunk


def test_cross_corpus_dedup_drops_colliding_new_docs(spark):
    """A new doc duplicating a base doc is dropped; distinct new docs
    survive; base docs never appear in the output."""
    text_dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (2, text_dup, "en", "s", 40),  # base (even)
        (3, text_dup, "en", "s", 40),  # new dup of base -> dropped
        (5, "one two three four five six seven eight", "en", "s", 40),  # new, novel
    ]
    buckets = dedup.lsh_buckets_wide(
        dedup.minhash_wide(dedup.doc_shingles(_docs(spark, rows)))
    )
    survivors = sorted(
        r["doc_id"]
        for r in dedup.cross_corpus_dedup(
            buckets.filter(F.col("doc_id") % 2 == 1),
            buckets.filter(F.col("doc_id") % 2 == 0),
        ).collect()
    )
    assert survivors == [5]


def test_asof_join_ignores_null_ts_right_rows(spark):
    """A right row with NULL ts can never match (DuckDB ASOF
    semantics) — it must not be carried into early left rows."""
    from lintdb_spark.operators import relational

    left = spark.createDataFrame(
        [(1, 5, 10)], "event_id long, user_id long, ts long"
    ).select("event_id", "user_id", F.timestamp_micros(F.col("ts")).alias("ts"))
    right = spark.createDataFrame(
        [(5, None, 99), (5, 50, 7)], "user_id long, ts long, rid long"
    ).select("user_id", F.timestamp_micros(F.col("ts")).alias("ts"), "rid")
    out = relational.asof_join(
        left, right, on="user_id", ts="ts", right_cols=["rid"]
    ).collect()
    # left ts=10 precedes the only real right row (ts=50) -> unmatched;
    # the NULL-ts row's rid=99 must NOT leak in
    assert out[0]["rid_r"] is None


def test_knn_zero_vector_scores_zero_not_nan(spark):
    """A zero embedding must score cosine 0.0 (not NaN, which Spark
    ranks above every real score)."""
    from lintdb_spark.operators import knn as knn_ops

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 0.0]),  # zero vector
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = knn_ops.brute_force_knn(emb, [0], k=2).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert ranked[0]["neighbor_id"] == 1  # the real vector wins
    z = [r for r in ranked if r["neighbor_id"] == 2]
    assert z and z[0]["cosine"] == 0.0


def test_doc_chunks_rejects_gap_leaving_stride(spark):
    from lintdb_spark.operators import textstats

    with __import__("pytest").raises(ValueError, match="stride"):
        textstats.doc_chunks(_docs(spark, [(1, "a b", "en", "s", 3)]),
                             chunk_tokens=4, stride=5)


def test_lsh_banding_rejects_ragged_band_split(spark):
    import pytest as _pt

    wide = dedup.minhash_wide(
        dedup.doc_shingles(_docs(spark, [(1, "a b c d e", "en", "s", 9)]))
    )
    with _pt.raises(ValueError, match="divide evenly"):
        dedup.lsh_buckets_wide(wide, bands=5)


def test_jaccard_verified_is_candidate_subset_with_identical_values(spark):
    """LSH-verified pairs are a SUBSET of the exhaustive pair list
    (candidates only), and every shared (doc_a, doc_b) carries the
    IDENTICAL n_common/jaccard (same capped shingle sets verify both
    paths). Near-identical docs collide in some band with near
    certainty, so the known dup pair must survive."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, text, "en", "s", 10),
        (2, text + " lambda", "en", "s", 11),  # near-dup of 1
        (3, "one two three four five six seven eight nine ten", "en", "s", 10),
    ]
    docs = _docs(spark, rows)
    capped = dedup.df_capped_shingles(dedup.doc_shingles(docs)).persist()
    buckets = dedup.lsh_buckets_wide(dedup.minhash_wide(capped))
    exhaustive = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["jaccard"])
        for r in dedup.jaccard_pairs(capped, capped=capped).collect()
    }
    verified = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["jaccard"])
        for r in dedup.jaccard_verify_pairs(capped, buckets, min_jaccard=0.5).collect()
    }
    assert set(verified) <= {k for k, v in exhaustive.items() if v[1] >= 0.5}
    assert (1, 2) in verified  # near-identical docs collide
    for k, v in verified.items():
        assert exhaustive[k] == v  # identical values on shared pairs


def test_signature_digest_arrow_matches_expression(spark):
    """The Arrow-batched signature twin (round 7 — the streaming
    gate's hot path) must produce byte-identical digests to the pure
    column-expression form, including analyzer edge cases (empty,
    all-punctuation, <3-word docs, mixed case, null)."""
    from lintdb_spark.functions.text import analyze_standard

    texts = [
        "alpha beta gamma delta epsilon zeta",
        "Alpha BETA gamma, delta epsilon zeta!",
        "",
        "!!! ??? ...",
        "one",
        "one two",
        "The quick brown fox jumps over the lazy dog 123",
        None,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    norm = F.array_join(analyze_standard(F.col("text")), " ")
    got = (
        df.withColumn("expr_sig", dedup.signature_digest(norm))
        .withColumn("arrow_sig", dedup.signature_digest_arrow("text"))
        .select("doc_id", "expr_sig", "arrow_sig")
        .collect()
    )
    for r in got:
        assert r.expr_sig == r.arrow_sig, (r.doc_id, r.expr_sig, r.arrow_sig)


def test_signature_digest_arrow_matches_expression_on_corpus(spark, sf_dir):
    """Same parity over 200 real synthetic-corpus documents."""
    from lintdb_spark.functions.text import analyze_standard
    from lintdb_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
    norm = F.array_join(analyze_standard(F.col("text")), " ")
    bad = (
        docs.withColumn("expr_sig", dedup.signature_digest(norm))
        .withColumn("arrow_sig", dedup.signature_digest_arrow("text"))
        .filter(F.col("expr_sig") != F.col("arrow_sig"))
        .count()
    )
    assert bad == 0


def test_simhash_neardup_pairs_semantics(spark):
    """Banded simhash near-dup (round 7): known fingerprints — pairs
    within max_hamming are found (pigeonhole-exact recall), pairs
    beyond it are dropped even when they collide in a band, and the
    guard rejects a max_hamming the band count cannot guarantee."""
    import pytest

    fp = spark.createDataFrame(
        [
            (1, 0b0000_0000_0000_0000_0000_0000_0000_0000),
            (2, 0b0000_0000_0000_0000_0000_0000_0000_0111),  # ham 3 vs 1
            (3, 0b0000_0000_0000_0000_0000_1111_0000_0000),  # ham 4 vs 1 (band collision on 3 of 4 bands)
            (4, 0b1111_1111_0000_0000_0000_0000_0000_0000),  # ham 8 vs 1
        ],
        "doc_id long, simhash long",
    )
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_neardup_pairs(fingerprints=fp).collect()
    }
    assert got[(1, 2)] == 3
    assert (1, 3) not in got  # verified out despite band collisions
    assert (1, 4) not in got
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_neardup_pairs(fingerprints=fp, max_hamming=4, bands=4)


def test_simhash_wide_bits_real_entropy(spark, sf_dir):
    """Round-8 ADVICE fix: bits > 32 must draw from a 60-bit hash base.
    Before the fix, bits 32+ of every fingerprint were the constant 0
    (hash32 base), so the documented scale configuration degenerated
    to a cross join on three of four bands. Assert the high 28 bits
    actually vary across docs at bits=60, the wide banded path returns
    verified pairs consistent with its own fingerprints, and the
    guards reject bits > 60 / non-divisible band splits."""
    import pytest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(300)
    fp = dedup.simhash(docs, bits=60).persist()
    distinct_high = fp.select((F.col("simhash") / F.lit(1 << 32)).cast("bigint")).distinct().count()
    assert distinct_high > 10  # high bits carry real entropy, not constant 0

    pairs = dedup.simhash_neardup_pairs(
        fingerprints=fp, bits=60, bands=4, max_hamming=3
    ).collect()
    fps = {r.doc_id: r.simhash for r in fp.collect()}
    for r in pairs:
        assert bin(fps[r.doc_a] ^ fps[r.doc_b]).count("1") == r.hamming <= 3
    fp.unpersist()

    with pytest.raises(ValueError, match=r"\[1, 60\]"):
        dedup.simhash(docs, bits=64)
    with pytest.raises(ValueError, match=r"\[1, 60\]"):
        dedup.simhash_neardup_pairs(fingerprints=fp, bits=64, bands=4)
    with pytest.raises(ValueError, match="divide evenly"):
        dedup.simhash_neardup_pairs(fingerprints=fp, bits=50, bands=4)


@pytest.mark.skipif(
    not __import__("os").path.exists("/root/testdata/sf0.1/documents.parquet"),
    reason="sf0.1 corpus not present",
)
def test_lsh_default_config_recall_floor(spark):
    """Round-8 recall pin (SCALE.md §8, "LSH recall curves", records
    the full sweep): at the DEFAULT knobs (16 perms, 4 bands) the LSH-verified
    tier must recover >= 0.95 of the exhaustive tier's jaccard >= 0.5
    pairs on the sf0.1 corpus (measured 0.9805; bands=2 degrades to
    0.926, bands=8 buys 0.996 for ~3x the candidates — the knob works
    in both directions and the default sits above the gate)."""
    sf = "/root/testdata/sf0.1"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    sh = dedup.doc_shingles(docs).persist()
    capped = dedup.df_capped_shingles(sh).persist()
    try:
        truth = {
            (r.doc_a, r.doc_b)
            for r in dedup.jaccard_pairs(sh, capped=capped, on_overflow="raise")
            .filter(F.col("jaccard") >= 0.5)
            .select("doc_a", "doc_b")
            .collect()
        }
        got = {
            (r.doc_a, r.doc_b)
            for r in dedup.jaccard_verify_pairs(
                capped,
                dedup.lsh_buckets_wide(dedup.minhash_wide(sh)),
                min_jaccard=0.5,
            )
            .select("doc_a", "doc_b")
            .collect()
        }
        assert truth, "sf0.1 corpus must contain near-dup pairs"
        recall = len(got & truth) / len(truth)
        assert recall >= 0.95, f"default-config LSH recall {recall:.4f} < 0.95"
        assert got <= truth  # verify step admits no false positives
    finally:
        sh.unpersist()
        capped.unpersist()


def _subdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_substring_spans_shared_paragraph_at_different_offsets(spark):
    """The case substring dedup exists for (VERDICT r13 #1): a
    duplicated paragraph INSIDE otherwise-distinct documents, at
    DIFFERENT word offsets, must surface as one span per doc with the
    correct start/len and a SHARED cluster key — while the distinct
    remainder of both docs stays unflagged."""
    para = "lorem ipsum dolor sit amet"  # 5 words, W=4 -> 2 windows
    docs = _subdocs(
        spark,
        [
            (1, f"alpha beta gamma {para} delta"),  # para at pos 4
            (2, f"zeta eta {para} theta iota kappa"),  # para at pos 3
            (3, "mu nu xi omicron pi rho sigma tau"),  # no dup content
        ],
    )
    posts = dedup.substring_window_postings(docs, window=4)
    spans = dedup.substring_spans(posts, window=4)
    got = {(r.doc_id, r.span_start, r.span_len): r.cluster_key for r in spans.collect()}
    assert set(got) == {(1, 4, 5), (2, 3, 5)}
    assert got[(1, 4, 5)] == got[(2, 3, 5)]  # same content, same key


def test_substring_spans_self_repetition_and_merging(spark):
    """Within-doc repetition counts as duplication (two spans, same
    cluster key), and consecutive duplicated window starts merge into
    ONE maximal span (identical docs -> a single whole-doc span)."""
    phrase = "one two three four"
    docs = _subdocs(
        spark,
        [
            # phrase at pos 1 and pos 7 of the same doc
            (1, f"{phrase} aa bb {phrase} cc"),
            # identical pair: every window duplicated, one merged span
            (2, "p q r s t u"),
            (3, "p q r s t u"),
        ],
    )
    spans = dedup.substring_spans(
        dedup.substring_window_postings(docs, window=4), window=4
    )
    rows = {(r.doc_id, r.span_start, r.span_len): r.cluster_key for r in spans.collect()}
    assert (1, 1, 4) in rows and (1, 7, 4) in rows
    assert rows[(1, 1, 4)] == rows[(1, 7, 4)]
    # docs 2/3: starts {1,2,3} merge to one span covering all 6 words
    assert (2, 1, 6) in rows and (3, 1, 6) in rows
    assert rows[(2, 1, 6)] == rows[(3, 1, 6)]
    assert len(rows) == 4


def test_substring_postings_skip_short_subdocs(spark):
    """Docs shorter than W words cannot hold a W-word duplicated
    substring — they emit no postings (no short-gram fallback here,
    unlike word_trigrams') and therefore no spans, even when two short
    docs are identical."""
    docs = _subdocs(spark, [(1, "tiny doc"), (2, "tiny doc"), (3, "a b c")])
    posts = dedup.substring_window_postings(docs, window=4)
    assert posts.count() == 0
    assert dedup.substring_spans(posts, window=4).count() == 0


def test_substring_scrub_keeps_first_occurrence_cuts_rest(spark):
    """Scrub semantics (Lee et al. §4): the keeper occurrence
    (smallest (doc_id, span_start) per cluster) survives verbatim,
    every other occurrence is cut from its doc's text, clean docs pass
    through untouched, and a fully-duplicated non-keeper doc comes out
    EMPTY (still present — the drop policy is the caller's)."""
    para = "lorem ipsum dolor sit amet"
    docs = _subdocs(
        spark,
        [
            (1, f"alpha beta gamma {para} delta"),  # keeper (doc 1)
            (2, f"zeta eta {para} theta iota kappa"),  # para cut
            (3, "mu nu xi omicron pi rho sigma tau"),  # clean
            (4, "p q r s t u"),  # identical pair: keeper
            (5, "p q r s t u"),  # fully scrubbed
        ],
    )
    spans = dedup.substring_spans(
        dedup.substring_window_postings(docs, window=4), window=4
    )
    got = {
        r.doc_id: (r.clean_text, r.n_words_removed)
        for r in dedup.substring_scrub(docs, spans).collect()
    }
    assert got[1] == (f"alpha beta gamma {para} delta", 0)
    assert got[2] == ("zeta eta theta iota kappa", 5)
    assert got[3] == ("mu nu xi omicron pi rho sigma tau", 0)
    assert got[4] == ("p q r s t u", 0)
    assert got[5] == ("", 6)
    assert len(got) == 5  # every input doc present


def test_substring_scrub_self_repetition_keeps_first(spark):
    """Within-doc repetition: the first occurrence is the keeper, the
    later one is cut — the doc keeps one copy of the phrase."""
    docs = _subdocs(
        spark, [(1, "one two three four aa bb one two three four cc")]
    )
    spans = dedup.substring_spans(
        dedup.substring_window_postings(docs, window=4), window=4
    )
    [r] = dedup.substring_scrub(docs, spans).collect()
    assert r.clean_text == "one two three four aa bb cc"
    assert r.n_words_removed == 4


def test_substring_scrub_two_space_roundtrip_and_cut(spark):
    """Reconstruction contract (VERDICT r14 #6): words() splits on a
    single space keeping EMPTY tokens, and the rebuild is a
    single-space rejoin — so an untouched two-space doc round-trips
    byte-exactly (the extra space is an empty token that survives),
    and a keeper doc's double space outside the cut regions survives
    too; only whitespace INSIDE a removed interval leaves with the
    removed words. Pins the behavior a whitespace-preserving corpus
    would need an offset-carrying tokenizer to change."""
    docs = _subdocs(
        spark,
        [
            (1, "p q r s t u  v w"),  # keeper; two spaces after u
            (2, "p q r s t u x y z"),  # 6-word prefix is cut
            (3, "a  b c"),  # untouched, short of W
        ],
    )
    spans = dedup.substring_spans(
        dedup.substring_window_postings(docs, window=4), window=4
    )
    got = {
        r.doc_id: (r.clean_text, r.n_words_removed)
        for r in dedup.substring_scrub(docs, spans).collect()
    }
    assert got[1] == ("p q r s t u  v w", 0)  # byte-exact round trip
    assert got[2] == ("x y z", 6)
    assert got[3] == ("a  b c", 0)


def test_substring_decontaminate_flags_eval_overlap_spans(spark):
    """Substring decontamination (GPT-3-style exact n-gram overlap,
    WITH positions): a training doc containing an eval passage yields
    the passage's span; eval docs never appear in the output; training
    docs sharing windows only with OTHER training docs are not flagged
    (corpus duplication is substring_spans' job, not decontamination's);
    clean docs are absent."""
    passage = "alpha beta gamma delta epsilon"  # 5 words, W=4
    docs = _subdocs(
        spark,
        [
            (50, f"{passage} zz"),  # eval (50 % 50 == 0)
            (1, f"aa bb {passage} cc"),  # contaminated at pos 3..7
            # train-only duplication: NOT flagged by decontamination
            (2, "one two three four five"),
            (3, "one two three four six"),
            (4, "totally clean words here now"),
        ],
    )
    got = {
        (r.doc_id, r.span_start, r.span_len): r.n_eval_windows
        for r in dedup.substring_decontaminate(docs, window=4).collect()
    }
    assert got == {(1, 3, 5): 2}  # 2 window starts cover the passage
