"""Query registry: every implemented operator exposed as a named query
(spark, sf_dir) -> DataFrame, with a matching DuckDB oracle SQL string.

This is the correctness contract consumed by __spark_entry__:
``queries()``/``oracle_sql()`` there are thin wrappers over REGISTRY.
Column names and types are aligned on both sides (ints -> BIGINT,
floats rounded to params.ROUND and emitted as DOUBLE) because the
driver hash-compares values after sorting columns by name.

Sections:
- Q-TERM / Q-AND / Q-OR         — boolean filter algebra (SURVEY §2.C C1/C3/C4)
- Q-ASSIGN .. Q-TOPK/FILTERED   — IVF + PLAID/MaxSim cascade (§2.C/§2.D)
- relational / events           — Spark-SQL-native layer (§2.I scope note)
- dedup / text / knn            — training-data pipeline extensions
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lintdb_spark import model, params
from lintdb_spark.operators import (
    ann,
    dedup,
    knn,
    relational,
    sampling,
    scoring,
    textstats,
)
from lintdb_spark.oracle import prelude
from lintdb_spark.tables import load_table

KNN_QUERY_IDS = [5, 123, 250]
NEARDUP_THRESHOLD = 0.4

_QIDS = ", ".join(str(i) for i in params.QUERY_VEC_IDS)
_KNN_IDS = ", ".join(str(i) for i in KNN_QUERY_IDS)


# --------------------------------------------------------------------------
# Spark implementations
# --------------------------------------------------------------------------

def q_term_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 TermQueryNode on a TEXT field (QueryNode.cpp:15-27)."""
    return load_table(spark, sf_dir, "documents").filter(F.col("lang") == "en").select("doc_id")


def q_term_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 TermQueryNode on an INTEGER field."""
    return load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") == 42).select("o_orderkey")


def q_term_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 TermQueryNode on a FLOAT field (QueryNode.cpp:15-27; FLOAT
    key prefixes in KeyBuilder.h:278-314). Equality on a DOUBLE column
    is exact here because l_quantity holds integral values — the same
    contract the reference's float term keys rely on (bit-identical
    encodings match, nothing more)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") == 30.0).select("l_orderkey", "l_linenumber")


def q_term_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 TermQueryNode on a DATETIME field (ms-precision range)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-03-01")))
    ).select("l_orderkey", "l_linenumber")


def q_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 AndQueryNode = conjunction of two term filters."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter((F.col("lang") == "en") & (F.col("source") == "src3")).select("doc_id")


def q_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 OrQueryNode = disjunction with doc_id dedup."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("lang") == "en")
        .select("doc_id")
        .union(d.filter(F.col("source") == "src3").select("doc_id"))
        .distinct()
    )


_SESSION_CACHE_LOCK = __import__("threading").RLock()


def _session_cached(cache: dict, spark: SparkSession, sf_dir: str, build):
    """THE session-cache discipline, shared by every build/serve cache
    below: key on (applicationId, sf_dir) — id(spark) could be reused
    after GC for a session bound to a dead context — and prune entries
    from previous applications (dead contexts) when a new one builds,
    so the dict stays bounded across session restarts in one process.

    Thread-safe (one lock guards check-and-build: the REST server
    fields concurrent requests), and every persisted DataFrame the
    build returns is PINNED (cache.pin) so a downstream
    tag_cached/release cycle can never unpersist a frame this dict
    still hands out — releasing it would silently degrade later cache
    hits to recomputes."""
    from lintdb_spark.cache import pin

    key = (spark.sparkContext.applicationId, sf_dir)
    with _SESSION_CACHE_LOCK:
        if key not in cache:
            for stale in [k for k in cache if k[0] != key[0]]:
                cache.pop(stale)
            built = build()
            for d in built if isinstance(built, tuple) else (built,):
                if isinstance(d, DataFrame):
                    pin(d)
            cache[key] = built
        return cache[key]


_TABLE_CACHE: dict = {}

# natural partitioning key per fact table: the column its consumers
# join/group on, so the cached layout feeds those operators with zero
# exchanges (orders |x| lineitem co-partition on orderkey; every
# events operator — sessions, as-of, range join — keys on user_id).
# The fraction scales partition count with table volume: a 100k-row
# table split 32 ways is pure per-task overhead (measured +0.2 s per
# aggregate), while the larger lineitem wants full parallelism — the
# local analogue of sizing partitions to maxPartitionBytes.
_TABLE_PART_KEYS = {
    "lineitem": ("l_orderkey", 1.0),
    "orders": ("o_orderkey", 0.5),
    "events": ("user_id", 0.5),
}


def table_cached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Session-cached fact table, split across the cluster.

    The driver's test tables are single-file parquet with ONE row
    group, and parquet can only split at row-group boundaries — so
    every direct scan is a single task no matter what
    maxPartitionBytes says, serializing the fact-table probe side of
    each relational query onto one core. A real deployment's facts
    arrive as many files/row groups and this layer is a no-op there;
    locally it restores the multi-split layout once per session
    (bench times it as table_cache_build) by repartitioning on the
    table's natural join/group key and persisting."""
    key_col, frac = _TABLE_PART_KEYS[name]

    def build():
        # SIZE-AWARE like cascade_inputs: parallelism*frac is the CAP
        # (a big table always gets full width), the metadata-cheap row
        # count only stops SMALL tables from being sliced into dozens
        # of near-empty partitions whose per-task scheduling dominates
        # every serve-speed aggregate. Operators with expensive
        # per-row work (shingles, token explodes) re-spread themselves
        # (doc_shingles / text_tokens_cached repartition internally).
        src = load_table(spark, sf_dir, name)
        n_rows = src.count()
        cap = max(8, int(spark.sparkContext.defaultParallelism * frac))
        n_parts = int(max(2, min(cap, n_rows // params.TABLE_PARTITION_ROWS + 1)))
        return src.repartition(n_parts, F.col(key_col)).persist()

    return _session_cached(_TABLE_CACHE, spark, (sf_dir, name), build)


def facts_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize every cached fact table (the bench build hook);
    returns the last one so callers can treat it like the other
    build functions (the extra count is an in-memory no-op).

    The per-table cache fills are independent jobs — run them through
    a small pool so the fills overlap instead of serializing the
    driver (round 15, guide §2.6; same pattern as the artifact staging
    pool). Each table's frame is created on the caller thread (the
    session cache dict is not thread-safe to populate concurrently);
    only the materializing count is pooled."""
    from concurrent.futures import ThreadPoolExecutor

    frames = [table_cached(spark, sf_dir, name) for name in _TABLE_PART_KEYS]
    with ThreadPoolExecutor(max_workers=min(4, len(frames))) as pool:
        list(pool.map(lambda f: f.count(), frames))
    return frames[-1]


_CASCADE_CACHE: dict = {}


def cascade_inputs(spark: SparkSession, sf_dir: str):
    """Session-cached (centroids, doc_tokens, token_assign) — the
    BUILD half of the declarative cascade twins. At 100 TB these are
    the index's materialized parquet tables (Index.add writes postings
    partitioned by (tenant, centroid_id)); the q_* twins otherwise
    re-derive the full token->centroid assignment on every call, which
    at bench scale re-paid ~1-1.5 s per cascade query."""

    def build():
        cents = model.centroids(spark, sf_dir).persist()
        # co-partition BOTH cached tables on doc_id: every cascade
        # aggregate groups on doc_id-first keys ([doc_id] is a subset
        # of each grouping, so HashPartitioning(doc_id) satisfies the
        # required distribution) and every candidate restriction is a
        # broadcast semi-join that PRESERVES partitioning — so stage-1
        # and stage-2 run with ZERO exchanges after the build. This is
        # the DataFrame mirror of the index's postings layout
        # (partitioned by (tenant, centroid_id) on disk, clustered by
        # doc within).
        #
        # SIZE-AWARE partition count: at least SERVE_PARTITION_ROWS
        # token rows per cached partition, capped at cluster
        # parallelism. A big corpus always hits the defaultParallelism
        # cap (full cluster width); the rows floor only matters for
        # small corpora, where 32 near-empty partitions made every
        # serve stage pay 32 tasks of pure scheduling (measured:
        # q_topk 0.65 s -> 0.45 s at sf0.1 with 2 right-sized
        # partitions, identical results).
        # row count from the SOURCE parquet (metadata-cheap count, no
        # shuffle) — doc_tokens is a 1:1 projection of embeddings, and
        # counting the derived frame would run its repartition shuffle
        # once for the count and again for the cache build
        n_rows = load_table(spark, sf_dir, "embeddings").count()
        n = int(
            max(
                2,
                min(
                    spark.sparkContext.defaultParallelism,
                    n_rows // params.SERVE_PARTITION_ROWS + 1,
                ),
            )
        )
        dt = model.doc_tokens(spark, sf_dir).repartition(n, "doc_id").persist()
        ta = ann.assign_tokens(dt, cents).persist()
        return (cents, dt, ta)

    return _session_cached(_CASCADE_CACHE, spark, sf_dir, build)


_QT_CACHE: dict = {}


def query_tokens_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached fixed query-token frame (8 rows). The reference
    harness loads the query matrix into memory once before timing
    searches (tests/colbert_test.cpp:44); re-scanning parquet for 8
    rows per query call costs a whole Spark job."""
    return _session_cached(
        _QT_CACHE,
        spark,
        sf_dir,
        lambda: model.query_tokens(spark, sf_dir).persist(),
    )


_MODEL_META_CACHE: dict = {}


def _model_meta(spark: SparkSession, sf_dir: str):
    """Session-collected model METADATA: (centroid_ids, centroid
    matrix, query matrix). The centroid table is small by construction
    (index metadata — the reference holds it in RAM for its whole
    lifetime) and the fixed query matrix is the benchmark's query
    file; collecting them once per session mirrors both."""

    def build():
        import numpy as np

        cents, _, _ = cascade_inputs(spark, sf_dir)
        crows = cents.orderBy("centroid_id").collect()
        cids = [int(r["centroid_id"]) for r in crows]
        C = np.asarray([r["cvec"] for r in crows], dtype=np.float64)
        qrows = query_tokens_cached(spark, sf_dir).collect()
        Q = np.asarray([r["qvec"] for r in qrows], dtype=np.float64)
        return (cids, C, Q)

    return _session_cached(_MODEL_META_CACHE, spark, sf_dir, build)


def probe_ids(spark: SparkSession, sf_dir: str) -> list[int]:
    """Driver-side probe selection for the fixed cascade query — the
    Spark-idiomatic mirror of the reference's in-memory
    KnnNearestCentroids (KnnNearestCentroids.cpp:38-110): ranking
    |q_tokens| x |centroids| scores on the driver replaces a
    multi-stage Spark job over a few thousand rows, and the resulting
    probe list reaches the postings scan as a `centroid_id IN (...)`
    literal — partition pruning at 100 TB. Selection runs per call
    (it is query-side work); only the collected metadata is cached.

    EXACT oracle parity: the inner product replicates dot_product's
    left-to-right double fold (element-order-identical vectorized
    accumulation), and ranking uses round-half-up at 6 decimals on the
    shortest-repr decimal — the same BigDecimal HALF_UP semantics as
    Spark's `round(x, 6)` and DuckDB's `round` — with ascending
    centroid_id tie-breaks, so the selected set equals the declarative
    ann.top_centroids / the oracle's probes CTE bit-for-bit."""
    import decimal

    import numpy as np

    cids, C, Q = _model_meta(spark, sf_dir)
    # left-to-right fold, vectorized over (token, centroid): each
    # step performs the SAME float64 add the JVM fold performs
    S = np.zeros((Q.shape[0], C.shape[0]))
    for d in range(Q.shape[1]):
        S += np.multiply.outer(Q[:, d], C[:, d])

    def r6(x: float):
        # repr(float(x)), not repr(x): x is numpy.float64 and numpy 2.x
        # reprs it as 'np.float64(0.1)', which Decimal rejects
        return decimal.Decimal(repr(float(x))).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )

    best: dict[int, float] = {}
    for i in range(S.shape[0]):
        nominated = sorted(
            range(len(cids)), key=lambda j: (-r6(S[i, j]), cids[j])
        )[: params.K_TOP_CENTROIDS]
        for j in nominated:
            if j not in best or S[i, j] > best[j]:
                best[j] = S[i, j]
    ranked = sorted(
        (j for j in best if best[j] > 0),
        key=lambda j: (-r6(best[j]), cids[j]),
    )
    return [cids[j] for j in ranked[: params.N_PROBE]]


def q_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3/E2 nearest-centroid assignment per token."""
    _, _, ta = cascade_inputs(spark, sf_dir)
    return ta.select(
        "doc_id", "token_idx", "centroid_id", F.round(F.col("ip"), params.ROUND).alias("ip")
    )


def q_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 doc -> distinct centroid set (exploded rows for hash-stable
    comparison)."""
    _, _, ta = cascade_inputs(spark, sf_dir)
    return ta.select("doc_id", "centroid_id").distinct()


def q_topcentroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6/C7 per-centroid max over query tokens -> top n_probe."""
    cents, _, _ = cascade_inputs(spark, sf_dir)
    p = ann.top_centroids(query_tokens_cached(spark, sf_dir), cents)
    return p.select("centroid_id", F.round(F.col("score"), params.ROUND).alias("score"))


def q_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 distinct docs with a token in a probed posting list. Probe
    selection is driver-side (probe_ids) -> a literal IN predicate on
    the postings scan, the partition-pruning shape."""
    _, _, ta = cascade_inputs(spark, sf_dir)
    return ann.candidates(ta, probe_ids(spark, sf_dir))


def q_plaid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 codes-only approximate MaxSim for every doc."""
    cents, _, ta = cascade_inputs(spark, sf_dir)
    s = scoring.plaid_scores(ta, query_tokens_cached(spark, sf_dir), cents)
    return s.select("doc_id", F.round(F.col("score"), params.ROUND).alias("score"))


def q_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 exact MaxSim for every doc."""
    _, dt, _ = cascade_inputs(spark, sf_dir)
    s = scoring.maxsim_scores(dt, query_tokens_cached(spark, sf_dir))
    return s.select("doc_id", F.round(F.col("score"), params.ROUND).alias("score"))


def q_xtr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 XTR — the reference's declared-but-dead scoring enum,
    working. The retrieval pool is routed through the IVF probe path —
    candidates from probed posting lists, exactly as the real index
    serves it (Index.search_xtr / search_batch_xtr) — instead of
    a dense corpus cross-join; the oracle applies the identical
    candidate restriction, so both sides stay in lock-step. At 100 TB
    the dense twin would scan every token per query; the probe-bounded
    pool is what makes XTR serve-able."""
    _, dt, ta = cascade_inputs(spark, sf_dir)
    qt = query_tokens_cached(spark, sf_dir)
    cand = ann.candidates(ta, probe_ids(spark, sf_dir), distinct=False)
    cand_tokens = dt.join(F.broadcast(cand), "doc_id", "left_semi")
    return scoring.xtr_topk(cand_tokens, qt)


def _topk(spark: SparkSession, sf_dir: str, doc_filter: DataFrame | None = None) -> DataFrame:
    cents, dt, ta = cascade_inputs(spark, sf_dir)
    qt = query_tokens_cached(spark, sf_dir)
    return scoring.two_phase_topk(
        dt, ta, qt, cents, probe_ids(spark, sf_dir), doc_filter=doc_filter
    )


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7/D8 two-phase cascade: PLAID -> num_second_pass -> MaxSim -> k."""
    return _topk(spark, sf_dir)


def q_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2+C3 approximate AND: term predicate restricts probed candidates
    (index_test.cpp:197-321 semantics)."""
    _, dt, _ = cascade_inputs(spark, sf_dir)
    doc_filter = dt.filter((F.col("token_idx") == 0) & (F.col("label") % 2 == 0)).select("doc_id")
    return _topk(spark, sf_dir, doc_filter=doc_filter)


BATCH_NQ_ORACLE = 8


def q_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch search: N queries through one shared cascade plan — the
    Spark-native upgrade over the reference's per-query execution."""
    cents, dt, ta = cascade_inputs(spark, sf_dir)
    bq = model.batch_queries(spark, sf_dir, BATCH_NQ_ORACLE)
    return scoring.batch_two_phase_topk(dt, ta, bq, cents)


def q_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 result assembly: top-k joined back to stored metadata."""
    topk = _topk(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    return topk.join(docs, "doc_id").select("doc_id", "score", "lang", "source", "n_chars")


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.pricing_summary(table_cached(spark, sf_dir, "lineitem"))


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.top_orders(
        load_table(spark, sf_dir, "customer"),
        table_cached(spark, sf_dir, "orders"),
        table_cached(spark, sf_dir, "lineitem"),
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.revenue_by_nation(
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "customer"),
        table_cached(spark, sf_dir, "orders"),
        table_cached(spark, sf_dir, "lineitem"),
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.events_hourly(table_cached(spark, sf_dir, "events"))


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.user_sessions(table_cached(spark, sf_dir, "events"))


def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN: click->purchase attribution — each purchase joined
    to the user's most recent click at-or-before it (point-in-time
    lookup; relational.asof_join has the scale notes). Purchases with
    no prior click keep NULLs (left-join semantics)."""
    ev = table_cached(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    j = relational.asof_join(
        p, c, on="user_id", ts="ts", right_cols=["event_id", "value"], suffix="_c"
    )
    # sentinel -1 for purchases with no prior click: the operator
    # keeps true left-join NULLs; the registry projection coalesces
    # because the driver's value-hash comparator need not be null-safe
    return j.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("event_id_c"), F.lit(-1)).alias("click_event_id"),
        F.coalesce(F.round(F.col("value_c"), params.ROUND), F.lit(-1.0)).alias(
            "click_value"
        ),
    )


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (day -> event_type -> grand total) — the
    hypertable continuous-aggregate shape, expressed with Spark's
    native ROLLUP (one pass, partial-aggregated at every level; the
    reference has no grouping sets at all, SURVEY §2.I). Grouping-set
    NULL markers are coalesced to sentinels so the value-hash compare
    stays null-free; grouping_id disambiguates genuine keys."""
    ev = table_cached(spark, sf_dir, "events")
    day = F.unix_timestamp(F.date_trunc("day", F.col("ts"))).alias("day_epoch")
    return (
        ev.select(day, "event_type", "value")
        .rollup("day_epoch", "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 3).alias("total_value"),
        )
        .select(
            F.coalesce(F.col("day_epoch"), F.lit(-1)).alias("day_epoch"),
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            "n_events",
            "total_value",
        )
    )


RANGE_JOIN_WINDOW_US = 30 * 60 * 1_000_000  # 30 minutes


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded interval join: per signup, the count of that user's
    error events in the 30 minutes after it (zero-filled). Exercises
    relational.range_join's bucketed equi-join plan — no per-key
    quadratic sort-merge, fan-out bounded by rows per time bucket."""
    ev = table_cached(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select("event_id", "user_id", "ts")
    e = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("err_id")
    )
    m = relational.range_join(
        s, e, on="user_id", ts="ts", lower_us=0, upper_us=RANGE_JOIN_WINDOW_US,
        right_cols=["err_id"],
    )
    counts = m.groupBy("event_id").agg(
        F.count("*").cast("bigint").alias("n_errors_30m")
    )
    return (
        s.select("event_id", "user_id")
        .join(counts, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("n_errors_30m"), F.lit(0).cast("bigint")).alias(
                "n_errors_30m"
            ),
        )
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dup_groups(load_table(spark, sf_dir, "documents"))


_SHINGLE_CACHE: dict = {}


def doc_shingles_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (doc_id, shingle) table — the shared BUILD input
    of the whole shingle family (minhash, LSH buckets, jaccard,
    dup_clusters). At 100 TB this is a materialized intermediate a
    pipeline writes once per corpus snapshot; recomputing the explode
    + distinct per downstream operator re-paid ~0.5-1 s per query at
    bench scale."""
    return _session_cached(
        _SHINGLE_CACHE,
        spark,
        sf_dir,
        # partitioned by doc_id so every doc-keyed consumer aggregate
        # (minhash's 16-min wide agg, decontaminate's count_distinct)
        # runs exchange-free off the cache
        lambda: dedup.doc_shingles(load_table(spark, sf_dir, "documents"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .persist(),
    )


_MINHASH_WIDE_CACHE: dict = {}


def minhash_wide_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached wide minhash frame (doc_id, m0..m15) — the
    STORED signature artifact of the dedup pipeline (one row per doc,
    recomputed per corpus snapshot; bench times it as minhash_build).
    Serving is then in-row only: the (doc_id, perm, minhash) contract
    is a posexplode and LSH banding a pure projection — zero shuffles
    per query, and at 100 TB the signature table is ~1/1000th the
    corpus so it persists comfortably."""
    return _session_cached(
        _MINHASH_WIDE_CACHE,
        spark,
        sf_dir,
        lambda: dedup.minhash_wide(doc_shingles_cached(spark, sf_dir)).persist(),
    )


def q_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.signatures_from_wide(minhash_wide_cached(spark, sf_dir))


def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.lsh_buckets_wide(minhash_wide_cached(spark, sf_dir))


_CAPPED_SHINGLE_CACHE: dict = {}


def capped_shingles_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached df-capped shingle table — the stop-listed
    inverted-index input of the jaccard family. The df statistics are
    corpus-snapshot artifacts a real pipeline maintains at ingest
    (bench times the build as capped_shingle_build); the serve half of
    q_jaccard_pairs is then sizes + the bounded self-join."""
    return _session_cached(
        _CAPPED_SHINGLE_CACHE,
        spark,
        sf_dir,
        # partitioned by shingle: both sides of jaccard's inverted-index
        # self-join are then pre-clustered on the join key — the join
        # runs with zero exchanges off the cache
        lambda: dedup.df_capped_shingles(doc_shingles_cached(spark, sf_dir))
        .repartition(spark.sparkContext.defaultParallelism, "shingle")
        .persist(),
    )


_PAIR_CACHE: dict = {}


def jaccard_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached jaccard pair set — q_jaccard_pairs returns it and
    q_dup_clusters consumes it, so cluster formation never re-runs the
    shingle self-join (pairs are the materialized hand-off between the
    two stages of every real dedup pipeline)."""
    return _session_cached(
        _PAIR_CACHE,
        spark,
        sf_dir,
        lambda: dedup.jaccard_pairs(
            doc_shingles_cached(spark, sf_dir),
            capped=capped_shingles_cached(spark, sf_dir),
        ).persist(),
    )


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs_cached(spark, sf_dir)


_VERIFIED_PAIR_CACHE: dict = {}


def verified_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached LSH-verified pair set (same stored-artifact
    discipline as jaccard_pairs_cached — a real pipeline materializes
    the verified pairs once per corpus snapshot; bench times the build
    as verified_pair_build)."""

    def build():
        buckets = dedup.lsh_buckets_wide(minhash_wide_cached(spark, sf_dir))
        return dedup.jaccard_verify_pairs(
            capped_shingles_cached(spark, sf_dir),
            buckets,
            min_jaccard=DUP_CLUSTER_JACCARD,
        ).persist()

    return _session_cached(_VERIFIED_PAIR_CACHE, spark, sf_dir, build)


def q_jaccard_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production near-dup pair path: LSH band-bucket candidates +
    exact Jaccard verify (>= 0.5) on the capped shingle sets — the
    bounded alternative the sf10 probe motivated (SCALE.md §6: the
    exhaustive inverted-index join spilled >70 GB at 500k docs; this
    path's joins are candidate- and bucket-bounded)."""
    return verified_pairs_cached(spark, sf_dir)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load_table(spark, sf_dir, "documents"))


_SIMHASH_FP_CACHE: dict = {}


def simhash_fp_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached simhash fingerprint table — the stored artifact
    the fingerprint family serves off (same discipline as
    minhash_wide_cached; bench times the build as simhash_build)."""
    return _session_cached(
        _SIMHASH_FP_CACHE,
        spark,
        sf_dir,
        lambda: dedup.simhash(load_table(spark, sf_dir, "documents")).persist(),
    )


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-side near-dup pairs: banded simhash candidates +
    exact Hamming verify (<= 3 of 32 bits). Pigeonhole-exact recall —
    the deterministic complement of the probabilistic MinHash-LSH
    path (see dedup.simhash_neardup_pairs for the 64-bit scale
    configuration)."""
    return dedup.simhash_neardup_pairs(
        fingerprints=simhash_fp_cached(spark, sf_dir)
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), NEARDUP_THRESHOLD
    )


_LSH_BUCKET_CACHE: dict = {}


def lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached sign-LSH bucket frame (vec_id, band, key, nv) —
    the build half of embedding near-dup, mirroring ivf_bucketed: at
    100 TB this is a parquet table maintained at ingest; here it is
    persisted once per (session, sf_dir) so q_embedding_neardup_lsh
    measures the bucket-bounded serve half (bench times the build
    separately as lsh_bucket_build)."""
    return _session_cached(
        _LSH_BUCKET_CACHE,
        spark,
        sf_dir,
        # partitioned by (band, key): the bucket-local applyInPandas
        # verify requires exactly that clustering -> exchange-free serve
        lambda: dedup.lsh_bucket_frame(load_table(spark, sf_dir, "embeddings"))
        .repartition(spark.sparkContext.defaultParallelism, "band", "key")
        .persist(),
    )


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_lsh_neardup(
        load_table(spark, sf_dir, "embeddings"),
        NEARDUP_THRESHOLD,
        buckets=lsh_bucketed(spark, sf_dir),
    )


DUP_CLUSTER_JACCARD = 0.5  # bimodal data: real near-dups sit at >=0.9
DECONTAM_EVAL_MOD = 50
STRAT_RATES = {"en": 0.3, "de": 0.8, "fr": 0.5, "es": 1.0, "zh": 0.1}
SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = jaccard_pairs_cached(spark, sf_dir).filter(
        F.col("jaccard") >= DUP_CLUSTER_JACCARD
    )
    return dedup.dup_clusters(pairs)


_CLUSTER_CACHE: dict = {}


def dup_clusters_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached cluster map (doc_id, cluster_id) — the
    materialized output of near-dup clustering, which a real pipeline
    computes once per corpus snapshot and then serves survivorship /
    reporting queries from (bench times it as cluster_build;
    q_dup_clusters itself still exercises the LIVE propagation)."""
    return _session_cached(
        _CLUSTER_CACHE,
        spark,
        sf_dir,
        lambda: dedup.dup_clusters(
            jaccard_pairs_cached(spark, sf_dir).filter(
                F.col("jaccard") >= DUP_CLUSTER_JACCARD
            )
        ).persist(),
    )


def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship: per near-dup cluster keep the smallest
    doc_id; emit the DROP list (doc_id -> the kept representative) a
    training-data pipeline anti-joins against the corpus. cluster_id
    already IS the component's min label, so this is a pure filter +
    projection off the stored cluster map — the serve half of
    clustering, zero shuffles."""
    cl = dup_clusters_cached(spark, sf_dir)
    return cl.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id", F.col("cluster_id").alias("keep_doc_id")
    )


def q_dup_clusters_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production dedup chain, clustering stage: connected components
    over the LSH-VERIFIED pair set (q_jaccard_verified) instead of the
    exhaustive inverted-index pairs — the feed that completes at sf10
    where the exhaustive join cannot (SCALE.md §6). Verified pairs are
    already filtered at DUP_CLUSTER_JACCARD by construction."""
    return dedup.dup_clusters(
        verified_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    )


_VERIFIED_CLUSTER_CACHE: dict = {}


def verified_clusters_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached cluster map off the VERIFIED pair artifact — the
    production counterpart of dup_clusters_cached (bench times it as
    verified_cluster_build)."""
    return _session_cached(
        _VERIFIED_CLUSTER_CACHE,
        spark,
        sf_dir,
        lambda: dedup.dup_clusters(
            verified_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
        ).persist(),
    )


def q_dedup_keep_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production survivorship: drop list off the verified-pair cluster
    map — zero shuffles at serve, and every upstream stage (buckets ->
    candidates -> verify -> clusters) is bounded at 100 TB."""
    cl = verified_clusters_cached(spark, sf_dir)
    return cl.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id", F.col("cluster_id").alias("keep_doc_id")
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.decontaminate(
        load_table(spark, sf_dir, "documents"),
        eval_mod=DECONTAM_EVAL_MOD,
        shingles=doc_shingles_cached(spark, sf_dir),
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.stratified_sample(
        load_table(spark, sf_dir, "documents"), STRAT_RATES
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.hash_split(
        load_table(spark, sf_dir, "documents"), SPLIT_WEIGHTS
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.text_stats(load_table(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id(load_table(spark, sf_dir, "documents"))


BM25_QUERY = "spark vector merge"


_TEXT_TOKEN_CACHE: dict = {}


def text_tokens_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (doc_id, token) analyzed-token table — the
    stored text-postings analogue shared by bm25 and text match (the
    Index class materializes the same thing at add() time).

    Perf: the source parquet is a single input split, so without the
    repartition the analyze + explode (the expensive regex pass over
    every document) runs in ONE task — the same failure
    dedup.doc_shingles guards against. Spreading by doc_id first
    parallelizes tokenization across all cores; at 100 TB it is what
    keeps corpus tokenization a full-cluster map instead of a
    single-executor serialization point."""
    from lintdb_spark.functions.text import analyze_standard

    def build():
        docs = load_table(spark, sf_dir, "documents")
        return (
            docs.repartition(
                spark.sparkContext.defaultParallelism, F.col("doc_id")
            )
            .select("doc_id", F.explode(analyze_standard(F.col("text"))).alias("token"))
            .persist()
        )

    return _session_cached(_TEXT_TOKEN_CACHE, spark, sf_dir, build)


_TF_CACHE: dict = {}


def text_tf_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (doc_id, token, tf) term-frequency table — the
    stored tf statistic every text index materializes at add() time
    (the Index class keeps the same numbers in its tf postings). The
    parent token table is doc-partitioned, so this aggregate builds
    exchange-free; bench times it as tf_build."""
    return _session_cached(
        _TF_CACHE,
        spark,
        sf_dir,
        lambda: text_tokens_cached(spark, sf_dir)
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("bigint").alias("tf"))
        .persist(),
    )


_VOCAB_CACHE: dict = {}


def vocab_stats_cached(spark: SparkSession, sf_dir: str):
    """Session-cached corpus vocabulary statistics: the (token, cnt,
    df) table, the single-row corpus token total, and the single-row
    document count — the df/cf sidecar stats a text index maintains
    at ingest (BM25's df, the LM's unigram counts). Serving queries
    then touch only broadcast-sized or vocab-sized frames."""

    def build():
        tf = text_tf_cached(spark, sf_dir)
        vocab = (
            tf.groupBy("token")
            .agg(
                F.sum("tf").cast("bigint").alias("cnt"),
                F.count("*").cast("bigint").alias("df"),
            )
            .persist()
        )
        total = vocab.agg(F.sum("cnt").cast("bigint").alias("total")).persist()
        n_docs = (
            load_table(spark, sf_dir, "documents")
            .agg(F.count("*").cast("bigint").alias("n_docs"))
            .persist()
        )
        return (vocab, total, n_docs)

    return _session_cached(_VOCAB_CACHE, spark, sf_dir, build)


_DOCLEN_CACHE: dict = {}


def doc_lengths_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (doc_id, dl) doc-length table — the corpus
    statistic BM25 stores next to its postings (df/dl are maintained
    at ingest in every text engine; bench's text_token_build covers
    the parent table, this aggregate is derived from it once)."""
    return _session_cached(
        _DOCLEN_CACHE,
        spark,
        sf_dir,
        lambda: text_tokens_cached(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.count("*").cast("double").alias("dl"))
        .persist(),
    )


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.bm25_rank(
        load_table(spark, sf_dir, "documents"),
        BM25_QUERY,
        k=20,
        tokens=text_tokens_cached(spark, sf_dir),
        dl=doc_lengths_cached(spark, sf_dir),
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_counts(load_table(spark, sf_dir, "documents"))


def q_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """log2-bucketed sequence-length histogram — the max_seq_len /
    pack-budget diagnostic; integer-exact bucketing via binary digit
    count (never float log2)."""
    return textstats.length_histogram(load_table(spark, sf_dir, "documents"))


def _pii_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table with PII injected DETERMINISTICALLY from
    doc_id (emails on %3, IPv4 on %5, phones on %7 — doc 0 carries all
    three, primes keep the combinations varied) so the DuckDB oracle
    constructs the identical corpus. The synthetic table itself has no
    PII-shaped tokens; the injection gives the scrub real work on
    every row class including none-matched."""
    d = F.col("doc_id")
    text = F.concat(
        F.col("text"),
        F.when(
            d % 3 == 0,
            F.concat(F.lit(" contact u"), d.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0,
            F.concat(F.lit(" from 10.0."), (d % 256).cast("string"), F.lit(".1")),
        ).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit(" call 555-123-4567")).otherwise(F.lit("")),
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", text.alias("text"))
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction (round 13) — the scrub stage a training
    pipeline runs before release: per-doc match counts for
    email/IPv4/phone and the text with typed placeholders substituted
    in a fixed order. Pure JVM column expressions (regexp_count /
    regexp_replace inside whole-stage codegen); patterns are
    engine-portable so the DuckDB oracle evaluates the identical
    semantics (see operators/textstats.PII_*)."""
    return textstats.pii_scan(_pii_corpus(spark, sf_dir))


_SUBSTRING_SPAN_CACHE: dict = {}


def substring_spans_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached duplicated-span table — the stored artifact of
    the substring-dedup pipeline (one row per maximal duplicated
    span, recomputed per corpus snapshot): q_substring_dedup returns
    it and q_substring_scrub consumes it, the same detect->act
    hand-off discipline as jaccard_pairs_cached / verified pairs."""
    return _session_cached(
        _SUBSTRING_SPAN_CACHE,
        spark,
        sf_dir,
        lambda: dedup.substring_spans(
            dedup.substring_window_postings(
                load_table(spark, sf_dir, "documents")
            )
        ).persist(),
    )


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (round 14) — maximal duplicated
    word spans per document: W-word window fingerprints that occur
    >= 2 times anywhere in the corpus, merged gaps-and-islands into
    (doc_id, span_start, span_len, cluster_key). The case doc-level
    MinHash cannot see: a duplicated paragraph inside otherwise-
    distinct documents. No pairwise join anywhere — one fp count, one
    semi-join, one output-proportional window (dedup.substring_spans'
    docstring has the 100 TB shape)."""
    return substring_spans_cached(spark, sf_dir)


def q_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scrub stage the spans feed (round 14, Lee et al. 2022 §4):
    every doc comes out with its non-keeper duplicated spans cut
    (keeper = smallest (doc_id, span_start) per cluster) — clean_text
    plus the removed-word count; fully-duplicated non-keeper docs
    come out EMPTY rather than vanishing (the drop policy belongs to
    the caller). Serves off the session-cached span artifact."""
    return dedup.substring_scrub(
        load_table(spark, sf_dir, "documents"),
        substring_spans_cached(spark, sf_dir),
    )


def q_substring_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level decontamination (round 14, GPT-3-style exact
    n-gram overlap with positions): maximal training-doc spans whose
    W-word windows appear in the eval slice (doc_id % 50 == 0) —
    unlike q_decontaminate's overlap counts, the spans compose with
    the cut machinery so contaminated passages can be excised instead
    of dropping whole docs."""
    return dedup.substring_decontaminate(
        load_table(spark, sf_dir, "documents")
    )


def q_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ETL: JVM-side JSON path extraction over the
    events props payload + per-type stats (no UDF, scan-speed)."""
    return relational.props_stats(table_cached(spark, sf_dir, "events"))


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.rolling_fingerprints(load_table(spark, sf_dir, "documents"))


def q_or_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4+C2/D7 Or(vector, term) — the reference's OrIterator with a
    vector child (QueryNode.cpp:15-121, DocIterator.cpp:237-322):
    stage-1 = PLAID codes-only score over probed candidates UNION term
    presence (1.0), SUM-combined per doc (scoring_methods.cpp:60-97);
    top num_second_pass survive; stage-2 reranks survivors by exact
    MaxSim — the same lifecycle Index.search runs on its stored tables,
    here as the declarative/oracle-checked twin. Term-only docs outside
    the probed lists still surface (the Or semantics), but rerank by
    the vector node decides the final order."""
    # session-cached build artifacts: the assignment subtree feeds
    # candidate generation AND stage-1 codes, and without a persisted
    # frame Catalyst re-plans the full assign across the broadcast
    # boundary on both sides — measured 2.88 s vs oracle 0.48 s (r02)
    cents, dt, ta = cascade_inputs(spark, sf_dir)
    qt = query_tokens_cached(spark, sf_dir)
    cand = ann.candidates(ta, probe_ids(spark, sf_dir), distinct=False)
    cand_assign = ta.join(F.broadcast(cand), "doc_id", "left_semi")
    s_vec = scoring.plaid_scores(cand_assign, qt, cents)
    s_term = dt.filter(
        (F.col("token_idx") == 0) & (F.col("label") % 3 == 1)
    ).select("doc_id", F.lit(1.0).alias("score"))
    s1 = (
        s_vec.select("doc_id", "score")
        .unionByName(s_term)
        .groupBy("doc_id")
        .agg(F.sum("score").alias("s1"))
    )
    surv = (
        s1.orderBy(F.round(F.col("s1"), 6).desc(), F.col("doc_id").asc())
        .limit(params.NUM_SECOND_PASS)
        .select("doc_id")
    )
    stage2 = scoring.maxsim_scores(dt.join(F.broadcast(surv), "doc_id"), qt)
    return (
        stage2.orderBy(F.round(F.col("score"), 6).desc(), F.col("doc_id").asc())
        .limit(params.K)
        .select("doc_id", F.round(F.col("score"), params.ROUND).alias("score"))
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode -> feature extraction under the VALUE-hash
    correctness gate: the deterministic fake codec is an md5 hex-string
    chain (multimodal._fake_decode) that DuckDB replicates exactly, so
    the mapInPandas plumbing (binary payload column, Arrow batching,
    mean/std pooling) is checked on feature VALUES, not just shapes.
    Both sides emit float32-cast-to-double -> exact equality."""
    from lintdb_spark.operators import multimodal

    media = multimodal.media_table(load_table(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(media)  # the designated UDF seam
    return feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        F.posexplode("feature").alias("dim_idx", "val"),
    ).select(
        "media_id",
        "media_type",
        "n_bytes",
        F.col("dim_idx").cast("bigint").alias("dim_idx"),
        F.col("val").cast("double").alias("val"),
    )


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling fan-out contract (one row per sampled
    frame, ts = idx * every_ms, count = max(duration//every, 1)),
    served by the DECLARATIVE plan half (multimodal.frame_plan — pure
    column fan-out, no decode: mapInPandas blocks column pruning, so
    the metadata-only query must not pay per-frame Python decode).
    The decode half (sample_frames) shares the identical fan-out,
    pytest-enforced (test_frame_plan_matches_decode_fanout), and its
    feature VALUES are oracle-checked via q_media_features' chain."""
    from lintdb_spark.operators import multimodal

    media = multimodal.media_table(load_table(spark, sf_dir, "documents"))
    fr = multimodal.frame_plan(media, every_ms=1000)
    return fr.select(
        "media_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("frame_ts_ms").cast("bigint").alias("frame_ts_ms"),
    )


def q_remove_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 DELETE semantics, declaratively: docs from source 'src5' are
    removed (anti-join), then a term query runs over the survivors.
    The true stateful path (parquet version flip) is exercised in
    test_index_lifecycle/test_remove_update_merge; this query makes the
    anti-join plan oracle-checkable."""
    d = load_table(spark, sf_dir, "documents")
    removed = d.filter(F.col("source") == "src5").select("doc_id")
    return (
        d.filter(F.col("lang") == "en")
        .join(removed, "doc_id", "left_anti")
        .select("doc_id", "source")
    )


def q_update_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 MERGE/upsert semantics: an updates relation (every 50th doc
    with n_chars bumped by 1000) overrides the base rows — union-all
    with precedence via row_number, the standard Spark upsert shape."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    updates = (
        d.filter(F.col("doc_id") % 50 == 0)
        .select("doc_id", "lang", (F.col("n_chars") + 1000).alias("n_chars"))
        .withColumn("prio", F.lit(0))
    )
    merged = d.withColumn("prio", F.lit(1)).unionByName(updates)
    w = Window.partitionBy("doc_id").orderBy(F.col("prio").asc())
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars"))
    )


def q_merge_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 index-merge semantics: two disjoint partition builds (split
    by doc_id parity) unioned with dedup, verified by per-lang counts
    equal to the unsplit table."""
    d = load_table(spark, sf_dir, "documents")
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 == 1)
    return (
        a.unionByName(b)
        .dropDuplicates(["doc_id"])
        .groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


def q_doc_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile aggregates per source (Spark `percentile` ==
    DuckDB `quantile_cont`, both exact linear interpolation)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.round(F.expr("percentile(n_chars, 0.5)"), params.ROUND).alias("median_chars"),
        F.round(F.expr("percentile(n_chars, 0.9)"), params.ROUND).alias("p90_chars"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


def q_events_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type moments: mean / sample stddev / extrema."""
    ev = table_cached(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.avg("value"), params.ROUND).alias("avg_value"),
        F.round(F.stddev_samp("value"), params.ROUND).alias("std_value"),
        F.round(F.min("value"), params.ROUND).alias("min_value"),
        F.round(F.max("value"), params.ROUND).alias("max_value"),
    )


MATCH_TOKENS = ["data", "query", "stream"]


def q_text_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text token match with the 'standard' analyzer: docs
    containing any query token, scored by distinct matched tokens."""
    toks = (
        text_tokens_cached(spark, sf_dir)
        .filter(F.col("token").isin(MATCH_TOKENS))
        .select("doc_id", F.col("token").alias("tok"))
        .distinct()
    )
    return toks.groupBy("doc_id").agg(
        F.count_distinct("tok").cast("bigint").alias("n_matched")
    )


def q_unigram_loglik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score (KenLM-perplexity stand-in) served off
    the stored tf table and vocabulary statistics (bench: tf_build /
    vocab_build)."""
    vocab, total, _ = vocab_stats_cached(spark, sf_dir)
    return textstats.unigram_loglik(
        load_table(spark, sf_dir, "documents"),
        tf=text_tf_cached(spark, sf_dir),
        vocab=vocab,
        total=total,
    )


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per doc off the stored tf/df statistics."""
    vocab, _, n_docs = vocab_stats_cached(spark, sf_dir)
    return textstats.tfidf_keywords(
        load_table(spark, sf_dir, "documents"),
        tf=text_tf_cached(spark, sf_dir),
        df_stats=vocab.select("token", "df"),
        n_docs=n_docs,
    )


FUZZY_DECONTAM_BANDS = 8  # 8 bands x 2 rows: catches ~Jaccard>=0.5 leakage
# (the dedup family's 4x4 banding targets >=0.9 near-dups; decontamination
# wants higher sensitivity — banding is a per-consumer projection of the
# SAME stored wide-signature table, so both granularities serve in-row)


def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH bucket-collision decontamination (fuzzy twin of
    q_decontaminate) served from the stored wide-signature table."""
    return dedup.fuzzy_decontaminate(
        dedup.lsh_buckets_wide(
            minhash_wide_cached(spark, sf_dir), bands=FUZZY_DECONTAM_BANDS
        ),
        eval_mod=DECONTAM_EVAL_MOD,
    )


def q_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup: the odd-doc_id half of the corpus is
    the new crawl, the even half the existing corpus; survivors = new
    docs with no LSH bucket collision against the base. Both sides
    band in-row off the stored wide-signature table."""
    buckets = dedup.lsh_buckets_wide(minhash_wide_cached(spark, sf_dir))
    return dedup.cross_corpus_dedup(
        buckets.filter(F.col("doc_id") % 2 == 1),
        buckets.filter(F.col("doc_id") % 2 == 0),
    )


_ARTIFACT_STORE_CACHE: dict = {}
_ARTIFACT_BASE_CACHE: dict = {}


def artifact_store_cached(spark: SparkSession, sf_dir: str):
    """Session-cached DedupArtifacts store over the FULL corpus, built
    INCREMENTALLY in three uneven batches (round 8): per-batch signing
    and banding with one atomic commit each — the persisted,
    point-updatable successor of the per-session minhash/bucket/pair
    builds (bench times the build as artifact_build and the marginal
    batch as artifact_update)."""

    def build():
        import tempfile

        from lintdb_spark.operators.artifacts import DedupArtifacts

        path = tempfile.mkdtemp(prefix="lintdb_artifacts_") + "/store"
        st = DedupArtifacts.create(spark, path)
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        for pred in (
            F.col("doc_id") % 5 < 2,
            F.col("doc_id") % 5 == 2,
            F.col("doc_id") % 5 > 2,
        ):
            st.update(docs.filter(pred))
        return st

    return _session_cached(_ARTIFACT_STORE_CACHE, spark, sf_dir, build)


def artifact_base_store_cached(spark: SparkSession, sf_dir: str):
    """Even-doc_id half of the corpus as a maintained store (two
    batches) — the 'existing corpus' side of the incremental-crawl
    gate query."""

    def build():
        import tempfile

        from lintdb_spark.operators.artifacts import DedupArtifacts

        path = tempfile.mkdtemp(prefix="lintdb_artifacts_base_") + "/store"
        st = DedupArtifacts.create(spark, path)
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        even = docs.filter(F.col("doc_id") % 2 == 0)
        st.update(even.filter(F.col("doc_id") % 4 == 0))
        st.update(even.filter(F.col("doc_id") % 4 != 0))
        return st

    return _session_cached(_ARTIFACT_BASE_CACHE, spark, sf_dir, build)


def q_artifact_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs served from the incrementally-built
    artifact store: stored band-collision candidates + read-time
    Jaccard verify against the current capped shingle sets — must
    equal the from-scratch q_jaccard_verified (same oracle SQL)."""
    return artifact_store_cached(spark, sf_dir).verified_pairs(
        min_jaccard=DUP_CLUSTER_JACCARD
    )


def q_artifact_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup gate served from a MAINTAINED store:
    the odd half of the corpus arrives as a crawl and is banded
    against the even-half store's signature table — must equal the
    from-scratch q_cross_dedup (same oracle SQL)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return artifact_base_store_cached(spark, sf_dir).dedup_gate(
        docs.filter(F.col("doc_id") % 2 == 1)
    )


_ARTIFACT_TENANT_CACHE: dict = {}


def artifact_tenant_store_cached(spark: SparkSession, sf_dir: str):
    """TWO-tenant DedupArtifacts store (round 9): tenant 0 holds the
    even doc_ids, tenant 1 the odd, each fed in two batches. Every
    table partitions on tenant and all maintenance (collision join,
    df statistics, pair verification) is tenant-local."""

    def build():
        import tempfile

        from lintdb_spark.operators.artifacts import DedupArtifacts

        path = tempfile.mkdtemp(prefix="lintdb_artifacts_tenant_") + "/store"
        st = DedupArtifacts.create(spark, path)
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        even = docs.filter(F.col("doc_id") % 2 == 0)
        odd = docs.filter(F.col("doc_id") % 2 == 1)
        st.update(even.filter(F.col("doc_id") % 4 == 0), tenant=0)
        st.update(even.filter(F.col("doc_id") % 4 != 0), tenant=0)
        st.update(odd.filter(F.col("doc_id") % 4 == 1), tenant=1)
        st.update(odd.filter(F.col("doc_id") % 4 != 1), tenant=1)
        return st

    return _session_cached(_ARTIFACT_TENANT_CACHE, spark, sf_dir, build)


def q_artifact_tenant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tenant-local verified near-dup pairs from a MULTI-tenant
    artifact store (tenant 0 = even doc_ids, tenant 1 = odd): the
    serve reads only tenant 1's partitions and must equal a
    from-scratch jaccard_verify_pairs over the odd half ALONE — no
    cross-tenant pair, sizes, or df statistics may leak (the
    reference's index is tenant-first for the same isolation
    contract, lintdb/schema/KeyBuilder.h:13-14)."""
    return artifact_tenant_store_cached(spark, sf_dir).verified_pairs(
        min_jaccard=DUP_CLUSTER_JACCARD, tenant=1
    )


_ARTIFACT_DRIFT_CACHE: dict = {}
_ARTIFACT_SEED_CACHE: dict = {}
_DRIFT_PHRASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def _clone_artifact_store(st):
    """File-level clone of a committed artifact store: segments are
    immutable parquet files and the meta is self-contained (relative
    segment names only), so copying the directory yields an
    independent store sharing nothing mutable with the source. The
    drift-lifecycle driver queries derive their variants (fold /
    remove / fold_remove / minor / cost_fold) from ONE shared seeded
    build via clones instead of re-ingesting the same batches per
    query (round 13, VERDICT r12 #2 — six near-identical store builds
    per session dominated the default-lane budget)."""
    import shutil
    import tempfile

    from lintdb_spark.operators.artifacts import DedupArtifacts

    dst = tempfile.mkdtemp(prefix="lintdb_artifacts_clone_") + "/store"
    shutil.copytree(st.path, dst)
    return DedupArtifacts.load(st.spark, dst)


def artifact_drift_seed_cached(spark: SparkSession, sf_dir: str):
    """Batch 1 of the drift corpus (doc_id < 8) as a committed store —
    the shared seed of every drift-lifecycle variant. Variants clone
    this directory (or a downstream store) and apply only their OWN
    lifecycle steps, so the per-session build cost is one ingest of
    each distinct batch rather than one full rebuild per query."""

    def build():
        import tempfile

        from lintdb_spark.operators.artifacts import DedupArtifacts

        path = tempfile.mkdtemp(prefix="lintdb_artifacts_seed_") + "/store"
        st = DedupArtifacts.create(spark, path)
        st.update(_drift_corpus(spark, sf_dir).filter(F.col("doc_id") < 8))
        return st

    return _session_cached(_ARTIFACT_SEED_CACHE, spark, sf_dir, build)


def _drift_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24 derived docs in 3 exact-duplicate groups: a 10-word shared
    phrase (its trigrams reach df 24 — crossing the floor-pinned cap
    of 8 when the second batch lands) plus a 4-word per-group suffix
    (df 8 — stays under the cap). Deterministic from doc_id so the
    DuckDB oracle derives the identical corpus."""
    g = (F.col("doc_id") % 3).cast("string")
    text = F.concat(
        F.lit(_DRIFT_PHRASE + " s"),
        g,
        F.lit(" t"),
        g,
        F.lit(" u"),
        g,
        F.lit(" v"),
        g,
    )
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 24)
        .select("doc_id", text.alias("text"))
    )


def artifact_drift_store_cached(spark: SparkSession, sf_dir: str):
    """Store fed the drift corpus in two batches chosen so the shared
    phrase's trigrams sit AT the cap after batch 1 (df 8 <= 8) and
    cross it with batch 2 (df 24 > 8) — the commit records flip-delta
    rows and the serve read must adjust batch-1's stored pair stats
    (see operators/artifacts._pair_current). Batch 1 comes from the
    shared seed store (clone); only batch 2 is ingested here."""

    def build():
        st = _clone_artifact_store(artifact_drift_seed_cached(spark, sf_dir))
        st.update(_drift_corpus(spark, sf_dir).filter(F.col("doc_id") >= 8))
        return st

    return _session_cached(_ARTIFACT_DRIFT_CACHE, spark, sf_dir, build)


def q_artifact_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified pairs under df-cap DRIFT (round 9): batch 2 pushes the
    shared phrase's trigrams across the pinned cap, so batch-1 pairs
    — verified when those trigrams still counted — must be served
    flip-adjusted (n_common and sizes shrink to the suffix trigrams).
    Must equal a from-scratch capped verify over the union corpus."""
    return artifact_drift_store_cached(spark, sf_dir).verified_pairs(
        min_jaccard=DUP_CLUSTER_JACCARD
    )


_ARTIFACT_REMOVE_CACHE: dict = {}


def artifact_remove_store_cached(spark: SparkSession, sf_dir: str):
    """The drift corpus ingested in two batches, then every doc
    OUTSIDE one exact-duplicate group removed (retention deletion).
    Removal drops the shared phrase's trigram df from 24 back to 7 —
    UNDER the floor cap of 8 — so the phrase re-enters every
    survivor's capped set: the earlier down-flips telescope with the
    removal's up-flips, and the serve must equal a from-scratch build
    over the survivors alone."""

    def build():
        st = _clone_artifact_store(artifact_drift_store_cached(spark, sf_dir))
        st.remove([d for d in range(24) if d % 3 != 0 or d == 21])
        return st

    return _session_cached(_ARTIFACT_REMOVE_CACHE, spark, sf_dir, build)


def q_artifact_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified pairs after remove() (round 9): tombstoned docs are
    suppressed, negative df rows restore the survivors' frequencies,
    and up-flip deltas re-admit the phrase trigrams into the stored
    pair stats — must equal a from-scratch capped verify over the
    SURVIVING corpus (the reference's remove-then-search contract,
    lintdb/index.cpp remove path, applied to the dedup artifacts)."""
    return artifact_remove_store_cached(spark, sf_dir).verified_pairs(
        min_jaccard=DUP_CLUSTER_JACCARD
    )


_ARTIFACT_FLUSH_CACHE: dict = {}


def artifact_flush_store_cached(spark: SparkSession, sf_dir: str):
    """The drift corpus ingested under DEFERRED pair verification
    (verify_every=2, round 10): batch 1 defers, batch 2 lands the
    flush (verifying both batches' pairs against the post-drift capped
    sets — the phrase's trigrams crossed the cap with batch 2), batch
    3 defers again, and an explicit flush_pairs() closes the gap. The
    serve must equal the from-scratch verify over the full corpus —
    deferral may never change WHAT is computed, only when."""

    def build():
        import tempfile

        from lintdb_spark.operators.artifacts import DedupArtifacts

        path = tempfile.mkdtemp(prefix="lintdb_artifacts_flush_") + "/store"
        st = DedupArtifacts.create(spark, path, verify_every=2)
        docs = _drift_corpus(spark, sf_dir)
        st.update(docs.filter(F.col("doc_id") < 8))
        st.update(docs.filter((F.col("doc_id") >= 8) & (F.col("doc_id") < 16)))
        st.update(docs.filter(F.col("doc_id") >= 16))
        st.flush_pairs()
        return st

    return _session_cached(_ARTIFACT_FLUSH_CACHE, spark, sf_dir, build)


def q_artifact_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified pairs under DEFERRED verification (verify_every=2,
    round 10): candidates and df-cap flips commit per batch while the
    verify runs every 2nd batch over everything pending; after the
    final flush the serve must be byte-equal to a from-scratch capped
    verify over the union corpus — same oracle as q_artifact_drift,
    reached through the deferred path."""
    return artifact_flush_store_cached(spark, sf_dir).verified_pairs(
        min_jaccard=DUP_CLUSTER_JACCARD
    )


_ARTIFACT_FOLD_CACHE: dict = {}


def artifact_fold_store_cached(spark: SparkSession, sf_dir: str):
    """The drift corpus ingested in two batches, then fold_flips()
    absorbs the outstanding flip deltas (round 11; the fold picks its
    physical shape — row-scoped append vs full rewrite — by estimated
    touched fraction), the flip table clears, and every read
    afterwards must still equal the from-scratch verify — folding may
    never change WHAT is served, whichever shape it picks."""

    def build():
        st = _clone_artifact_store(artifact_drift_store_cached(spark, sf_dir))
        st.fold_flips()
        assert not st._segments("flip_docs")
        return st

    return _session_cached(_ARTIFACT_FOLD_CACHE, spark, sf_dir, build)


def q_artifact_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified pairs served THROUGH a flip fold (round 11): batch 2's
    df-cap drift staged flip deltas, fold_flips() absorbed them (in
    whichever physical shape its touched-fraction estimator picked)
    and cleared the flip table — the serve must be byte-equal to a
    from-scratch capped verify over the union corpus (same oracle as
    q_artifact_drift, reached through the folded representation
    instead of the live flip join)."""
    return artifact_fold_store_cached(spark, sf_dir).verified_pairs(
        min_jaccard=DUP_CLUSTER_JACCARD
    )


_ARTIFACT_MINOR_CACHE: dict = {}


def artifact_minor_store_cached(spark: SparkSession, sf_dir: str):
    """The drift corpus ingested in THREE batches, then
    minor_compact(force=True) merges the per-batch segments into one
    m1-* tier segment per table (round 11; the v* base tier and the
    outstanding flip deltas are untouched — the minor merge is the
    batch-proportional arm of tiered maintenance). Reads afterwards
    must still equal the from-scratch verify: merging segment lists
    may never change WHAT is served."""

    def build():
        st = _clone_artifact_store(artifact_drift_seed_cached(spark, sf_dir))
        docs = _drift_corpus(spark, sf_dir)
        st.update(
            docs.filter((F.col("doc_id") >= 8) & (F.col("doc_id") < 16))
        )
        st.update(docs.filter(F.col("doc_id") >= 16))
        merged = st.minor_compact(force=True)
        assert merged, "three batch segments must merge"
        return st

    return _session_cached(_ARTIFACT_MINOR_CACHE, spark, sf_dir, build)


def q_artifact_minor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified pairs served THROUGH a minor compaction (round 11):
    the three batches' segments merged into one m1-* tier segment per
    table, flip deltas still live — the serve must be byte-equal to a
    from-scratch capped verify over the union corpus (same oracle as
    q_artifact_drift, reached through the merged batch tier)."""
    return artifact_minor_store_cached(spark, sf_dir).verified_pairs(
        min_jaccard=DUP_CLUSTER_JACCARD
    )


_ARTIFACT_FOLD_RM_CACHE: dict = {}


def artifact_fold_remove_store_cached(spark: SparkSession, sf_dir: str):
    """The remove() scenario with a fold on top: drift down-flips,
    retention deletion's up-flips (the phrase re-enters the survivors'
    capped sets), then fold_flips() — the telescoped deltas must fold
    into the stored rows exactly, with tombstoned rows kept but
    anti-joined at read."""

    def build():
        st = _clone_artifact_store(
            artifact_remove_store_cached(spark, sf_dir)
        )
        st.fold_flips()
        assert not st._segments("flip_docs")
        return st

    return _session_cached(_ARTIFACT_FOLD_RM_CACHE, spark, sf_dir, build)


def q_artifact_fold_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified pairs after remove() + fold_flips() (round 11): the
    removal's up-flip deltas are folded into the touched rows and the
    flip table cleared — the serve must equal a from-scratch capped
    verify over the SURVIVING corpus (same oracle as q_artifact_remove,
    reached through the folded representation)."""
    return artifact_fold_remove_store_cached(spark, sf_dir).verified_pairs(
        min_jaccard=DUP_CLUSTER_JACCARD
    )


_COVERED_PHRASE = "lambda mu nu xi omicron pi rho sigma tau upsilon"
_ARTIFACT_COVERED_CACHE: dict = {}


def _covered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift corpus with a SECOND 10-word phrase appended to docs
    12-23 only: phrase A crosses the cap at the second batch (df
    8 -> 12 over the floor-pinned cap of 8), phrase B crosses at the
    FOURTH (df 4 -> 12) — after the minor merge, so B's stored
    containing docs (12-15) are findable only through the merged
    tier's inverted sliver. Deterministic from doc_id so the DuckDB
    oracle derives the identical corpus."""
    g = (F.col("doc_id") % 3).cast("string")
    text = F.concat(
        F.lit(_DRIFT_PHRASE + " s"),
        g,
        F.lit(" t"),
        g,
        F.lit(" u"),
        g,
        F.lit(" v"),
        g,
        F.when(
            F.col("doc_id") >= 12, F.lit(" " + _COVERED_PHRASE)
        ).otherwise(F.lit("")),
    )
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 24)
        .select("doc_id", text.alias("text"))
    )


def artifact_covered_store_cached(spark: SparkSession, sf_dir: str):
    """Round-12 coverage-extension lifecycle (VERDICT r11 #1): a full
    compact establishes shingle_docs coverage, two more batches
    minor-merge into an m1 tier WITH the inverted sliver staged and
    covers advanced (_minor_companion), and a final drift commit
    crosses phrase B — whose stored containing docs live ONLY in the
    merged-and-covered m1 segment, so the flip lookup must find them
    through the sliver (the uncovered doc-keyed set is EMPTY, asserted
    at build). Serve must equal a from-scratch capped verify."""

    def build():
        import tempfile

        from lintdb_spark.operators.artifacts import DedupArtifacts

        path = tempfile.mkdtemp(prefix="lintdb_artifacts_cov_") + "/store"
        st = DedupArtifacts.create(spark, path)
        docs = _covered_corpus(spark, sf_dir)
        st.update(docs.filter(F.col("doc_id") < 8))
        st.compact()  # covers = the v1 snapshot
        st.update(
            docs.filter((F.col("doc_id") >= 8) & (F.col("doc_id") < 12))
        )  # phrase A crosses through the covered v1 road
        st.update(
            docs.filter((F.col("doc_id") >= 12) & (F.col("doc_id") < 16))
        )  # phrase B enters (df 4, under cap)
        merged = st.minor_compact(force=True)
        assert merged.get("shingles"), merged
        covers = set(st._meta["shingle_docs_covers"])
        assert any(s.startswith("m") for s in covers)
        # full coverage: the drift lookup below has NO uncovered road
        assert all(s in covers for s in st._segments("shingles"))
        st.update(docs.filter(F.col("doc_id") >= 16))  # B crosses
        return st

    return _session_cached(_ARTIFACT_COVERED_CACHE, spark, sf_dir, build)


_ARTIFACT_COSTFOLD_CACHE: dict = {}


def artifact_cost_fold_store_cached(spark: SparkSession, sf_dir: str):
    """Round-12 cost-triggered fold (VERDICT r11 #2): the drift
    corpus's second batch crosses the cap and the resulting flip rows
    trip the SERVE-COST bound (ARTIFACT_FOLD_COST_ROWS forced to 1 for
    the commit, the flat row backstop pushed out of reach) — the fold
    must fire through _fold_due's primary road and clear the flip
    table inside update() itself. Params are restored before the
    builder returns; the serve is over the folded representation."""

    def build():
        from lintdb_spark import params as P

        st = _clone_artifact_store(artifact_drift_seed_cached(spark, sf_dir))
        docs = _drift_corpus(spark, sf_dir)
        old = (P.ARTIFACT_FOLD_COST_ROWS, P.ARTIFACT_AUTOCOMPACT_FLIP_ROWS)
        P.ARTIFACT_FOLD_COST_ROWS = 1
        P.ARTIFACT_AUTOCOMPACT_FLIP_ROWS = 10**15
        try:
            r = st.update(docs.filter(F.col("doc_id") >= 8))
            assert r.get("folded"), r
        finally:
            P.ARTIFACT_FOLD_COST_ROWS, P.ARTIFACT_AUTOCOMPACT_FLIP_ROWS = old
        assert not st._segments("flip_docs")
        return st

    return _session_cached(_ARTIFACT_COSTFOLD_CACHE, spark, sf_dir, build)


def q_artifact_cost_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified pairs after a fold fired by the COST trigger (round
    12): the serve-cost estimate — not the flat row count — routed the
    fold inside update(), and the folded serve must equal a
    from-scratch capped verify over the union corpus (same oracle as
    q_artifact_drift)."""
    return artifact_cost_fold_store_cached(spark, sf_dir).verified_pairs(
        min_jaccard=DUP_CLUSTER_JACCARD
    )


def q_artifact_covered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified pairs served through the round-12 covered merged
    layout: a drift commit whose crossing phrase's containing docs
    live only in a minor-merged, companion-covered segment — the flip
    lookup reads them via the inverted sliver, and the serve must
    equal a from-scratch capped verify over the union corpus."""
    return artifact_covered_store_cached(spark, sf_dir).verified_pairs(
        min_jaccard=DUP_CLUSTER_JACCARD
    )


_ARTIFACT_REMOTE_CACHE: dict = {}


def artifact_remote_fold_store_cached(spark: SparkSession, sf_dir: str):
    """Round-13 degraded-stats fold (VERDICT r12 #1): batch 1 of the
    drift corpus lands on a BRIDGED scheme (mem://), the local
    staging/cache mirror is wiped and the store re-opened COLD — no
    parquet footer is locally readable (asserted), so live footer
    stats are gone and only the commit-time row counts persisted in
    the meta (seg_rows, store.py _record_manifest) remain. The build
    asserts those counts are EXACT (equal to the warm writer's footer
    truth — pre-fix they were None and the serve-cost trigger silently
    degraded to its flat row backstop), then batch 2's drift flips
    must trip the cost fold through the PRIMARY road on the cold
    object (cost bound forced to 1 for the commit, flat backstop
    pushed out of reach; params restored before return)."""

    def build():
        import shutil
        import uuid

        from lintdb_spark import params as P
        from lintdb_spark.operators.artifacts import DedupArtifacts

        path = f"mem://artifacts-remote-{uuid.uuid4().hex[:12]}/store"
        st = DedupArtifacts.create(spark, path)
        docs = _drift_corpus(spark, sf_dir)
        st.update(docs.filter(F.col("doc_id") < 8))
        truth = (st._table_rows("pair_stats"), st._table_rows("pair_docs"))
        assert all(truth), truth
        # simulated restart: wipe the local mirror, open a fresh object
        shutil.rmtree(st.fs.cache_root, ignore_errors=True)
        st2 = DedupArtifacts.load(spark, path)
        assert all(
            st2.fs.parquet_num_rows(f"{path}/pair_stats/{seg}/{rel}") is None
            for seg, rels in st2._meta["manifests"]["pair_stats"].items()
            for rel in rels
        ), "cold store must have no local footers"
        got = (st2._table_rows("pair_stats"), st2._table_rows("pair_docs"))
        assert got == truth, (got, truth)
        old = (P.ARTIFACT_FOLD_COST_ROWS, P.ARTIFACT_AUTOCOMPACT_FLIP_ROWS)
        P.ARTIFACT_FOLD_COST_ROWS = 1
        P.ARTIFACT_AUTOCOMPACT_FLIP_ROWS = 10**15
        try:
            r = st2.update(docs.filter(F.col("doc_id") >= 8))
            assert r.get("folded"), r
        finally:
            P.ARTIFACT_FOLD_COST_ROWS, P.ARTIFACT_AUTOCOMPACT_FLIP_ROWS = old
        assert not st2._segments("flip_docs")
        return st2

    return _session_cached(_ARTIFACT_REMOTE_CACHE, spark, sf_dir, build)


def q_artifact_remote_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified pairs after a cost-triggered fold on a COLD-reopened
    bridged-scheme store (round 13): the serve-cost estimate priced
    the outstanding flips from the meta-persisted commit-time row
    counts — no local parquet footers existed — and the folded serve
    must equal a from-scratch capped verify over the union corpus
    (same oracle as q_artifact_drift)."""
    return artifact_remote_fold_store_cached(spark, sf_dir).verified_pairs(
        min_jaccard=DUP_CLUSTER_JACCARD
    )


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-IVF-cell occupancy/norm statistics off the stored bucket
    table (the ANN corpus map)."""
    return knn.cluster_stats(
        load_table(spark, sf_dir, "embeddings"),
        model.centroids(spark, sf_dir),
        bucketed=ivf_bucketed(spark, sf_dir),
    )


PACK_BUDGET = 2048
# docs per composite pack shard at bench scale — small enough that the
# bench corpus exercises >1 shard per language (production default is
# sampling.PACK_SHARD_DOCS = 100k; the plan shape is identical)
PACK_SHARD = 200


def q_pack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence-packing plan (2048-token packs, laid out
    per (lang, doc_id//200) composite shard in doc_id order) — pure
    integer window arithmetic, every window partition bounded at 200
    rows regardless of language skew."""
    return sampling.pack_plan(
        load_table(spark, sf_dir, "documents"), PACK_BUDGET, shard_docs=PACK_SHARD
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/pretraining chunking: fixed 128-token windows, stride 96
    (in-row slicing, scan-speed)."""
    return textstats.doc_chunks(load_table(spark, sf_dir, "documents"))


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document n-gram repetition (quality filter
    input for LLM training corpora)."""
    return textstats.repetition_stats(load_table(spark, sf_dir, "documents"))


def q_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (operators/skew.py) as a
    first-class query: per-user event totals where phase 1 spreads any
    hot user over 16 (key, salt) reduce tasks and phase 2 combines the
    algebraic partials — same result as a plain GROUP BY (the oracle),
    skew-proof shuffle shape at 100 TB."""
    from lintdb_spark.operators import skew

    ev = table_cached(spark, sf_dir, "events")
    out = skew.salted_sum_count(ev, ["user_id"], "value")
    return out.select(
        "user_id",
        F.round(F.col("total"), params.ROUND).alias("total_value"),
        "n",
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Gopher-rule quality verdict (per-rule flags + AND
    keep bit) — the pre-dedup corpus filter of an LLM pipeline."""
    return textstats.quality_filter(load_table(spark, sf_dir, "documents"))


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token share + uniform-target sampling weight — the
    data-mixture computation before corpus sampling."""
    return textstats.domain_mix(load_table(spark, sf_dir, "documents"))


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn.brute_force_knn(load_table(spark, sf_dir, "embeddings"), KNN_QUERY_IDS)


_IVF_BUCKET_CACHE: dict = {}


def ivf_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached materialized IVF bucket assignment — the
    index-build half of ivf_knn. At 100 TB this is a parquet table
    partitioned by centroid_id; here it's a persisted DataFrame built
    once per (session, sf_dir). bench.py materializes it explicitly
    (timed as ivf_build) so q_ivf_knn measures probe-bounded QUERY
    cost, mirroring how every ANN system separates build from serve."""
    return _session_cached(
        _IVF_BUCKET_CACHE,
        spark,
        sf_dir,
        lambda: knn.ivf_bucket(
            load_table(spark, sf_dir, "embeddings"), model.centroids(spark, sf_dir)
        ).persist(),
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-scoped semantic dedup (round 15, SemDeDup-style): the
    dedup family surface fingerprints cannot see — same-meaning,
    no-shared-n-grams duplicates land in one embedding cluster.
    Serves off the SAME stored IVF bucket artifact as q_ivf_knn /
    q_embedding_clusters; pairs are bounded per cluster (equi-join on
    centroid_id, plan-pinned — never cross-cluster, never corpus^2);
    keeper = lowest cosine-to-centroid (the paper's rule), vec_id
    tie-break. Corpus-complete verdict: every vector comes out with
    its cluster, c2c, neighbor count and keep flag."""
    return knn.semantic_dedup(
        load_table(spark, sf_dir, "embeddings"),
        model.centroids(spark, sf_dir),
        bucketed=ivf_bucketed(spark, sf_dir),
    )


def q_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: IVF-bucketed corpus, n_probe pruning per query
    (approximate by design; this is the 100 TB plan where bucket =
    partition)."""
    return knn.ivf_knn(
        load_table(spark, sf_dir, "embeddings"),
        model.centroids(spark, sf_dir),
        KNN_QUERY_IDS,
        bucketed=ivf_bucketed(spark, sf_dir),
    )


def q_supplier_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join over supplier + nation (tables otherwise
    untouched by the suite)."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum("s_acctbal"), 2).alias("total_acctbal"),
            F.count("*").cast("bigint").alias("n_suppliers"),
        )
    )


def q_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.round(F.avg("p_retailprice"), params.ROUND).alias("avg_price"),
        F.max("p_size").cast("bigint").alias("max_size"),
    )


def q_events_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function ranking: top-5 users by event count per type."""
    from pyspark.sql import Window

    ev = table_cached(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), F.col("user_id").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("event_type", "user_id", "n")
    )


# --------------------------------------------------------------------------
# Oracle SQL (DuckDB) — same constants, same rounding, same tie-breaks
# --------------------------------------------------------------------------

_SHINGLES = """
shingles AS (
    SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
    FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w)-2, 1)+1)) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
)
"""

_P = 2_147_483_647  # functions/text.py MINHASH_PRIME
_AM, _BM = 1_103_515_245, 12_345

_SIGS = f"""
{_SHINGLES},
based AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % {_P} AS h31
    FROM shingles
),
sigs AS (
    SELECT doc_id, perm,
           min((({_AM} * (perm + 1)) % {_P} * h31 + ({_BM} * (perm + 1)) % {_P}) % {_P}) AS minhash
    FROM based CROSS JOIN (SELECT unnest(range(0, {params.MINHASH_PERMS})) AS perm) p
    GROUP BY doc_id, perm
)
"""


def _stopword_in(lang: str) -> str:
    return ", ".join(f"'{s}'" for s in params.STOPWORDS[lang])


ORACLE: dict[str, str] = {
    "q_term_text": "SELECT doc_id FROM documents WHERE lang = 'en'",
    "q_term_int": "SELECT o_orderkey FROM orders WHERE o_custkey = 42",
    "q_term_float": (
        "SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_quantity = 30.0"
    ),
    "q_term_date": (
        "SELECT l_orderkey, l_linenumber FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-03-01'"
    ),
    "q_and": "SELECT doc_id FROM documents WHERE lang = 'en' AND source = 'src3'",
    "q_or": "SELECT DISTINCT doc_id FROM documents WHERE lang = 'en' OR source = 'src3'",
    "q_assign": prelude()
    + f"SELECT doc_id, token_idx, centroid_id, round(ip, {params.ROUND}) AS ip FROM token_assign",
    "q_mapping": prelude() + "SELECT DISTINCT doc_id, centroid_id FROM token_assign",
    "q_topcentroids": prelude()
    + f"SELECT centroid_id, round(score, {params.ROUND}) AS score FROM probes",
    "q_candidates": prelude()
    + (
        "SELECT DISTINCT doc_id FROM token_assign "
        "WHERE centroid_id IN (SELECT centroid_id FROM probes)"
    ),
    "q_plaid": prelude()
    + f"""
, doc_codes AS (SELECT DISTINCT doc_id, centroid_id FROM token_assign),
qc AS (SELECT q.q_id, c.centroid_id, list_dot_product(q.qvec, c.cvec) AS qc_score
       FROM q_tokens q CROSS JOIN centroids c),
pl AS (SELECT d.doc_id, q.q_id, max(q.qc_score) AS best
       FROM doc_codes d JOIN qc q USING (centroid_id) GROUP BY 1, 2)
SELECT doc_id, round(sum(best), {params.ROUND}) AS score FROM pl GROUP BY doc_id
""",
    "q_maxsim": prelude()
    + f"""
, mm AS (SELECT t.doc_id, q.q_id, max(list_dot_product(t.vec, q.qvec)) AS best
         FROM doc_tokens t CROSS JOIN q_tokens q GROUP BY 1, 2)
SELECT doc_id, round(sum(best), {params.ROUND}) AS score FROM mm GROUP BY doc_id
""",
    "q_topk": prelude()
    + f"""
, cand AS (SELECT DISTINCT doc_id FROM token_assign
           WHERE centroid_id IN (SELECT centroid_id FROM probes)),
cand_codes AS (SELECT DISTINCT t.doc_id, t.centroid_id
               FROM token_assign t JOIN cand USING (doc_id)),
qc AS (SELECT q.q_id, c.centroid_id, list_dot_product(q.qvec, c.cvec) AS qc_score
       FROM q_tokens q CROSS JOIN centroids c),
stage1 AS (SELECT doc_id, sum(best) AS score
           FROM (SELECT d.doc_id, q.q_id, max(q.qc_score) AS best
                 FROM cand_codes d JOIN qc q USING (centroid_id) GROUP BY 1, 2)
           GROUP BY doc_id),
surv AS (SELECT doc_id FROM stage1
         ORDER BY round(score, 6) DESC, doc_id ASC LIMIT {params.NUM_SECOND_PASS}),
stage2 AS (SELECT doc_id, sum(best) AS score
           FROM (SELECT t.doc_id, q.q_id, max(list_dot_product(t.vec, q.qvec)) AS best
                 FROM doc_tokens t JOIN surv USING (doc_id) CROSS JOIN q_tokens q
                 GROUP BY 1, 2)
           GROUP BY doc_id)
SELECT doc_id, round(score, {params.ROUND}) AS score FROM stage2
ORDER BY round(score, 6) DESC, doc_id ASC LIMIT {params.K}
""",
    "q_filtered_ann": prelude()
    + f"""
, doc_labels AS (SELECT doc_id, label FROM doc_tokens WHERE token_idx = 0),
cand AS (SELECT DISTINCT t.doc_id FROM token_assign t
         JOIN doc_labels dl ON dl.doc_id = t.doc_id AND dl.label % 2 = 0
         WHERE t.centroid_id IN (SELECT centroid_id FROM probes)),
cand_codes AS (SELECT DISTINCT t.doc_id, t.centroid_id
               FROM token_assign t JOIN cand USING (doc_id)),
qc AS (SELECT q.q_id, c.centroid_id, list_dot_product(q.qvec, c.cvec) AS qc_score
       FROM q_tokens q CROSS JOIN centroids c),
stage1 AS (SELECT doc_id, sum(best) AS score
           FROM (SELECT d.doc_id, q.q_id, max(q.qc_score) AS best
                 FROM cand_codes d JOIN qc q USING (centroid_id) GROUP BY 1, 2)
           GROUP BY doc_id),
surv AS (SELECT doc_id FROM stage1
         ORDER BY round(score, 6) DESC, doc_id ASC LIMIT {params.NUM_SECOND_PASS}),
stage2 AS (SELECT doc_id, sum(best) AS score
           FROM (SELECT t.doc_id, q.q_id, max(list_dot_product(t.vec, q.qvec)) AS best
                 FROM doc_tokens t JOIN surv USING (doc_id) CROSS JOIN q_tokens q
                 GROUP BY 1, 2)
           GROUP BY doc_id)
SELECT doc_id, round(score, {params.ROUND}) AS score FROM stage2
ORDER BY round(score, 6) DESC, doc_id ASC LIMIT {params.K}
""",
    "q_metadata": prelude()
    + f"""
, cand AS (SELECT DISTINCT doc_id FROM token_assign
           WHERE centroid_id IN (SELECT centroid_id FROM probes)),
cand_codes AS (SELECT DISTINCT t.doc_id, t.centroid_id
               FROM token_assign t JOIN cand USING (doc_id)),
qc AS (SELECT q.q_id, c.centroid_id, list_dot_product(q.qvec, c.cvec) AS qc_score
       FROM q_tokens q CROSS JOIN centroids c),
stage1 AS (SELECT doc_id, sum(best) AS score
           FROM (SELECT d.doc_id, q.q_id, max(q.qc_score) AS best
                 FROM cand_codes d JOIN qc q USING (centroid_id) GROUP BY 1, 2)
           GROUP BY doc_id),
surv AS (SELECT doc_id FROM stage1
         ORDER BY round(score, 6) DESC, doc_id ASC LIMIT {params.NUM_SECOND_PASS}),
stage2 AS (SELECT doc_id, sum(best) AS score
           FROM (SELECT t.doc_id, q.q_id, max(list_dot_product(t.vec, q.qvec)) AS best
                 FROM doc_tokens t JOIN surv USING (doc_id) CROSS JOIN q_tokens q
                 GROUP BY 1, 2)
           GROUP BY doc_id),
topk AS (SELECT doc_id, round(score, {params.ROUND}) AS score FROM stage2
         ORDER BY round(score, 6) DESC, doc_id ASC LIMIT {params.K})
SELECT r.doc_id, r.score, d.lang, d.source, d.n_chars
FROM topk r JOIN documents d USING (doc_id)
""",
    "q_batch_topk": None,  # assigned below via batch_topk_oracle_sql
}


def batch_topk_oracle_sql(nq: int) -> str:
    """Batch-cascade oracle SQL for ``nq`` synthetic queries — also the
    DuckDB BASELINE protocol bench.py times at BENCH_NQ."""
    return prelude() + f"""
, bq AS (
    SELECT CAST(floor(s.i / {model.BATCH_TOKENS_PER_QUERY}.0) AS BIGINT) AS qid,
           CAST(s.i % {model.BATCH_TOKENS_PER_QUERY} AS BIGINT) AS q_id,
           CAST(e.embedding AS DOUBLE[]) AS qvec
    FROM (SELECT unnest(range(0, {nq * model.BATCH_TOKENS_PER_QUERY})) AS i) s
    JOIN embeddings e
      ON e.vec_id = (CAST(floor(s.i / {model.BATCH_TOKENS_PER_QUERY}.0) AS BIGINT) * 31
                     + (s.i % {model.BATCH_TOKENS_PER_QUERY}) * 7)
                    % (SELECT count(*) FROM embeddings)
),
bqc AS (SELECT b.qid, b.q_id, c.centroid_id, list_dot_product(b.qvec, c.cvec) AS qc_score
        FROM bq b CROSS JOIN centroids c),
bkept AS (
    SELECT qid, centroid_id, qc_score FROM (
        SELECT qid, q_id, centroid_id, qc_score,
               row_number() OVER (PARTITION BY qid, q_id
                                  ORDER BY round(qc_score, 6) DESC, centroid_id ASC) AS kt
        FROM bqc)
    WHERE kt <= {params.K_TOP_CENTROIDS}
),
bprobes AS (
    SELECT qid, centroid_id FROM (
        SELECT qid, centroid_id,
               row_number() OVER (PARTITION BY qid ORDER BY round(mx, 6) DESC, centroid_id ASC) AS rn
        FROM (SELECT qid, centroid_id, max(qc_score) AS mx FROM bkept
              GROUP BY 1, 2 HAVING max(qc_score) > 0))
    WHERE rn <= {params.N_PROBE}
),
bcand AS (SELECT DISTINCT p.qid, t.doc_id
          FROM token_assign t JOIN bprobes p USING (centroid_id)),
doc_codes AS (SELECT DISTINCT doc_id, centroid_id FROM token_assign),
bs1 AS (SELECT qid, doc_id, sum(best) AS score FROM (
            SELECT c.qid, c.doc_id, q.q_id, max(q.qc_score) AS best
            FROM bcand c
            JOIN doc_codes d ON d.doc_id = c.doc_id
            JOIN bqc q ON q.qid = c.qid AND q.centroid_id = d.centroid_id
            GROUP BY 1, 2, 3)
        GROUP BY 1, 2),
bsurv AS (SELECT qid, doc_id FROM (
              SELECT qid, doc_id,
                     row_number() OVER (PARTITION BY qid ORDER BY round(score, 6) DESC, doc_id ASC) AS rn
              FROM bs1)
          WHERE rn <= {params.NUM_SECOND_PASS}),
bs2 AS (SELECT qid, doc_id, sum(best) AS score FROM (
            SELECT s.qid, s.doc_id, q.q_id, max(list_dot_product(t.vec, q.qvec)) AS best
            FROM bsurv s
            JOIN doc_tokens t ON t.doc_id = s.doc_id
            JOIN bq q ON q.qid = s.qid
            GROUP BY 1, 2, 3)
        GROUP BY 1, 2)
SELECT qid, doc_id, CAST(rn AS BIGINT) AS rank, round(score, {params.ROUND}) AS score
FROM (SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 6) DESC, doc_id ASC) AS rn
      FROM bs2)
WHERE rn <= {params.K}
"""


ORACLE["q_batch_topk"] = batch_topk_oracle_sql(BATCH_NQ_ORACLE)


def _lsh_neardup_sql(
    threshold: float, num_planes: int = 18, bands: int = 3, dim: int = 64
) -> str:
    """Oracle twin of dedup.embedding_lsh_neardup: the hyperplane
    family is the same deterministic LCG (integer components, exact in
    double), inlined as list literals; embedding components are
    grid-snapped with the same floor(x*2^20 + 0.5) half-up rule, so
    every product/partial sum is an integral double and DuckDB's
    sequential sum equals numpy's pairwise sum bit-for-bit — sign bits
    are identical by construction, even at exact zero."""
    planes = dedup.hyperplanes(num_planes, dim)
    r = num_planes // bands
    sign_cols = ",\n           ".join(
        "CASE WHEN list_dot_product(list_transform(CAST(embedding AS DOUBLE[]), "
        f"x -> floor(x * {dedup.LSH_QUANT_SCALE}.0 + 0.5)), ["
        + ", ".join(f"{v:.1f}" for v in row)
        + f"]) >= 0 THEN 1 ELSE 0 END AS s{p}"
        for p, row in enumerate(planes)
    )
    band_selects = "\n    UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        + " + ".join(f"{1 << i} * s{b * r + i}" for i in range(r))
        + " AS key FROM signs"
        for b in range(bands)
    )
    cos = (
        "list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))))"
    )
    return f"""
WITH signs AS (
    SELECT vec_id,
           {sign_cols}
    FROM embeddings
),
buckets AS (
    {band_selects}
),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, round({cos}, {params.ROUND}) AS cosine
FROM cand
JOIN embeddings ea ON ea.vec_id = vec_a
JOIN embeddings eb ON eb.vec_id = vec_b
WHERE round({cos}, {params.ROUND}) >= {threshold}
"""


def _fingerprint_sql(k: int = 4, base: int = 256, mod: int = 2147483647, sample: int = 8) -> str:
    """Oracle twin of textstats.rolling_fingerprints: same md5-derived
    32-bit token hash, same polynomial weights, exact integer math."""
    h = "CAST(concat('0x', substr(md5(w[pos + {j}]), 1, 8)) AS BIGINT)"
    poly = " + ".join(
        f"{h.format(j=j + 1)} * {base ** (k - 1 - j)}" for j in range(k)
    )
    return f"""
WITH tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
pos AS (SELECT doc_id, w, unnest(range(0, len(w) - {k} + 1)) AS pos FROM tw),
fps AS (SELECT doc_id, pos, ({poly}) % {mod} AS fp FROM pos)
SELECT doc_id, pos, fp FROM fps WHERE fp % {sample} = 0
"""


ORACLE.update({
    "q_xtr": prelude()
    + f"""
, xcand AS (SELECT DISTINCT doc_id FROM token_assign
            WHERE centroid_id IN (SELECT centroid_id FROM probes)),
sims AS (
    SELECT t.doc_id, t.token_idx, q.q_id, list_dot_product(t.vec, q.qvec) AS sim
    FROM doc_tokens t JOIN xcand USING (doc_id) CROSS JOIN q_tokens q
),
retr AS (
    SELECT doc_id, token_idx, q_id, sim FROM (
        SELECT doc_id, token_idx, q_id, sim,
               row_number() OVER (
                   PARTITION BY q_id
                   ORDER BY round(sim, 6) DESC, doc_id ASC, token_idx ASC
               ) AS rn
        FROM sims
    ) WHERE rn <= {params.XTR_NEAREST_TOKENS}
),
bounds AS (SELECT q_id, min(sim) AS m FROM retr GROUP BY q_id),
pdq AS (SELECT doc_id, q_id, max(sim) AS best FROM retr GROUP BY doc_id, q_id),
cand AS (SELECT DISTINCT doc_id FROM retr)
SELECT doc_id, score FROM (
    SELECT c.doc_id, round(sum(coalesce(p.best, b.m)), {params.ROUND}) AS score
    FROM cand c CROSS JOIN bounds b
    LEFT JOIN pdq p ON p.doc_id = c.doc_id AND p.q_id = b.q_id
    GROUP BY c.doc_id
)
ORDER BY round(score, 6) DESC, doc_id ASC
LIMIT {params.K}
""",
    "q_embedding_neardup_lsh": _lsh_neardup_sql(NEARDUP_THRESHOLD),
    "q_bm25": f"""
WITH toks AS (
    SELECT doc_id, tok FROM (
        SELECT doc_id,
               unnest(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +')) AS tok
        FROM documents
    ) WHERE tok <> ''
),
dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM toks
       WHERE tok IN ({", ".join(f"'{t}'" for t in sorted(BM25_QUERY.split()))})
       GROUP BY 1, 2),
df AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok)
SELECT doc_id, score FROM (
    SELECT t.doc_id,
           round(sum(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                     * (t.tf * {textstats.BM25_K1 + 1.0})
                     / (t.tf + {textstats.BM25_K1} * (1.0 - {textstats.BM25_B} + {textstats.BM25_B} * l.dl / s.avgdl))),
                 {params.ROUND}) AS score
    FROM tf t
    JOIN df d ON t.tok = d.tok
    JOIN dl l ON l.doc_id = t.doc_id
    CROSS JOIN stats s
    GROUP BY t.doc_id
)
ORDER BY round(score, 6) DESC, doc_id ASC
LIMIT 20
""",
    "q_token_counts": """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_regex_tokens,
       CAST(coalesce(list_sum(list_transform(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'),
                                             t -> (length(t) + 3) // 4)), 0) AS BIGINT) AS n_subword_est
FROM documents
""",
    "q_fingerprints": _fingerprint_sql(),
    "q_pricing_summary": """
WITH t AS (SELECT l_returnflag, l_linestatus,
                  CAST(l_quantity AS DECIMAL(12,2)) AS qty,
                  CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
                  CAST(l_discount AS DECIMAL(12,2)) AS disc,
                  CAST(l_tax AS DECIMAL(12,2)) AS tax
           FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02')
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(qty), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(price), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(price * (1 - disc)), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(price * (1 - disc) * (1 + tax)), 2) AS DOUBLE) AS sum_charge,
       round(CAST(sum(qty) AS DOUBLE) / count(*), 4) AS avg_qty,
       round(CAST(sum(price) AS DOUBLE) / count(*), 4) AS avg_price,
       round(CAST(sum(disc) AS DOUBLE) / count(*), 4) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM t
GROUP BY l_returnflag, l_linestatus
""",
    "q_top_orders": """
SELECT o_orderkey,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-30'
  AND l_shipdate > TIMESTAMP '1997-06-30'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
""",
    "q_revenue_by_nation": """
SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
    "q_events_hourly": """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 3) AS total_value
FROM events
GROUP BY 1, 2
""",
    "q_user_sessions": """
WITH marked AS (
    SELECT user_id,
           CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new
    FROM (SELECT user_id, epoch_us(ts) AS us,
                 lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev_us
          FROM events)
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, CAST(sum(is_new) AS BIGINT) AS n_sessions
FROM marked GROUP BY user_id
""",
    "q_events_rollup": """
SELECT coalesce(CAST(epoch(day_ts) AS BIGINT), -1) AS day_epoch,
       coalesce(event_type, 'ALL') AS event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 3) AS total_value
FROM (SELECT date_trunc('day', ts) AS day_ts, event_type, value FROM events)
GROUP BY ROLLUP(day_ts, event_type)
""",
    "q_range_join": f"""
WITH s AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'signup'),
er AS (SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'error')
SELECT s.event_id, s.user_id, CAST(count(er.us) AS BIGINT) AS n_errors_30m
FROM s LEFT JOIN er
  ON s.user_id = er.user_id AND er.us >= s.us AND er.us < s.us + {RANGE_JOIN_WINDOW_US}
GROUP BY s.event_id, s.user_id
""",
    # DuckDB has a NATIVE ASOF JOIN — the ideal oracle for the Spark
    # union+window implementation. Right side deduped per (user, ts)
    # with the same greatest-(event_id, value) tie rule the struct
    # sort applies.
    "q_asof": """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id, ts
                                ORDER BY event_id DESC, value DESC) AS rn
      FROM events WHERE event_type = 'click'),
c1 AS (SELECT user_id, ts, event_id, value FROM c WHERE rn = 1)
SELECT p.event_id, p.user_id,
       coalesce(c1.event_id, -1) AS click_event_id,
       coalesce(round(c1.value, 4), -1.0) AS click_value
FROM p ASOF LEFT JOIN c1 ON p.user_id = c1.user_id AND p.ts >= c1.ts
""",
    "q_dedup_exact": """
SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
""",
    "q_minhash_sig": f"WITH {_SIGS} SELECT doc_id, perm, minhash FROM sigs",
    "q_lsh_buckets": f"""
WITH {_SIGS}
SELECT doc_id, CAST(floor(perm / {params.MINHASH_PERMS // params.LSH_BANDS}.0) AS INT) AS band,
       md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm)) AS bucket
FROM sigs
GROUP BY 1, 2
""",
    "q_jaccard_pairs": f"""
WITH {_SHINGLES},
nd AS (SELECT count(DISTINCT doc_id) AS nd FROM shingles),
fsh AS (SELECT s.doc_id, s.shingle FROM shingles s
        JOIN (SELECT shingle FROM shingles GROUP BY shingle
              HAVING count(*) <= (SELECT least(greatest(nd * {params.JACCARD_MAX_DF_FRAC}, {params.JACCARD_DF_FLOOR}), {params.JACCARD_DF_CEIL}) FROM nd)) keep
        USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM fsh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_common
          FROM fsh a JOIN fsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT doc_a, doc_b, n_common,
       round(n_common / (sa.n + sb.n - n_common), {params.ROUND}) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
""",
    "q_jaccard_verified": f"""
WITH {_SIGS},
bk AS (SELECT doc_id, CAST(floor(perm / {params.MINHASH_PERMS // params.LSH_BANDS}.0) AS INT) AS band,
              md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm)) AS bucket
       FROM sigs GROUP BY 1, 2),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
                            AND a.doc_id < b.doc_id),
nd AS (SELECT count(DISTINCT doc_id) AS nd FROM shingles),
fsh AS (SELECT s.doc_id, s.shingle FROM shingles s
        JOIN (SELECT shingle FROM shingles GROUP BY shingle
              HAVING count(*) <= (SELECT least(greatest(nd * {params.JACCARD_MAX_DF_FRAC}, {params.JACCARD_DF_FLOOR}), {params.JACCARD_DF_CEIL}) FROM nd)) keep
        USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM fsh GROUP BY doc_id),
inter AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common
          FROM cand c
          JOIN fsh a ON a.doc_id = c.doc_a
          JOIN fsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT doc_a, doc_b, n_common,
       round(n_common / (sa.n + sb.n - n_common), {params.ROUND}) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_common / (sa.n + sb.n - n_common), {params.ROUND}) >= {DUP_CLUSTER_JACCARD}
""",
    # connected components as a recursive reachability closure: a
    # vertex's cluster id = min doc_id reachable in the (bidirected)
    # pair graph — the same fixed point hash-min propagation converges
    # to, computed DuckDB-natively
    "q_dup_clusters": f"""
WITH RECURSIVE {_SHINGLES},
nd AS (SELECT count(DISTINCT doc_id) AS nd FROM shingles),
fsh AS (SELECT s.doc_id, s.shingle FROM shingles s
        JOIN (SELECT shingle FROM shingles GROUP BY shingle
              HAVING count(*) <= (SELECT least(greatest(nd * {params.JACCARD_MAX_DF_FRAC}, {params.JACCARD_DF_FLOOR}), {params.JACCARD_DF_CEIL}) FROM nd)) keep
        USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM fsh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_common
          FROM fsh a JOIN fsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 2),
pairs AS (SELECT doc_a, doc_b FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE round(n_common / (sa.n + sb.n - n_common), {params.ROUND})
                >= {DUP_CLUSTER_JACCARD}),
edges AS (SELECT doc_a AS v, doc_b AS u FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
reach(v, lbl) AS (
    SELECT DISTINCT v, v FROM edges
    UNION
    SELECT e.u, r.lbl FROM reach r JOIN edges e ON e.v = r.v
)
SELECT v AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id FROM reach GROUP BY v
""",
    "q_decontaminate": f"""
WITH {_SHINGLES},
eval_sh AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id % {DECONTAM_EVAL_MOD} = 0)
SELECT s.doc_id, CAST(count(DISTINCT s.shingle) AS BIGINT) AS n_shared
FROM shingles s JOIN eval_sh e ON s.shingle = e.shingle
WHERE s.doc_id % {DECONTAM_EVAL_MOD} <> 0
GROUP BY 1
""",
    "q_stratified_sample": f"""
WITH rates(lang, keep_below) AS (VALUES {", ".join(
        f"('{lang}', {int(round(r * sampling.SAMPLE_BUCKETS))})"
        for lang, r in sorted(STRAT_RATES.items())
    )}),
b AS (SELECT doc_id, lang, source,
      CAST(concat('0x', substr(md5(concat('strat1:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
      % {sampling.SAMPLE_BUCKETS} AS bucket
      FROM documents)
SELECT doc_id, lang, source, bucket FROM b JOIN rates USING (lang)
WHERE bucket < keep_below
""",
    "q_hash_split": f"""
WITH b AS (SELECT doc_id, lang,
      CAST(concat('0x', substr(md5(concat('split1:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
      % {sampling.SAMPLE_BUCKETS} AS bucket
      FROM documents)
SELECT doc_id, lang, CASE {" ".join(
        f"WHEN bucket < {bound} THEN '{name}'"
        for name, bound in sampling.split_bounds(SPLIT_WEIGHTS)
    )} ELSE 'train' END AS split
FROM b
""",
    "q_simhash": """
WITH th AS (
    SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
),
bits AS (
    SELECT doc_id, b,
           sum(CASE WHEN (h // CAST(power(2, b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
    FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS b) bb
    GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
""",
    "q_embedding_neardup": f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
             {params.ROUND}) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
            {params.ROUND}) >= {NEARDUP_THRESHOLD}
""",
    "q_repetition": f"""
WITH tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tg AS (SELECT doc_id,
              list_transform(range(1, greatest(len(w)-2, 1)+1),
                             i -> concat_ws(' ', w[i], w[i+1], w[i+2])) AS t
       FROM tw)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_trigrams,
       CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_trigrams,
       round(CASE WHEN len(t) = 0 THEN 0.0
             ELSE 1.0 - len(list_distinct(t)) * 1.0 / len(t) END,
             {params.ROUND}) AS dup_trigram_frac
FROM tg
""",
    "q_text_stats": f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       round(length(replace(text, ' ', '')) * 1.0 / len(string_split(text, ' ')), {params.ROUND}) AS avg_token_len,
       round(CASE WHEN length(text) = 0 THEN 0.0
             ELSE (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) * 1.0 / length(text) END,
             {params.ROUND}) AS punct_ratio,
       round(least(1.0, len(string_split(text, ' ')) / 100.0)
             * (1 - CASE WHEN length(text) = 0 THEN 0.0
                    ELSE (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) * 1.0 / length(text) END),
             {params.ROUND}) AS quality_score
FROM documents
""",
    "q_lang_id": f"""
WITH counts AS (
    SELECT doc_id,
           len(list_filter(string_split(lower(text), ' '), t -> t IN ({_stopword_in('en')}))) AS en,
           len(list_filter(string_split(lower(text), ' '), t -> t IN ({_stopword_in('de')}))) AS de,
           len(list_filter(string_split(lower(text), ' '), t -> t IN ({_stopword_in('fr')}))) AS fr,
           len(list_filter(string_split(lower(text), ' '), t -> t IN ({_stopword_in('es')}))) AS es
    FROM documents
)
SELECT doc_id,
       CASE WHEN en >= de AND en >= fr AND en >= es THEN 'en'
            WHEN de >= fr AND de >= es THEN 'de'
            WHEN fr >= es THEN 'fr'
            ELSE 'es' END AS pred_lang,
       CAST(greatest(en, de, fr, es) AS BIGINT) AS n_stopwords
FROM counts
""",
    "q_ivf_knn": prelude()
    + f"""
, va AS (SELECT doc_id * {params.TOKENS_PER_DOC} + token_idx AS neighbor_id, centroid_id
         FROM token_assign),
kq AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
       FROM embeddings WHERE vec_id IN ({_KNN_IDS})),
kqp AS (SELECT q_id, centroid_id FROM (
            SELECT q.q_id, c.centroid_id,
                   row_number() OVER (PARTITION BY q.q_id
                                      ORDER BY round(list_dot_product(q.qv, c.cvec), 6) DESC,
                                               c.centroid_id ASC) AS rn
            FROM kq q CROSS JOIN centroids c)
        WHERE rn <= {params.N_PROBE}),
kcand AS (SELECT p.q_id, v.neighbor_id FROM va v JOIN kqp p USING (centroid_id)),
ks AS (SELECT c.q_id, c.neighbor_id,
              CASE WHEN sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) = 0
                   THEN 0.0
                   ELSE list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[]))
                        / (sqrt(list_dot_product(q.qv, q.qv))
                           * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))))
              END AS cos
       FROM kcand c
       JOIN kq q ON q.q_id = c.q_id
       JOIN embeddings e ON e.vec_id = c.neighbor_id
       WHERE c.neighbor_id != c.q_id),
kr AS (SELECT q_id, neighbor_id,
              row_number() OVER (PARTITION BY q_id ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank,
              cos
       FROM ks)
SELECT q_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(cos, {params.ROUND}) AS cosine
FROM kr WHERE rank <= 5
""",
    "q_doc_length_stats": f"""
SELECT source,
       round(quantile_cont(n_chars, 0.5), {params.ROUND}) AS median_chars,
       round(quantile_cont(n_chars, 0.9), {params.ROUND}) AS p90_chars,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY source
""",
    "q_events_value_stats": f"""
SELECT event_type,
       round(avg(value), {params.ROUND}) AS avg_value,
       round(stddev_samp(value), {params.ROUND}) AS std_value,
       round(min(value), {params.ROUND}) AS min_value,
       round(max(value), {params.ROUND}) AS max_value
FROM events GROUP BY event_type
""",
    "q_remove_semantics": """
SELECT d.doc_id, d.source
FROM documents d
WHERE d.lang = 'en'
  AND d.doc_id NOT IN (SELECT doc_id FROM documents WHERE source = 'src5')
""",
    "q_update_semantics": """
WITH updates AS (
    SELECT doc_id, lang, n_chars + 1000 AS n_chars, 0 AS prio
    FROM documents WHERE doc_id % 50 = 0
),
merged AS (
    SELECT doc_id, lang, n_chars, 1 AS prio FROM documents
    UNION ALL SELECT * FROM updates
)
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
FROM (SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY doc_id ORDER BY prio ASC) AS rn
      FROM merged)
WHERE rn = 1
""",
    "q_merge_semantics": """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
FROM (SELECT DISTINCT doc_id, lang FROM (
    SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 1))
GROUP BY lang
""",
    "q_text_match": f"""
SELECT doc_id, CAST(count(DISTINCT tok) AS BIGINT) AS n_matched
FROM (SELECT doc_id,
             unnest(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +')) AS tok
      FROM documents)
WHERE tok IN ({", ".join(f"'{t}'" for t in MATCH_TOKENS)})
GROUP BY doc_id
""",
    "q_supplier_balance": """
SELECT n_name, round(sum(s_acctbal), 2) AS total_acctbal,
       CAST(count(*) AS BIGINT) AS n_suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
""",
    "q_brand_stats": f"""
SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
       round(avg(p_retailprice), {params.ROUND}) AS avg_price,
       CAST(max(p_size) AS BIGINT) AS max_size
FROM part GROUP BY p_brand
""",
    "q_events_top_users": """
SELECT event_type, user_id, n FROM (
    SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY count(*) DESC, user_id ASC) AS rn
    FROM events GROUP BY event_type, user_id)
WHERE rn <= 5
""",
    "q_knn_cosine": f"""
WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id IN ({_KNN_IDS})),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
s AS (SELECT q_id, neighbor_id,
             CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)) = 0
                  THEN 0.0
                  ELSE list_dot_product(qv, cv)
                       / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
             END AS cos
      FROM q CROSS JOIN c WHERE neighbor_id != q_id),
r AS (SELECT q_id, neighbor_id,
             row_number() OVER (PARTITION BY q_id ORDER BY round(cos, 6) DESC, neighbor_id ASC) AS rank,
             cos
      FROM s)
SELECT q_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(cos, {params.ROUND}) AS cosine
FROM r WHERE rank <= 5
""",
})

# Multimodal: DuckDB replica of multimodal._fake_decode's md5 hex-string
# chain (sample j = hex byte 2*(j%16) of md5(md5(payload) '-' j//16),
# /255) + mean/std pooling over 8 chunks of 128 samples. Feature values
# are float32-cast on BOTH sides (CAST(.. AS REAL)) so the doubles
# compared by the driver are bit-identical — no rounding involved.
_MEDIA_CTE = """
WITH media AS (
  SELECT doc_id AS media_id,
         CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         text AS payload,
         500 + (doc_id % 7) * 700 AS duration_ms
  FROM documents
)
"""

# survivorship = the cluster CTE with min-label kept; only drops emitted
_KEEP_SQL = ORACLE["q_dup_clusters"].replace(
    "SELECT v AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id "
    "FROM reach GROUP BY v",
    "SELECT v AS doc_id, CAST(min(lbl) AS BIGINT) AS keep_doc_id "
    "FROM reach GROUP BY v HAVING v <> min(lbl)",
)
assert "keep_doc_id" in _KEEP_SQL, "q_dup_clusters tail SQL changed"
ORACLE["q_dedup_keep"] = _KEEP_SQL

# Verified-pair-fed clustering twins (the PRODUCTION dedup chain): the
# same reachability closure as q_dup_clusters, but over the LSH-verified
# pair set — pairs come from q_jaccard_verified's oracle verbatim (a
# nested CTE), so the three stay in lockstep by construction. The
# exhaustive-fed q_dup_clusters/q_dedup_keep remain as the oracle tier.
ORACLE["q_dup_clusters_verified"] = f"""
WITH RECURSIVE vp AS ({ORACLE["q_jaccard_verified"]}),
edges AS (SELECT doc_a AS v, doc_b AS u FROM vp
          UNION ALL SELECT doc_b, doc_a FROM vp),
reach(v, lbl) AS (
    SELECT DISTINCT v, v FROM edges
    UNION
    SELECT e.u, r.lbl FROM reach r JOIN edges e ON e.v = r.v
)
SELECT v AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id FROM reach GROUP BY v
"""
_KEEP_V_SQL = ORACLE["q_dup_clusters_verified"].replace(
    "SELECT v AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id "
    "FROM reach GROUP BY v",
    "SELECT v AS doc_id, CAST(min(lbl) AS BIGINT) AS keep_doc_id "
    "FROM reach GROUP BY v HAVING v <> min(lbl)",
)
assert "keep_doc_id" in _KEEP_V_SQL, "q_dup_clusters_verified tail SQL changed"
ORACLE["q_dedup_keep_verified"] = _KEEP_V_SQL

# SimHash near-dup pairs: banded candidates over the q_simhash oracle
# (nested CTE — the two stay in lockstep), exact Hamming verify via
# bit_count(xor(..)) on both engines.
ORACLE["q_simhash_neardup"] = f"""
WITH sh AS ({ORACLE["q_simhash"]}),
bk AS (SELECT doc_id, simhash, b,
              (simhash // CAST(power(256, b) AS BIGINT)) % 256 AS key
       FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.simhash AS sa, b.simhash AS sb
         FROM bk a JOIN bk b ON a.b = b.b AND a.key = b.key
                            AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""

ORACLE["q_quality_filter"] = f"""
WITH base AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         length(replace(text, ' ', '')) * 1.0 / len(string_split(text, ' ')) AS avg_len,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) * 1.0 / length(text) END AS punct_ratio,
         len(list_filter(string_split(lower(text), ' '), t -> t IN ({_stopword_in('en')}))) AS n_stop
  FROM documents
)
SELECT doc_id,
       CAST(n_tokens >= {params.QUALITY_MIN_TOKENS} AND n_tokens <= {params.QUALITY_MAX_TOKENS} AS BIGINT) AS pass_len,
       CAST(avg_len >= {params.QUALITY_MIN_AVG_TOKEN_LEN} AND avg_len <= {params.QUALITY_MAX_AVG_TOKEN_LEN} AS BIGINT) AS pass_word_len,
       CAST(punct_ratio <= {params.QUALITY_MAX_PUNCT_RATIO} AS BIGINT) AS pass_punct,
       CAST(n_stop >= {params.QUALITY_MIN_STOPWORDS} AS BIGINT) AS pass_stopwords,
       CAST((n_tokens >= {params.QUALITY_MIN_TOKENS} AND n_tokens <= {params.QUALITY_MAX_TOKENS})
            AND (avg_len >= {params.QUALITY_MIN_AVG_TOKEN_LEN} AND avg_len <= {params.QUALITY_MAX_AVG_TOKEN_LEN})
            AND punct_ratio <= {params.QUALITY_MAX_PUNCT_RATIO}
            AND n_stop >= {params.QUALITY_MIN_STOPWORDS} AS BIGINT) AS keep
FROM base
"""

# shared analyzed-token CTE (exact twin of functions.text.analyze_standard,
# same split the q_bm25 oracle uses)
_TOKS = """
toks AS (
    SELECT doc_id, tok FROM (
        SELECT doc_id,
               unnest(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +')) AS tok
        FROM documents
    ) WHERE tok <> ''
)
"""

ORACLE["q_len_histogram"] = """
WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents)
SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS len_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS sum_tokens,
       CAST(min(n) AS BIGINT) AS min_tokens,
       CAST(max(n) AS BIGINT) AS max_tokens
FROM t GROUP BY 1
"""

ORACLE["q_events_props"] = """
WITH t AS (SELECT event_type,
                  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
           FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(k) AS BIGINT) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM t GROUP BY event_type
"""

ORACLE["q_unigram_loglik"] = f"""
WITH {_TOKS},
tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
vocab AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       round(sum(tf * ln(cnt * 1.0 / total)) / sum(tf), {params.ROUND}) AS mean_loglik
FROM tf JOIN vocab USING (tok) CROSS JOIN tot
GROUP BY doc_id
"""

ORACLE["q_tfidf_keywords"] = f"""
WITH {_TOKS},
tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT doc_id, tok AS token, tf, CAST(rn AS BIGINT) AS rank,
       round(score, {params.ROUND}) AS tfidf
FROM (SELECT t.doc_id, t.tok, t.tf,
             t.tf * ln(n.n_docs * 1.0 / d.df) AS score,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY round(t.tf * ln(n.n_docs * 1.0 / d.df), 6) DESC,
                                         t.tok ASC) AS rn
      FROM tf t JOIN dfreq d USING (tok) CROSS JOIN n)
WHERE rn <= {textstats.TFIDF_TOP_K}
"""

ORACLE["q_decontaminate_fuzzy"] = f"""
WITH {_SIGS},
bk AS (SELECT doc_id, CAST(floor(perm / {params.MINHASH_PERMS // FUZZY_DECONTAM_BANDS}.0) AS INT) AS band,
              md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm)) AS bucket
       FROM sigs GROUP BY 1, 2),
ev AS (SELECT band, bucket, doc_id AS eval_doc_id FROM bk WHERE doc_id % {DECONTAM_EVAL_MOD} = 0)
SELECT b.doc_id, CAST(count(DISTINCT ev.eval_doc_id) AS BIGINT) AS n_eval_matches
FROM bk b JOIN ev ON b.band = ev.band AND b.bucket = ev.bucket
WHERE b.doc_id % {DECONTAM_EVAL_MOD} <> 0
GROUP BY 1
"""

ORACLE["q_embedding_clusters"] = prelude() + f"""
, va AS (SELECT doc_id * {params.TOKENS_PER_DOC} + token_idx AS v_id, centroid_id
         FROM token_assign),
norms AS (SELECT v.centroid_id,
                 sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[]))) AS nrm
          FROM va v JOIN embeddings e ON e.vec_id = v.v_id)
SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(nrm), {params.ROUND}) AS avg_norm,
       round(min(nrm), {params.ROUND}) AS min_norm,
       round(max(nrm), {params.ROUND}) AS max_norm
FROM norms GROUP BY centroid_id
"""

# Semantic dedup (round 15): vector-level bucket assignment derives
# from prelude's token_assign exactly as q_embedding_clusters' oracle
# does (same rounded-ip/centroid-id ordering as knn.ivf_bucket);
# within-cluster pairs above the threshold feed the keeper election
# (lowest rounded c2c, vec_id tie-break), evaluated per-edge so the
# SQL mirrors the Spark dominance aggregate exactly.
ORACLE["q_semantic_dedup"] = prelude() + f"""
, va AS (SELECT doc_id * {params.TOKENS_PER_DOC} + token_idx AS vec_id, centroid_id
         FROM token_assign),
ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
mc AS (SELECT va.vec_id, va.centroid_id, ev.v,
              sqrt(list_dot_product(ev.v, ev.v)) AS nrm,
              CASE WHEN sqrt(list_dot_product(ev.v, ev.v))
                        * sqrt(list_dot_product(c.cvec, c.cvec)) = 0 THEN 0.0
                   ELSE list_dot_product(ev.v, c.cvec)
                        / (sqrt(list_dot_product(ev.v, ev.v))
                           * sqrt(list_dot_product(c.cvec, c.cvec))) END AS c2c
       FROM va JOIN ev USING (vec_id) JOIN centroids c USING (centroid_id)),
prs AS (SELECT a.vec_id AS a_id, round(a.c2c, 6) AS a_r,
               b.vec_id AS b_id, round(b.c2c, 6) AS b_r
        FROM mc a JOIN mc b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
        WHERE round(CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
                         ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END,
                    6) >= {params.SEMANTIC_DUP_COS}),
edges AS (SELECT a_id AS vec_id, a_r AS my_r, b_id AS o_id, b_r AS o_r FROM prs
          UNION ALL
          SELECT b_id AS vec_id, b_r AS my_r, a_id AS o_id, a_r AS o_r FROM prs),
pv AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dups,
              max(CASE WHEN o_r < my_r OR (o_r = my_r AND o_id < vec_id)
                       THEN 1 ELSE 0 END) AS dropped
       FROM edges GROUP BY vec_id)
SELECT mc.vec_id, mc.centroid_id, round(mc.c2c, {params.ROUND}) AS c2c,
       CAST(coalesce(pv.n_dups, 0) AS BIGINT) AS n_dups,
       coalesce(pv.dropped, 0) = 0 AS keep
FROM mc LEFT JOIN pv USING (vec_id)
"""

ORACLE["q_pack_plan"] = f"""
WITH t AS (SELECT doc_id, lang,
                  CAST(doc_id // {PACK_SHARD} AS BIGINT) AS pack_shard,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
c AS (SELECT doc_id, lang, pack_shard, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang, pack_shard ORDER BY doc_id ASC
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             - n_tokens AS before
      FROM t)
SELECT doc_id, lang, pack_shard, n_tokens,
       CAST(floor(before / {PACK_BUDGET}.0) AS BIGINT) AS pack_id,
       CAST(before % {PACK_BUDGET} AS BIGINT) AS pack_offset
FROM c
"""

ORACLE["q_cross_dedup"] = f"""
WITH {_SIGS},
bk AS (SELECT doc_id, CAST(floor(perm / {params.MINHASH_PERMS // params.LSH_BANDS}.0) AS INT) AS band,
              md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm)) AS bucket
       FROM sigs GROUP BY 1, 2),
nb AS (SELECT doc_id, band, bucket FROM bk WHERE doc_id % 2 = 1),
hits AS (SELECT DISTINCT nb.doc_id FROM nb
         JOIN (SELECT DISTINCT band, bucket FROM bk WHERE doc_id % 2 = 0) bb
           ON nb.band = bb.band AND nb.bucket = bb.bucket)
SELECT DISTINCT doc_id FROM nb
WHERE doc_id NOT IN (SELECT doc_id FROM hits)
"""

# The incremental artifact store is EXACT vs a from-scratch build
# (tests/test_artifacts.py proves byte-equality of every artifact), so
# its serve queries share the from-scratch oracles verbatim — the
# independent DuckDB derivation is the whole point of the check.
ORACLE["q_artifact_verified"] = ORACLE["q_jaccard_verified"]
ORACLE["q_artifact_gate"] = ORACLE["q_cross_dedup"]
# tenant-local serve: the SAME verified-pair oracle evaluated over the
# odd-doc_id half alone (tenant 1's corpus) — caps/df/nd all recompute
# on the subset, exactly what tenant isolation promises
assert ORACLE["q_jaccard_verified"].count("FROM documents") == 1
ORACLE["q_artifact_tenant"] = ORACLE["q_jaccard_verified"].replace(
    "FROM documents", "FROM documents WHERE doc_id % 2 = 1"
)
# df-cap drift serve: the SAME verified-pair oracle over the DERIVED
# 24-doc drift corpus (deterministic from doc_id — see _drift_corpus);
# the from-scratch answer the flip-adjusted read must reproduce
ORACLE["q_artifact_drift"] = ORACLE["q_jaccard_verified"].replace(
    "FROM documents",
    f"""FROM (SELECT doc_id,
        '{_DRIFT_PHRASE} s' || CAST(doc_id % 3 AS VARCHAR)
        || ' t' || CAST(doc_id % 3 AS VARCHAR)
        || ' u' || CAST(doc_id % 3 AS VARCHAR)
        || ' v' || CAST(doc_id % 3 AS VARCHAR) AS text
        FROM documents WHERE doc_id < 24)""",
)
# remove() serve: the SAME oracle over the SURVIVING corpus alone
# (caps/df/nd recompute on the survivors — what deletion promises)
ORACLE["q_artifact_remove"] = ORACLE["q_artifact_drift"].replace(
    "WHERE doc_id < 24",
    "WHERE doc_id < 21 AND doc_id % 3 = 0",
)
# deferred-verification serve (verify_every, round 10): identical
# corpus and answer to the drift oracle — deferral must change WHEN
# verification runs, never what it computes
ORACLE["q_artifact_flush"] = ORACLE["q_artifact_drift"]
# row-scoped fold serve (round 11): folding outstanding flip deltas
# into a touched-pairs segment must not change what is served — same
# oracles as the live-flip drift/remove reads
ORACLE["q_artifact_fold"] = ORACLE["q_artifact_drift"]
ORACLE["q_artifact_fold_remove"] = ORACLE["q_artifact_remove"]
# tiered maintenance's batch-proportional arm (round 11): merging the
# per-batch segment lists into one m1-* tier segment must not change
# what is served — same oracle as the live drift read
ORACLE["q_artifact_minor"] = ORACLE["q_artifact_drift"]
# round-12 coverage extension: the drift oracle over the TWO-phrase
# covered corpus (_covered_corpus — phrase B appended to docs 12-23,
# crossing the cap only after the minor merge covered its containing
# docs' segment)
# cost-triggered fold (round 12): the trigger currency changes WHEN
# the fold runs, never what is served — same oracle as the drift read
ORACLE["q_artifact_cost_fold"] = ORACLE["q_artifact_drift"]
# degraded-stats fold on a cold bridged-scheme store (round 13): the
# trigger's stats source (meta-persisted commit-time counts vs live
# footers) changes nothing about what is served — same drift oracle
ORACLE["q_artifact_remote_fold"] = ORACLE["q_artifact_drift"]

# PII scrub (round 13): the injected corpus is derived from doc_id in
# both engines; patterns are shared verbatim (Java regex and RE2 agree
# on this conservative subset — no lookarounds/backrefs), redaction
# order fixed email -> ip -> phone. DuckDB regexp_replace needs the
# explicit 'g' flag to match Spark's replace-all default.
ORACLE["q_pii_scrub"] = """
WITH d AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' call 555-123-4567' ELSE '' END
         AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '@EMAIL@')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '@IPV4@')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(t, '@PHONE@')) AS BIGINT) AS n_phones,
       regexp_replace(regexp_replace(regexp_replace(
           t, '@EMAIL@', '<EMAIL>', 'g'), '@IPV4@', '<IP>', 'g'),
           '@PHONE@', '<PHONE>', 'g') AS clean_text
FROM d
""".replace("@EMAIL@", textstats.PII_EMAIL).replace(
    "@IPV4@", textstats.PII_IPV4
).replace("@PHONE@", textstats.PII_PHONE)

# Substring-level exact dedup (round 14): W-word window fingerprints
# (md5 of space-joined words — bit-identical across engines), corpus
# occurrence count >= 2 marks a window duplicated, gaps-and-islands
# merges consecutive duplicated starts into maximal spans. DuckDB's
# list_slice / Spark's slice are both 1-based-inclusive; range(a, b)
# is end-exclusive matching Spark's sequence(1, n) after the +2/+1
# bound arithmetic.
ORACLE["q_substring_dedup"] = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
post AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(list_slice(w, i, i + {params.SUBSTRING_WINDOW - 1}), ' ')) AS fp
  FROM (SELECT doc_id, w,
               unnest(range(1, len(w) - {params.SUBSTRING_WINDOW} + 2)) AS i
        FROM w WHERE len(w) >= {params.SUBSTRING_WINDOW})),
dup AS (SELECT fp FROM post GROUP BY fp
        HAVING count(*) >= {params.SUBSTRING_MIN_COUNT}),
d AS (SELECT p.doc_id, p.pos, p.fp FROM post p JOIN dup USING (fp)),
isl AS (SELECT doc_id, pos, fp,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM d)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) - min(pos) + {params.SUBSTRING_WINDOW} AS BIGINT) AS span_len,
       arg_min(fp, pos) AS cluster_key
FROM isl GROUP BY doc_id, island
"""

# Scrub stage (round 14): keeper = smallest (doc_id, span_start) per
# cluster; every word covered by ANY non-keeper span is cut; docs are
# rebuilt by single-space join of survivors (exact on the single-space
# corpus) and fully-scrubbed docs come out empty, not missing.
ORACLE["q_substring_scrub"] = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
post AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(list_slice(w, i, i + {params.SUBSTRING_WINDOW - 1}), ' ')) AS fp
  FROM (SELECT doc_id, w,
               unnest(range(1, len(w) - {params.SUBSTRING_WINDOW} + 2)) AS i
        FROM w WHERE len(w) >= {params.SUBSTRING_WINDOW})),
dup AS (SELECT fp FROM post GROUP BY fp
        HAVING count(*) >= {params.SUBSTRING_MIN_COUNT}),
d AS (SELECT p.doc_id, p.pos, p.fp FROM post p JOIN dup USING (fp)),
isl AS (SELECT doc_id, pos, fp,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM d),
spans AS (SELECT doc_id, min(pos) AS span_start,
                 max(pos) - min(pos) + {params.SUBSTRING_WINDOW} AS span_len,
                 arg_min(fp, pos) AS cluster_key
          FROM isl GROUP BY doc_id, island),
cuts AS (SELECT doc_id, span_start AS cut_s,
                span_start + span_len - 1 AS cut_e
         FROM (SELECT *, row_number() OVER (PARTITION BY cluster_key
                              ORDER BY doc_id, span_start) AS rn
               FROM spans)
         WHERE rn > 1),
wp AS (SELECT doc_id, i AS pos, w[i] AS word
       FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM w)),
rem AS (SELECT DISTINCT wp.doc_id, wp.pos
        FROM wp JOIN cuts ON wp.doc_id = cuts.doc_id
                         AND wp.pos BETWEEN cuts.cut_s AND cuts.cut_e),
kept AS (SELECT wp.doc_id, wp.pos, wp.word
         FROM wp ANTI JOIN rem USING (doc_id, pos)),
ka AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text,
              count(*) AS n_kept
       FROM kept GROUP BY doc_id)
SELECT w.doc_id,
       coalesce(ka.clean_text, '') AS clean_text,
       CAST(len(w.w) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_words_removed
FROM w LEFT JOIN ka USING (doc_id)
"""

# Substring-level decontamination (round 14): the eval slice's
# distinct window fingerprints replace the corpus dup set; training
# postings semi-join against them, same gaps-and-islands merge.
ORACLE["q_substring_decontam"] = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
post AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(list_slice(w, i, i + {params.SUBSTRING_WINDOW - 1}), ' ')) AS fp
  FROM (SELECT doc_id, w,
               unnest(range(1, len(w) - {params.SUBSTRING_WINDOW} + 2)) AS i
        FROM w WHERE len(w) >= {params.SUBSTRING_WINDOW})),
ef AS (SELECT DISTINCT fp FROM post WHERE doc_id % 50 = 0),
d AS (SELECT p.doc_id, p.pos FROM post p JOIN ef USING (fp)
      WHERE p.doc_id % 50 != 0),
isl AS (SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM d)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) - min(pos) + {params.SUBSTRING_WINDOW} AS BIGINT) AS span_len,
       CAST(count(*) AS BIGINT) AS n_eval_windows
FROM isl GROUP BY doc_id, island
"""
ORACLE["q_artifact_covered"] = ORACLE["q_jaccard_verified"].replace(
    "FROM documents",
    f"""FROM (SELECT doc_id,
        '{_DRIFT_PHRASE} s' || CAST(doc_id % 3 AS VARCHAR)
        || ' t' || CAST(doc_id % 3 AS VARCHAR)
        || ' u' || CAST(doc_id % 3 AS VARCHAR)
        || ' v' || CAST(doc_id % 3 AS VARCHAR)
        || CASE WHEN doc_id >= 12 THEN ' {_COVERED_PHRASE}' ELSE '' END
        AS text
        FROM documents WHERE doc_id < 24)""",
)

ORACLE["q_doc_chunks"] = f"""
WITH tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
c AS (SELECT doc_id, w,
             1 + CAST(floor((greatest(len(w) - {textstats.CHUNK_TOKENS}, 0)
                             + {textstats.CHUNK_STRIDE - 1}) / {textstats.CHUNK_STRIDE}.0) AS INT) AS n_chunks
      FROM tw),
e AS (SELECT doc_id, w, unnest(range(0, n_chunks)) AS i FROM c),
s AS (SELECT doc_id, i,
             list_slice(w, i * {textstats.CHUNK_STRIDE} + 1,
                        i * {textstats.CHUNK_STRIDE} + {textstats.CHUNK_TOKENS}) AS toks
      FROM e)
SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
       CAST(i * {textstats.CHUNK_STRIDE} AS BIGINT) AS start_tok,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       array_to_string(toks, ' ') AS chunk_text
FROM s
"""

ORACLE["q_skew_agg"] = f"""
SELECT user_id,
       round(sum(value), {params.ROUND}) AS total_value,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY user_id
"""

ORACLE["q_domain_mix"] = f"""
WITH per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
       round(n_tokens * 1.0 / sum(n_tokens) OVER (), {params.ROUND}) AS token_share,
       round(least(1.0, (1.0 / count(*) OVER ())
                        / (n_tokens * 1.0 / sum(n_tokens) OVER ())), {params.ROUND}) AS mix_weight
FROM per_src
"""

ORACLE["q_or_vector"] = prelude() + f"""
, cand AS (SELECT DISTINCT doc_id FROM token_assign
           WHERE centroid_id IN (SELECT centroid_id FROM probes)),
cand_codes AS (SELECT DISTINCT t.doc_id, t.centroid_id
               FROM token_assign t JOIN cand USING (doc_id)),
qc AS (SELECT q.q_id, c.centroid_id, list_dot_product(q.qvec, c.cvec) AS qc_score
       FROM q_tokens q CROSS JOIN centroids c),
s_vec AS (SELECT doc_id, sum(best) AS score
          FROM (SELECT d.doc_id, q.q_id, max(q.qc_score) AS best
                FROM cand_codes d JOIN qc q USING (centroid_id) GROUP BY 1, 2)
          GROUP BY doc_id),
s_term AS (SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM doc_tokens
           WHERE token_idx = 0 AND label % 3 = 1),
s1 AS (SELECT doc_id, sum(score) AS s1
       FROM (SELECT * FROM s_vec UNION ALL SELECT * FROM s_term)
       GROUP BY doc_id),
surv AS (SELECT doc_id FROM s1
         ORDER BY round(s1, 6) DESC, doc_id ASC LIMIT {params.NUM_SECOND_PASS}),
stage2 AS (SELECT doc_id, sum(best) AS score
           FROM (SELECT t.doc_id, q.q_id, max(list_dot_product(t.vec, q.qvec)) AS best
                 FROM doc_tokens t JOIN surv USING (doc_id) CROSS JOIN q_tokens q
                 GROUP BY 1, 2)
           GROUP BY doc_id)
SELECT doc_id, round(score, {params.ROUND}) AS score FROM stage2
ORDER BY round(score, 6) DESC, doc_id ASC LIMIT {params.K}
"""

ORACLE.update({
    "q_media_features": _MEDIA_CTE + """
, samp AS (
  SELECT media_id, media_type, n_bytes, j,
    ((strpos('0123456789abcdef', substr(dig, (j % 16) * 2 + 1, 1)) - 1) * 16
     + strpos('0123456789abcdef', substr(dig, (j % 16) * 2 + 2, 1)) - 1)
    / 255.0 AS v
  FROM (
    SELECT media_id, media_type, octet_length(encode(payload)) AS n_bytes, j,
           md5(md5(payload) || '-' || CAST(j // 16 AS VARCHAR)) AS dig
    FROM media, unnest(range(1024)) AS t(j)
  )
),
agg AS (
  SELECT media_id, media_type, n_bytes, j // 128 AS c,
         CAST(CAST(avg(v) AS REAL) AS DOUBLE) AS mean_v,
         CAST(CAST(stddev_pop(v) AS REAL) AS DOUBLE) AS std_v
  FROM samp GROUP BY ALL
)
SELECT media_id, media_type, n_bytes, CAST(c AS BIGINT) AS dim_idx, mean_v AS val FROM agg
UNION ALL
SELECT media_id, media_type, n_bytes, CAST(c + 8 AS BIGINT) AS dim_idx, std_v AS val FROM agg
""",
    "q_media_frames": _MEDIA_CTE + """
SELECT media_id, CAST(f AS BIGINT) AS frame_idx, CAST(f * 1000 AS BIGINT) AS frame_ts_ms
FROM media, unnest(range(greatest(duration_ms // 1000, 1))) AS t(f)
WHERE media_type = 'video'
""",
})


REGISTRY: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # ---- window entries (the driver's correctness gate checks the
    # FIRST 50): every §2 parity lifecycle plus each operator that has
    # not yet accumulated multiple green driver rounds.
    #
    # Rotation policy (adopted round 6, per the round-5 verdict): every
    # NEW query spends its first round inside the window so it gets an
    # independent driver verdict before it may rotate to the tail, and
    # only multiply-proven queries (>=3 driver-green rounds, verifiable
    # against CORRECTNESS_r0*.json) may rotate out.
    # Rotation log (rounds cite the actual CORRECTNESS_r0*.json greens):
    #   r06: rotated IN q_doc_chunks, q_cross_dedup (landed r05, never
    #        driver-verified) and the r06-new q_len_histogram,
    #        q_events_props, q_jaccard_verified. Rotated OUT
    #        q_term_date, q_lang_id, q_text_stats (each driver-green
    #        r01,r02,r03,r04,r05 — five rounds) — and, VIOLATING the
    #        >=3 bar, q_term_float (green r04,r05 only — two rounds)
    #        and q_repetition (green r05 only — one round).
    #   r07: corrective rotation per the round-6 verdict — q_term_float
    #        and q_repetition rotated BACK IN until they meet the >=3
    #        bar; q_term_text and q_and rotated OUT (each driver-green
    #        r01,r02,r03,r04,r05,r06 — six consecutive rounds).
    #        NEW q_dup_clusters_verified, q_dedup_keep_verified rotated
    #        IN (first round); q_dedup_exact, q_minhash_sig rotated OUT
    #        (each driver-green r01-r06 — six consecutive rounds).
    #        NEW q_simhash_neardup rotated IN (first round);
    #        q_lsh_buckets rotated OUT (driver-green r01-r06 — six
    #        consecutive rounds).
    #   r08: NEW q_artifact_verified, q_artifact_gate rotated IN
    #        (first round — the incremental artifact store's serve
    #        queries). Rotated OUT q_embedding_neardup (driver-green
    #        r01-r07 — seven consecutive rounds) and q_text_match
    #        (driver-green r01-r07 — seven consecutive rounds).
    #        q_repetition stays (greens r05, r07 — needs its third);
    #        q_term_float stays one more round (greens r04, r05, r07 —
    #        met the >=3 bar this round, eligible to rotate r09).
    #   r09: NEW q_artifact_tenant rotated IN (first round — the
    #        multi-tenant artifact store's isolation serve). Rotated
    #        OUT q_term_float (driver-green r04, r05, r07, r08 — four
    #        rounds, met the >=3 bar). q_repetition stays for its
    #        post-third-green round (greens r05, r07, r08);
    #        q_artifact_verified / q_artifact_gate stay (greens r08 —
    #        need >=3). NEW q_artifact_drift rotated IN (first round —
    #        the flip-delta drift serve, this round's centerpiece);
    #        q_pack_plan rotated OUT to make room (driver-green r05,
    #        r06, r07, r08 — four rounds, met the >=3 bar).
    #        NEW q_artifact_remove rotated IN (first round — retention
    #        deletion with up-flip adjustment); q_knn_cosine rotated
    #        OUT to make room (driver-green r01-r08 — eight
    #        consecutive rounds).
    #   r10: NEW q_artifact_flush rotated IN (first round — deferred
    #        pair verification, verify_every); q_repetition rotated
    #        OUT (driver-green r05, r07, r08, r09 — four rounds, met
    #        the >=3 bar). q_artifact_verified / q_artifact_gate stay
    #        (greens r08, r09 — need their third); the r09 trio
    #        (tenant/drift/remove, green r09) stays per policy.
    #   r11: NEW q_artifact_fold, q_artifact_fold_remove rotated IN
    #        (first round — the row-scoped flip fold, this round's
    #        centerpiece: serves must be byte-equal through a folded
    #        representation, with and without retention deletion).
    #        Rotated OUT q_artifact_verified, q_artifact_gate (each
    #        driver-green r08, r09, r10 — met the >=3 bar). The r09
    #        trio (tenant/drift/remove, greens r09, r10) and
    #        q_artifact_flush (green r10) stay per policy. Late r11:
    #        NEW q_artifact_minor rotated IN (first round — tiered
    #        maintenance's minor merge: serving through a merged
    #        batch tier must be byte-equal). That late insertion also
    #        DISPLACED q_media_frames to position 51 — outside the
    #        driver's 50 — which this log failed to name at the time
    #        (flagged by the r11 verdict; q_media_frames had greens
    #        r05-r10, six rounds, so the displacement was
    #        policy-compliant, just unrecorded).
    #   r12: NEW q_artifact_covered rotated IN (first round — the
    #        minor-compact coverage extension: a drift commit whose
    #        crossing phrase's containing docs live only in a
    #        merged-and-covered segment must serve byte-equal through
    #        the inverted sliver). NEW q_artifact_cost_fold rotated IN
    #        (first round — the serve-cost fold trigger's primary
    #        road). Rotated OUT q_artifact_tenant, q_artifact_drift,
    #        q_artifact_remove (each driver-green r09, r10, r11 — met
    #        the >=3 bar). q_media_frames re-enters the checked
    #        window at position 50 (net -3 +2 this round).
    #        q_artifact_flush (greens r10, r11) and the r11 trio
    #        (minor/fold/fold_remove, green r11) stay per policy.
    #   r13: NEW q_artifact_remote_fold rotated IN (first round — the
    #        degraded-stats fold: a store re-opened COLD on a bridged
    #        scheme has no local parquet footers, so the serve-cost
    #        trigger must price the flips from the meta-persisted
    #        commit-time row counts and still fire on its primary
    #        road). NEW q_pii_scrub rotated IN (first round — PII
    #        scan + ordered redaction over a deterministically
    #        injected corpus, the pre-release scrub stage). Rotated
    #        OUT q_artifact_flush (driver-green r10, r11, r12 — met
    #        the >=3 bar). Net +2 −1: q_media_frames (greens r02-r03,
    #        r05-r10, r12 — nine rounds, far past the >=3 bar) is
    #        DISPLACED from position 50 to the tail. The r11 trio
    #        (minor/fold/fold_remove, greens r11, r12) and the r12
    #        pair (covered/cost_fold, green r12) stay per policy.
    #   r14: NEW q_substring_dedup rotated IN (first round —
    #        substring-level exact dedup: maximal duplicated word
    #        spans per doc via window-fingerprint postings + gaps-and-
    #        islands merge; the duplicated-paragraph case doc-level
    #        MinHash cannot see). NEW q_substring_scrub rotated IN
    #        (first round — the scrub stage the spans feed: non-keeper
    #        spans cut, keeper + clean docs untouched, fully-scrubbed
    #        docs empty not missing; serves off the same cached span
    #        artifact). NEW q_substring_decontam rotated IN (first
    #        round — GPT-3-style exact n-gram decontamination with
    #        positions: training-doc spans whose windows appear in the
    #        eval slice). Rotated OUT q_artifact_minor, q_artifact_fold,
    #        q_artifact_fold_remove (each driver-green r11, r12, r13 —
    #        met the >=3 bar). Net +3 −3: the three NEW queries take
    #        exactly the three freed slots, so the main section stays
    #        at 50 and NO tail entry enters or leaves the checked
    #        window (q_media_frames and q_artifact_flush remain in the
    #        tail). The r12 pair (covered/cost_fold, greens r12, r13)
    #        and the r13 pair (remote_fold/pii_scrub, green r13) stay
    #        per policy.
    #   r15: NEW q_semantic_dedup rotated IN (first round — SemDeDup-
    #        style cluster-scoped semantic dedup off the stored IVF
    #        bucket artifact: within-cluster cosine pairs bounded per
    #        cluster, keeper = lowest cosine-to-centroid with vec_id
    #        tie-break, corpus-complete keep verdict; the one dedup
    #        family surface fingerprints cannot see). Rotated OUT
    #        q_artifact_covered and q_artifact_cost_fold (each
    #        driver-green r12, r13, r14 — met the >=3 bar; both move
    #        to the tail and stay locally oracle-checked). Net +1 −2:
    #        q_media_frames (greens r02-r03, r05-r10, r12 — nine
    #        rounds) RE-ENTERS the checked window at position 50 by
    #        tail-boundary crossing, exactly as it did in r12. The
    #        r13 pair (remote_fold/pii_scrub, greens r13, r14 — need
    #        one more) and the r14 substring trio (green r14 — stays
    #        >=2 more rounds) stay per policy.
    #   r16: CHURN-BIASED rotation (r15 verdict item 2): the artifact
    #        commit path (~780 lines of artifacts.py) and the
    #        minhash/LSH builders were rewritten in r15 AFTER their
    #        serve queries rotated out, so the queries sitting directly
    #        on the rewritten operators rotate BACK IN for an
    #        independent driver verdict: q_artifact_covered and
    #        q_artifact_cost_fold (greens r12, r13, r14) re-enter from
    #        the tail, and q_minhash_sig / q_lsh_buckets (greens
    #        r01-r06 — the stored signature/bucket surfaces of the
    #        rewritten minhash_wide / lsh_buckets_wide builders)
    #        re-enter after nine rounds in the tail. Rotated OUT to
    #        make the four slots (each >=3 driver greens, operators
    #        untouched since long before r15): q_pii_scrub (greens
    #        r13, r14, r15 — met the bar), q_doc_chunks and
    #        q_len_histogram (greens r06-r15, ten rounds), and
    #        q_media_frames (greens r02-r03, r05-r10, r12, r15 — ten
    #        rounds; returns to the tail it occupied r13-r14). Net
    #        +4 −4: the window stays at 50. The r13 survivor
    #        (remote_fold, greens r13, r14, r15 — met the bar but
    #        stays: it serves through the rewritten commit path) and
    #        the r14 substring trio (greens r14, r15 — need their
    #        third) stay per policy. ----
    "q_semantic_dedup": q_semantic_dedup,
    "q_substring_dedup": q_substring_dedup,
    "q_substring_scrub": q_substring_scrub,
    "q_substring_decontam": q_substring_decontam,
    "q_artifact_remote_fold": q_artifact_remote_fold,
    "q_artifact_covered": q_artifact_covered,
    "q_term_int": q_term_int,
    "q_artifact_cost_fold": q_artifact_cost_fold,
    "q_cross_dedup": q_cross_dedup,
    "q_minhash_sig": q_minhash_sig,
    "q_events_props": q_events_props,
    "q_jaccard_verified": q_jaccard_verified,
    "q_or": q_or,
    "q_assign": q_assign,
    "q_mapping": q_mapping,
    "q_topcentroids": q_topcentroids,
    "q_candidates": q_candidates,
    "q_plaid": q_plaid,
    "q_maxsim": q_maxsim,
    "q_topk": q_topk,
    "q_batch_topk": q_batch_topk,
    "q_filtered_ann": q_filtered_ann,
    "q_metadata": q_metadata,
    "q_xtr": q_xtr,
    "q_or_vector": q_or_vector,
    "q_remove_semantics": q_remove_semantics,
    "q_update_semantics": q_update_semantics,
    "q_merge_semantics": q_merge_semantics,
    "q_events_rollup": q_events_rollup,
    "q_asof": q_asof,
    "q_range_join": q_range_join,
    "q_skew_agg": q_skew_agg,
    "q_simhash_neardup": q_simhash_neardup,
    "q_jaccard_pairs": q_jaccard_pairs,
    "q_dup_clusters": q_dup_clusters,
    "q_dup_clusters_verified": q_dup_clusters_verified,
    "q_dedup_keep_verified": q_dedup_keep_verified,
    "q_decontaminate": q_decontaminate,
    "q_decontaminate_fuzzy": q_decontaminate_fuzzy,
    "q_embedding_neardup_lsh": q_embedding_neardup_lsh,
    "q_dedup_keep": q_dedup_keep,
    "q_bm25": q_bm25,
    "q_quality_filter": q_quality_filter,
    "q_domain_mix": q_domain_mix,
    "q_unigram_loglik": q_unigram_loglik,
    "q_tfidf_keywords": q_tfidf_keywords,
    "q_ivf_knn": q_ivf_knn,
    "q_embedding_clusters": q_embedding_clusters,
    "q_media_features": q_media_features,
    "q_lsh_buckets": q_lsh_buckets,
    # ---- tail entries (positions 51+, outside the driver's window):
    # multiply-proven queries only — each green in >=3 prior driver
    # rounds, deterministic scalar aggregates / pure-map
    # hash selections with no float-parity risk. Every entry, tail
    # included, is still locally oracle-checked per round by
    # tests/test_queries_vs_oracle.py (same compare as the driver). ----
    "q_media_frames": q_media_frames,
    "q_pii_scrub": q_pii_scrub,
    "q_doc_chunks": q_doc_chunks,
    "q_len_histogram": q_len_histogram,
    "q_artifact_flush": q_artifact_flush,
    "q_artifact_minor": q_artifact_minor,
    "q_artifact_fold": q_artifact_fold,
    "q_artifact_fold_remove": q_artifact_fold_remove,
    "q_artifact_tenant": q_artifact_tenant,
    "q_artifact_drift": q_artifact_drift,
    "q_artifact_remove": q_artifact_remove,
    "q_artifact_verified": q_artifact_verified,
    "q_artifact_gate": q_artifact_gate,
    "q_repetition": q_repetition,
    "q_knn_cosine": q_knn_cosine,
    "q_pack_plan": q_pack_plan,
    "q_term_float": q_term_float,
    "q_term_text": q_term_text,
    "q_and": q_and,
    "q_embedding_neardup": q_embedding_neardup,
    "q_text_match": q_text_match,
    "q_dedup_exact": q_dedup_exact,
    "q_term_date": q_term_date,
    "q_lang_id": q_lang_id,
    "q_text_stats": q_text_stats,
    "q_pricing_summary": q_pricing_summary,
    "q_top_orders": q_top_orders,
    "q_revenue_by_nation": q_revenue_by_nation,
    "q_events_hourly": q_events_hourly,
    "q_user_sessions": q_user_sessions,
    "q_events_top_users": q_events_top_users,
    "q_supplier_balance": q_supplier_balance,
    "q_brand_stats": q_brand_stats,
    "q_doc_length_stats": q_doc_length_stats,
    "q_events_value_stats": q_events_value_stats,
    "q_stratified_sample": q_stratified_sample,
    "q_hash_split": q_hash_split,
    "q_simhash": q_simhash,
    "q_token_counts": q_token_counts,
    "q_fingerprints": q_fingerprints,
}
