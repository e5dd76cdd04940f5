#!/usr/bin/env python
"""Benchmark harness (driver contract: prints ONE JSON line).

Runs the headline operators at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], mirroring the
BASELINE.md protocol:

- index_build   (BENCH-1): token->centroid assignment + postings/
                 mapping materialization to parquet — the write path
                 of IndexIVF::add (lintdb/index.cpp:481-490).
- batch_search  (BENCH-2): NQ queries through the shared two-phase
                 cascade in one plan; throughput = queries/sec
                 reported alongside wall sec.
- filtered_search (BENCH-3): cascade + term predicate on candidates.
- plus the data-pipeline + relational headliners (dedup, text, knn,
  TPC-H-ish, event windows).

Usage: python bench.py   [env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from lintdb_spark import model  # noqa: E402
from lintdb_spark.operators import ann, scoring  # noqa: E402
from lintdb_spark.queries import ORACLE, REGISTRY, batch_topk_oracle_sql  # noqa: E402
from lintdb_spark.session import get_spark  # noqa: E402

BENCH_NQ = 1000  # batch-search query count, matching the reference harness's 1000 searches
HEADLINE_REPS = 2  # timings = min over this many executions per query, BOTH engines


def _exact_maxsim_scores(dt, queries_df):
    """Exact-MaxSim truth scores for the quality gates, vectorized
    (round 15, guide §4.2): the old form was a cartesian
    bq_small x doc_tokens with a per-row zip_with/aggregate fold —
    ~128M interpreted lambda evaluations for 32 queries at sf0.1,
    the single most expensive piece of the quality section (7-14 s
    measured). This computes the SAME scores as one float64 matmul
    per Arrow batch inside mapInArrow: vec/qvec are array<double>,
    so every product is the identical f64 product; only the
    summation tree differs (numpy pairwise vs the fold's sequential
    order), a ~1e-15-relative class of difference the old plan was
    already exposed to through partial-aggregation order. Verified:
    identical exact-top-10 hit sets (quality, golden, XTR-golden)
    on sf0.1 and the golden fixture.

    The query side is collected once (the same driver payload
    batch_search already collects for its qmats); the doc side stays
    distributed — repartition by doc_id makes each doc whole within
    one task, so per-task maxes are global per doc.
    Returns (qid, doc_id, score)."""
    import numpy as np
    import pyarrow as pa

    qrows = sorted(
        queries_df.select("qid", "q_id", "qvec").collect(),
        key=lambda r: (r["qid"], r["q_id"]),
    )
    Q = np.asarray([r["qvec"] for r in qrows], dtype=np.float64)
    qid_of = np.asarray([r["qid"] for r in qrows], dtype=np.int64)
    uq = np.unique(qid_of)
    masks = [(q, qid_of == q) for q in uq]

    def part(batches):
        best: dict = {}
        for b in batches:
            doc_ids = b.column("doc_id").to_numpy(zero_copy_only=False)
            vec = b.column("vec")
            V = np.asarray(vec.to_pylist(), dtype=np.float64)
            if V.size == 0:
                continue
            S = V @ Q.T  # (rows, n_query_tokens), exact f64 products
            for doc, s in zip(doc_ids, S):
                cur = best.get(doc)
                best[doc] = s if cur is None else np.maximum(cur, s)
        if best:
            docs = np.fromiter(best.keys(), dtype=np.int64, count=len(best))
            M = np.vstack(list(best.values()))
            n = len(docs)
            out_qid = np.empty(n * len(masks), dtype=np.int64)
            out_doc = np.empty(n * len(masks), dtype=np.int64)
            out_sc = np.empty(n * len(masks), dtype=np.float64)
            for i, (q, m) in enumerate(masks):
                out_qid[i * n : (i + 1) * n] = q
                out_doc[i * n : (i + 1) * n] = docs
                out_sc[i * n : (i + 1) * n] = M[:, m].sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_qid, type=pa.int64()),
                    pa.array(out_doc, type=pa.int64()),
                    pa.array(out_sc, type=pa.float64()),
                ],
                names=["qid", "doc_id", "score"],
            )

    return (
        dt.select("doc_id", "vec")
        .repartition("doc_id")
        .mapInArrow(part, "qid long, doc_id long, score double")
    )

# registry queries included as-is (names -> themselves)
HEADLINE = [
    "q_topk",
    "q_filtered_ann",
    "q_maxsim",
    "q_plaid",
    "q_pricing_summary",
    "q_top_orders",
    "q_revenue_by_nation",
    "q_events_hourly",
    "q_events_rollup",
    "q_user_sessions",
    "q_asof",
    "q_range_join",
    "q_dedup_exact",
    "q_minhash_sig",
    "q_lsh_buckets",
    "q_jaccard_pairs",
    "q_jaccard_verified",
    "q_simhash",
    "q_simhash_neardup",
    "q_text_stats",
    "q_repetition",
    "q_quality_filter",
    "q_domain_mix",
    "q_dedup_keep",
    "q_dup_clusters_verified",
    "q_dedup_keep_verified",
    "q_skew_agg",
    "q_unigram_loglik",
    "q_tfidf_keywords",
    "q_decontaminate_fuzzy",
    "q_embedding_clusters",
    "q_pack_plan",
    "q_doc_chunks",
    "q_cross_dedup",
    "q_artifact_verified",
    "q_artifact_gate",
    "q_artifact_tenant",
    "q_artifact_drift",
    "q_artifact_remove",
    "q_artifact_fold",
    "q_artifact_fold_remove",
    "q_artifact_covered",
    "q_artifact_cost_fold",
    "q_artifact_remote_fold",
    "q_pii_scrub",
    "q_substring_dedup",
    "q_substring_scrub",
    "q_substring_decontam",
    "q_semantic_dedup",
    "q_lang_id",
    "q_len_histogram",
    "q_events_props",
    "q_knn_cosine",
    "q_ivf_knn",
    "q_text_match",
    "q_events_top_users",
    "q_supplier_balance",
    "q_brand_stats",
    "q_remove_semantics",
    "q_update_semantics",
    "q_merge_semantics",
    "q_embedding_neardup_lsh",
    "q_token_counts",
    "q_fingerprints",
    "q_xtr",
    "q_bm25",
    "q_dup_clusters",
    "q_decontaminate",
    "q_stratified_sample",
    "q_hash_split",
    "q_media_features",
    "q_media_frames",
    "q_or_vector",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("lintdb_spark_bench", cpus=cpus, shuffle_partitions=max(cpus, 32))
    spark.sparkContext.setLogLevel("ERROR")

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    timings: dict[str, float] = {}
    # One broken query must never zero the whole round's bench: every
    # timed section records {"err": ...} here and the run still emits
    # the full JSON (rc=0) for everything that did succeed.
    errors: dict[str, str] = {}

    # JVM/codegen + Python-worker-pool warmup so the first timed op
    # doesn't absorb session startup (~2-4s JVM + ~1-2s Arrow/pandas
    # worker spin-up otherwise folded into index_build/batch_search)
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    _warm = spark.range(64).groupBy((F.col("id") % 4).alias("g"))
    _warm.applyInPandas(lambda p: p, "id bigint").count()

    # ---- BENCH-1: real Index build (train state + add -> parquet tables) ----
    import numpy as np

    from lintdb_spark.index import Index, SearchOptions
    from lintdb_spark.index.schema import (
        DataType,
        FieldType,
        Schema,
        StoredField,
        TensorField,
    )

    out = tempfile.mkdtemp(prefix="lintdb_spark_bench_")
    # session-cached build artifacts, shared with every registry
    # cascade query timed below (the build/serve split — at scale
    # these are the index's stored parquet tables)
    from lintdb_spark.queries import cascade_inputs

    cents, dt, ta = cascade_inputs(spark, sf_dir)
    n_docs = n_res = None
    qps = qps_cold = dt_batch_cold = 0.0
    dt_batch_prew = dt_batch_cg = 0.0
    batch_reps: dict[str, list] = {}
    try:
        t0 = time.time()
        schema = Schema(
            [
                TensorField(
                    "emb", dimensions=64, roles=[FieldType.COLBERT],
                    quantization="binarizer", num_centroids=0, nbits=2,
                ),
                StoredField("title", DataType.TEXT),
            ]
        )
        idx = Index.create(spark, os.path.join(out, "idx"), schema)
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        ingest = (
            emb.groupBy(F.expr("vec_id div 4").alias("doc_id"))
            .agg(F.sort_array(F.collect_list(F.struct("vec_id", "embedding"))).alias("s"))
            .select(
                F.lit(0).cast("long").alias("tenant"),
                "doc_id",
                F.expr("transform(s, x -> x.embedding)").alias("emb"),
                F.concat(F.lit("doc-"), F.col("doc_id")).alias("title"),
            )
        )
        # centroids: same deterministic model the oracle uses; quantizer
        # trained on the real residuals
        idx.set_coarse_quantizer("emb", np.asarray(
            [r["cvec"] for r in cents.orderBy("centroid_id").collect()], dtype=np.float32
        ))
        sample = np.asarray(
            [r["vec"] for r in dt.limit(4000).collect()], dtype=np.float32
        )
        codes = (sample @ idx.centroids["emb"].T).argmax(axis=1)
        from lintdb_spark.index.quantizers import Binarizer

        idx.quantizers["emb"] = Binarizer.train(sample - idx.centroids["emb"][codes], 2)
        idx._save_sidecars()
        idx.add(ingest)
        n_docs = idx._docs().count()
        timings["index_build"] = round(time.time() - t0, 3)

        # ---- BENCH-2: batch search through the real index ----
        qrows = model.batch_queries(spark, sf_dir, BENCH_NQ).collect()
        queries: dict[int, list] = {}
        for r in qrows:
            queries.setdefault(r["qid"], []).append((r["q_id"], r["qvec"]))
        qmats = {
            qid: np.asarray([v for _, v in sorted(toks)], dtype=np.float32)
            for qid, toks in queries.items()
        }
        opts = SearchOptions(n_probe=8, num_second_pass=64, centroid_score_threshold=0.0)
        # ---- round-14 protocol: INTERLEAVED cold/warm/prewarmed reps.
        # The r13 driver rep recorded warm 340 < cold 434 q/s — an
        # impossibility on a quiet box that the old PHASE-BY-PHASE
        # layout (all warm reps early, the second cold rep last)
        # manufactured when background load hit the early phase and
        # cleared before the late one. Round-robin interleaving spreads
        # each mode's reps across the wall-clock window so one loaded
        # interval degrades adjacent reps of EVERY mode instead of
        # every rep of ONE mode; per-rep times are recorded verbatim
        # in batch_reps (committed via bench_full_latest.json), and
        # the warm steady-state min is taken over ALL reps — a warm
        # rep can only be faster than a cold one, so warm <= cold
        # holds BY CONSTRUCTION and a single-mode crater cannot invert
        # the pair. Timers start AFTER query generation/collect (that
        # prep is harness work, not serving); cold = a fresh Index
        # object (no serve caches: postings slice, doc-blob broadcast,
        # size estimate), warm = the same object re-serving, prewarmed
        # = fresh load + prewarm(0), the shipped deployment default.
        batch_reps.update({"cold": [], "warm": [], "prewarmed": []})

        def _timed_batch(index_obj):
            t0 = time.time()
            r = index_obj.search_batch(0, "emb", qmats, k=10, opts=opts)
            n = r.count()
            return time.time() - t0, n

        # rep 1: the just-built index has never served — cold
        dtc, n_res = _timed_batch(idx)
        batch_reps["cold"].append(round(dtc, 3))
        for _ in range(2):
            dtw, _ = _timed_batch(idx)  # warm: caches now resident
            batch_reps["warm"].append(round(dtw, 3))
            dtc, _ = _timed_batch(Index.load(spark, os.path.join(out, "idx")))
            batch_reps["cold"].append(round(dtc, 3))
            idx_p = Index.load(spark, os.path.join(out, "idx"))
            idx_p.prewarm(0)
            dtp, _ = _timed_batch(idx_p)
            batch_reps["prewarmed"].append(round(dtp, 3))
        dt_batch_cold = min(batch_reps["cold"])
        dt_batch = min(batch_reps["cold"] + batch_reps["warm"])
        dt_batch_prew = min(batch_reps["prewarmed"])
        timings["batch_search"] = round(dt_batch, 3)
        timings["batch_search_prewarmed"] = round(dt_batch_prew, 3)
        qps = BENCH_NQ / dt_batch if dt_batch > 0 else 0.0
        qps_cold = BENCH_NQ / dt_batch_cold if dt_batch_cold > 0 else 0.0

        # ---- BENCH-2c: tenant isolation cost (round 7) ----
        # Add a SECOND tenant with a full disjoint copy of the corpus,
        # then serve the same batch against it: tenant partitioning is
        # the reference's structural invariant (KeyBuilder.h:13-14 —
        # every key is tenant-prefixed), and the Spark translation
        # claims the same via partition pruning + the per-tenant serve
        # caches. tenant2_search within noise of batch_search = the
        # claim measured, not asserted (a plan test already pins the
        # pruning; this prices it).
        idx.add(ingest.withColumn("tenant", F.lit(1).cast("long")))
        batch_reps["tenant2"] = []
        for _ in range(HEADLINE_REPS):
            t0 = time.time()
            idx.search_batch(1, "emb", qmats, k=10, opts=opts).count()
            batch_reps["tenant2"].append(round(time.time() - t0, 3))
        timings["tenant2_search"] = min(batch_reps["tenant2"])

        # ---- BENCH-2f (round 11): FORCED cogroup fallback — the
        # 100 TB serve path (blobs over the broadcast threshold) that
        # bench-scale corpora never route to on their own. An
        # unmeasured fallback is a latency-cliff candidate; this prices
        # it on the same batch. min-of-2 warm reps.
        batch_reps["cogroup"] = []
        idx.force_cogroup = True
        try:
            for _ in range(2):
                t0 = time.time()
                idx.search_batch(0, "emb", qmats, k=10, opts=opts).count()
                batch_reps["cogroup"].append(round(time.time() - t0, 3))
        finally:
            idx.force_cogroup = False
        dt_batch_cg = min(batch_reps["cogroup"])
        timings["batch_search_cogroup"] = round(dt_batch_cg, 3)
    except Exception as exc:  # noqa: BLE001 — record, keep benching
        errors["index_build" if "index_build" not in timings else "batch_search"] = repr(exc)
    finally:
        shutil.rmtree(out, ignore_errors=True)

    # ---- BENCH-4: quality — Success@K of the cascade vs exact MaxSim ----
    # (BASELINE.md: proxy for LoTTE Success@5; gate >= 0.95)
    # NOTE on knobs (full analysis: BASELINE.md §4): the driver's
    # embeddings are i.i.d. near-orthogonal, so token->centroid
    # assignment carries little information and the candidate pool is
    # RECALL-BOUND by n_probe — at n_probe=4, Success@10 saturates at
    # 0.487 no matter how large num_second_pass gets. The same default
    # knobs score 0.98 on the clustered golden fixture (the geometry
    # real ColBERT embeddings have). We report the default-knob
    # quality AND a high-recall setting that meets the >=0.95 gate.
    success_at_k = success_at_k_hr = success_golden = success_golden_xtr = None
    t0 = time.time()
    n_quality = 32
    bq_small = model.batch_queries(spark, sf_dir, n_quality)
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.round(F.col("score"), 6).desc(), F.col("doc_id").asc())
    try:
        approx = scoring.batch_two_phase_topk(dt, ta, bq_small, cents)
        approx_hr = scoring.batch_two_phase_topk(
            dt, ta, bq_small, cents, n_probe=32, num_second_pass=400, k_top=32
        )
        # vectorized exact-MaxSim truth (round 15) — see
        # _exact_maxsim_scores for the equivalence argument
        exact = _exact_maxsim_scores(dt, bq_small)
        # persist: the exact oracle top-k feeds BOTH the default-knob and
        # high-recall joins — without it the full exact-MaxSim aggregation
        # runs twice
        exact_topk = (
            exact.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10)
            .select("qid", "doc_id")
            .persist()
        )
        hits = approx.join(exact_topk, ["qid", "doc_id"]).count()
        success_at_k = hits / (n_quality * 10)
        hits_hr = approx_hr.join(exact_topk, ["qid", "doc_id"]).count()
        success_at_k_hr = hits_hr / (n_quality * 10)
        exact_topk.unpersist()
        timings["quality_check"] = round(time.time() - t0, 3)
    except Exception as exc:  # noqa: BLE001
        errors["quality_check"] = repr(exc)

    # ---- BENCH-4b: golden clustered fixture at DEFAULT knobs ----
    # (mirrors tests/colbert_test.cpp: a fixed corpus where the
    # reference's shallow defaults must rank correctly; gate >= 0.9)
    from lintdb_spark.golden import golden_fixture

    g_exact_topk = None
    try:
        t0 = time.time()
        g_dt, g_cents, g_queries = golden_fixture(spark)
        g_ta = ann.assign_tokens(g_dt.repartition(cpus, "doc_id"), g_cents)
        g_approx = scoring.batch_two_phase_topk(g_dt, g_ta, g_queries, g_cents)
        g_exact = _exact_maxsim_scores(g_dt, g_queries)
        g_exact_topk = (
            g_exact.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10)
            .select("qid", "doc_id")
        )
        g_exact_topk = g_exact_topk.persist()
        g_hits = g_approx.join(g_exact_topk, ["qid", "doc_id"]).count()
        success_golden = g_hits / (32 * 10)
        timings["golden_quality"] = round(time.time() - t0, 3)
    except Exception as exc:  # noqa: BLE001
        errors["golden_quality"] = repr(exc)

    # ---- BENCH-4c: XTR scoring quality on the same golden fixture
    # (default nearest_tokens_to_fetch; exact-MaxSim top-10 as truth —
    # gauges the missing-similarity imputation, not just hash parity) ----
    from lintdb_spark.cache import release

    if g_exact_topk is not None:
        try:
            t0 = time.time()
            g_qids = g_queries.select("qid").distinct()
            g_xtr = scoring.batch_xtr_topk(
                g_dt.crossJoin(g_qids).select("qid", "doc_id", "token_idx", "vec"),
                g_queries,
                k=10,
            )
            gx_hits = g_xtr.join(g_exact_topk, ["qid", "doc_id"]).count()
            success_golden_xtr = gx_hits / (32 * 10)
            release(g_xtr)
            timings["golden_quality_xtr"] = round(time.time() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            errors["golden_quality_xtr"] = repr(exc)
        g_exact_topk.unpersist()

    # ---- build halves, timed separately (build once, serve many —
    # the split every real index/dedup pipeline has; each build is a
    # named timing so nothing is hidden from the record) ----
    from lintdb_spark.queries import (
        _model_meta,
        doc_shingles_cached,
        ivf_bucketed,
        lsh_bucketed,
        query_tokens_cached,
        text_tokens_cached,
    )

    try:
        t0 = time.time()
        query_tokens_cached(spark, sf_dir).count()
        _model_meta(spark, sf_dir)  # collected centroid/query matrices
        timings["query_meta_build"] = round(time.time() - t0, 3)
    except Exception as exc:  # noqa: BLE001
        errors["query_meta_build"] = repr(exc)

    from lintdb_spark.queries import (
        artifact_base_store_cached,
        artifact_store_cached,
        artifact_tenant_store_cached,
        capped_shingles_cached,
        doc_lengths_cached,
        dup_clusters_cached,
        facts_cached,
        jaccard_pairs_cached,
        minhash_wide_cached,
        text_tf_cached,
        verified_pairs_cached,
        vocab_stats_cached,
    )

    def _vocab_build(s, d):
        vocab, total, n_docs = vocab_stats_cached(s, d)
        total.count()
        n_docs.count()
        return vocab

    for build_name, build_fn in [
        ("table_cache_build", facts_cached),  # multi-split fact layout
        ("ivf_build", ivf_bucketed),  # index half of q_ivf_knn
        ("lsh_bucket_build", lsh_bucketed),  # of q_embedding_neardup_lsh
        ("shingle_build", doc_shingles_cached),  # of the minhash/jaccard family
        ("capped_shingle_build", capped_shingles_cached),  # df stop list, jaccard input
        ("minhash_build", minhash_wide_cached),  # stored signature table
        ("pair_build", jaccard_pairs_cached),  # materialized pair hand-off
        ("verified_pair_build", verified_pairs_cached),  # LSH-verified pair artifact
        ("cluster_build", dup_clusters_cached),  # stored cluster map (q_dedup_keep)
        ("text_token_build", text_tokens_cached),  # of q_text_match / q_bm25
        ("doclen_build", doc_lengths_cached),  # bm25's stored dl statistic
        ("tf_build", text_tf_cached),  # stored tf table (unigram/tfidf)
        ("vocab_build", _vocab_build),  # df/cf vocabulary stats
        # r08 incremental artifact stores (3-batch / 2-batch commits)
        ("artifact_build", lambda s, d: artifact_store_cached(s, d).signatures()),
        ("artifact_gate_build", lambda s, d: artifact_base_store_cached(s, d).signatures()),
        # r09 two-tenant store (4 tenant-local commits)
        ("artifact_tenant_build", lambda s, d: artifact_tenant_store_cached(s, d).signatures(tenant=1)),
    ]:
        try:
            t0 = time.time()
            build_fn(spark, sf_dir).count()
            timings[build_name] = round(time.time() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            errors[build_name] = repr(exc)

    # ---- artifact_update: the MARGINAL cost of maintaining the
    # artifact store for one new 500-doc batch (the incremental claim:
    # update cost ∝ batch, vs artifact_build ∝ corpus). A throwaway
    # store seeded with half the corpus keeps the shared caches
    # untouched. ----
    try:
        from lintdb_spark.operators.artifacts import DedupArtifacts
        from lintdb_spark.tables import load_table as _lt
        from pyspark.sql import functions as SF

        tmp = tempfile.mkdtemp(prefix="bench_artifacts_")
        st = DedupArtifacts.create(spark, tmp + "/store")
        docs = _lt(spark, sf_dir, "documents").select("doc_id", "text")
        st.update(docs.filter(SF.col("doc_id") % 2 == 0))
        batch = (
            docs.filter(SF.col("doc_id") % 2 == 1)
            .limit(500)
            .withColumn("doc_id", SF.col("doc_id") + 1_000_000_000)
        )
        t0 = time.time()
        st.update(batch)
        timings["artifact_update"] = round(time.time() - t0, 3)
        shutil.rmtree(tmp, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001
        errors["artifact_update"] = repr(exc)

    # ---- headline registry queries (each individually crash-guarded).
    # Each query is timed HEADLINE_REPS times and the per-query MIN
    # recorded — steady-state measurement on a shared box where a
    # background-load burst can inflate any single execution ~4-8x
    # (BASELINE.md §3); the DuckDB baseline below gets the identical
    # treatment, so the ratio compares like with like. ----
    for name in HEADLINE:
        try:
            best = None
            for _ in range(HEADLINE_REPS):
                t0 = time.time()
                REGISTRY[name](spark, sf_dir).count()
                dt = time.time() - t0
                best = dt if best is None or dt < best else best
            timings[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001
            errors[name] = repr(exc)

    # ---- scale lane (round 16, r15 verdict item 7): the sf0.1 corpus
    # is so small that every section above is fixed-overhead-bound —
    # the driver's c8/c32 scaling block read ~1.0 across the board and
    # could not demonstrate scale behavior. These sections run the
    # engine's compute-heaviest dedup kernels over a DETERMINISTICALLY
    # REPLICATED x64 corpus (derived in-plan from the same parquet
    # inputs — nothing precomputed, nothing cached across runs;
    # replicas are text/id-perturbed so the work is real near-dup
    # work, not degenerate self-collision) sized so the wall tracks
    # executor compute: their sec@8/sec@32 ratio is the driver-visible
    # scaling evidence (probe: minhash+lsh 10.0s@8 vs 3.7s@32 = 2.7x).
    # Timed with the noop sink (guide §1.4). Two calibration points
    # measured during construction (OPTIMIZATION_r16.md, verdict item 7):
    # (a) the base frame is repartitioned BEFORE replication — the
    #     documents scan is 1-2 input splits and a broadcast crossJoin
    #     keeps the left side's partitioning, so without it the heavy
    #     map-side hashing ran in 1-2 tasks at ANY core count;
    # (b) AQE's default 64 MB advisory partition size coalesced the
    #     post-shuffle stages of these KB-scale-per-partition frames
    #     into 1-2 tasks (ratios ~1.0 no matter the volume) — the lane
    #     pins a 1 MB advisory for its two writes and restores the
    #     session value after.
    # New additive entries; HEADLINE and all prior sections unchanged.
    from lintdb_spark.operators.dedup import (
        doc_shingles as _sl_shingles,
        lsh_buckets_wide as _sl_lsh,
        minhash_wide as _sl_minhash,
        substring_window_postings as _sl_postings,
    )
    from lintdb_spark.tables import load_table as _sl_load

    def _sl_noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    SCALE_REP = 64
    _ADV_KEY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    try:
        _adv_old = spark.conf.get(_ADV_KEY)
    except Exception:  # noqa: BLE001 — unset
        _adv_old = None
    spark.conf.set(_ADV_KEY, "1m")
    try:
        # the replicated corpus both sections read is built OUTSIDE
        # their try blocks, so each section fails with its own error
        # (or, if the build itself fails, both record the build's)
        try:
            _docs = _sl_load(spark, sf_dir, "documents").select(
                "doc_id", "text"
            )
            _reps = F.broadcast(
                spark.range(SCALE_REP).select(F.col("id").alias("rep"))
            )
            _docs_rep = (
                _docs.repartition(64, "doc_id")
                .crossJoin(_reps)
                .select(
                    (F.col("doc_id") * SCALE_REP + F.col("rep")).alias(
                        "doc_id"
                    ),
                    F.concat(
                        F.col("text"),
                        F.lit(" zscale"),
                        F.col("rep").cast("string"),
                    ).alias("text"),
                )
            )
            _rep_err = None
        except Exception as exc:  # noqa: BLE001
            _docs_rep, _rep_err = None, exc
        for _name, _desc, _plan in (
            (
                "scale_minhash_lsh",
                "scale lane: minhash+lsh x64",
                lambda d: _sl_lsh(_sl_minhash(_sl_shingles(d))),
            ),
            (
                "scale_substring_postings",
                "scale lane: substring postings x64",
                _sl_postings,
            ),
        ):
            try:
                if _rep_err is not None:
                    raise _rep_err
                t0 = time.time()
                spark.sparkContext.setJobDescription(_desc)
                _sl_noop(_plan(_docs_rep))
                timings[_name] = round(time.time() - t0, 3)
            except Exception as exc:  # noqa: BLE001
                errors[_name] = repr(exc)
    finally:
        if _adv_old is None:
            spark.conf.unset(_ADV_KEY)
        else:
            spark.conf.set(_ADV_KEY, _adv_old)
        spark.sparkContext.setJobDescription(None)

    # ---- DuckDB oracle BASELINE on the same protocol (BASELINE.md
    # requires recorded values next to the Spark numbers). DuckDB runs
    # multi-threaded on the same cores over the same parquet files. ----
    import duckdb

    from lintdb_spark.tables import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    baseline: dict[str, float] = {}
    for name in HEADLINE:
        sql = ORACLE.get(name)
        if sql is None:
            continue
        try:
            best = None
            for _ in range(HEADLINE_REPS):
                t0 = time.time()
                con.sql(sql).fetchall()
                dt = time.time() - t0
                best = dt if best is None or dt < best else best
            baseline[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001
            errors[f"oracle:{name}"] = repr(exc)
    try:
        baseline_batch = None
        for _ in range(HEADLINE_REPS):
            t0 = time.time()
            con.sql(batch_topk_oracle_sql(BENCH_NQ)).fetchall()
            dtb = time.time() - t0
            baseline_batch = dtb if baseline_batch is None else min(baseline_batch, dtb)
        baseline["batch_search"] = round(baseline_batch, 3)
    except Exception as exc:  # noqa: BLE001
        baseline_batch = 0.0
        errors["oracle:batch_search"] = repr(exc)
    con.close()
    baseline_qps = BENCH_NQ / baseline_batch if baseline_batch > 0 else 0.0
    # ratio only over queries BOTH sides completed; if any HEADLINE
    # query errored on either side the ratio is explicitly flagged
    # partial so a degraded run can't be read as a clean result
    shared = [n for n in HEADLINE if n in baseline and n in timings]
    headline_partial = any(
        n in errors or f"oracle:{n}" in errors for n in HEADLINE
    )
    spark_headline_sum = round(sum(timings[n] for n in shared), 3)
    baseline_headline_sum = round(sum(baseline[n] for n in shared), 3)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "e2e_bench_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "batch_search_qps": round(qps, 2),
        "batch_search_qps_cold": round(qps_cold, 2),
        "batch_search_cold_sec": round(dt_batch_cold, 3),
        "batch_search_qps_prewarmed": round(BENCH_NQ / dt_batch_prew, 2)
        if dt_batch_prew > 0
        else None,
        "batch_search_qps_cogroup": round(BENCH_NQ / dt_batch_cg, 2)
        if dt_batch_cg > 0
        else None,
        "batch_search_nq": BENCH_NQ,
        # per-rep wall times, interleaved execution order C W C P W C P
        # (round-14 protocol): the raw series a regression diff needs
        # to tell a loaded-box interval from a real plan change
        "batch_reps": batch_reps,
        "batch_search_rows": n_res,
        "index_docs": n_docs,
        "success_at_10_default_knobs": round(success_at_k, 4)
        if success_at_k is not None
        else None,
        "success_at_10_high_recall": round(success_at_k_hr, 4)
        if success_at_k_hr is not None
        else None,
        "success_at_10_golden_default_knobs": round(success_golden, 4)
        if success_golden is not None
        else None,
        "success_at_10_golden_xtr": round(success_golden_xtr, 4)
        if success_golden_xtr is not None
        else None,
        "baseline": baseline,
        "baseline_batch_qps": round(baseline_qps, 2),
        "spark_headline_sum": spark_headline_sum,
        "baseline_headline_sum": baseline_headline_sum,
        "headline_ratio_spark_over_baseline": round(
            spark_headline_sum / baseline_headline_sum, 3
        )
        if baseline_headline_sum > 0
        else None,
        "headline_ratio_partial": headline_partial,
        "batch_qps_ratio_spark_over_baseline": round(qps / baseline_qps, 3)
        if baseline_qps > 0
        else None,
        "cpus": cpus,
        "errors": errors,
    }
    line = json.dumps(result)
    # file-backed as well as stdout: a crashed/garbled stdout pipe must
    # not lose the round's numbers
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "bench_out.json"), "w") as fh:
        fh.write(line + "\n")
    # ...and a TRACKED pretty-printed copy (bench_full_latest.json):
    # the driver's BENCH_r{N}.json keeps only a 2000-char tail of
    # stdout, which truncates the per-query dicts — committing the
    # full result each round is what makes r(N-1)->rN per-query
    # regression diffs possible from the repo alone (VERDICT r11 #4)
    with open(os.path.join(here, "bench_full_latest.json"), "w") as fh:
        json.dump(result, fh, indent=1)
        fh.write("\n")
    print(line)
    global _EMITTED
    _EMITTED = True
    try:
        spark.stop()
    except Exception:  # a wedged JVM must not poison an already-emitted run
        pass


_EMITTED = False

if __name__ == "__main__":
    try:
        main()
    except Exception as exc:  # noqa: BLE001 — last-ditch: still emit one JSON line
        import traceback

        traceback.print_exc(file=sys.stderr)
        # only if main() never emitted: a late failure after the real
        # results were printed/persisted must not overwrite them with a
        # null record (the driver reads ONE JSON line)
        if not _EMITTED:
            line = json.dumps(
                {
                    "metric": "e2e_bench_total",
                    "value": None,
                    "unit": "sec",
                    "queries": {},
                    "errors": {"fatal": repr(exc)},
                }
            )
            with open(
                os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out.json"), "w"
            ) as fh:
                fh.write(line + "\n")
            print(line)
