"""Shared constants for the deterministic multi-vector model and search
knobs. Single source of truth: the Spark operators AND the DuckDB
oracle SQL are both generated from these values, so the two sides can
never drift.

Search knob defaults mirror the reference's SearchOptions
(lintdb/SearchOptions.h:24-38): n_probe, k_top_centroids,
num_second_pass, centroid_score_threshold — rescaled to the synthetic
corpus size (500-2000 vectors vs the reference's LoTTE slices).
"""

from __future__ import annotations

# Embedding model geometry (driver's embeddings.parquet: vec_id, embedding
# float[64], label).
DIM = 64

# Multi-vector documents: doc_id = floor(vec_id / TOKENS_PER_DOC), i.e. a
# "document" is TOKENS_PER_DOC consecutive vectors. This mirrors the
# reference's Document{id, tensor field with num_tensors tokens}
# (lintdb/schema/Document.h:12-18) while staying derivable in plain SQL
# on both engines.
TOKENS_PER_DOC = 4

# Coarse "centroids" for the IVF layer of the oracle-checked queries:
# every CENTROID_STRIDE-th vector is a centroid (deterministic, no
# training run needed — real KMeans training lives in
# lintdb_spark.index and is pytest-verified instead, since MLlib
# cluster positions are not reproducible in DuckDB SQL).
CENTROID_STRIDE = 25

# Query = fixed set of token vectors (all < 500 so they exist at every
# scale factor). Mirrors the reference's 32x128 padded ColBERT query
# (tests/colbert_test.cpp:44) at synthetic scale.
QUERY_VEC_IDS = [1, 3, 7, 13, 29, 51, 87, 93]

# Search knobs (reference defaults at lintdb/SearchOptions.h:24-38,
# rescaled).
N_PROBE = 4  # reference: 32 of 65536 lists
K_TOP_CENTROIDS = 2  # per-token prefilter before the n_probe cut (SearchOptions.h:29)
K = 10  # top-k returned (reference: 100)
NUM_SECOND_PASS = 32  # reference: 1024
# per-q-token retrieved tokens (k'). The reference ships 100
# (SearchOptions.h:34); the XTR paper uses corpus-relative k' (40k at
# their scale). Round-13 sweep over the golden fixture
# (SCALE.md §13, .scale_probe/results_xtr_sweep.json):
# Success@10 converges 0.90 (k'=64) -> 0.9688 (256) -> 0.9844 (384)
# -> 1.0 (all tokens) at flat wall time — the old 64 undersized
# retrieval, not an intrinsic XTR bound. 256 keeps the retrieved set
# bounded (k' x |q_tokens| rows per query) while closing most of the
# gap to the PLAID cascade's 0.9812.
XTR_NEAREST_TOKENS = 256
CENTROID_SCORE_THRESHOLD = 0.0  # reference: 0.45 (tuned for unit-norm 128-d)

# Text-pipeline knobs.
SHINGLE_K = 5  # character-shingle width for minhash/jaccard
MINHASH_PERMS = 16  # number of minhash "permutations" (md5-salted)
LSH_BANDS = 4  # bands for LSH bucketing (rows per band = PERMS/BANDS)
# Shingles present in more than this fraction of documents are dropped
# from jaccard similarity entirely: they are non-discriminative
# boilerplate, and without the cap ONE stop-shingle in 50% of docs
# makes the inverted-index self-join quadratic in the corpus.
# The effective df threshold is clamp(nd * FRAC, DF_FLOOR, DF_CEIL):
# - DF_FLOOR: on a corpus of < FLOOR/FRAC docs the fractional cap
#   alone would drop EVERY repeated shingle (df=2 > 0.2*nd for nd<10),
#   silently returning zero pairs on legitimate small inputs — the
#   floor keeps low-df shingles regardless of corpus size.
# - DF_CEIL: a shingle just under a purely fractional cap still fans
#   out (FRAC*nd)^2 join rows — quadratic again at 100 TB. The absolute
#   ceiling bounds the self-join at sum(df^2) <= |shingles| * DF_CEIL,
#   trading recall only on pairs whose ONLY shared shingles appear in
#   >DF_CEIL docs (such shingles carry ~no near-dup signal).
JACCARD_MAX_DF_FRAC = 0.2
JACCARD_DF_FLOOR = 8
# 1000, not 10_000: the sf1 scale probe (SCALE.md §6) measured the
# pair build at 319 s / 198M candidate pairs on a 50k-doc corpus with
# the ceiling at 10k — shingles sitting just under the cap fan out
# ~df^2 join rows each. At 1000 the worst-case per-shingle fanout
# drops 100x; tiers at or below sf0.1 are unchanged (their fractional
# cap 0.2*n was already <= 1000).
JACCARD_DF_CEIL = 1_000
# Exhaustive-tier guard: the all-pairs paths (jaccard_pairs'
# inverted-index self-join, embedding_neardup_pairs' nested loop) raise
# before launching a build whose candidate-pair count exceeds this.
# ~1e9 candidate rows is tens of GB of shuffle — the regime where the
# sf10 probe measured the exhaustive jaccard join spilling >70 GB
# locally and never finishing (SCALE.md §6; its bound is 10.0e9 pairs,
# vs 125e6 at sf1 which completes fine). The error message names the
# bounded production twin (jaccard_verify_pairs / embedding_lsh_neardup);
# callers that genuinely want a bigger exhaustive build pass an explicit
# max_pairs.
EXHAUSTIVE_PAIR_CAP = 1_000_000_000
# Substring-level exact dedup (Lee et al. 2022-style, word windows):
# a W-word window fingerprint that occurs >= SUBSTRING_MIN_COUNT times
# anywhere in the corpus marks its window duplicated; maximal runs of
# duplicated window starts merge into spans. W trades precision for
# recall: smaller W flags shorter repeated phrases (more false
# positives on natural collocations), larger W only long verbatim
# repeats. 8 words ~ 50 chars, the same order as Lee et al.'s 50-token
# threshold scaled to the synthetic corpus' 10-99-word docs.
SUBSTRING_WINDOW = 8
SUBSTRING_MIN_COUNT = 2

# Semantic dedup (SemDeDup, Abbas et al. 2023): within-IVF-cluster
# cosine above this marks a pair semantically duplicated; the member
# with the LOWEST cosine-to-centroid survives (the paper's keep rule —
# atypical examples are worth more). Production corpora with real
# paraphrase duplicates run ~0.95; the driver's SYNTHETIC embeddings
# are near-orthogonal (measured within-cluster max cosine: 0.45-0.60
# across sf0.001-0.1), so the bench value sits at the distribution's
# upper tail — 0.35 flags 44/76/543 pairs at sf0.001/0.01/0.1 — to
# keep the keeper-election path exercised and oracle-checked rather
# than trivially empty. The knob, not the value, is the contract.
SEMANTIC_DUP_COS = 0.35
ROUND = 4  # decimals kept when hashing float scores across engines

# DedupArtifacts physical layout (round 9). The stored bucket table is
# hive-partitioned on bpart = pmod(xxhash64(bucket), BUCKET_PARTS) so
# an incremental update's new x old collision join PRUNES to the
# partitions holding the batch's bucket keys instead of re-banding (or
# even re-reading) the whole corpus — the Spark analogue of the
# reference's point-gets on the new doc's keys
# (lintdb/invlists/IndexWriter.cpp:22-58). Same idea for doc-keyed
# lookups (known-doc anti-join, incremental pair verify) via
# dpart = pmod(xxhash64(doc_id), DOC_PARTS). Values are captured into
# store meta at create() so the layout stays stable even if these
# defaults change.
ARTIFACT_BUCKET_PARTS = 64
ARTIFACT_DOC_PARTS = 32
ARTIFACT_SHINGLE_PARTS = 64
# update() broadcasts the batch's LSH bucket frame only below this row
# count ((docs with shingles) x bands); bigger batches fall back to a
# shuffle join — a forced broadcast of an arbitrarily large batch is a
# driver OOM at scale (the failure mode df_capped_shingles documents).
ARTIFACT_BROADCAST_ROWS = 2_000_000
# pair-verification df lookups restrict their aggregates to the
# requesting shingle set via a BROADCAST semi-join only while the
# requesting doc count stays under this gate (docs x shingles/doc
# bounds the broadcast payload — 5k docs ~ a few-hundred-k strings,
# tens of MB). Bigger (corpus-scale) batches fall back to the
# partition-pruned full aggregate, whose cost is proportional to the
# batch itself.
ARTIFACT_PREFILTER_DOCS = 5_000
# ... and the candidate-pair set is rebuilt as a LocalRelation leaf
# (plan-size control — see _stage_pair_stats) only while it stays
# under this many pairs: 200k (long, long) rows is a few MB on the
# driver. Bigger pair sets keep the distributed frame.
ARTIFACT_PREFILTER_PAIRS = 200_000
# self-triggering compaction (round 10): update() compacts the store
# inline when any table's segment list reaches this length — without a
# backstop, a stream whose caller never configured a cadence accretes
# one segment per table per micro-batch and serve degrades ~linearly
# (measured 30x / 87 s at 407 segments, SCALE.md §9). 16 keeps the
# amortized trigger rate near the tuned compact_every=10 cadence while
# staying out of the way of explicitly-managed stores.
ARTIFACT_AUTOCOMPACT_SEGMENTS = 16
# tiered maintenance (round 11): the count trigger above is a
# BACKSTOP, not a full-rewrite cadence — at 100 TB a corpus rewrite
# every 16 micro-batches is the scale cliff, so segment accretion is
# normally answered by minor_compact() (merge the per-batch segments,
# cost ∝ batch bytes) and the FULL compact runs only when real debt
# accrues (_full_compact_due: tombstone fraction or the batch tier
# rivaling the base tier). Level-0 (per-batch seg-*) segments merge
# into one m1-* segment at this fanout; m1 into m2 at the same fanout,
# and so on — a row is rewritten at most log_fanout(batches) times
# between full compacts instead of once per count trip.
ARTIFACT_MINOR_FANOUT = 8
# FULL compact when the batch tier's bytes reach this fraction of the
# base tier's: below it, merging again costs a sliver of the rewrite;
# at or above it the minor merge re-copies a base-sized volume anyway
# and the full rewrite additionally re-covers the inverted
# shingle_docs table and purges tombstones. 0.25 ≈ rewrite the corpus
# once per 4x growth — the standard LSM major-compaction shape.
ARTIFACT_FULLCOMPACT_BATCH_FRAC = 0.25
# ... or when tombstones (removed_ids bytes vs doc_ids bytes — the two
# tables' rows are the same shape, so the byte ratio tracks the dead
# fraction) reach this fraction: every read pays the anti-join and the
# base tier carries dead rows until the rewrite purges them.
ARTIFACT_FULLCOMPACT_TOMBSTONE_FRAC = 0.05
# grace given to superseded segment dirs when the auto-compact path
# vacuums: a CONCURRENT READER (the server + offline-ingest deployment)
# may hold a lazy plan over the pre-compaction segment list — deleting
# with zero grace would yank files out from under its in-flight scan.
# Superseded dirs linger at most this long; disk cost is bounded by
# one compaction's worth of segments.
ARTIFACT_AUTOCOMPACT_VACUUM_AGE_S = 600.0
# ... and when the OUTSTANDING flip-delta rows (not yet folded into
# pair rows) cross this bound: reads pay a 3-way join over the live
# flip set until compaction folds it (measured 11-14 s vs 1-3 s at
# sf10), so a drift-heavy stream must not accumulate flips unboundedly.
# 600k, recalibrated in round 11: the original 2M was set against
# PRE-endpoint-restriction flip volumes — the restriction cut staged
# rows 3.2x, so the same serve exposure (the quantity the trigger
# actually bounds) now corresponds to ~600k rows. The sf10 stream
# replay measured the miscalibration directly: four tail batches
# accumulated just under 2M restricted rows with no fold and the
# batch-49 serve sample degraded to 38.9 s (SCALE.md §11).
ARTIFACT_AUTOCOMPACT_FLIP_ROWS = 600_000
# round 12: the PRIMARY fold trigger is expressed in the currency the
# trigger actually bounds — estimated serve read-through cost of the
# outstanding flip set (flip_rows * (1 + degree) join input+output
# rows, degree = 2*pair_rows/endpoint_docs from driver-side footer
# stats; see DedupArtifacts._fold_cost_rows). The row constant above
# is kept only as a BACKSTOP for stores where the stats are
# unavailable: it was miscalibrated once already (the 2M
# pre-endpoint-restriction value let a 38.9 s serve exposure through
# because restricted rows match ~3x more pairs each), and any future
# volume-shifting change would silently re-expose it. Calibrated on
# the sf10 replay tail (observe mode, SCALE.md §12): degree ≈ 112 at
# the 500k-doc corpus (17.2M pair rows / 306k endpoint rows), serve
# 9-14 s through cost ≈ 63M and 23.3 s at 145M against a ~3 s
# flip-free baseline; 60M both preserves the
# r11-measured 600k-row firing point (600k x (1+112) ≈ 68M) and sits
# under the measured degradation knee.
ARTIFACT_FOLD_COST_ROWS = 60_000_000
# round 13 (VERDICT r12 #6): the flip lookup's inverted-vs-flat road
# choice compares the BYTES the spart-pruned inverted read will open
# (exact, from manifest hive paths + driver-side file stats) against
# the flat doc-keyed table's bytes, routing FLAT at this fraction.
# 0.375 = the r11 matched-partition-count threshold (P/4, i.e. matched
# fraction 0.25) translated through the measured ~1.5x
# bytes-per-matched-fraction amp (sparse_road_probe: bytes_ratio
# 0.0194..0.5876 over matched_frac 0.0122..0.3899) — identical routing
# at every swept point, better behavior when partition sizes skew.
ARTIFACT_ROAD_SWITCH_FRAC = 0.375
# round 12: a batch commit stages 8-10 independent table segments;
# writing them through a small thread pool overlaps their jobs (on a
# cluster: shuffles/IO of independent stages; on local mode: the
# driver-side job-submission latency that dominates a small batch).
# 1 = sequential (the pre-round-12 behavior). Measured at the tiny
# test shape: ~1.4x faster update; at sf0.1: see SCALE.md §12.
# Round 15 note: an interleaved A/B at 8 workers (both waves start at
# once) measured WITHIN box noise of 4 on the sf0.1 3-batch build
# (best-of 34.8 s at 4 vs 36.7 s at 8 across two alternating sessions)
# — kept at 4; instead, staged writes are now SUBMITTED to the pool as
# they are declared (guide §2.6 concurrent jobs), so they overlap the
# sequential bookkeeping jobs rather than running as one tail wave.
ARTIFACT_STAGE_PARALLELISM = 4
# (the flip-row trigger runs the cheap flip-only FOLD — see
# DedupArtifacts.fold_flips — not the full compact, so it needs no
# cooldown: at the sf10 stream probe's tail every 10k-doc batch
# emitted ~1-3M flip rows, and folding the pairs-sized table costs
# seconds where a full compact paid ~80 s.)
# ... and the point path's driver-side df-delta collect is additionally
# gated on the batch's DISTINCT-SHINGLE count (a bounded limit(N+1)
# probe): the doc gate alone doesn't bound it — 5k LONG documents can
# carry millions of distinct shingles, a driver-memory risk. Over-gate
# batches fall back to the distributed general path.
ARTIFACT_PREFILTER_SHINGLES = 500_000
# The involved-docs probe feeding the driver-tier pair verify collects
# (doc_id, shingle) ROWS, not distinct shingles — rows >= distinct, so
# reusing ARTIFACT_PREFILTER_SHINGLES as the row bound (round 15) made
# the point-path gate strictly tighter than designed and pushed
# shingle-heavy/small-vocab batches onto the distributed general path
# (ADVICE r15). Separate, larger row cap: still a bounded driver
# payload (rows are (long, string) tuples), 2x the vocab gate — the
# distinct-shingle broadcast the rows feed stays bounded by the same
# order as before while typical row/distinct inflation (each involved
# doc repeats its shingles) no longer spills bounded batches onto the
# distributed general path.
ARTIFACT_PREFILTER_SHINGLE_ROWS = 1_000_000

# English/German/French/Spanish stopword lists for the n-gram-free
# language-ID heuristic (tiny, deterministic; good enough for synthetic
# text). Kept lowercase.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "with", "for"],
    "de": ["der", "die", "und", "das", "ist", "mit", "ein", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est", "dans", "pour"],
    "es": ["el", "la", "los", "que", "de", "en", "es", "por"],
}

# Gopher-style quality-filter thresholds (Rae et al. 2021 §A1.1, the
# public heuristics most LLM-corpus pipelines start from, adapted to
# the synthetic corpus's scale: word-count window, mean-word-length
# window, symbol ratio cap, minimum stopword evidence).
QUALITY_MIN_TOKENS = 20
QUALITY_MAX_TOKENS = 100_000
QUALITY_MIN_AVG_TOKEN_LEN = 2.0
QUALITY_MAX_AVG_TOKEN_LEN = 12.0
QUALITY_MAX_PUNCT_RATIO = 0.2
QUALITY_MIN_STOPWORDS = 2

# dup_clusters physical-strategy threshold: edge sets at or below this
# collect to the driver for exact union-find (one Spark job total);
# larger graphs run the distributed hash-min propagation. The same
# broadcast-vs-shuffle style selection search_batch makes for doc
# blobs. Driver memory at the cap is NOT the 32 MB of raw edge
# payload: 2M Row objects plus the union-find dict and vertex set cost
# on the order of 1 GB of Python heap — sized for this deployment's
# 8g driver (session.py); shrink the cap when the driver is smaller.
CLUSTER_LOCAL_MAX_EDGES = 2_000_000

# Minimum token rows per cached serve partition (cascade_inputs). The
# defaultParallelism cap does the scale work — any real corpus uses
# full cluster width; this floor only stops a SMALL corpus from being
# sliced into dozens of near-empty partitions where per-task
# scheduling dominates every serve stage (measured at sf0.1: 32
# partitions of ~60 rows cost q_topk ~0.2 s/query in pure task
# overhead vs 2 right-sized partitions).
SERVE_PARTITION_ROWS = 1024

# Minimum rows per cached fact-table partition (queries.table_cached).
# Same rationale as SERVE_PARTITION_ROWS: the parallelism cap does the
# scale work; this floor only keeps small tables from paying dozens of
# near-empty tasks per serve-speed aggregate.
TABLE_PARTITION_ROWS = 25_000
