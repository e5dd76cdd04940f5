"""Incrementally-maintained dedup artifact store.

The expensive artifacts of a near-dup pipeline — per-doc shingle sets,
minhash signatures, document-frequency statistics, LSH buckets, and
candidate pairs — were session-scoped builds in earlier rounds
(rebuilt from the full corpus every run: 237 s at the sf10 probe). At
100 TB the artifact build IS the pipeline cost, and the reference's
own design is incremental point updates on a live index
(lintdb/index.cpp:481-510, A5-A7). This store gives those artifacts
the same build/serve + commit discipline as the search Index:
immutable per-batch segments published by one atomic `_meta.json`
flip (SegmentStore), updated per ingest batch at a cost proportional
to the NEW documents, not the corpus.

Exactness contract (why reads equal a from-scratch rebuild):

- doc_ids / signatures / shingles / simhash / buckets are pure
  per-document functions — a batch's rows never change, so per-batch
  segments union to exactly the full-corpus build. (Buckets are a
  pure in-row banding of the signature, so the stored bucket table
  always equals lsh_buckets_wide(signatures).)
- document frequencies are ADDITIVE: doc_shingles emits distinct
  (doc_id, shingle) and doc_ids never repeat across batches (enforced
  by the doc_ids registry anti-join), so the per-batch df aggregates
  sum to the global df. The df CAP is applied at READ time with the
  current totals, so `capped_shingles()` is byte-equal to
  `df_capped_shingles()` over the full corpus no matter how ingestion
  was batched.
- candidate pairs: band collision is a pure function of two
  signatures, so committing each batch's new x (old ∪ new) collisions
  accumulates exactly the full bucket table's collision set — old x
  old pairs were committed by earlier batches.
- verified pairs: Jaccard stats ARE cap-dependent (the df stop-set
  moves as the corpus grows), so naive verify-at-write would drift.
  The pair_stats artifact solves it incrementally: each commit
  verifies its NEW pairs against the post-commit capped sets (rows
  carry the capped-set sizes na/nb), and a shingle whose
  capped-status flips emits `flip_docs` DELTA rows — one per
  containing doc, ±1 — that reads apply arithmetically to
  strictly-older pair rows (_pair_current) and compaction folds in.
  By induction the adjusted max-seq row per pair equals a
  from-scratch `jaccard_verify_pairs` at every snapshot — at a cost
  ∝ batch + docs-per-flipped-shingle, instead of the round-8 full
  re-verify per snapshot (141 s at the sf10 probe) or the first
  flip-free incremental design's re-verify of every TOUCHED pair
  (10M pairs for a 1k batch at sf10). See _stage_pair_stats.
- removal: remove() appends `removed_ids` tombstones (reads
  anti-join), NEGATIVE df rows (the additive df sums absorb them),
  and flip deltas for the shingles whose status flips back — reads
  then equal a from-scratch build over the SURVIVING corpus, and
  compact() purges physically. See remove().

Scale shape per update() (schema_rev >= 2): sign + band the BATCH
(map-only over new docs), one collision join of the batch's buckets
against the STORED bucket table pruned to the batch's bpart
partitions (bpart = pmod(xxhash64(bucket), bucket_parts) is a hive
partition column, so the prune is static partition pruning — the old
side scans only dirs that can hold the batch's keys, and within each
file rows are SORTED by bucket for row-group min/max locality), and
one vocab-sized
df aggregate of the batch. The known-doc anti-join prunes the same
way on the doc_ids registry (dpart partitions). Old documents are
never re-read outside the pruned partitions; nothing is re-BANDED.

Compaction is SELF-TRIGGERING (round 10): update() compacts + vacuums
inline once segments-per-table or outstanding flip-delta rows cross
the params.ARTIFACT_AUTOCOMPACT_* thresholds, so the measured
no-compaction serve cliff (30x at 407 segments, SCALE.md §9) cannot
happen silently — the reference's RocksDB compacts itself for the
same reason. `auto_compact = False` opts out for explicitly-managed
stores (a tuned compact_every stream, or a bulk load that compacts
once at the end).

Flip maintenance is BATCH-PROPORTIONAL end to end (round 11,
flip_rev 2): the drift commit's shingle->doc lookup reads a
spart-partitioned INVERTED companion table pruned to the flipped
shingles' partitions (shingle_docs — the doc-keyed shingles table
cannot prune a shingle-keyed lookup, which left a corpus-sized scan
on every drift commit through round 10), flip rows are staged only
for docs present in a stored pair row (pair_docs — a flip on a
pairless doc adjusts nothing, so the flip table is bounded by pair
endpoints, not corpus density), and fold_flips() appends one
touched-pairs segment instead of rewriting the pairs-sized table.

Tenancy (round 9): every table carries a leading `tenant` partition
column (default 0). Dedup is tenant-local — the collision join, the
df statistics, and every read are keyed/filtered per tenant, so two
tenants never produce a cross pair (the Index is tenant-first for the
same reason, KeyBuilder.h:13-14). Single-tenant callers never pass
the argument and see the exact single-corpus behavior.
"""

from __future__ import annotations

import functools
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lintdb_spark import params
from lintdb_spark.functions import hashing
from lintdb_spark.index.store import SegmentStore
from lintdb_spark.operators import dedup

# files per coarse (per-batch) segment write: batch-sized data in a
# handful of well-formed files beats one file per shuffle partition —
# the parquet commit protocol and the downstream segment-union scans
# both pay per file
_COARSE_FILES = 8

# single-pass staging (round 16): per-table in-file sort keys of the
# COARSE batch segments, expressed as one generic (long, string) key
# pair so every table can ride the same union write — mirrors the
# per-table sortWithinPartitions in _write_segment's coarse arms.
_ONE_PASS_SORT: dict[str, tuple[str | None, str | None]] = {
    "doc_ids": ("doc_id", None),
    "shingles": ("doc_id", None),
    "buckets": (None, "bucket"),
    "df": ("spart", "shingle"),
    "shingle_docs": ("spart", "shingle"),
}

_DOCID_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.IntegerType()),
        T.StructField("dpart", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
    ]
)
_SHINGLE_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.IntegerType()),
        T.StructField("dpart", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("shingle", T.StringType()),
    ]
)
_EMPTY_SET: frozenset = frozenset()
_DF_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.IntegerType()),
        T.StructField("spart", T.IntegerType()),
        T.StructField("shingle", T.StringType()),
        T.StructField("df", T.LongType()),
    ]
)
_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.IntegerType()),
        T.StructField("doc_a", T.LongType()),
        T.StructField("doc_b", T.LongType()),
    ]
)
_SIMHASH_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("simhash", T.LongType()),
    ]
)
_PAIRSTAT_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.IntegerType()),
        T.StructField("doc_a", T.LongType()),
        T.StructField("doc_b", T.LongType()),
        T.StructField("n_common", T.LongType()),
        # capped-set sizes AT VERIFY TIME (pair_rev >= 3): with them a
        # df-cap flip adjusts stored stats arithmetically instead of
        # re-reading shingle sets. Null on rev-2 rows (those stores
        # never write flip_docs, so nulls are never adjusted).
        T.StructField("na", T.LongType()),
        T.StructField("nb", T.LongType()),
        T.StructField("jaccard", T.DoubleType()),
        T.StructField("seq", T.LongType()),
    ]
)
# one row per (flipped shingle, containing doc): the LSM-style drift
# delta. delta = -1 when the shingle LEFT every capped set this commit
# (its df crossed above the cap — the only direction once the cap pins
# at DF_CEIL), +1 when a moving cap re-admitted it. Reads apply flips
# with seq > the pair row's verify seq; compaction folds them away.
_FLIP_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        T.StructField("shingle", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("delta", T.IntegerType()),
    ]
)
_BUCKET_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.IntegerType()),
        T.StructField("bpart", T.IntegerType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("bucket", T.StringType()),
        T.StructField("doc_id", T.LongType()),
    ]
)
# round 11: the INVERTED shingle->doc companion table (flip_rev >= 2).
# The shingles table is doc-keyed (dpart partitions) — perfect for the
# pair verify's "these docs' sets" lookups, but a flip commit needs the
# OPPOSITE access path ("every doc containing these shingles"), which
# on the doc-keyed layout is a corpus-sized scan (the round-10 design's
# one corpus-proportional residual on the steady-state update path).
# Same rows, spart-keyed: the flip lookup prunes to the flipped
# shingles' spart partitions, cost ∝ docs-per-flipped-shingle.
_SHDOC_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.IntegerType()),
        T.StructField("spart", T.IntegerType()),
        T.StructField("shingle", T.StringType()),
        T.StructField("doc_id", T.LongType()),
    ]
)
# round 11: the pair-ENDPOINT registry (flip_rev >= 2) — every doc_id
# appearing in a stored pair_stats row. A flip delta only ever adjusts
# STORED pair rows (_pair_current joins flips to them), and rows staged
# at the flip's own commit or later are verified against post-flip sets
# (flips apply only at k_f > row.seq) — so a flip row for a doc outside
# this registry adjusts nothing, ever, and is dropped at staging time.
# This bounds the flip table by pair-endpoint docs instead of
# docs-per-flipped-shingle x corpus density (at the sf10 probe a 1k
# batch's ~300k flip rows collapse to the few that touch actual pairs).
_PAIRDOC_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
    ]
)


class DedupArtifacts(SegmentStore):
    # batch commits stage single-pass union-schema segments (round
    # 16): reads project to each table's declared schema — see
    # SegmentStore._read_uncached / _write_segments_one_pass
    _project_reads_to_schema = True
    """Persisted dedup artifacts with point-incremental maintenance.

    Tables (each a list of immutable per-batch segments, all carrying
    a leading `tenant` hive-partition column):
      doc_ids     (dpart, doc_id)        registry of EVERY ingested
                                         doc — the already-present
                                         guard (covers docs too short
                                         to shingle or tokenize)
      shingles    (dpart, doc_id, shingle) raw distinct word-trigram
                                         sets, doc-keyed partitions
      signatures  (doc_id, m0..m{p-1})   minhash wide rows
      df          (shingle, df)          per-batch document frequencies
      cand_pairs  (doc_a, doc_b)         LSH band collisions, a < b
      simhash     (doc_id, simhash)      SimHash fingerprints
      buckets     (bpart, band, bucket, doc_id) the LSH bucket table,
                                         partitioned on
                                         bpart = pmod(xxhash64(bucket),
                                         bucket_parts) and sorted by
                                         bucket within files — the
                                         index the incremental
                                         collision join prunes on

    Meta carries per-tenant and global `n_docs` (docs ingested) and
    `nd_shingled` (docs with >= 1 shingle — the df-cap denominator,
    matching df_capped_shingles' count_distinct semantics), plus the
    frozen layout knobs (num_perms, lsh_bands, bucket_parts,
    doc_parts) and `schema_rev` (1 = round-8 layout without
    doc_ids/buckets; 2 = this layout — see migrate_layout)."""

    TABLES = [
        "doc_ids",
        "shingles",
        "signatures",
        "df",
        "cand_pairs",
        "simhash",
        "buckets",
        "pair_stats",
        "flip_docs",
        "removed_ids",
        "shingle_docs",
        "pair_docs",
    ]

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_perms: int | None = None,
        simhash_bits: int = 32,
    ):
        super().__init__(spark, path, {
            "versions": {},
            "n_docs": 0,
            "nd_shingled": 0,
            "tenants": {},
            "num_perms": int(num_perms or params.MINHASH_PERMS),
            "simhash_bits": int(simhash_bits),
            "lsh_bands": int(params.LSH_BANDS),
            "bucket_parts": int(params.ARTIFACT_BUCKET_PARTS),
            "doc_parts": int(params.ARTIFACT_DOC_PARTS),
            "shingle_parts": int(params.ARTIFACT_SHINGLE_PARTS),
            "schema_rev": 2,
            # 3 = pair rows carry sizes and df-drift is maintained as
            # flip_docs deltas; 2 = legacy drift-time re-verification
            "pair_rev": 3,
            "pair_seq": 0,
            "pair_stats_live": True,
            # outstanding (un-folded) flip-delta rows — reads pay a
            # 3-way join over these until compact() folds them, so
            # update() watches the counter for the auto-compact trigger
            "flip_rows_live": 0,
            # deferred pair verification: verify every Nth batch (see
            # create()); cand_pairs segments pending a flush, per tenant
            "verify_every": 1,
            "pair_unverified": {},
            # 2 = the store maintains the spart-keyed inverted
            # shingle->doc table and the pair-endpoint registry, and
            # flip staging prunes through them (round 11); 1 = the
            # round-10 layout (flip lookups scan the doc-keyed shingle
            # table). compact()/migrate_layout backfill and upgrade.
            "flip_rev": 2,
        })
        self._verified_lock = threading.Lock()
        # self-triggering compaction (round 10): update() compacts +
        # vacuums inline once segments-per-table or outstanding flip
        # rows cross the params.ARTIFACT_AUTOCOMPACT_* thresholds — the
        # measured no-compaction cliff (30x serve at 407 segments,
        # SCALE.md §9) must not depend on every caller configuring a
        # cadence (the reference's RocksDB compacts itself). Set False
        # to manage compaction explicitly (e.g. a tuned compact_every
        # stream or an ingest-bound bulk load that compacts once at
        # the end).
        self.auto_compact = True

    # ---------------- lifecycle ----------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        num_perms: int | None = None,
        bucket_parts: int | None = None,
        doc_parts: int | None = None,
        shingle_parts: int | None = None,
        maintain_pairs: bool = True,
        verify_every: int = 1,
    ) -> "DedupArtifacts":
        """``bucket_parts`` / ``doc_parts`` / ``shingle_parts`` size the
        pruning layout for the deployment (frozen into meta): more
        partitions = finer point-update pruning but more files per
        segment — a 1B-doc store wants thousands; the defaults suit
        bench scale. Compaction bounds the small-file cost either way.
        ``shingle_parts`` additionally bounds how sharply a drift
        commit's flip lookup prunes the inverted shingle->doc table: a
        commit flipping S shingles reads at most min(S, shingle_parts)
        partitions, so size it well above the typical per-commit flip
        count.

        ``maintain_pairs`` picks which side of the write/read trade
        pays for pair VERIFICATION: True (default) verifies
        incrementally at update time (update costs ~3-4x more per
        batch; verified_pairs() is a sub-second read at any corpus
        size); False keeps updates minimal and pays one full verify
        per served snapshot (memoized — 141 s at the sf10 probe's
        500k docs). Ingest-latency-bound pipelines that rarely serve
        pairs want False; anything serving dedup decisions
        continuously wants True.

        ``verify_every`` widens the same trade between those poles for
        drift-heavy streams (the write-side cost of live verification
        measured 3.2-3.6x on store builds): with N > 1, pair
        VERIFICATION runs every Nth batch over all pairs discovered
        since the last one, while candidates and df-cap flip deltas
        are still committed per batch — so the deferred verify needs
        no history replay and lands exactly (rows verified at the
        flush seq; strictly-older flips never apply to them).
        Between flushes, verified_pairs() serves the last flushed
        snapshot: pairs from the pending batches are not yet visible
        (bounded staleness of < N batches); flush_pairs() forces
        exactness on demand, and compact() flushes first."""
        store = cls(spark, path, num_perms)
        store.fs.makedirs(path, exist_ok=False)
        meta = {"pair_stats_live": bool(maintain_pairs)}
        meta["verify_every"] = max(1, int(verify_every))
        if bucket_parts is not None:
            meta["bucket_parts"] = int(bucket_parts)
        if doc_parts is not None:
            meta["doc_parts"] = int(doc_parts)
        if shingle_parts is not None:
            meta["shingle_parts"] = int(shingle_parts)
        # which shingles segments the inverted shingle_docs table
        # reflects (round 11): batch commits append to shingles ONLY —
        # the flip lookup reads uncovered batch segments doc-keyed
        # (they are batch-sized coarse scans either way; staging an
        # inverted copy per batch measured +18% on sf10 drift updates
        # for zero read benefit) — and compaction folds them into the
        # spart-pruned inverted rewrite, updating this list. A meta
        # WITHOUT this key is a pre-fix flip_rev-2 store whose
        # shingle_docs was maintained in lockstep every commit
        # (covers everything; uncovered = []).
        meta["shingle_docs_covers"] = []
        store._commit_segments([], meta=meta)
        return store

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "DedupArtifacts":
        store = cls(spark, path)
        store._load_meta(store._stat_meta())
        return store

    def _all_tables(self) -> list[str]:
        return list(self.TABLES)

    def _normalize_meta(self, meta: dict) -> None:
        super()._normalize_meta(meta)  # versions + on-disk manifest decode
        meta.setdefault("n_docs", 0)
        meta.setdefault("nd_shingled", 0)
        meta.setdefault("tenants", {})
        meta.setdefault("num_perms", params.MINHASH_PERMS)
        meta.setdefault("simhash_bits", 32)
        meta.setdefault("lsh_bands", params.LSH_BANDS)
        meta.setdefault("bucket_parts", params.ARTIFACT_BUCKET_PARTS)
        meta.setdefault("doc_parts", params.ARTIFACT_DOC_PARTS)
        meta.setdefault("shingle_parts", params.ARTIFACT_SHINGLE_PARTS)
        # a meta written before this field existed is the round-8
        # layout: no doc_ids registry, no stored bucket table
        meta.setdefault("schema_rev", 1)
        # stores written before flip-delta maintenance keep the rev-2
        # drift path (their pair rows lack sizes)
        meta.setdefault("pair_rev", 2)
        meta.setdefault("pair_seq", 0)
        # legacy stores have no maintained pair_stats table; their
        # verified_pairs() serves the read-time full verify until
        # migrate_layout backfills
        meta.setdefault("pair_stats_live", False)
        # pre-round-10 metas never counted outstanding flips; 0 means
        # the segment-count trigger alone guards them until their next
        # compaction starts the count fresh
        meta.setdefault("flip_rows_live", 0)
        # deferred pair verification (round 10): batches-per-verify and
        # the per-tenant cand_pairs segments awaiting their flush
        meta.setdefault("verify_every", 1)
        meta.setdefault("pair_unverified", {})
        # stores written before round 11 lack the inverted shingle->doc
        # table and the pair-endpoint registry: their flip lookups keep
        # the corpus-scan path until compact() backfills both tables
        # (completeness is the upgrade invariant — a PARTIAL inverted
        # table would silently drop flip rows for pre-upgrade docs)
        meta.setdefault("flip_rev", 1)

    @property
    def num_perms(self) -> int:
        return int(self._meta["num_perms"])

    @property
    def simhash_bits(self) -> int:
        return int(self._meta["simhash_bits"])

    @property
    def lsh_bands(self) -> int:
        return int(self._meta["lsh_bands"])

    @property
    def schema_rev(self) -> int:
        return int(self._meta["schema_rev"])

    @property
    def _flip_rev(self) -> int:
        return int(self._meta.get("flip_rev", 1))

    # ---------------- layout expressions ----------------

    def _bpart_col(self, bucket_col):
        return F.pmod(
            F.xxhash64(bucket_col), F.lit(int(self._meta["bucket_parts"]))
        ).cast("int")

    def _dpart_col(self, doc_col):
        return F.pmod(
            F.xxhash64(doc_col), F.lit(int(self._meta["doc_parts"]))
        ).cast("int")

    def _spart_col(self, shingle_col):
        return F.pmod(
            F.xxhash64(shingle_col), F.lit(int(self._meta["shingle_parts"]))
        ).cast("int")

    def _stage_one(
        self, staged: list, table: str, df: DataFrame, fine: bool = False
    ) -> None:
        """Write ``df`` as a fresh seg-* segment of ``table`` and note
        it in ``staged`` for the commit's _commit_segments call."""
        seg, p = self._stage_path(table)
        self._write_segment(table, df, p, fine=fine)
        staged.append((table, seg))

    def _write_segment(
        self, table: str, df: DataFrame, path: str, fine: bool = False
    ) -> None:
        """Stage one segment with the table's physical layout — the
        LSM trade: per-BATCH segments (fine=False) are batch-sized, so
        they write coarse (tenant dirs only, bpart/dpart as plain
        sorted columns — a full scan of a batch-sized segment is
        cheaper than opening hundreds of per-partition files, and the
        measured cost of fine-partitioning every micro-batch was 10x
        on update latency); COMPACTED segments (fine=True) hold the
        accumulated corpus state, so they get the full point-lookup
        treatment: hive partitions on (tenant, bpart) for the bucket
        table / (tenant, dpart) for doc-keyed tables, rows sorted by
        the lookup key inside each file (row-group min/max locality).
        Pruned reads filter on
        bpart/dpart either way — partition pruning on the big
        compacted segments, a cheap batch-sized scan on the rest.

        ``path`` is the LOGICAL segment root; Spark writes through
        fs.spark_write_path (identity locally, a staging dir for
        non-local schemes) and fs.publish uploads staged files —
        _commit_segments then manifests the published segment."""
        logical = path
        path = self.fs.spark_write_path(path)
        if table == "buckets":
            # no parquet bloom filter on `bucket`: it was measured to
            # inflate a fine-partitioned segment ~700x (parquet-mr
            # sizes blooms for a default 1M NDV — ~1.2 MB per file —
            # while a partition dir holds a few KB of rows), and Spark
            # only pushes small IN lists anyway; partition pruning on
            # bpart plus the in-file sort (row-group min/max) carry
            # the point-lookup path.
            w = (
                df.repartition("tenant", "bpart")
                .sortWithinPartitions("tenant", "bpart", "bucket")
                if fine
                else df.coalesce(_COARSE_FILES).sortWithinPartitions("bucket")
            ).write.mode("overwrite")
            w.partitionBy(*(("tenant", "bpart") if fine else ("tenant",))).parquet(
                path
            )
        elif table in ("doc_ids", "shingles"):
            w = (
                df.repartition("tenant", "dpart")
                .sortWithinPartitions("tenant", "dpart", "doc_id")
                if fine
                else df.coalesce(_COARSE_FILES).sortWithinPartitions("doc_id")
            ).write.mode("overwrite")
            w.partitionBy(*(("tenant", "dpart") if fine else ("tenant",))).parquet(
                path
            )
        elif table in ("df", "shingle_docs"):
            # shingle-keyed tables share the spart layout: compacted
            # segments hive-partition on (tenant, spart) and sort by
            # shingle within files, so flip-commit lookups prune to the
            # flipped shingles' partitions (static pruning) and land on
            # row groups via min/max
            w = (
                df.repartition("tenant", "spart")
                .sortWithinPartitions("tenant", "spart", "shingle")
                if fine
                # coarse segments lead the in-file sort with spart so
                # the lookup's pushed spart IN-list skips row groups
                # via min/max — partition pruning's poor-man's twin for
                # batch-sized segments that deliberately avoid the
                # many-small-files hive layout (matters for the
                # round-12 inverted slivers, which are read ONLY
                # through spart-pruned lookups)
                else df.coalesce(_COARSE_FILES).sortWithinPartitions(
                    "spart", "shingle"
                )
            ).write.mode("overwrite")
            w.partitionBy(*(("tenant", "spart") if fine else ("tenant",))).parquet(
                path
            )
        else:
            df.coalesce(_COARSE_FILES).write.mode("overwrite").partitionBy(
                "tenant"
            ).parquet(path)
        self.fs.publish(logical)

    def _write_segments_one_pass(
        self, entries: list[tuple[str, DataFrame, str]]
    ) -> None:
        """Stage SEVERAL coarse per-batch segment tables with ONE
        Spark write job (round 16, guide §1.2 step 1 / §2.4 — one job
        submission + one parquet commit-protocol pass instead of one
        per table; a commit staged 9 table writes on a 4-wide pool).
        The frames are unioned over the superset of their schemas with
        a ``__t`` discriminator, written
        ``partitionBy(__t, tenant)`` into a throwaway staging root,
        and each ``__t=<table>`` subtree renamed into that table's
        reserved segment dir — the post-rename directory layout
        (tenant dirs under the segment root) is byte-identical in
        SHAPE to _write_segment's coarse arm.

        Per-table in-file sort keys survive: the union sorts by
        (__t, tenant, __kn, __ks) with the generic key pair mapped per
        table (_ONE_PASS_SORT) — leading with the write's partition
        columns means FileFormatWriter's required ordering is already
        satisfied and no second sort reorders rows. The union is
        coalesced, never repartitioned: no shuffle is added at any
        scale.

        The one observable file-level difference: every file carries
        the UNION schema, other tables' columns as all-null chunks.
        Readers never see them — segment reads project to the table's
        declared schema (_read_uncached drops undeclared columns) —
        and the per-table row contents, partition dirs and sort order
        are unchanged."""
        import shutil as _shutil
        import uuid as _uuid
        from functools import reduce

        # unified (name -> type) field map; a same-name/different-type
        # collision would silently corrupt a table, so it hard-fails
        fields: dict[str, T.DataType] = {}
        for table, df, _p in entries:
            for f in df.schema.fields:
                prev = fields.setdefault(f.name, f.dataType)
                if prev != f.dataType:
                    raise ValueError(
                        f"single-pass stage: column {f.name!r} of "
                        f"{table!r} conflicts ({f.dataType} vs {prev})"
                    )
        names = [n for n in fields if n != "tenant"]
        parts = []
        for table, df, _p in entries:
            have = set(df.columns)
            kn, ks = _ONE_PASS_SORT.get(table, (None, None))
            cols = [F.lit(table).alias("__t"), F.col("tenant")]
            cols += [
                (
                    F.col(n) if n in have else F.lit(None).cast(fields[n])
                ).alias(n)
                for n in names
            ]
            cols.append(
                (
                    F.col(kn).cast("long") if kn else F.lit(None).cast("long")
                ).alias("__kn")
            )
            cols.append(
                (
                    F.col(ks).cast("string")
                    if ks
                    else F.lit(None).cast("string")
                ).alias("__ks")
            )
            # coalesce PER ENTRY, before the union: a global coalesce
            # over the union would throttle every subtree's
            # post-shuffle compute into _COARSE_FILES tasks TOTAL
            # (measured: slower walls despite the job cut) — per-entry
            # coalescing reproduces the classic writes' parallelism
            # (each table's own _COARSE_FILES tasks, all schedulable
            # in the one job) and, because union concatenates child
            # partitions without mixing, each final task still holds
            # one table's rows: per-table file counts and in-file sort
            # stay exactly the classic coarse shape.
            parts.append(df.select(*cols).coalesce(_COARSE_FILES))
        u = reduce(lambda a, b: a.unionByName(b), parts)
        staging_logical = os.path.join(
            self.path, f"_stage1p-{_uuid.uuid4().hex[:12]}"
        )
        wlocal = self.fs.spark_write_path(staging_logical)
        try:
            (
                u.sortWithinPartitions("__t", "tenant", "__kn", "__ks")
                .drop("__kn", "__ks")
                .write.mode("overwrite")
                .partitionBy("__t", "tenant")
                .parquet(wlocal)
            )
            for table, _df, p in entries:
                src = os.path.join(wlocal, f"__t={table}")
                dst = self.fs.spark_write_path(p)
                # LocalFS's identity mapping creates nothing — on a
                # table's first commit its dir does not exist yet
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                if os.path.isdir(src):
                    os.rename(src, dst)
                else:
                    # empty frame: no files were written for the
                    # partition — reserve the empty segment dir, like
                    # an empty coarse write
                    os.makedirs(dst, exist_ok=True)
                self.fs.publish(p)
        finally:
            # staging remnants (the _SUCCESS marker, or everything on
            # failure) — crash leftovers are invisible to readers (the
            # root is outside every table dir) and cheap to re-create
            _shutil.rmtree(wlocal, ignore_errors=True)

    def _read_table_segments(
        self, table: str, segs: list[str], schema: T.StructType
    ) -> DataFrame:
        """Open a SUBSET of a table's committed segments (the deferred
        verify reads only the cand_pairs segments pending a flush) —
        the exact _read_uncached protocol (manifest-first, moved-dir
        fallback, footerless guard), restricted to ``segs``."""
        return self._read_uncached(table, schema, segs=segs)

    def pending_pair_batches(self, tenant: int | None = None) -> int:
        """Batches committed since the last pair verification (0 on a
        live-verified store): verified_pairs() does not yet see the
        pairs these batches discovered — call flush_pairs() (or wait
        for the next Nth-batch flush) for exactness."""
        pend = self._meta.get("pair_unverified", {})
        if tenant is not None:
            return len(pend.get(str(int(tenant)), []))
        return sum(len(v) for v in pend.values())

    def flush_pairs(self, tenant: int | None = None) -> int:
        """Run the DEFERRED pair verification now (verify_every > 1):
        verify every pending candidate pair against the current capped
        sets and commit, making verified_pairs() exact again. Returns
        the number of tenants flushed. compact() calls this first —
        the pending list references segment names a compaction rewrite
        would retire."""
        flushed = 0
        with self._writer_lock():
            pend_map = self._meta.get("pair_unverified", {})
            tkeys = (
                [str(int(tenant))]
                if tenant is not None
                else sorted(pend_map)
            )
            for tkey in tkeys:
                pending = list(pend_map.get(tkey, []))
                if not pending:
                    continue
                t = int(tkey)
                t_lit = F.lit(t)
                cand_v = (
                    self._read_table_segments(
                        "cand_pairs", pending, _PAIR_SCHEMA
                    )
                    .select("doc_a", "doc_b")
                    .distinct()
                    .persist()
                )
                empty_sh = self.spark.createDataFrame(
                    [], "doc_id long, shingle string"
                )
                empty_bdf = self.spark.createDataFrame(
                    [], "shingle string, df long"
                )
                staged: list[tuple[str, str]] = []
                stage = functools.partial(self._stage_one, staged)

                try:
                    new_seq = self._stage_pair_stats(
                        empty_sh, empty_bdf, cand_v, t, 0, stage, t_lit
                    )
                finally:
                    cand_v.unpersist()
                self._commit_segments(
                    staged,
                    meta={
                        "pair_seq": new_seq,
                        "pair_unverified": {
                            **self._meta.get("pair_unverified", {}),
                            tkey: [],
                        },
                    },
                )
                flushed += 1
        return flushed

    def _read_t(
        self, table: str, schema: T.StructType, tenant: int | None = None
    ) -> DataFrame:
        """_read with the tenant dimension handled: the tenant filter
        is applied on the RAW partition column (so it stays a
        partition filter and prunes tenant directories — a filter on
        the normalized coalesce() would not push down), then the
        column is normalized: segments written before the tenant
        dimension existed read as NULL via allowMissingColumns and
        belong to tenant 0, the implicit tenant of every pre-tenancy
        store."""
        out = self._read(table, schema)
        if "tenant" not in out.columns:
            return out.withColumn("tenant", F.lit(0))
        if tenant is not None:
            t = int(tenant)
            pred = F.col("tenant") == t
            if t == 0:
                # legacy (pre-tenancy) segments surface tenant as NULL
                pred = pred | F.col("tenant").isNull()
            out = out.filter(pred)
        return out.withColumn(
            "tenant", F.coalesce(F.col("tenant").cast("int"), F.lit(0))
        )

    # ---------------- write side ----------------

    def update(
        self,
        documents: DataFrame,
        idempotency_token: tuple[str, int] | None = None,
        tenant: int = 0,
        auto_maintain: bool | None = None,
    ) -> dict:
        """Ingest one batch of NEW documents (doc_id, text) for one
        tenant: sign, band, and collision-join against the stored
        corpus — cost proportional to the batch (the old side is read
        only through the bucket-table partitions the batch's keys hash
        to). One writer-locked commit publishes all tables' new
        segments atomically; ``idempotency_token`` = (source_key,
        batch_id) rides in the same flip, so a streaming replay of a
        committed batch is a no-op (same contract as Index.add).

        doc_ids already present in the store (for this tenant) are
        dropped — the guard anti-joins the doc_ids REGISTRY, which
        covers every ingested doc including ones too short to shingle
        or tokenize, so re-ingesting any batch is safe even without a
        token. Returns {"docs": n, "pairs": n}."""
        if idempotency_token is not None:
            key, bid = idempotency_token
            if int(bid) <= self._meta.get("stream_batches", {}).get(key, -1):
                return {"docs": 0, "pairs": 0, "replayed": True}
        with self._writer_lock():
            # the lock re-synced meta; re-check the replay watermark
            # against the LATEST committed state
            if idempotency_token is not None:
                key, bid = idempotency_token
                if int(bid) <= self._meta.get("stream_batches", {}).get(key, -1):
                    return {"docs": 0, "pairs": 0, "replayed": True}
            out = self._update_locked(documents, idempotency_token, int(tenant))
            # self-triggering maintenance: still under the writer lock
            # (the re-entrant acquire), so no concurrent STAGER exists.
            # Two arms with very different costs:
            #   - segment accretion -> FULL compact (corpus rewrite,
            #     ~80 s at the sf10 probe) — amortized by the 16-
            #     segment threshold;
            #   - outstanding flip rows -> flip-only FOLD (round 11:
            #     appends ONE touched-pairs segment, cost ∝ the rows
            #     flips actually adjust) — cheap enough to run whenever
            #     the threshold is crossed. On flip_rev 2 stores the
            #     trigger itself fires far less often: flip staging is
            #     endpoint-restricted, so the 1-3M rows per 10k-doc
            #     batch the r10 sf10 tail measured collapse to the
            #     pair-endpoint subset.
            # The vacuum keeps a grace period: the writer lock excludes
            # writers, not READERS — a serving process may hold a lazy
            # plan over the pre-compaction segment list.
            # tiered (round 11, shared SegmentStore machinery):
            # segment accretion is normally answered by the
            # batch-proportional MINOR merge; the corpus rewrite runs
            # only when real debt accrued (tombstones, batch tier
            # rivaling the base) — at 100 TB "full compact every 16
            # micro-batches" is itself the scale cliff.
            # ``auto_maintain=False`` skips COMPACTION routing for
            # this call only (stream_artifacts' explicit cadence) —
            # the fold trigger below stays live: fold debt is serve
            # exposure, not a compaction-schedule concern, and a
            # drift-heavy stream on a long cadence must not carry a
            # growing flip-adjustment join until the scheduled
            # compact (ADVICE r11). auto_compact=False (the
            # attribute) remains the full opt-out of both.
            if auto_maintain is None or auto_maintain:
                out.update(self._auto_maintain())
            if (
                not out.get("compacted")
                and getattr(self, "auto_compact", True)
                and self._segments("flip_docs")
                and self._fold_due()
            ):
                self.fold_flips()
                out["folded"] = True
            return out

    def _fold_due(self) -> bool:
        """Route the fold trigger in the currency it actually bounds
        (round 12, VERDICT r11 #2): estimated serve read-through cost
        of the outstanding flip set, with the flat row count kept only
        as a backstop. The row constant was hand-retuned once already
        — the pre-restriction 2M value let a 38.9 s serve exposure
        through when the endpoint restriction tripled the per-row
        match rate — so any future change to flip volume-per-batch
        would silently re-expose the cliff until a replay caught it;
        the cost estimate is invariant to such shifts because it
        prices the MATCHES, not the rows."""
        fr = int(self._meta.get("flip_rows_live", 0))
        if fr <= 0:
            return False
        cost = self._fold_cost_rows()
        if cost is not None and cost >= int(params.ARTIFACT_FOLD_COST_ROWS):
            return True
        return fr >= int(params.ARTIFACT_AUTOCOMPACT_FLIP_ROWS)

    def _fold_cost_rows(self) -> int | None:
        """Estimated serve read-through cost of the OUTSTANDING flip
        set, in join input+output rows. _pair_current's adjustment
        scans the live flip rows and joins them against stored pair
        rows on each endpoint, so its cost is

            flip_rows            (scan + hash build)
          + flip_rows * degree   (expected matches: an endpoint-
                                  restricted flip doc IS a pair
                                  endpoint and participates in
                                  ~degree = 2*pair_rows/endpoint_docs
                                  stored pairs)

        Both stats are driver-side manifest metadata (footer row
        counts memoized per immutable segment, byte-ratio estimated
        for segments with no local footer). None when unavailable —
        _fold_due then falls back to the flat row bound. pair_stats
        superseded rows inflate the estimate and duplicate pair_docs
        endpoints deflate it; both are bounded between full compacts
        and err is acceptable in a trigger (early fold = a few
        seconds of fold work; the constant bounds the late side)."""
        fr = int(self._meta.get("flip_rows_live", 0))
        if fr <= 0 or not self._segments("flip_docs"):
            return 0
        pr = self._table_rows("pair_stats")
        ep = self._table_rows("pair_docs")
        if not pr or not ep:
            return None
        degree = 2.0 * pr / ep
        return int(fr * (1.0 + degree))

    # every table minor-merges, including (round 12) shingle_docs:
    # its per-merge inverted slivers (_minor_companion) are level-0
    # segments like any batch segment, and merging them bounds the
    # inverted road's scan-branch count between full compacts.
    # flip_docs IS minor-merged — merging preserves the row multiset,
    # so fold_flips' arithmetic and the flip_rows_live count are
    # untouched, and WITHOUT it a drift-heavy stream accretes one flip
    # segment per batch until the count backstop forces the very full
    # compact the tiered policy exists to avoid.
    _MINOR_SKIP = ()
    # flip bytes are fold_flips' business (bounded by the flip-row
    # trigger), not full-compact debt
    _TIER_BYTES_SKIP = ("flip_docs",)
    _MINOR_SCHEMAS = {
        "doc_ids": _DOCID_SCHEMA,
        "shingles": _SHINGLE_SCHEMA,
        "df": _DF_SCHEMA,
        "cand_pairs": _PAIR_SCHEMA,
        "simhash": _SIMHASH_SCHEMA,
        "buckets": _BUCKET_SCHEMA,
        "pair_stats": _PAIRSTAT_SCHEMA,
        "removed_ids": _DOCID_SCHEMA,
        "pair_docs": _PAIRDOC_SCHEMA,
        "flip_docs": _FLIP_SCHEMA,
        "shingle_docs": _SHDOC_SCHEMA,
    }

    def _minor_schema(self, table):
        # the declared schema also projects the subset read: files of
        # single-pass-staged segments carry the commit's union columns
        # (see _write_segments_one_pass), which a merge must not copy
        if table == "signatures":
            return self._sig_schema()
        return self._MINOR_SCHEMAS.get(table)

    def _minor_excluded(self, table):
        """Segment names other meta state references BY NAME:
        cand_pairs segments pending a deferred verify
        (pair_unverified). Covered shingles segments are NOT excluded
        anymore (round 12): _minor_companion advances
        shingle_docs_covers from the retired member names to the
        merged segment in the same flip, so the covers reference can
        never dangle — and excluding them would block the m1 -> m2
        cascade for the one table whose coverage the flip lookup
        depends on."""
        if table == "cand_pairs":
            return {
                s
                for lst in self._meta.get("pair_unverified", {}).values()
                for s in lst
            }
        return set()

    def _minor_reduce(self, table, df):
        """Size reductions that are exact for their consumers,
        mirroring compact(): df pre-aggregates to one row per
        (tenant, spart, shingle) and drops zeroed shingles (reads sum
        segments and treat absent as 0), cand_pairs and pair_docs
        dedupe (set semantics — semi-joins and distinct reads). The
        tenant column normalizes NULL (pre-tenancy segments) to 0,
        which every read already does."""
        if "tenant" in df.columns:
            df = df.withColumn(
                "tenant", F.coalesce(F.col("tenant").cast("int"), F.lit(0))
            )
        else:
            # a merge group of pure pre-tenancy segments: surface the
            # implicit tenant 0 explicitly — _write_segment partitions
            # on it, and reads already treat NULL/absent as 0
            df = df.withColumn("tenant", F.lit(0))
        if table == "df":
            df = (
                df.groupBy("tenant", "spart", "shingle")
                .agg(F.sum("df").alias("df"))
                .filter(F.col("df") != 0)
            )
        elif table in ("cand_pairs", "pair_docs"):
            df = df.distinct()
        return df

    def _minor_write(self, table, df, path):
        self._write_segment(table, df, path)

    def _minor_companion(self, table, merged, seg, meta):
        """Extend shingle_docs coverage at minor-compact time
        (round 12, VERDICT r11 #1): when a group of shingles segments
        merges into an m<L>-* tier segment, build the INVERTED sliver
        (same rows, spart-keyed) for the group members NOT already in
        shingle_docs_covers, stage it as a shingle_docs segment for
        the same meta flip, and advance covers from the retired
        member names to the merged segment. This keeps the
        flip-commit lookup's uncovered doc-keyed read at ONE FANOUT
        of batches: previously minor merges moved batch rows into
        uncovered m-tier segments that every drift commit re-read
        wholesale, a set the debt policy lets grow to ~25% of corpus
        shingle bytes between full compacts — the last
        corpus-proportional term on the steady-state drift path.
        Sliver cost ∝ merged segment bytes, never corpus; a row is
        inverted at most once per level (all-covered cascade groups
        stage nothing — their rows are already in shingle_docs, so
        only covers advances). Slivers are ordinary level-0 segments:
        the generic loop merges them at the same fanout, and the full
        compact's v* rewrite retires them wholesale."""
        if table != "shingles" or self._flip_rev < 2:
            return [], {}
        covers = meta.get("shingle_docs_covers")
        if covers is None:
            # lockstep-legacy store (pre-covers): shingle_docs already
            # holds every shingles row; nothing to extend
            return [], {}
        cset = set(covers)
        uncovered = [s for s in merged if s not in cset]
        staged = []
        if uncovered:
            raw = self._read_table_segments(
                "shingles", uncovered, _SHINGLE_SCHEMA
            )
            if "tenant" not in raw.columns:
                raw = raw.withColumn("tenant", F.lit(0))
            sliver = raw.select(
                F.coalesce(F.col("tenant").cast("int"), F.lit(0)).alias(
                    "tenant"
                ),
                self._spart_col(F.col("shingle")).alias("spart"),
                "shingle",
                "doc_id",
            )
            self._stage_one(staged, "shingle_docs", sliver)
        mset = set(merged)
        return staged, {
            "shingle_docs_covers": [s for s in covers if s not in mset]
            + [seg]
        }

    def _drop_empty_flip_segments(self, staged):
        """(staged', flip_rows): footer-count the staged flip_docs
        segments (driver-side metadata, no job) and DROP the zero-row
        ones before the commit. The endpoint restriction makes empty
        flip frames common (a crossing shingle contained only by
        pairless docs semi-joins to nothing — pre-round-11 a crossing
        df > 0 guaranteed containing docs); committing one would put a
        permanent flip-adjustment join on every read that the row-count
        fold trigger (sum stays 0) could never clear."""
        rows = {
            (t, s): self._staged_rows(os.path.join(self.path, t, s))
            for t, s in staged
            if t == "flip_docs"
        }
        empty = {k for k, n in rows.items() if n == 0}
        for t, s in empty:
            self.fs.rmtree(os.path.join(self.path, t, s))
        return (
            [x for x in staged if x not in empty],
            sum(rows.values()),
        )

    def _extra_full_compact_due(self):
        """Tombstone debt: removed_ids bytes reaching a fraction of
        doc_ids bytes (same row shape, so the byte ratio tracks the
        dead fraction every read anti-joins and the base tier
        carries until the rewrite purges it). Unknown sums (backend
        could not stat a file — _tier_bytes returns None, never a
        silent 0) skip the ratio: the next evaluation retries."""
        doc_base, doc_batch = self._tier_bytes("doc_ids")
        rem_base, rem_batch = self._tier_bytes("removed_ids")
        if None in (doc_base, doc_batch, rem_base, rem_batch):
            return False
        return rem_base + rem_batch >= float(
            params.ARTIFACT_FULLCOMPACT_TOMBSTONE_FRAC
        ) * max(doc_base + doc_batch, 1)

    def fold_flips(self) -> None:
        """Fold every outstanding flip-delta row into the pair rows
        WITHOUT the full compact, picking the cheaper of two exact
        physical shapes by the estimated touched fraction (the sf10
        probe measured BOTH regimes: at 10k-doc drift batches the
        outstanding flips touched 96% of 19.3M pairs and a row-scoped
        fold paid its pre-filter for nothing — 131 s vs ~108; in the
        1k-batch steady state flipped endpoints are a few percent of
        pair endpoints and a full rewrite pays the whole table for a
        sliver of touched rows):

        - ROW-SCOPED (touched estimate < 50%): append ONE segment
          holding only the TOUCHED pairs (rows some outstanding flip
          actually applies to), re-emitted flip-adjusted at the
          current seq. Exact by the max-seq rule: a touched pair's
          old row had seq < flip seq <= pair_seq, so the folded row
          strictly supersedes it; an untouched pair's stored values
          are already post-flip-exact once the flip table clears.
          Write cost ∝ touched pairs, not table size.
        - FULL (touched estimate >= 50%, or no endpoint registry to
          estimate from): rewrite pair_stats as one v<N> segment of
          current flip-adjusted stats — cheaper than row-scoping when
          most rows re-emit anyway, and it collapses the segment list.

        The estimate costs two small counts (distinct flip-endpoint
        docs vs distinct pair-endpoint docs; a pair is touched iff an
        endpoint flipped, so with endpoint fraction f the touched
        fraction is ~1-(1-f)^2). Both shapes clear the flip table in
        the same meta flip. Tombstoned docs' rows are kept (reads
        anti-join them; the next full compact purges); zeroed pairs
        are kept for up-flip revival, exactly as in compact().

        Why not hive-partition pair_stats and prune the fold to
        flip-touched partitions (VERDICT r10's sketch): flipped docs
        are xxhash64-uniform over any partition count, so by the 2M
        flip-row trigger point essentially EVERY partition contains a
        flipped doc — static pruning keeps the full scan; and a pair
        is an edge, so a doc_a-keyed layout cannot prune the doc_b
        side at all. The row-granular pre-filter achieves the actual
        goal in the regime where it matters, and the estimator backs
        off to the full rewrite where it doesn't."""
        with self._writer_lock():
            if not self._segments("flip_docs"):
                return
            fl = self._read_t("flip_docs", _FLIP_SCHEMA, None)
            ends = fl.select("tenant", "doc_id").distinct()
            row_scoped = False
            if self._segments("pair_docs"):
                n_flip = ends.count()
                n_ends = (
                    self._read_t("pair_docs", _PAIRDOC_SCHEMA, None)
                    .select("tenant", "doc_id")
                    .distinct()
                    .count()
                )
                f = n_flip / max(n_ends, 1)
                row_scoped = (1.0 - (1.0 - min(f, 1.0)) ** 2) < 0.5
            sel = [
                "tenant",
                "doc_a",
                "doc_b",
                "n_common",
                "na",
                "nb",
                "jaccard",
                F.lit(int(self._meta.get("pair_seq", 0)))
                .cast("bigint")
                .alias("seq"),
            ]
            staged: list[tuple[str, str]] = []
            replace: list[tuple[str, str]] = []
            if row_scoped:
                folded = (
                    self._pair_current(
                        None, endpoints=ends, with_touched=True
                    )
                    .filter(F.col("_touched"))
                    .select(*sel)
                )
                self._stage_one(staged, "pair_stats", folded)
            else:
                new_v = self._version("pair_stats") + 1
                folded = self._pair_current(None).select(*sel)
                self._write_segment(
                    "pair_stats",
                    folded,
                    self._table_path("pair_stats", new_v),
                    fine=True,
                )
                replace.append(("pair_stats", f"v{new_v}"))
            self._commit_segments(
                staged,
                replace=replace,
                retire={"flip_docs": self._segments("flip_docs")},
                meta={"flip_rows_live": 0},
            )

    def _staged_rows(self, root: str) -> int:
        """Row count of a freshly staged segment from its parquet
        footers — driver-side metadata reads over the LOCAL bytes this
        process just wrote (the staging copy on non-local schemes), no
        Spark job. Uses the side-effect-free staged_local_path:
        spark_write_path would mkdir AND drop the publish memo, forcing
        _commit_segments' publish to re-upload every already-published
        file of the segment (a doubled upload per drift commit on
        non-local schemes)."""
        import pyarrow.parquet as pq

        total = 0
        for wr, _dirs, files in os.walk(self.fs.staged_local_path(root)):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(
                        os.path.join(wr, f)
                    ).metadata.num_rows
        return total

    def _known_doc_ids(self, tenant: int, dparts: list[int] | None) -> DataFrame | None:
        """The already-present registry for the anti-join guard. On the
        current layout this is the doc_ids table pruned to the batch's
        dpart partitions; on a rev-1 (round-8) store it falls back to
        signatures ∪ simhash doc_ids — the best available cover there
        (a rev-1 doc with neither shingles nor tokens is untracked;
        migrate_layout documents the caveat)."""
        if self.schema_rev >= 2:
            if not self._segments("doc_ids"):
                return None
            out = self._read_t("doc_ids", _DOCID_SCHEMA, tenant)
            if dparts is not None:
                out = out.filter(F.col("dpart").isin([int(d) for d in dparts]))
            return out.select("doc_id")
        frames = []
        if self._segments("signatures"):
            frames.append(self.signatures(tenant=tenant).select("doc_id"))
        if self._segments("simhash"):
            frames.append(self.fingerprints(tenant=tenant).select("doc_id"))
        if not frames:
            return None
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def _update_locked(
        self, documents: DataFrame, idempotency_token, tenant: int
    ) -> dict:
        raw = documents.select("doc_id", "text").persist()
        try:
            # the batch's doc-partition keys, collected driver-side
            # (bounded by doc_parts) — they prune the known-doc
            # anti-join to the registry partitions that could hold
            # them. Collected ONLY when a registry exists to prune
            # (round 15): on the first batch of a store (and on rev-1
            # stores, whose fallback ignores dparts) the collect was a
            # pure extra Spark job per update.
            dparts = None
            if self.schema_rev >= 2 and self._segments("doc_ids"):
                dparts = [
                    r["dpart"]
                    for r in raw.select(
                        self._dpart_col(F.col("doc_id")).alias("dpart")
                    )
                    .distinct()
                    .collect()
                ]
            known = self._known_doc_ids(tenant, dparts)
            docs = raw
            if known is not None:
                docs = docs.join(known, "doc_id", "left_anti")
            docs = docs.persist()
            n_new = docs.count()
            if n_new == 0:
                # still commit the replay token: an empty batch must
                # advance the watermark or the stream re-delivers it
                if idempotency_token is not None:
                    self._commit_segments([], stream_batch=idempotency_token)
                return {"docs": 0, "pairs": 0}
            try:
                return self._stage_and_commit_batch(
                    docs, n_new, idempotency_token, tenant
                )
            finally:
                docs.unpersist()
        finally:
            raw.unpersist()

    def _stage_and_commit_batch(
        self, docs: DataFrame, n_new: int, idempotency_token, tenant: int
    ) -> dict:
        t_lit = F.lit(int(tenant))
        sh = dedup.doc_shingles(docs).persist()
        wide = dedup.minhash_wide(sh, self.num_perms).persist()
        new_b = (
            dedup.lsh_buckets_wide(
                wide, bands=self.lsh_bands, num_perms=self.num_perms
            )
            .withColumn("bpart", self._bpart_col(F.col("bucket")))
            .persist()
        )
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(
            max_workers=max(1, int(params.ARTIFACT_STAGE_PARALLELISM))
        )
        try:
            staged: list[tuple[str, str]] = []
            futures: list = []
            pending_pass: list[tuple[str, DataFrame, str]] = []

            def stage(table: str, df: DataFrame) -> None:
                # reserve the segment name and buffer the table for the
                # next union write pass (_write_segments_one_pass: one
                # write job for several tables, round 16). Passes are
                # submitted to the staging pool in two waves, so the
                # early wave overlaps the sequential bookkeeping jobs
                # the driver keeps running (counts, collision collects,
                # pair verification staging) — the guide §2.6
                # concurrent-jobs pattern. Plans read only committed
                # segments plus this batch's persisted frames (all
                # unpersisted only after flush_stage joins), so
                # submission time changes WHEN each plan executes,
                # never what it computes. A mid-build exception leaves
                # at worst in-flight staging writes, which the outer
                # finally joins before any unpersist — the segments
                # stay invisible staging orphans, exactly like a crash
                # mid-staging (vacuum collects them).
                seg, p = self._stage_path(table)
                pending_pass.append((table, df, p))
                staged.append((table, seg))

            def submit_stage_pass() -> None:
                if pending_pass:
                    batch = list(pending_pass)
                    pending_pass.clear()
                    futures.append(
                        pool.submit(self._write_segments_one_pass, batch)
                    )

            def flush_stage() -> None:
                # barrier: every staged write visible on disk (the
                # footer-count pass below reads the staged bytes) and
                # the first worker exception propagated
                submit_stage_pass()
                errs = []
                for f in futures:
                    try:
                        f.result()
                    except BaseException as exc:  # noqa: BLE001
                        errs.append(exc)
                futures.clear()
                if errs:
                    # surface the concurrent failures too (ADVICE r15:
                    # re-raising only errs[0] silently discarded the
                    # rest of a 4-wide write wave's diagnostics)
                    for e in errs[1:]:
                        errs[0].add_note(
                            f"suppressed concurrent staging error: {e!r}"
                        )
                    raise errs[0]

            # rev-1 stores don't get the new tables piecemeal: their
            # backfill happens wholesale in migrate_layout (a partial
            # doc_ids/buckets table would duplicate rows when the
            # migration bands the full signature table)
            if self.schema_rev >= 2:
                stage(
                    "doc_ids",
                    docs.select(
                        t_lit.alias("tenant"),
                        self._dpart_col(F.col("doc_id")).alias("dpart"),
                        "doc_id",
                    ),
                )
            stage(
                "shingles",
                sh.select(
                    t_lit.alias("tenant"),
                    self._dpart_col(F.col("doc_id")).alias("dpart"),
                    "doc_id",
                    "shingle",
                ),
            )
            # submit the MAP-ONLY tables (doc_ids + shingles project
            # straight off persisted frames, no exchange) as their own
            # union pass: folding them into the aggregate tables' pass
            # would put a stage barrier between them and the slowest
            # aggregate subtree (a union write's final stage waits for
            # ALL parent exchanges — measured +5s on the bench's
            # 2000-doc batch when everything rode one job)
            submit_stage_pass()
            # NO inverted shingle_docs segment per batch (round-11
            # probe: staging the inverted copy every commit cost +18%
            # on sf10 drift updates while per-batch coarse segments
            # prune nothing — the flip lookup scans uncovered
            # batch-sized segments doc-keyed at the same cost, and
            # compaction builds the spart-pruned inverted rewrite)
            # materializes sh's persisted cache (the eagerly-submitted
            # shingles write races it for first fill — worst case a
            # duplicate fill of a batch-sized cache, and every later
            # consumer reads the winner). Submitted to the pool
            # (round 15): the count is independent of the staged
            # writes and of the bucket-side bookkeeping below, so it
            # overlaps them instead of serializing the driver — the
            # result is joined right before the pair-stats phase
            # needs it (guide §2.6 concurrent jobs).
            nd_batch_f = pool.submit(
                lambda: sh.select("doc_id").distinct().count()
            )
            stage("signatures", wide.select(t_lit.alias("tenant"), *wide.columns))
            bdf = (
                sh.groupBy("shingle")
                .agg(F.count("*").cast("bigint").alias("df"))
                .persist()
            )
            stage(
                "df",
                bdf.select(
                    t_lit.alias("tenant"),
                    self._spart_col(F.col("shingle")).alias("spart"),
                    "shingle",
                    "df",
                ),
            )
            stage(
                "simhash",
                dedup.simhash(docs, bits=self.simhash_bits).select(
                    t_lit.alias("tenant"), "doc_id", "simhash"
                ),
            )
            if self.schema_rev >= 2:
                stage(
                    "buckets",
                    new_b.select(
                        t_lit.alias("tenant"), "bpart", "band", "bucket", "doc_id"
                    ),
                )

            # first single-pass write wave: every table staged so far
            # (doc_ids/shingles/signatures/df/simhash/buckets) rides
            # ONE union write job, submitted before the sequential
            # bookkeeping below so it overlaps the spine (guide §2.6)
            submit_stage_pass()

            # new x (old ∪ new) band collisions, tenant-local. The old
            # side is the STORED bucket table pruned to the batch's
            # bpart partitions (static partition pruning — bounded by
            # the batch's key set, not the corpus); a rev-1 store falls
            # back to banding its signature table. The batch side is
            # broadcast only when provably small.
            bparts = [
                r["bpart"] for r in new_b.select("bpart").distinct().collect()
            ]
            old_b = None
            if self.schema_rev >= 2:
                if self._segments("buckets"):
                    old_b = (
                        self._read_t("buckets", _BUCKET_SCHEMA, tenant)
                        .filter(F.col("bpart").isin([int(b) for b in bparts]))
                        .select("band", "bucket", "doc_id")
                    )
            elif self._segments("signatures"):
                old_b = dedup.lsh_buckets_wide(
                    self.signatures(tenant=tenant),
                    bands=self.lsh_bands,
                    num_perms=self.num_perms,
                )
            left = new_b.select("band", "bucket", "doc_id")
            if old_b is not None:
                left = old_b.unionByName(left)
            right = new_b.select(
                "band", "bucket", F.col("doc_id").alias("db")
            )
            if n_new * self.lsh_bands <= params.ARTIFACT_BROADCAST_ROWS:
                right = F.broadcast(right)
            cand = (
                left.withColumnRenamed("doc_id", "da")
                .join(right, ["band", "bucket"])
                .filter(F.col("da") != F.col("db"))
                .select(
                    F.least("da", "db").alias("doc_a"),
                    F.greatest("da", "db").alias("doc_b"),
                )
                .distinct()
                .persist()
            )
            new_pending = None
            # persisted frames whose staged writes may still be
            # pending (single-pass wave / in-flight pool writes):
            # unpersisted only after the flush barrier below
            held: list = []
            try:
                stage(
                    "cand_pairs",
                    cand.select(t_lit.alias("tenant"), "doc_a", "doc_b"),
                )
                cand_seg = staged[-1][1]
                nd_batch = nd_batch_f.result()
                live = bool(self._meta.get("pair_stats_live"))
                ve = max(1, int(self._meta.get("verify_every", 1)))
                tkey = str(int(tenant))
                pending = (
                    list(self._meta.get("pair_unverified", {}).get(tkey, []))
                    if live
                    else []
                )
                verify_now = live and (ve <= 1 or len(pending) + 1 >= ve)
                # ONE bounded collect doubles as the pair COUNT and the
                # point path's pair ROWS (round 15): on the gate-bounded
                # verify-now common case the old sequence paid a full
                # cand.count() job AND the point path's limit-collect
                # for the same information. Over-gate (or deferred /
                # pending / stats-off) batches keep the count job; the
                # eagerly-submitted cand_pairs write still materializes
                # cand's cache either way.
                prows = None
                n_pairs = None
                if (
                    verify_now
                    and not pending
                    and nd_batch <= params.ARTIFACT_PREFILTER_DOCS
                ):
                    _cap = params.ARTIFACT_PREFILTER_PAIRS
                    prows = (
                        cand.select("doc_a", "doc_b").limit(_cap + 1).collect()
                    )
                    if len(prows) <= _cap:
                        n_pairs = len(prows)  # cand is distinct already
                    else:
                        prows = None
                if n_pairs is None:
                    n_pairs = cand.count()
                new_seq = None
                if live:
                    if verify_now:
                        # verify NOW: this batch's candidates plus every
                        # pair deferred since the last flush, against
                        # the CURRENT capped sets (rows land at the new
                        # seq, so strictly-older flips never re-apply)
                        cand_v = cand
                        if pending:
                            cand_v = (
                                cand.select("doc_a", "doc_b")
                                .unionByName(
                                    self._read_table_segments(
                                        "cand_pairs", pending, _PAIR_SCHEMA
                                    ).select("doc_a", "doc_b")
                                )
                                .distinct()
                                .persist()
                            )
                        try:
                            new_seq = self._stage_pair_stats(
                                sh,
                                bdf,
                                cand_v,
                                tenant,
                                nd_batch,
                                stage,
                                t_lit,
                                prows=prows,
                                keep=held.append,
                            )
                        finally:
                            if cand_v is not cand:
                                cand_v.unpersist()
                        new_pending = []
                    else:
                        # DEFER the verify: flip deltas must still be
                        # committed per batch (df-cap drift waits for
                        # no one) — an empty candidate set turns
                        # _stage_pair_stats into exactly that
                        empty_cand = self.spark.createDataFrame(
                            [], "doc_a long, doc_b long"
                        )
                        new_seq = self._stage_pair_stats(
                            sh, bdf, empty_cand, tenant, nd_batch, stage,
                            t_lit, keep=held.append,
                        )
                        new_pending = pending + [cand_seg]
                # barrier on the in-flight staged writes — before the
                # persisted frames their plans read (sh/wide/new_b/
                # cand/bdf) are unpersisted below, and before the
                # footer-count pass needs the staged bytes on disk
                flush_stage()
            finally:
                cand.unpersist()
                bdf.unpersist()
                for fr in held:
                    fr.unpersist()

            tkey = str(int(tenant))
            tstats = dict(self._meta["tenants"].get(tkey, {"n_docs": 0, "nd_shingled": 0}))
            staged, flip_rows = self._drop_empty_flip_segments(staged)
            meta = {
                "n_docs": int(self._meta["n_docs"]) + n_new,
                "nd_shingled": int(self._meta["nd_shingled"]) + nd_batch,
                "tenants": {
                    **self._meta["tenants"],
                    tkey: {
                        "n_docs": int(tstats["n_docs"]) + n_new,
                        "nd_shingled": int(tstats["nd_shingled"]) + nd_batch,
                    },
                },
                # outstanding-flip accounting for the auto-compact
                # trigger: footer counts of the staged flip segments
                # (driver-side metadata, no job); compact() resets it
                "flip_rows_live": int(self._meta.get("flip_rows_live", 0))
                + flip_rows,
            }
            if new_seq is not None:
                meta["pair_seq"] = new_seq
            if new_pending is not None:
                meta["pair_unverified"] = {
                    **self._meta.get("pair_unverified", {}),
                    tkey: new_pending,
                }
            if self._flip_rev >= 2 and "shingle_docs_covers" not in self._meta:
                # first new-code batch on a store whose shingle_docs
                # was maintained in LOCKSTEP (an inverted segment per
                # commit): record that the inverted table covers
                # everything committed so far — this batch's shingles
                # segment lands outside the list, so the flip lookup
                # reads it doc-keyed until the next compaction folds
                # it in
                meta["shingle_docs_covers"] = list(self._segments("shingles"))
            self._commit_segments(
                staged, stream_batch=idempotency_token, meta=meta
            )
            return {"docs": n_new, "pairs": n_pairs}
        finally:
            # join any in-flight staging writes BEFORE dropping the
            # caches their plans read (normal path: flush_stage has
            # already drained the pool; exception path: cancel what
            # hasn't started, wait out what has — the written
            # segments stay invisible staging orphans)
            pool.shutdown(wait=True, cancel_futures=True)
            sh.unpersist()
            wide.unpersist()
            new_b.unpersist()

    def _df_totals(
        self,
        tenant: int,
        sparts: list[int] | None,
        keys: DataFrame | None = None,
    ) -> DataFrame:
        """Global per-shingle df totals, optionally PRUNED to the
        spart partitions that can hold a given shingle set (spart is a
        pure function of the shingle, so every row of a shingle lives
        in its one partition — the prune is exact). The isNull arm
        keeps pre-spart coarse segments readable (unpruned there).

        ``keys`` (a 1-column `shingle` frame, only passed when
        provably broadcast-small) restricts the AGGREGATE to the
        shingles a consumer will actually read — the broadcast
        semi-join runs map-side against the scan, so the shuffle into
        the groupBy carries a keyset-sized row set instead of the
        table's full vocab. Exact for any consumer that only joins on
        those keys (totals for unrequested shingles are simply
        absent). ``keys`` MUST be a plan LEAF (LocalRelation), never a
        lazy frame: consumers reference this lookup O(joins) deep, and
        nesting a lazy keyset's whole lineage at each reference grew
        Catalyst's plan tree past the 8 GB driver heap at the sf1
        probe (OOM inside TreeNode.treeString while persist() built
        its cachedName)."""
        out = self._read_t("df", _DF_SCHEMA, tenant)
        if sparts is not None:
            out = out.filter(
                F.col("spart").isin([int(x) for x in sparts])
                | F.col("spart").isNull()
            )
        if keys is not None:
            out = out.join(F.broadcast(keys), "shingle", "left_semi")
        return out.groupBy("shingle").agg(
            F.sum("df").cast("bigint").alias("df")
        )

    @staticmethod
    def _local_shingles(spark: SparkSession, vals) -> DataFrame:
        return spark.createDataFrame(
            [(v,) for v in vals],
            T.StructType([T.StructField("shingle", T.StringType())]),
        )

    def _local_pair_stats_frame(
        self, sets_by_doc: dict, prows, t_lit, new_seq: int
    ) -> DataFrame:
        """Driver-tier pair verify (round 15): the gate-bounded commit
        already holds every input driver-side — the pair list (the
        prows collect gate), the involved docs' capped shingle sets
        (the bounded involved-rows collect), and the df lookups — so
        the exact-Jaccard stats are INTEGER set operations here
        instead of a 4-join/3-shuffle Spark query per commit (the
        update's single most expensive tail write, ~4.5 s at the
        bench scenario; same driver-tier discipline as dup_clusters'
        union-find and the prows collect gate itself, with the same
        distributed fallback above the gates).

        n_common/na/nb are exact integers (the shingle table is
        distinct per (doc, shingle) — doc_shingles), so driver
        equality with the distributed verify is exact, not
        approximate. The JACCARD column is deliberately left as the
        SAME Spark expression jaccard_verify_pairs emits, evaluated
        by the LocalRelation write — identical division + F.round
        arithmetic, so the stored bytes cannot diverge by
        float-formatting or rounding-mode differences between Python
        and the JVM. Pinned against the distributed verify by
        test_local_pair_stats_matches_distributed."""
        data = []
        for r in prows:
            a, b = int(r["doc_a"]), int(r["doc_b"])
            A = sets_by_doc.get(a, _EMPTY_SET)
            B = sets_by_doc.get(b, _EMPTY_SET)
            na, nb = len(A), len(B)
            if na > nb:
                A, B = B, A  # iterate the smaller side
            nc = sum(1 for s in A if s in B)
            data.append((a, b, nc, na, nb))
        local = self.spark.createDataFrame(
            data,
            T.StructType(
                [
                    T.StructField("doc_a", T.LongType(), False),
                    T.StructField("doc_b", T.LongType(), False),
                    T.StructField("n_common", T.LongType(), False),
                    T.StructField("na", T.LongType(), False),
                    T.StructField("nb", T.LongType(), False),
                ]
            ),
        )
        z = F.lit(0).cast("bigint")
        return local.select(
            t_lit.alias("tenant"),
            "doc_a",
            "doc_b",
            "n_common",
            "na",
            "nb",
            F.when(
                F.col("n_common") > z,
                F.round(
                    F.col("n_common")
                    / (F.col("na") + F.col("nb") - F.col("n_common")),
                    params.ROUND,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("jaccard"),
            F.lit(new_seq).cast("bigint").alias("seq"),
        )

    # the flip road router reads shingle_docs' per-spart byte layout;
    # persist it at commit so routing is meta-only (no per-file
    # backend stats) even on a cold remote store object
    _SPART_BYTES_TABLES = ("shingle_docs",)

    def _seg_spart_bytes(self, table: str, seg: str) -> dict | None:
        """Per-spart byte map of ONE committed segment: {spart: bytes},
        with key None for files not under a ``spart=`` hive dir
        (coarse batch segments — the inverted road reads those
        wholesale). The COMMIT-TIME map persisted in the meta
        (``seg_spart_bytes``, string keys, "" = coarse) is consulted
        first; the fallback computes from manifest paths +
        driver-side file stats. Memoized per immutable segment like
        _seg_bytes; None — unknown, never 0 — when any file size is
        unknowable right now (uncached, so the next evaluation
        retries: the _tier_bytes protocol)."""
        cache = getattr(self, "_spart_bytes_cache", None)
        if cache is None:
            cache = self._spart_bytes_cache = {}
        key = (table, seg)
        hit = cache.get(key)
        if hit is not None:
            return hit
        p = self._meta.get("seg_spart_bytes", {}).get(table, {}).get(seg)
        if p is not None:
            out = {}
            for k, v in p.items():
                # "" = coarse; non-numeric (e.g. hive's NULL-partition
                # dir) folds into the coarse bucket too — read in full
                try:
                    kk = int(k) if k else None
                except ValueError:
                    kk = None
                out[kk] = out.get(kk, 0) + int(v)
            cache[key] = out
            return out
        root = os.path.join(self.path, table, seg)
        rel = self._meta.get("manifests", {}).get(table, {}).get(seg)
        if rel is None:
            rel = [
                os.path.relpath(os.path.join(wr, f), root)
                for wr, _d, fls in self._fs_walk(root)
                for f in fls
                if f.endswith(".parquet")
            ]
        out: dict = {}
        for r in rel:
            sp = None
            for comp in r.replace(os.sep, "/").split("/"):
                if comp.startswith("spart="):
                    try:
                        sp = int(comp[6:])
                    except ValueError:
                        sp = None
                    break
            try:
                n = self.fs.getsize(os.path.join(root, r))
            except OSError:
                n = None
            if n is None:
                return None
            out[sp] = out.get(sp, 0) + int(n)
        cache[key] = out
        return out

    def _flat_road_cheaper(
        self, sparts: list[int], parts_total: int
    ) -> bool:
        """Route the flip lookup: True = the flat doc-keyed shingles
        scan is the cheaper complete source for the crossing set.

        Primary rule (round 13, VERDICT r12 #6): compare the BYTES the
        spart-pruned inverted read will actually open — the matched
        ``spart=`` partitions of every shingle_docs segment, exact
        from manifest paths and driver-side file stats, plus coarse
        unpartitioned inverted files in full, plus the UNCOVERED
        doc-keyed shingles segments the inverted road unions in raw
        (since-covers batch debt) — against the flat table's total
        bytes, switching to flat at
        ARTIFACT_ROAD_SWITCH_FRAC. Under uniform partition sizes this
        is the r11 matched-partition-count proxy exactly (the fraction
        is the P/4 count threshold through the measured ~1.5x
        bytes-per-matched-fraction amp — sparse_road_probe shows
        identical routing at every swept point); under SKEW it is
        strictly better: a handful of huge matched partitions route
        flat, thousands of tiny ones stay inverted. Tenant pruning
        applies identically down both roads, so cross-tenant bytes
        cancel in the comparison to first order.

        Falls back to the count proxy when any byte stat is
        unknowable (None from the backend — never coerced to 0).
        ``_road_override`` ("flat"/"inverted") bypasses both rules —
        the probes' read-only forcing knob."""
        override = getattr(self, "_road_override", None)
        if override in ("flat", "inverted"):
            return override == "flat"
        sset = {int(x) for x in sparts}
        inv: int | None = 0
        for seg in self._segments("shingle_docs"):
            m = self._seg_spart_bytes("shingle_docs", seg)
            if m is None:
                inv = None
                break
            inv += sum(v for k, v in m.items() if k is None or k in sset)
        if inv is not None:
            # the inverted road ALSO reads the UNCOVERED doc-keyed
            # shingles segments in full (batch commits since the
            # covers snapshot — the union in _crossing_doc_rows), so
            # they belong in its byte total just as they already sit
            # inside the flat total; without them large uncovered
            # debt systematically underestimates the inverted cost
            # and routing can stay inverted past the true crossover
            # (ADVICE r13). covers=None is the lockstep-legacy store:
            # shingle_docs already mirrors everything, uncovered = [].
            covers = self._meta.get("shingle_docs_covers")
            if covers is not None:
                cset = set(covers)
                for seg in self._segments("shingles"):
                    if seg in cset:
                        continue
                    b = self._seg_bytes("shingles", seg)
                    if b is None:
                        inv = None
                        break
                    inv += b
        if inv is not None:
            flat: int | None = 0
            for seg in self._segments("shingles"):
                b = self._seg_bytes("shingles", seg)
                if b is None:
                    flat = None
                    break
                flat += b
            if flat:
                return inv >= float(
                    params.ARTIFACT_ROAD_SWITCH_FRAC
                ) * flat
        return len(sset) >= max(1, parts_total // 4)

    def _crossing_doc_rows(
        self,
        tenant: int,
        crossing: DataFrame,
        sh: DataFrame | None,
        sparts: list[int] | None,
    ) -> DataFrame:
        """(doc_id, shingle, delta) — for each capped-status-crossing
        shingle, the containing docs whose STORED pair rows the flip
        delta must adjust. ``crossing`` is a (shingle, delta) frame.

        flip_rev >= 2 (round 11): the lookup reads the spart-keyed
        INVERTED shingle->doc table pruned to the crossing shingles'
        ``sparts`` (static partition pruning — the inverted table is
        compaction-built, so every segment carries the fine spart
        layout), UNIONED with the doc-keyed shingles segments NOT yet
        folded into it (batch commits since the last compaction —
        batch-sized coarse scans that an inverted per-batch copy
        could not beat; see shingle_docs_covers). Cost ∝
        docs-per-flipped-shingle over the compacted bulk plus the
        since-compaction batch rows, never ∝ corpus. The result is
        then semi-joined to the pair-endpoint registry: a flip row for
        a doc with no stored pair rows adjusts nothing (_pair_current
        joins flips to stored rows, and rows staged at this commit or
        later carry seq >= the flip's — flips apply only at
        k_f > row.seq), so dropping it is EXACT; the in-flight batch's
        docs drop out the same way (they cannot be in any committed
        pair row — the known-doc guard makes them new).

        The inverted read is taken ONLY while the crossing set is
        sparse relative to the partition space: at the sf10 probe's
        drift storm (S=3675, P=1024) 990 of 1024 partitions matched,
        making the inverted read a many-small-files rendition of the
        very scan it replaces. The road choice (_flat_road_cheaper)
        compares the BYTES the pruned inverted read will open against
        the flat table's bytes (round 13 — exact under partition-size
        skew; equivalent to the r11 S >= P/4 matched-partition proxy
        under uniform sizes, which remains the fallback when byte
        stats are unknowable); the endpoint semi-join (the measured
        3x flip-volume cut) applies on both roads. Deployments size
        shingle_parts so steady-state crossing sets stay far under
        the threshold.

        flip_rev 1 (pre-round-11 stores, until compact() backfills the
        two tables): the original corpus-scan-plus-batch union over
        the doc-keyed shingle table."""
        if self._flip_rev >= 2:
            pd_docs = self._read_t(
                "pair_docs", _PAIRDOC_SCHEMA, tenant
            ).select("doc_id")
            parts_total = int(
                self._meta.get("shingle_parts", params.ARTIFACT_SHINGLE_PARTS)
            )
            if sparts is not None and self._flat_road_cheaper(
                sparts, parts_total
            ):
                # crossing set saturates the partition space (by
                # bytes, or by the count proxy when stats are
                # unavailable) — the flat doc-keyed scan is the
                # cheaper complete source (batch docs still excluded:
                # they cannot be in any committed pair row)
                src = self._read_t(
                    "shingles", _SHINGLE_SCHEMA, tenant
                ).select("doc_id", "shingle")
                return src.join(crossing, "shingle").join(
                    pd_docs, "doc_id", "left_semi"
                )
            src = self._read_t("shingle_docs", _SHDOC_SCHEMA, tenant)
            if sparts is not None:
                src = src.filter(
                    F.col("spart").isin([int(x) for x in sparts])
                    | F.col("spart").isNull()
                )
            out = src.select("doc_id", "shingle").join(crossing, "shingle")
            covers = self._meta.get("shingle_docs_covers")
            if covers is not None:
                # batch segments committed since the covers snapshot:
                # their rows exist ONLY doc-keyed — read them raw with
                # _read_t's tenant predicate replicated
                cset = set(covers)
                uncovered = [
                    s for s in self._segments("shingles") if s not in cset
                ]
                if uncovered:
                    raw = self._read_table_segments(
                        "shingles", uncovered, _SHINGLE_SCHEMA
                    )
                    if "tenant" in raw.columns:
                        t = int(tenant)
                        pred = F.col("tenant") == t
                        if t == 0:
                            pred = pred | F.col("tenant").isNull()
                        raw = raw.filter(pred)
                    out = out.unionByName(
                        raw.select("doc_id", "shingle").join(
                            crossing, "shingle"
                        )
                    )
            return out.join(pd_docs, "doc_id", "left_semi")
        src = self._read_t("shingles", _SHINGLE_SCHEMA, tenant).select(
            "doc_id", "shingle"
        )
        if sh is not None:
            src = src.unionByName(sh.select("doc_id", "shingle"))
        return src.join(crossing, "shingle")

    def _commit_pool(self):
        """Shared worker pool for the commit path's overlapped
        read-only lookups (ADVICE r15: previously three ad-hoc
        per-commit ThreadPoolExecutors with inline imports — thread
        spawn/teardown on every commit and an obscured concurrency
        structure). Lazily created, lives for the store object's
        lifetime. 3 workers bound the worst overlap (pending crossing
        count + two df lookups); no task ever submits back into the
        pool, so it cannot deadlock."""
        p = getattr(self, "_commit_pool_obj", None)
        if p is None:
            from concurrent.futures import ThreadPoolExecutor

            p = self._commit_pool_obj = ThreadPoolExecutor(max_workers=3)
        return p

    @staticmethod
    def _join_future(fut) -> None:
        """Cancel-if-unstarted / wait-if-running for a future on the
        shared commit pool — the exception-path barrier the old
        per-commit pool shutdowns provided, without tearing down the
        shared pool."""
        if fut is None or fut.cancel():
            return
        try:
            fut.exception()
        except BaseException:  # noqa: BLE001 — cancelled or failed
            pass

    def _stage_pair_stats_point(
        self, sh, bdf, cand, tenant: int, cap: float, stage, t_lit,
        prows=None, keep=None,
    ) -> int | None:
        """Minimal-job pair_stats maintenance for the streaming hot
        path: cap pinned (cap_old == cap_new) and a gate-bounded
        batch. All control decisions (df-cap crossing, over-cap stop
        set) are made DRIVER-SIDE from two bounded collects, and every
        frame the verify joins is a LocalRelation leaf or a persisted
        scan — so the whole commit costs one shingle-table scan, one
        df-table lookup, and the verify write, each pruned to the
        batch's keys. Measured at the sf1 probe (51k-doc store,
        16-doc batch): this path cut the pair_stats stage from ~37 s
        to under 5 s — entirely Spark job-count and Catalyst
        plan-size, not data volume.

        df-cap drift is handled natively on pair_rev >= 3 stores: the
        crossing shingles (known driver-side, down-flips only under a
        pinned cap) emit flip_docs delta rows — one per containing doc
        — and reads adjust stored pair stats arithmetically (see
        _pair_current). Cost ∝ docs-per-flipped-shingle (~the cap),
        never ∝ touched pairs.

        Returns the new pair seq, the UNCHANGED seq when there is
        nothing to verify or flip, or None to fall back to the general
        path: pair set over ARTIFACT_PREFILTER_PAIRS, involved docs
        over ARTIFACT_PREFILTER_DOCS, or drift on a legacy (pair_rev
        2) store whose rows lack sizes (those re-verify). ``keep``
        defers the unpersist of the persisted involved-doc shingles
        (which a staged legacy verify write reads) to the caller's
        post-flush barrier, as in _stage_pair_stats."""
        max_pairs = params.ARTIFACT_PREFILTER_PAIRS
        if prows is None:
            # caller didn't pre-collect the pair set (flush_pairs, the
            # general path's own fallbacks): bounded collect here
            prows = (
                cand.select("doc_a", "doc_b").limit(max_pairs + 1).collect()
            )
        if len(prows) > max_pairs:
            return None
        ids = sorted(
            {r["doc_a"] for r in prows} | {r["doc_b"] for r in prows}
        )
        if len(ids) > params.ARTIFACT_PREFILTER_DOCS:
            return None
        # bounded probe before committing to the driver-side collect:
        # the doc gate alone doesn't bound the batch's VOCAB (5k long
        # docs can carry millions of distinct shingles); over-gate
        # batches take the distributed general path. Submitted to a
        # worker thread (round 15): the batch-vocab collect and the
        # involved-docs shingle collect below are independent jobs —
        # overlapping them removes one sequential driver round trip
        # per commit (guide §2.6).
        max_sh = params.ARTIFACT_PREFILTER_SHINGLES
        brows_f = self._commit_pool().submit(
            lambda: bdf.select(
                self._spart_col(F.col("shingle")).alias("spart"),
                "shingle",
                "df",
            )
            .limit(max_sh + 1)
            .collect()
        )

        all_sh = None
        try:
            irows = []
            if ids:
                docs_local = self.spark.createDataFrame(
                    [(i,) for i in ids],
                    T.StructType([T.StructField("doc_id", T.LongType())]),
                )
                # driver-side twin of _dpart_col — parity pinned by
                # test_xxhash64_parity; saves a whole Spark job here
                parts = int(self._meta["doc_parts"])
                dparts = sorted(
                    {hashing.pmod_xxhash64_long(i, parts) for i in ids}
                )
                # stored shingle sets of the involved OLD docs, pruned
                # to their dpart partitions (the isNull arm keeps
                # pre-layout segments of a migrated store readable)
                old_sh = (
                    self._read_t("shingles", _SHINGLE_SCHEMA, tenant)
                    .filter(
                        F.col("dpart").isin([int(d) for d in dparts])
                        | F.col("dpart").isNull()
                    )
                    .join(F.broadcast(docs_local), "doc_id", "left_semi")
                    .select("doc_id", "shingle")
                )
                new_sh = sh.join(
                    F.broadcast(docs_local), "doc_id", "left_semi"
                ).select("doc_id", "shingle")
                all_sh = new_sh.unionByName(old_sh).persist()
                # same bounded-probe guard as the batch vocab above:
                # 5k involved docs can still carry an over-gate vocab.
                # Round 15: the collect keeps doc_id so the rev>=3
                # verify below can run as driver-side set
                # intersections instead of a 4-join Spark query
                # (_local_pair_stats_frame). Round 16 (ADVICE r15):
                # the ROW bound is a separate, larger cap — rows >=
                # distinct shingles, so reusing the vocab gate here
                # was strictly tighter than designed and pushed
                # shingle-heavy bounded batches onto the distributed
                # path; over-cap batches still route there.
                max_rows = params.ARTIFACT_PREFILTER_SHINGLE_ROWS
                irows = (
                    all_sh.select(
                        "doc_id",
                        self._spart_col(F.col("shingle")).alias("spart"),
                        "shingle",
                    )
                    .limit(max_rows + 1)
                    .collect()
                )
                if len(irows) > max_rows:
                    return None
            # join the overlapped batch-vocab collect; gate order is
            # immaterial (either over-gate outcome routes to the same
            # general path)
            brows = brows_f.result()
            if len(brows) > max_sh:
                return None
            d_add = {r["shingle"]: r["df"] for r in brows}
            # ONE df lookup serves both decisions: the batch keys
            # (crossing detection) and the involved keys (over-cap
            # stop set). spart rides along each collect because it is
            # a pure function of the shingle.
            ukeys = set(d_add) | {r["shingle"] for r in irows}
            u_sparts = sorted(
                {r["spart"] for r in brows} | {r["spart"] for r in irows}
            )
            stored = (
                {
                    r["shingle"]: r["df"]
                    for r in self._df_totals(
                        tenant,
                        u_sparts,
                        keys=self._local_shingles(self.spark, ukeys),
                    ).collect()
                }
                if ukeys
                else {}
            )
            # df-cap crossing: with the cap pinned and df append-only,
            # only BATCH shingles can flip capped status this commit
            # (always downward — df only grows past the pinned cap).
            crossing = sorted(
                s
                for s, d in d_add.items()
                if (stored.get(s, 0) > cap) != (stored.get(s, 0) + d > cap)
            )
            rev3 = int(self._meta.get("pair_rev", 2)) >= 3
            if crossing and self._segments("pair_stats") and not rev3:
                return None  # legacy store: drift needs the re-verify
            new_seq = int(self._meta.get("pair_seq", 0)) + 1
            flips = None
            if crossing and self._segments("pair_stats"):
                # flip-delta rows via _crossing_doc_rows: pruned to the
                # crossing shingles' spart partitions (crossing ⊆ batch
                # shingles under a pinned cap, so their sparts are
                # already in hand from the brows collect — zero extra
                # jobs) and restricted to pair-endpoint docs. Cost ∝
                # docs-per-flipped-shingle ∩ pair endpoints.
                cross_set = set(crossing)
                cross_df = F.broadcast(
                    self.spark.createDataFrame(
                        [(s, -1) for s in crossing],
                        T.StructType(
                            [
                                T.StructField("shingle", T.StringType()),
                                T.StructField("delta", T.IntegerType()),
                            ]
                        ),
                    )
                )
                c_sparts = sorted(
                    {r["spart"] for r in brows if r["shingle"] in cross_set}
                )
                flips = self._crossing_doc_rows(
                    tenant, cross_df, sh, c_sparts
                ).select(
                    t_lit.alias("tenant"),
                    F.lit(new_seq).cast("bigint").alias("seq"),
                    "shingle",
                    "doc_id",
                    F.col("delta").cast("int").alias("delta"),
                )
            if not prows and flips is None:
                # nothing new to verify and no stored pair touched:
                # the existing max-seq rows stay exact, no segment
                return int(self._meta.get("pair_seq", 0))
            if prows and rev3:
                # driver-tier verify (round 15): the involved docs'
                # capped sets are already in hand from the bounded
                # irows collect — integer set stats here, the jaccard
                # column stays the identical Spark expression (see
                # _local_pair_stats_frame). Replaces the commit's
                # most expensive tail write (a 4-join verify query)
                # with a LocalRelation write.
                sets_by_doc: dict = {}
                for r in irows:
                    s = r["shingle"]
                    if stored.get(s, 0) + d_add.get(s, 0) > cap:
                        continue  # over-cap: excluded from capped sets
                    sets_by_doc.setdefault(int(r["doc_id"]), set()).add(s)
                stage(
                    "pair_stats",
                    self._local_pair_stats_frame(
                        sets_by_doc, prows, t_lit, new_seq
                    ),
                )
            elif prows:
                # legacy (pair_rev 2) store: rows carry no sizes and
                # the output is threshold-filtered — keep the
                # distributed verify
                over = sorted(
                    {
                        r["shingle"]
                        for r in irows
                        if stored.get(r["shingle"], 0)
                        + d_add.get(r["shingle"], 0)
                        > cap
                    }
                )
                capped_vf = all_sh.join(
                    F.broadcast(self._local_shingles(self.spark, over)),
                    "shingle",
                    "left_anti",
                ) if all_sh is not None else None
                null_sz = F.lit(None).cast("bigint")
                pairs_local = self.spark.createDataFrame(
                    [(r["doc_a"], r["doc_b"]) for r in prows],
                    T.StructType(
                        [
                            T.StructField("doc_a", T.LongType()),
                            T.StructField("doc_b", T.LongType()),
                        ]
                    ),
                )
                ver = dedup.jaccard_verify_pairs(
                    capped_vf,
                    None,
                    min_jaccard=0.0,
                    min_overlap=1,
                    candidates=pairs_local,
                    with_sizes=False,
                    all_candidates=False,
                )
                stage(
                    "pair_stats",
                    ver.select(
                        t_lit.alias("tenant"),
                        "doc_a",
                        "doc_b",
                        "n_common",
                        null_sz.alias("na"),
                        null_sz.alias("nb"),
                        "jaccard",
                        F.lit(new_seq).cast("bigint").alias("seq"),
                    ),
                )
            if prows and self._flip_rev >= 2:
                # pair-endpoint registry rides the same commit —
                # future flip staging restricts to these docs
                stage(
                    "pair_docs",
                    self.spark.createDataFrame(
                        [(i,) for i in ids],
                        T.StructType(
                            [T.StructField("doc_id", T.LongType())]
                        ),
                    ).select(t_lit.alias("tenant"), "doc_id"),
                )
            if flips is not None:
                stage("flip_docs", flips)
            return new_seq
        finally:
            self._join_future(brows_f)
            if all_sh is not None:
                (keep or (lambda df: df.unpersist()))(all_sh)

    def _stage_pair_stats(
        self, sh, bdf, cand, tenant: int, nd_batch: int, stage, t_lit,
        prows=None, keep=None,
    ) -> int:
        """Incremental maintenance of the verified-pair artifact: one
        pair_stats segment per commit holding the exact Jaccard stats
        (n_common, jaccard over the POST-commit capped shingle sets,
        min_overlap=1 / min_jaccard=0 semantics — read-time knobs
        filter) for

          (a) this batch's NEW candidate pairs (with capped-set sizes
              na/nb on pair_rev >= 3), and
          (b) df-drift, as FLIP-DELTA rows (pair_rev >= 3): a shingle
              whose capped-status flips with this commit (its df
              crossed the cap, or the cap itself moved past its df)
              changes the capped sets of exactly the docs containing
              it — one flip_docs row per (shingle, containing doc)
              records that, and _pair_current adjusts stored stats
              arithmetically at read (compaction folds the deltas
              in). Cost ∝ docs-per-flipped-shingle, NOT ∝ touched
              pairs — at the sf10 probe a 1k batch flipped 323
              shingles touching ~10M stored pairs; the flip rows are
              ~300k and the legacy re-verify of all 10M is gone.
              Legacy pair_rev-2 stores (rows without sizes) keep the
              old behavior: touched pairs re-verified, vanished
              overlaps tombstoned (n_common=0).

        Rows carry a commit sequence number; reads take the max-seq
        row per pair and apply strictly-newer flips. Induction gives
        exactness: a pair not touched this commit has both docs'
        capped sets unchanged, and a touched one differs from the
        stored row by exactly the flipped shingles' contributions —
        which is what the deltas encode (see _pair_current).

        Cost shape: the verify is ∝ (new pairs + drift-touched pairs)
        x doc shingle size — doc-keyed lookups prune to the involved
        docs' dpart partitions. Gate-bounded batches into a pinned-cap
        store take _stage_pair_stats_point (driver-side decisions,
        minimal job count); this general path serves corpus-scale
        batches, moving caps (seed phase), and drift commits. The
        stop-set/crossing computation here is a vocab-sized df
        aggregate (narrow, map-side-combined — the same cost class as
        the df segment itself); the shingle→doc lookup for crossing
        shingles scans the shingle table map-only and runs ONLY on
        commits where some shingle actually flips."""
        frac = params.JACCARD_MAX_DF_FRAC
        nd_old = self._nd_shingled(tenant)
        cap_old = self._df_cap(nd_old, frac)
        cap_new = self._df_cap(nd_old + nd_batch, frac)
        pre_batch = nd_batch <= params.ARTIFACT_PREFILTER_DOCS

        if pre_batch and cap_new == cap_old:
            seq = self._stage_pair_stats_point(
                sh, bdf, cand, tenant, cap_new, stage, t_lit, prows=prows,
                keep=keep,
            )
            if seq is not None:
                return seq

        new_seq = int(self._meta.get("pair_seq", 0)) + 1
        rev3 = int(self._meta.get("pair_rev", 2)) >= 3
        have_pair_segs = bool(self._segments("pair_stats"))

        def _build_crossing() -> DataFrame:
            # shingles whose capped-status flips with this commit. When
            # the cap is unchanged (pinned at DF_CEIL — the steady state
            # at scale) only BATCH shingles can flip (df only grows), so
            # the lookup prunes to the batch shingles' spart partitions;
            # a moving cap can flip any shingle with df in the swept
            # window, which needs the full (still vocab-bounded) outer
            # join — a shrinking, seed-phase-only cost.
            if cap_new == cap_old:
                b_sparts = [
                    r["spart"]
                    for r in bdf.select(
                        self._spart_col(F.col("shingle")).alias("spart")
                    )
                    .distinct()
                    .collect()
                ]
                j = bdf.withColumnRenamed("df", "d_add").join(
                    self._df_totals(tenant, b_sparts).withColumnRenamed(
                        "df", "df_old"
                    ),
                    "shingle",
                    "left",
                )
            else:
                j = bdf.withColumnRenamed("df", "d_add").join(
                    self._df_totals(tenant, None).withColumnRenamed(
                        "df", "df_old"
                    ),
                    "shingle",
                    "full_outer",
                )
            j = j.select(
                "shingle",
                F.coalesce("df_old", F.lit(0)).alias("df_old"),
                (
                    F.coalesce("df_old", F.lit(0))
                    + F.coalesce("d_add", F.lit(0))
                ).alias("df_new"),
            )
            # persisted: consumed once for the emptiness decision and
            # once by the drift join — without the persist the
            # (df-scan) lineage re-executes per consumer. `delta`
            # rides along: -1 = the shingle left every capped set this
            # commit, +1 = a moving cap re-admitted it.
            return (
                j.filter(
                    (F.col("df_old") > F.lit(float(cap_old)))
                    != (F.col("df_new") > F.lit(float(cap_new)))
                )
                .select(
                    "shingle",
                    F.when(
                        F.col("df_new") > F.lit(float(cap_new)), F.lit(-1)
                    )
                    .otherwise(F.lit(1))
                    .cast("int")
                    .alias("delta"),
                )
                .persist()
            )

        # drift deltas exist to ADJUST STORED pair rows — with no
        # pair_stats segments, or on a TENANT's first shingled commit
        # (nd_old == 0: pair rows are tenant-partitioned and require
        # shingles, so none can exist for this tenant; after a
        # remove-all, stored rows reference only removed docs, which
        # every read already excludes), there is nothing to adjust —
        # the vocab-scale crossing join, its count job, and the flip
        # rows are all skipped outright (round 15: every first commit
        # of a store/tenant paid them for nothing). On rev>=3 the
        # crossing rows are staged LAST (flip_docs follows
        # pair_stats/pair_docs), so the emptiness count runs on a
        # worker thread and overlaps the whole verify phase below
        # (guide §2.6); the legacy rev-2 path needs `stale` BEFORE the
        # pair set is assembled and keeps its sequential order.
        crossing = None
        n_crossing_f = None
        stale = None
        flips = None
        if have_pair_segs and nd_old > 0:
            crossing = _build_crossing()
            if rev3:
                n_crossing_f = self._commit_pool().submit(crossing.count)
            elif crossing.count():
                aff = (
                    self._read_t("shingles", _SHINGLE_SCHEMA, tenant)
                    .join(crossing.select("shingle"), "shingle", "left_semi")
                    .select("doc_id")
                    .distinct()
                )
                latest = self._pair_latest(tenant).filter(
                    F.col("n_common") >= 1
                )
                stale = (
                    latest.join(
                        aff.withColumnRenamed("doc_id", "doc_a"),
                        "doc_a",
                        "left_semi",
                    )
                    .select("doc_a", "doc_b")
                    .unionByName(
                        latest.join(
                            aff.withColumnRenamed("doc_id", "doc_b"),
                            "doc_b",
                            "left_semi",
                        ).select("doc_a", "doc_b")
                    )
                    .distinct()
                    .persist()
                )
        def _stage_flips_rev3() -> None:
            # resolve the overlapped crossing count and stage the
            # drift-delta rows (rev>=3 only; the legacy path stages
            # nothing here — it re-verified via `stale` above). Runs
            # AFTER the verify phase so the count job and the c_sparts
            # collect overlap the pair_stats write instead of
            # preceding it on the driver's critical path (round 15).
            nonlocal flips
            if n_crossing_f is None or not n_crossing_f.result():
                return
            # LSM-style drift delta: ONE row per (flipped shingle,
            # containing doc) — cost ∝ docs-per-flipped-shingle,
            # NOT ∝ touched pairs (at the sf10 probe a 1k batch
            # flipped 323 shingles touching 10M stored pairs; the
            # rev-2 re-verify paid all 10M, this writes ~300k flip
            # rows and reads adjust arithmetically). Round 11: the
            # containing-doc lookup prunes the inverted table to
            # the crossing shingles' spart partitions (collected
            # here — bounded by shingle_parts) and keeps only
            # pair-endpoint docs; see _crossing_doc_rows.
            c_sparts = None
            if self._flip_rev >= 2:
                c_sparts = [
                    r["spart"]
                    for r in crossing.select(
                        self._spart_col(F.col("shingle")).alias("spart")
                    )
                    .distinct()
                    .collect()
                ]
            flips = self._crossing_doc_rows(
                tenant, crossing, sh, c_sparts
            ).select(
                t_lit.alias("tenant"),
                F.lit(new_seq).cast("bigint").alias("seq"),
                "shingle",
                "doc_id",
                "delta",
            )
            stage("flip_docs", flips)

        pairs_all = cand.select("doc_a", "doc_b")
        if stale is not None:
            pairs_all = pairs_all.unionByName(stale).distinct()
        # PLAN-SIZE control: the verify below stacks joins over frames
        # whose lineages reference each other 2-3x per level — left
        # lazy, Catalyst re-plans that DAG path-by-path, and driver
        # planning time (not execution) was ~6 s PER ACTION at the sf1
        # probe (and, one level worse, OOM'd the driver stringifying
        # the tree — first 8 GB at sf1, then 32 GB at streaming batch
        # 44 of the sf10 cadence probe once the pair set outgrew the
        # collect gate). The pair set is therefore ALWAYS turned into
        # a plan leaf: a LocalRelation when gate-bounded (collect),
        # else a localCheckpoint (one materialization, plan truncates
        # to a LogicalRDD leaf — the block cost is the pair set we
        # were about to shuffle repeatedly anyway).
        #
        # Round 15: the gate-bounded common case resolves leaf, count
        # AND rows with ONE bounded job — a limit(cap+1) collect (at
        # most cap+1 (long, long) rows, the same driver payload the
        # collect gate already allows). The old sequence paid three
        # jobs (checkpoint materialization, count, collect) for the
        # same information; the checkpoint now runs only for over-gate
        # pair sets, where it remains the plan-leaf mechanism.
        _prows = None
        if prows is not None and stale is None:
            # the caller's bounded collect IS this pair set (cand with
            # no stale union) — reuse it, within-gate by construction
            _prows = prows
        elif pre_batch:
            _prows = pairs_all.limit(
                params.ARTIFACT_PREFILTER_PAIRS + 1
            ).collect()
            if len(_prows) > params.ARTIFACT_PREFILTER_PAIRS:
                _prows = None  # over the gate: distributed path below
        if _prows is not None:
            n_pairs_all = len(_prows)
        else:
            pairs_all = pairs_all.localCheckpoint()
            n_pairs_all = pairs_all.count()
        if n_pairs_all == 0 and stale is None:
            # nothing to verify (a deferred verify_every batch, or a
            # batch with zero collisions): commit the drift deltas and
            # skip the whole involved-docs machinery
            try:
                _stage_flips_rev3()
                return new_seq
            finally:
                self._join_future(n_crossing_f)
                if crossing is not None:
                    crossing.unpersist()
                pairs_all.unpersist()
        pairs_local = _prows is not None
        if pairs_local:
            pairs_all = self.spark.createDataFrame(
                [(r["doc_a"], r["doc_b"]) for r in _prows],
                T.StructType(
                    [
                        T.StructField("doc_a", T.LongType()),
                        T.StructField("doc_b", T.LongType()),
                    ]
                ),
            )
            _ids = sorted(
                {r["doc_a"] for r in _prows} | {r["doc_b"] for r in _prows}
            )
            docs_involved = self.spark.createDataFrame(
                [(i,) for i in _ids],
                T.StructType([T.StructField("doc_id", T.LongType())]),
            ).persist()
        else:
            docs_involved = (
                pairs_all.select(F.col("doc_a").alias("doc_id"))
                .unionByName(pairs_all.select(F.col("doc_b").alias("doc_id")))
                .distinct()
                .persist()
            )
        ver = None
        all_sh = None
        capped_vf = None
        try:
            if pairs_local:
                # driver-side twin of _dpart_col (parity pinned by
                # test_xxhash64_parity, same as the point path): the
                # ids are already local — a Spark job to hash them
                # was pure overhead (round 15)
                _parts = int(self._meta["doc_parts"])
                dparts = sorted(
                    {hashing.pmod_xxhash64_long(i, _parts) for i in _ids}
                )
            else:
                dparts = [
                    r["dpart"]
                    for r in docs_involved.select(
                        self._dpart_col(F.col("doc_id")).alias("dpart")
                    )
                    .distinct()
                    .collect()
                ]
            # stored shingle sets of the involved OLD docs, pruned to
            # their dpart partitions (the isNull arm keeps pre-layout
            # segments of a migrated store readable — unpruned there)
            old_sh = (
                self._read_t("shingles", _SHINGLE_SCHEMA, tenant)
                .filter(
                    F.col("dpart").isin([int(d) for d in dparts])
                    | F.col("dpart").isNull()
                )
                .join(docs_involved, "doc_id", "left_semi")
                .select("doc_id", "shingle")
            )
            new_sh = sh.join(docs_involved, "doc_id", "left_semi").select(
                "doc_id", "shingle"
            )
            all_sh = new_sh.unionByName(old_sh).persist()
            # driver-tier verify (round 15): with the pair set already
            # driver-local and a rev>=3 store (stale is None there),
            # a bounded collect of the involved docs' shingle rows
            # plus two pruned df lookups replaces the 4-join verify
            # query — integer set stats in the driver, the jaccard
            # column as the identical Spark expression
            # (_local_pair_stats_frame). Over-gate row sets fall
            # through to the distributed flow below unchanged.
            if pairs_local and rev3:
                # ROW-bounded (round 16, ADVICE r15 — same cap split
                # as the point path: rows >= distinct shingles)
                max_rows = params.ARTIFACT_PREFILTER_SHINGLE_ROWS
                srows = (
                    all_sh.select(
                        "doc_id",
                        self._spart_col(F.col("shingle")).alias("spart"),
                        "shingle",
                    )
                    .limit(max_rows + 1)
                    .collect()
                )
                if len(srows) <= max_rows:
                    ukeys = {r["shingle"] for r in srows}
                    u_sparts = sorted({r["spart"] for r in srows})
                    stored = {}
                    d_add = {}
                    if ukeys:
                        # two independent pruned lookups — overlapped
                        # on the shared commit pool (guide §2.6)
                        lk = self._commit_pool()
                        stored_f = lk.submit(
                            lambda: {
                                r["shingle"]: r["df"]
                                for r in self._df_totals(
                                    tenant,
                                    u_sparts,
                                    keys=self._local_shingles(
                                        self.spark, ukeys
                                    ),
                                ).collect()
                            }
                        )
                        dadd_f = lk.submit(
                            lambda: {
                                r["shingle"]: r["df"]
                                for r in bdf.join(
                                    F.broadcast(
                                        self._local_shingles(
                                            self.spark, ukeys
                                        )
                                    ),
                                    "shingle",
                                    "left_semi",
                                ).collect()
                            }
                        )
                        try:
                            stored = stored_f.result()
                            d_add = dadd_f.result()
                        finally:
                            self._join_future(stored_f)
                            self._join_future(dadd_f)
                    sets_by_doc: dict = {}
                    for r in srows:
                        s = r["shingle"]
                        if stored.get(s, 0) + d_add.get(s, 0) > cap_new:
                            continue  # over-cap: outside capped sets
                        sets_by_doc.setdefault(int(r["doc_id"]), set()).add(s)
                    stage(
                        "pair_stats",
                        self._local_pair_stats_frame(
                            sets_by_doc, _prows, t_lit, new_seq
                        ),
                    )
                    if self._flip_rev >= 2:
                        stage(
                            "pair_docs",
                            docs_involved.select(
                                t_lit.alias("tenant"), "doc_id"
                            ),
                        )
                    _stage_flips_rev3()
                    return new_seq
            # cap the involved docs' sets WITHOUT building the global
            # stop set: only shingles PRESENT in the involved sets
            # matter, and their global df totals live in the spart
            # partitions those shingles hash to — a pruned lookup, not
            # a vocab scan (exactly equal to the global anti-join
            # restricted to these rows)
            i_sparts = [
                r["spart"]
                for r in all_sh.select(
                    self._spart_col(F.col("shingle")).alias("spart")
                )
                .distinct()
                .collect()
            ]
            keep = (
                self._df_totals(tenant, i_sparts)
                .unionByName(bdf)
                .groupBy("shingle")
                .agg(F.sum("df").cast("bigint").alias("df"))
                .filter(F.col("df") <= F.lit(float(cap_new)))
                .select("shingle")
            )
            # persisted: the verify references this frame THREE times
            # (sizes, doc_a side, doc_b side) — unpersisted, each
            # reference re-executes the vocab-scale keep aggregate,
            # which dominated the sf10 general-path profile
            capped_vf = all_sh.join(keep, "shingle", "left_semi").persist()
            # all_candidates on rev >= 3: even a pair with ZERO common
            # capped shingles right now gets a stored (0, na, nb) row —
            # without it a later up-flip re-admitting a shared shingle
            # (moving cap, or remove() dropping df back under it) would
            # find no row to adjust and the pair would be lost to the
            # flip algebra forever (a from-scratch verify over the
            # post-flip corpus WOULD emit it).
            ver = dedup.jaccard_verify_pairs(
                capped_vf,
                None,
                min_jaccard=0.0,
                min_overlap=1,
                candidates=pairs_all,
                with_sizes=rev3,
                all_candidates=rev3,
            ).persist()
            seq_lit = F.lit(new_seq).cast("bigint")
            null_sz = F.lit(None).cast("bigint")
            rows = ver.select(
                t_lit.alias("tenant"),
                "doc_a",
                "doc_b",
                "n_common",
                (F.col("na") if rev3 else null_sz).alias("na"),
                (F.col("nb") if rev3 else null_sz).alias("nb"),
                "jaccard",
                seq_lit.alias("seq"),
            )
            if stale is not None:
                tomb = (
                    stale.join(
                        ver.select("doc_a", "doc_b"),
                        ["doc_a", "doc_b"],
                        "left_anti",
                    ).select(
                        t_lit.alias("tenant"),
                        "doc_a",
                        "doc_b",
                        F.lit(0).cast("bigint").alias("n_common"),
                        null_sz.alias("na"),
                        null_sz.alias("nb"),
                        F.lit(0.0).alias("jaccard"),
                        seq_lit.alias("seq"),
                    )
                )
                rows = rows.unionByName(tomb)
            # a deferred-verify batch (verify_every) passes an empty
            # candidate set — nothing to stage but the flips
            if n_pairs_all or stale is not None:
                stage("pair_stats", rows)
                if self._flip_rev >= 2:
                    # pair-endpoint registry: the staged rows' doc ids
                    # (docs_involved already holds exactly them)
                    stage(
                        "pair_docs",
                        docs_involved.select(t_lit.alias("tenant"), "doc_id"),
                    )
            _stage_flips_rev3()
            return new_seq
        finally:
            self._join_future(n_crossing_f)
            # persisted frames that a STAGED (possibly still pending)
            # write's plan reads — ver/capped_vf/stale feed the
            # pair_stats write, docs_involved the pair_docs write,
            # crossing the flip_docs write, all_sh the capped_vf
            # lineage. With a ``keep`` callback their unpersist is
            # DEFERRED to the caller's post-flush barrier (round 16:
            # the single-pass wave executes these writes after this
            # function returns; the old early unpersist raced even
            # the eagerly-submitted writes). Without the callback
            # (flush_pairs, whose writes are synchronous) behavior is
            # unchanged.
            release = keep if keep is not None else (
                lambda df: df.unpersist()
            )
            for fr in (crossing, docs_involved, all_sh, capped_vf,
                       stale, ver):
                if fr is not None:
                    release(fr)
            pairs_all.unpersist()

    def remove(self, doc_ids, tenant: int = 0) -> dict:
        """Delete documents from the store (retention / right-to-be-
        forgotten): every read afterwards equals a from-scratch build
        over the SURVIVING corpus. Deletion is LSM-style — immutable
        segments stay put; the commit appends

          - `removed_ids` tombstones (reads anti-join them),
          - NEGATIVE df rows for the removed docs' shingles (df reads
            SUM segments, so surviving frequencies fall out), and
          - `flip_docs` deltas for every shingle whose capped status
            flips: removal moves df DOWN (up-flips: a boilerplate
            shingle can drop back under the cap and re-enter every
            surviving doc's capped set) and can move the CAP itself
            (nd shrinks) — both directions the flip algebra already
            handles (_pair_current); stored pair stats adjust at read.

        compact() later purges removed rows physically and clears the
        tombstones. Re-ingesting a removed doc_id is a no-op until
        then (the known-doc guard treats tombstoned ids as known);
        after compaction the id is genuinely new again.

        Cost ∝ removed docs' rows (+ one vocab-bounded df aggregate
        when the cap itself moves), never ∝ corpus or touched pairs.
        ``doc_ids`` is an iterable of ids (admin-sized; collected
        driver-side). Returns {"docs": n_actually_removed}.

        Requires pair_rev >= 3 when pair stats exist: rev-2 rows lack
        the sizes the flip adjustment needs (compact() + a rebuild, or
        migrate_layout on a rev-1 store, upgrades)."""
        ids = sorted({int(x) for x in doc_ids})
        with self._writer_lock():
            if self.schema_rev < 2:
                # a rev-1 store has no doc_ids registry: `present`
                # would always be empty and the call a silent no-op —
                # unacceptable for a retention API, so refuse loudly
                # (mirrors the pair_rev guard below)
                raise ValueError(
                    "remove() needs schema_rev >= 2 (the doc_ids "
                    "registry); run migrate_layout() on this store first"
                )
            if (
                self._segments("pair_stats")
                and int(self._meta.get("pair_rev", 2)) < 3
            ):
                raise ValueError(
                    "remove() needs pair_rev >= 3 pair stats (sizes); "
                    "this store's rows predate flip-delta maintenance"
                )
            return self._remove_locked(ids, int(tenant))

    def _remove_locked(self, ids: list[int], tenant: int) -> dict:
        if not ids:
            return {"docs": 0}
        t_lit = F.lit(tenant)
        parts = int(self._meta["doc_parts"])
        dparts = sorted({hashing.pmod_xxhash64_long(i, parts) for i in ids})
        ids_local = self.spark.createDataFrame(
            [(i,) for i in ids],
            T.StructType([T.StructField("doc_id", T.LongType())]),
        )
        reg = self._read_t("doc_ids", _DOCID_SCHEMA, tenant)
        if self.schema_rev >= 2:
            reg = reg.filter(
                F.col("dpart").isin([int(d) for d in dparts])
                | F.col("dpart").isNull()
            )
        present = reg.join(F.broadcast(ids_local), "doc_id", "left_semi")
        if self._segments("removed_ids"):
            already = self._read_t("removed_ids", _DOCID_SCHEMA, tenant)
            present = present.join(
                already.select("doc_id"), "doc_id", "left_anti"
            )
        pids = sorted(r["doc_id"] for r in present.select("doc_id").collect())
        if not pids:
            return {"docs": 0}
        pl = self.spark.createDataFrame(
            [(i,) for i in pids],
            T.StructType([T.StructField("doc_id", T.LongType())]),
        )
        rem_sh = (
            self._read_t("shingles", _SHINGLE_SCHEMA, tenant)
            .filter(
                F.col("dpart").isin(
                    [hashing.pmod_xxhash64_long(i, parts) for i in pids]
                )
                | F.col("dpart").isNull()
            )
            .join(F.broadcast(pl), "doc_id", "left_semi")
            .select("doc_id", "shingle")
            .persist()
        )
        d_sub = None
        crossing = None
        try:
            nd_rem = rem_sh.select("doc_id").distinct().count()
            nd_old = self._nd_shingled(tenant)
            frac = params.JACCARD_MAX_DF_FRAC
            cap_old = self._df_cap(nd_old, frac)
            cap_new = self._df_cap(nd_old - nd_rem, frac)
            d_sub = (
                rem_sh.groupBy("shingle")
                .agg(F.count("*").cast("bigint").alias("d_sub"))
                .persist()
            )
            # capped-status crossings under a df DECREASE. Pinned cap:
            # only the removed docs' shingles can flip; a moving cap
            # sweeps the vocab (full-outer, admin-op-rare).
            if cap_new == cap_old:
                sparts = [
                    r["spart"]
                    for r in d_sub.select(
                        self._spart_col(F.col("shingle")).alias("spart")
                    )
                    .distinct()
                    .collect()
                ]
                j = d_sub.join(
                    self._df_totals(tenant, sparts).withColumnRenamed(
                        "df", "df_old"
                    ),
                    "shingle",
                    "left",
                )
            else:
                j = d_sub.join(
                    self._df_totals(tenant, None).withColumnRenamed(
                        "df", "df_old"
                    ),
                    "shingle",
                    "full_outer",
                )
            j = j.select(
                "shingle",
                F.coalesce("df_old", F.lit(0)).alias("df_old"),
                (
                    F.coalesce("df_old", F.lit(0))
                    - F.coalesce("d_sub", F.lit(0))
                ).alias("df_new"),
            )
            crossing = (
                j.filter(
                    (F.col("df_old") > F.lit(float(cap_old)))
                    != (F.col("df_new") > F.lit(float(cap_new)))
                )
                .select(
                    "shingle",
                    F.when(
                        F.col("df_new") > F.lit(float(cap_new)), F.lit(-1)
                    )
                    .otherwise(F.lit(1))
                    .cast("int")
                    .alias("delta"),
                )
                .persist()
            )
            n_crossing = crossing.count()

            staged: list[tuple[str, str]] = []
            stage = functools.partial(self._stage_one, staged)

            stage(
                "removed_ids",
                pl.select(
                    t_lit.alias("tenant"),
                    self._dpart_col(F.col("doc_id")).alias("dpart"),
                    "doc_id",
                ),
            )
            stage(
                "df",
                d_sub.select(
                    t_lit.alias("tenant"),
                    self._spart_col(F.col("shingle")).alias("spart"),
                    "shingle",
                    (-F.col("d_sub")).cast("bigint").alias("df"),
                ),
            )
            new_seq = None
            if n_crossing and self._segments("pair_stats"):
                new_seq = int(self._meta.get("pair_seq", 0)) + 1
                c_sparts = None
                if self._flip_rev >= 2:
                    c_sparts = [
                        r["spart"]
                        for r in crossing.select(
                            self._spart_col(F.col("shingle")).alias("spart")
                        )
                        .distinct()
                        .collect()
                    ]
                stage(
                    "flip_docs",
                    self._crossing_doc_rows(
                        tenant, crossing, None, c_sparts
                    ).select(
                        t_lit.alias("tenant"),
                        F.lit(new_seq).cast("bigint").alias("seq"),
                        "shingle",
                        "doc_id",
                        "delta",
                    ),
                )

            n_rm = len(pids)
            tkey = str(int(tenant))
            tstats = dict(
                self._meta["tenants"].get(
                    tkey, {"n_docs": 0, "nd_shingled": 0}
                )
            )
            staged, flip_rows = self._drop_empty_flip_segments(staged)
            meta = {
                "n_docs": int(self._meta["n_docs"]) - n_rm,
                "nd_shingled": int(self._meta["nd_shingled"]) - nd_rem,
                "tenants": {
                    **self._meta["tenants"],
                    tkey: {
                        "n_docs": int(tstats["n_docs"]) - n_rm,
                        "nd_shingled": int(tstats["nd_shingled"]) - nd_rem,
                    },
                },
                "flip_rows_live": int(self._meta.get("flip_rows_live", 0))
                + flip_rows,
            }
            if new_seq is not None:
                meta["pair_seq"] = new_seq
            self._commit_segments(staged, meta=meta)
            return {"docs": n_rm}
        finally:
            rem_sh.unpersist()
            if d_sub is not None:
                d_sub.unpersist()
            if crossing is not None:
                crossing.unpersist()

    def _minus_removed(
        self, df: DataFrame, tenant: int | None, cols=("doc_id",)
    ) -> DataFrame:
        """Anti-join away tombstoned docs on each given id column —
        the read-side half of remove() (compaction purges physically
        and clears the tombstones). Tenant-scoped: a pruned read
        (tenant given) matches ids within that tenant; an all-tenant
        frame carrying a `tenant` column matches on (tenant, id) so a
        removal in one tenant never suppresses another's doc."""
        if not self._segments("removed_ids"):
            return df
        rem = self._read_t("removed_ids", _DOCID_SCHEMA, tenant)
        with_tenant = tenant is None and "tenant" in df.columns
        for c in cols:
            r = rem.select(
                *(("tenant",) if with_tenant else ()),
                F.col("doc_id").alias(c),
            )
            df = df.join(
                r, ["tenant", c] if with_tenant else [c], "left_anti"
            )
        return df

    def _pair_latest(self, tenant: int | None) -> DataFrame:
        """(tenant, doc_a, doc_b, n_common, jaccard) — current value
        per pair; see _pair_current."""
        return self._pair_current(tenant).select(
            "tenant", "doc_a", "doc_b", "n_common", "jaccard"
        )

    def _pair_current(
        self,
        tenant: int | None,
        endpoints: DataFrame | None = None,
        with_touched: bool = False,
    ) -> DataFrame:
        """Current FULL stats per pair (tenant, doc_a, doc_b,
        n_common, na, nb, jaccard, seq): the max-seq pair_stats row
        (later rows — legacy re-verifications and tombstones, or
        compaction folds — supersede earlier ones), with any NEWER
        flip-delta rows applied arithmetically.

        ``endpoints`` (a broadcastable (tenant, doc_id) frame)
        restricts the output to pairs with AT LEAST ONE endpoint in
        the set, applied as a map-side pre-filter BEFORE the max-seq
        groupBy — the row-scoped fold passes the flipped docs here so
        the shuffle carries only candidate-touched rows, never the
        whole pairs table (all rows of a pair share (tenant, doc_a,
        doc_b), so pre-filtering on those keys keeps per-pair max-seq
        semantics exact). ``with_touched`` appends a boolean
        ``_touched`` column: True iff some outstanding flip actually
        applied to the row (the fold rewrites exactly those).

        A pair row verified at seq v records (n_common, na, nb) over
        the capped sets as of v. A flip row (s, k, doc, ±1) with k > v
        says shingle s left (-1) or re-entered (+1) every capped set
        at commit k. Exactness by induction: s's capped status is
        uniform across docs containing it (it is a function of the
        GLOBAL df vs the cap), so for each pair the adjusted
          n_common' = n_common + Σ flips where BOTH docs contain s
          na'/nb'   = na/nb   + Σ flips where that doc contains s
        equal a from-scratch count over the post-flip capped sets, and
        jaccard' = n_common'/(na'+nb'-n_common') recomputed on the
        same rounding grid as jaccard_verify_pairs. Flips never apply
        to rows with seq >= k (strict inequality): those were verified
        against post-flip sets already. Legacy (pair_rev 2) stores
        never write flip rows, so their null na/nb rows pass through
        untouched."""
        ps = self._read_t("pair_stats", _PAIRSTAT_SCHEMA, tenant)
        if endpoints is not None:
            ea = endpoints.select(
                "tenant", F.col("doc_id").alias("doc_a")
            )
            eb = endpoints.select(
                "tenant", F.col("doc_id").alias("doc_b")
            )
            hit_a = ps.join(F.broadcast(ea), ["tenant", "doc_a"], "left_semi")
            ps = hit_a.unionByName(
                ps.join(F.broadcast(eb), ["tenant", "doc_b"], "left_semi")
                .join(F.broadcast(ea), ["tenant", "doc_a"], "left_anti")
            )
        cur = (
            ps.groupBy("tenant", "doc_a", "doc_b")
            .agg(
                F.max_by(
                    F.struct("n_common", "na", "nb", "jaccard"), "seq"
                ).alias("s"),
                F.max("seq").alias("seq"),
            )
            .select(
                "tenant",
                "doc_a",
                "doc_b",
                F.col("s.n_common").alias("n_common"),
                F.col("s.na").alias("na"),
                F.col("s.nb").alias("nb"),
                F.col("s.jaccard").alias("jaccard"),
                "seq",
            )
        )
        if not self._segments("flip_docs"):
            if with_touched:
                return cur.withColumn("_touched", F.lit(False))
            return cur
        fl = self._read_t("flip_docs", _FLIP_SCHEMA, tenant)
        fa = fl.select(
            F.col("tenant").alias("t_f"),
            F.col("doc_id").alias("d_f"),
            F.col("shingle").alias("s_f"),
            F.col("seq").alias("k_f"),
            F.col("delta").alias("x_f"),
        )

        def _adj(side: str) -> DataFrame:
            j = cur.join(
                fa,
                (cur["tenant"] == fa["t_f"])
                & (cur[side] == fa["d_f"])
                & (fa["k_f"] > cur["seq"]),
                "inner",
            )
            return j.groupBy("tenant", "doc_a", "doc_b").agg(
                F.sum("x_f").cast("bigint").alias(f"adj_{side[-1]}")
            )

        fb = fa.select(
            F.col("t_f").alias("t_g"),
            F.col("d_f").alias("d_g"),
            F.col("s_f").alias("s_g"),
            F.col("k_f").alias("k_g"),
        )
        both = (
            cur.join(
                fa,
                (cur["tenant"] == fa["t_f"])
                & (cur["doc_a"] == fa["d_f"])
                & (fa["k_f"] > cur["seq"]),
                "inner",
            )
            .join(
                fb,
                (cur["tenant"] == fb["t_g"])
                & (cur["doc_b"] == fb["d_g"])
                & (fa["s_f"] == fb["s_g"])
                & (fa["k_f"] == fb["k_g"]),
                "inner",
            )
            .groupBy("tenant", "doc_a", "doc_b")
            .agg(F.sum("x_f").cast("bigint").alias("adj_c"))
        )
        key = ["tenant", "doc_a", "doc_b"]
        out = (
            cur.join(_adj("doc_a"), key, "left")
            .join(_adj("doc_b"), key, "left")
            .join(both, key, "left")
        )
        z = F.lit(0).cast("bigint")
        n2 = F.col("n_common") + F.coalesce("adj_c", z)
        na2 = F.col("na") + F.coalesce("adj_a", z)
        nb2 = F.col("nb") + F.coalesce("adj_b", z)
        touched = (
            (F.coalesce("adj_a", z) != z)
            | (F.coalesce("adj_b", z) != z)
            | (F.coalesce("adj_c", z) != z)
        )
        sel = [
            "tenant",
            "doc_a",
            "doc_b",
            F.when(touched, n2).otherwise(F.col("n_common")).alias("n_common"),
            F.when(touched, na2).otherwise(F.col("na")).alias("na"),
            F.when(touched, nb2).otherwise(F.col("nb")).alias("nb"),
            F.when(
                touched & (n2 > z),
                F.round(n2 / (na2 + nb2 - n2), params.ROUND),
            )
            .when(touched, F.lit(0.0))
            .otherwise(F.col("jaccard"))
            .alias("jaccard"),
            "seq",
        ]
        if with_touched:
            sel.append(touched.alias("_touched"))
        return out.select(*sel)

    def migrate_layout(self) -> None:
        """Upgrade a round-8 (rev-1) store to the current layout:
        backfill the doc_ids registry (from signatures ∪ simhash —
        docs with neither shingles nor tokens are unrecoverable on
        rev 1 and stay untracked; their n_docs count is preserved) and
        the stored bucket table (banded from the signature table,
        partitioned/sorted for pruned incremental joins), then bump
        schema_rev in the same atomic flip. Idempotent; further
        updates use the batch-proportional path."""
        with self._writer_lock():
            if self.schema_rev >= 2:
                return
            staged: list[tuple[str, str]] = []
            ids = None
            if self._segments("signatures") or self._segments("simhash"):
                sig_ids = (
                    self._read_t("signatures", self._sig_schema())
                    if self._segments("signatures")
                    else None
                )
                frames = []
                if sig_ids is not None:
                    frames.append(sig_ids.select("tenant", "doc_id"))
                if self._segments("simhash"):
                    frames.append(
                        self._read_t("simhash", _SIMHASH_SCHEMA).select(
                            "tenant", "doc_id"
                        )
                    )
                ids = frames[0]
                for fdf in frames[1:]:
                    ids = ids.unionByName(fdf)
                ids = ids.distinct().select(
                    "tenant",
                    self._dpart_col(F.col("doc_id")).alias("dpart"),
                    "doc_id",
                )
                self._stage_one(staged, "doc_ids", ids, fine=True)
            if self._segments("signatures"):
                sig = self._read_t("signatures", self._sig_schema())
                b = dedup.lsh_buckets_wide(
                    sig.drop("tenant"),
                    bands=self.lsh_bands,
                    num_perms=self.num_perms,
                ).join(sig.select("tenant", "doc_id"), "doc_id")
                b = b.select(
                    "tenant",
                    self._bpart_col(F.col("bucket")).alias("bpart"),
                    "band",
                    "bucket",
                    "doc_id",
                )
                self._stage_one(staged, "buckets", b, fine=True)
            # pair_stats backfill: ONE full verify at the migration
            # snapshot (the cost the incremental path then never pays
            # again); legacy stores are single-tenant — everything is
            # tenant 0 by definition
            pair_seq = int(self._meta.get("pair_seq", 0))
            # the backfill below is a full re-verify carrying sizes
            # (and a rev-1 store has no prior pair rows either way),
            # so the migrated store gets flip-delta drift from here on
            pair_rev = 3
            if self._segments("cand_pairs"):
                pair_seq += 1
                ver = dedup.jaccard_verify_pairs(
                    self.capped_shingles(),
                    None,
                    min_jaccard=0.0,
                    min_overlap=1,
                    candidates=self.candidate_pairs(),
                    with_sizes=True,
                )
                rows = ver.select(
                    F.lit(0).alias("tenant"),
                    "doc_a",
                    "doc_b",
                    "n_common",
                    "na",
                    "nb",
                    "jaccard",
                    F.lit(pair_seq).cast("bigint").alias("seq"),
                )
                self._stage_one(staged, "pair_stats", rows)
                # pair-endpoint registry for the flip restriction:
                # cand_pairs endpoints ⊇ the backfilled rows' endpoints
                pd = (
                    self._read_t("cand_pairs", _PAIR_SCHEMA)
                    .select(
                        "tenant",
                        F.explode(F.array("doc_a", "doc_b")).alias("doc_id"),
                    )
                    .distinct()
                )
                self._stage_one(staged, "pair_docs", pd)
            if self._segments("shingles"):
                sd = self._read_t("shingles", _SHINGLE_SCHEMA).select(
                    "tenant",
                    self._spart_col(F.col("shingle")).alias("spart"),
                    "shingle",
                    "doc_id",
                )
                self._stage_one(staged, "shingle_docs", sd, fine=True)
            # the inverted table + endpoint registry above are complete
            # as of this snapshot — it covers every shingles segment
            # committed so far; later batch commits land outside the
            # covers list and are read doc-keyed until compaction
            self._commit_segments(
                staged,
                meta={
                    "schema_rev": 2,
                    "pair_rev": pair_rev,
                    "pair_seq": pair_seq,
                    "pair_stats_live": True,
                    "flip_rev": 2,
                    "shingle_docs_covers": list(self._segments("shingles")),
                },
            )

    def compact(self) -> None:
        """Consolidate every table's per-batch segments into ONE
        v<N> segment — a long-running stream appends one segment per
        micro-batch and every read unions one scan per segment, so
        periodic compaction (stream_artifacts' compact_every) keeps
        read cost flat. Semantics-preserving AND size-reducing: the
        df table pre-aggregates to one row per (tenant, shingle)
        (reads sum df segments anyway — vocab-sized after compaction
        instead of batches x vocab), cand_pairs dedups, and the
        bucket / doc-keyed tables are rewritten in their pruned
        physical layout (partition dirs re-consolidated, sort order
        and bloom filters restored — compaction heals layout drift).
        Same stage-then-flip protocol as Index.compact: readers of the
        old list are untouched, a crash before the flip changes
        nothing; run vacuum() afterwards to reclaim superseded dirs."""
        with self._writer_lock():
            # deferred verifies must land first: the pending list
            # references cand_pairs segment names this rewrite retires,
            # and the fold below only sees VERIFIED pair rows
            if any(self._meta.get("pair_unverified", {}).values()):
                self.flush_pairs()
            # physical purge of remove()'s tombstoned docs rides the
            # same rewrite: doc-keyed rows anti-join the tombstones,
            # the df re-aggregate absorbs the negative rows (zeroed
            # shingles dropped), pair rows with a dead endpoint fold
            # away, and the tombstone table restarts empty
            rm = self._minus_removed
            writers = {
                "doc_ids": rm(
                    self._read_t("doc_ids", _DOCID_SCHEMA), None
                ).select(
                    "tenant",
                    self._dpart_col(F.col("doc_id")).alias("dpart"),
                    "doc_id",
                ),
                "shingles": rm(
                    self._read_t("shingles", _SHINGLE_SCHEMA), None
                ).select(
                    "tenant",
                    self._dpart_col(F.col("doc_id")).alias("dpart"),
                    "doc_id",
                    "shingle",
                ),
                "signatures": rm(
                    self._read_t("signatures", self._sig_schema()), None
                ),
                "df": self._read_t("df", _DF_SCHEMA)
                .groupBy("tenant", "shingle")
                .agg(F.sum("df").cast("bigint").alias("df"))
                .filter(F.col("df") > 0)
                .select(
                    "tenant",
                    self._spart_col(F.col("shingle")).alias("spart"),
                    "shingle",
                    "df",
                ),
                "cand_pairs": rm(
                    self._read_t("cand_pairs", _PAIR_SCHEMA),
                    None,
                    cols=("doc_a", "doc_b"),
                )
                .select("tenant", "doc_a", "doc_b")
                .distinct(),
                "simhash": rm(
                    self._read_t("simhash", _SIMHASH_SCHEMA), None
                ).select("tenant", "doc_id", "simhash"),
                "buckets": rm(
                    self._read_t("buckets", _BUCKET_SCHEMA), None
                ).select(
                    "tenant",
                    self._bpart_col(F.col("bucket")).alias("bpart"),
                    "band",
                    "bucket",
                    "doc_id",
                ),
                # pair_stats: FOLD — one row per pair carrying the
                # current (flip-adjusted) stats at the current seq, so
                # every outstanding flip_docs delta is absorbed and the
                # flip table restarts empty. Zeroed pairs are KEPT on
                # rev-3 stores: a later moving-cap up-flip must find
                # the row to revive it (exactness under arbitrary
                # compaction points); legacy rev-2 keeps its old
                # drop-tombstones behavior (its drift path re-verifies,
                # never adjusts).
                "pair_stats": (
                    rm(
                        self._pair_current(None),
                        None,
                        cols=("doc_a", "doc_b"),
                    ).select(
                        "tenant",
                        "doc_a",
                        "doc_b",
                        "n_common",
                        "na",
                        "nb",
                        "jaccard",
                        F.lit(int(self._meta.get("pair_seq", 0)))
                        .cast("bigint")
                        .alias("seq"),
                    )
                    if int(self._meta.get("pair_rev", 2)) >= 3
                    else self._pair_current(None).filter(
                        F.col("n_common") >= 1
                    )
                ),
                # round 11: the inverted shingle->doc table (same rows
                # as the compacted shingles, spart-keyed) and the
                # pair-endpoint registry (cand_pairs endpoints — a
                # superset of pair_stats endpoints, which is all the
                # flip restriction needs). Rewritten every compaction;
                # on a pre-round-11 (flip_rev 1) store this IS the
                # backfill that makes the upgrade safe: both tables are
                # complete as of this snapshot, and every later commit
                # maintains them incrementally.
                "shingle_docs": rm(
                    self._read_t("shingles", _SHINGLE_SCHEMA), None
                ).select(
                    "tenant",
                    self._spart_col(F.col("shingle")).alias("spart"),
                    "shingle",
                    "doc_id",
                ),
                "pair_docs": rm(
                    self._read_t("cand_pairs", _PAIR_SCHEMA),
                    None,
                    cols=("doc_a", "doc_b"),
                )
                .select(
                    "tenant",
                    F.explode(F.array("doc_a", "doc_b")).alias("doc_id"),
                )
                .distinct(),
            }
            # the two flip_rev-2 tables are written when their SOURCE
            # has segments (backfill on upgrade), not only when they do
            upgrade_ok = self.schema_rev >= 2
            force = {
                "shingle_docs": upgrade_ok and bool(self._segments("shingles")),
                "pair_docs": upgrade_ok and bool(self._segments("cand_pairs")),
            }
            # the ~10 per-table rewrites are independent until the
            # meta flip — run them through the same small pool as
            # batch staging (round 12): on a cluster the rewrites'
            # shuffles/IO overlap, locally the driver-side job
            # latency does. Version numbers and meta/manifest updates
            # stay sequential (the pool does writes only).
            replace, writes = [], []
            for table, df in writers.items():
                if not self._segments(table) and not force.get(table, False):
                    continue
                if table in force and not upgrade_ok:
                    continue
                new_v = self._version(table) + 1
                replace.append((table, f"v{new_v}"))
                writes.append(
                    lambda t=table, d=df, p=self._table_path(table, new_v): (
                        self._write_segment(t, d, p, fine=True)
                    )
                )
            self._run_writes(writes)
            # every outstanding flip was folded into the pair rows
            meta: dict = {"flip_rows_live": 0}
            if upgrade_ok:
                meta["flip_rev"] = 2
                # the inverted rewrite above reflects exactly the
                # post-compaction shingles segment list — batch
                # commits after this flip land outside it and are
                # read doc-keyed until the next compaction
                meta["shingle_docs_covers"] = (
                    [seg for t, seg in replace if t == "shingles"]
                    or list(self._segments("shingles"))
                )
            # the pair fold above absorbed every outstanding flip
            # delta, and the rewrites purged tombstoned docs — retire
            # both auxiliary tables' segments in the same flip (their
            # dirs become vacuum-collectable orphans)
            self._commit_segments(
                [],
                replace=replace,
                retire={
                    aux: self._segments(aux)
                    for aux in ("flip_docs", "removed_ids")
                },
                meta=meta,
            )

    # ---------------- read side (exact vs from-scratch) ----------------

    def _require_single_tenant(self, tenant: int | None, what: str) -> None:
        """tenant=None read contract: on a store holding MORE THAN ONE
        tenant, every public read that returns doc-keyed rows without a
        tenant column raises — doc ids are only unique per tenant, the
        df statistics and caps are tenant-local, and remove()'s
        tombstone anti-join matches on doc_id alone once the tenant
        column is projected away (a removal in one tenant would
        silently suppress another tenant's same-id rows). Callers pass
        an explicit tenant and get the exact single-corpus behavior;
        single-tenant stores (the default) never notice this guard."""
        if tenant is not None:
            return
        tenants = self._meta.get("tenants", {})
        if len(tenants) > 1:
            raise ValueError(
                f"{what}(tenant=None) is undefined on a multi-tenant "
                f"store (tenants {sorted(tenants)}): doc ids are only "
                "unique per tenant and dedup statistics are "
                "tenant-local — pass an explicit tenant"
            )

    def doc_ids(self, tenant: int | None = None) -> DataFrame:
        """(doc_id) every LIVE ingested document of one tenant —
        remove()'s tombstones are excluded. tenant=None is only
        defined on single-tenant stores (_require_single_tenant)."""
        self._refresh_meta_if_stale()
        self._require_single_tenant(tenant, "doc_ids")
        return self._minus_removed(
            self._read_t("doc_ids", _DOCID_SCHEMA, tenant).select("doc_id"),
            tenant,
        )

    def shingles(self, tenant: int | None = None) -> DataFrame:
        self._refresh_meta_if_stale()  # follow external commits
        self._require_single_tenant(tenant, "shingles")
        return self._minus_removed(
            self._read_t("shingles", _SHINGLE_SCHEMA, tenant).select(
                "doc_id", "shingle"
            ),
            tenant,
        )

    def _sig_schema(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField("tenant", T.IntegerType()),
                T.StructField("doc_id", T.LongType()),
            ]
            + [
                T.StructField(f"m{i}", T.LongType())
                for i in range(self.num_perms)
            ]
        )

    def signatures(self, tenant: int | None = None) -> DataFrame:
        self._refresh_meta_if_stale()
        self._require_single_tenant(tenant, "signatures")
        p = self.num_perms
        return self._minus_removed(
            self._read_t("signatures", self._sig_schema(), tenant).select(
                "doc_id", *[f"m{i}" for i in range(p)]
            ),
            tenant,
        )

    def buckets(
        self, bands: int | None = None, tenant: int | None = None
    ) -> DataFrame:
        """(doc_id, band, bucket). For the store's own banding config
        this serves the STORED bucket table (equal to in-row banding of
        the signatures by construction — buckets are a pure per-doc
        function); a caller asking for a different band count gets the
        on-the-fly banding of the signature table."""
        self._refresh_meta_if_stale()
        self._require_single_tenant(tenant, "buckets")
        if (
            (bands is None or int(bands) == self.lsh_bands)
            and self.schema_rev >= 2
            and self._segments("buckets")
        ):
            return self._minus_removed(
                self._read_t("buckets", _BUCKET_SCHEMA, tenant).select(
                    "doc_id", "band", "bucket"
                ),
                tenant,
            )
        return dedup.lsh_buckets_wide(
            self.signatures(tenant=tenant),
            bands=bands or self.lsh_bands,
            num_perms=self.num_perms,
        )

    def shingle_df(self, tenant: int | None = None) -> DataFrame:
        """(shingle, df) per-tenant document frequencies — sum of the
        per-batch aggregates (additive; see module docstring). With
        tenant=None (single-tenant stores) this is the global table;
        on a multi-tenant store a tenant is required (a cross-tenant
        df sum is no input to any defined cap)."""
        self._require_single_tenant(tenant, "shingle_df")
        return (
            self._read_t("df", _DF_SCHEMA, tenant)
            .groupBy("shingle")
            .agg(F.sum("df").cast("bigint").alias("df"))
        )

    def _nd_shingled(self, tenant: int | None) -> int:
        if tenant is None:
            return int(self._meta["nd_shingled"])
        t = self._meta.get("tenants", {}).get(str(int(tenant)))
        if t is None:
            # legacy single-tenant store: its whole corpus is tenant 0
            return int(self._meta["nd_shingled"]) if int(tenant) == 0 else 0
        return int(t["nd_shingled"])

    def capped_shingles(
        self, max_df_frac: float | None = None, tenant: int | None = None
    ) -> DataFrame:
        """Df-capped shingle table, equal to
        dedup.df_capped_shingles(self.shingles()) with the cap
        evaluated on the maintained statistics — the stop set costs a
        vocab-sized aggregate, never a corpus rescan."""
        max_df_frac = (
            params.JACCARD_MAX_DF_FRAC if max_df_frac is None else max_df_frac
        )
        self._refresh_meta_if_stale()
        self._require_single_tenant(tenant, "capped_shingles")
        cap = self._df_cap(self._nd_shingled(tenant), max_df_frac)
        stop = (
            self.shingle_df(tenant=tenant)
            .filter(F.col("df") > cap)
            .select("shingle")
        )
        return self.shingles(tenant=tenant).join(stop, "shingle", "left_anti")

    @staticmethod
    def _df_cap(nd: int, max_df_frac: float) -> float:
        return min(
            max(nd * max_df_frac, float(params.JACCARD_DF_FLOOR)),
            float(params.JACCARD_DF_CEIL),
        )

    def fingerprints(self, tenant: int | None = None) -> DataFrame:
        """(doc_id, simhash) — the stored SimHash fingerprint table
        (pure per-doc, so per-batch segments union to the full-corpus
        simhash() exactly)."""
        self._refresh_meta_if_stale()
        self._require_single_tenant(tenant, "fingerprints")
        return self._minus_removed(
            self._read_t("simhash", _SIMHASH_SCHEMA, tenant).select(
                "doc_id", "simhash"
            ),
            tenant,
        )

    def simhash_neardup(
        self, max_hamming: int = 3, bands: int = 4, tenant: int | None = None
    ) -> DataFrame:
        """(doc_a, doc_b, hamming) banded-Hamming near-dup pairs off
        the STORED fingerprints — pigeonhole-exact recall for
        max_hamming <= bands-1 (dedup.simhash_neardup_pairs)."""
        return dedup.simhash_neardup_pairs(
            fingerprints=self.fingerprints(tenant=tenant),
            bits=self.simhash_bits,
            bands=bands,
            max_hamming=max_hamming,
        )

    def candidate_pairs(self, tenant: int | None = None) -> DataFrame:
        """(doc_a, doc_b) accumulated band collisions — exactly
        lsh_candidate_pairs(self.buckets()) (segments may overlap on a
        pair rediscovered by a later batch only if doc_ids repeated,
        which update() forbids — but distinct() anyway for safety)."""
        self._refresh_meta_if_stale()
        self._require_single_tenant(tenant, "candidate_pairs")
        return self._minus_removed(
            self._read_t("cand_pairs", _PAIR_SCHEMA, tenant)
            .select("doc_a", "doc_b")
            .distinct(),
            tenant,
            cols=("doc_a", "doc_b"),
        )

    def verified_pairs(
        self,
        min_jaccard: float = 0.5,
        min_overlap: int = 2,
        tenant: int | None = None,
    ) -> DataFrame:
        """(doc_a, doc_b, n_common, jaccard) — the production near-dup
        pair set, always equal to a from-scratch jaccard_verify_pairs
        over the full corpus.

        On a maintained store (pair_stats_live) this is a cheap READ:
        the max-seq row per pair of the incrementally-maintained
        pair_stats artifact, filtered by the knobs — update() already
        verified each pair against the then-current capped sets and
        re-verified the ones df-drift touched, so the stored stats ARE
        the from-scratch answer (see _stage_pair_stats). On a
        verify_every > 1 store, pairs discovered since the last flush
        are not yet visible (bounded staleness of < N batches) —
        flush_pairs() forces exactness. The round-8
        behavior — a full verify per snapshot (141 s at the sf10
        probe's 500k docs), memoized under a lock keyed on
        (snapshot, knobs) — remains as the fallback for legacy stores
        that have not run migrate_layout."""
        self._refresh_meta_if_stale()
        self._require_single_tenant(tenant, "verified_pairs")
        if self._meta.get("pair_stats_live"):
            return self._minus_removed(
                self._pair_latest(tenant)
                .filter(
                    (F.col("n_common") >= int(max(1, min_overlap)))
                    & (F.col("jaccard") >= float(min_jaccard))
                )
                .select("doc_a", "doc_b", "n_common", "jaccard"),
                tenant,
                cols=("doc_a", "doc_b"),
            )
        # keyed on the adopted meta's identity: every commit and every
        # refresh adopts a new dict
        key = (float(min_jaccard), int(min_overlap), tenant)
        meta = self._meta
        with self._verified_lock:
            cached = getattr(self, "_verified_cache", None)
            if cached is not None and cached[0] is meta and cached[1] == key:
                return cached[2]
            df = dedup.jaccard_verify_pairs(
                self.capped_shingles(tenant=tenant),
                None,
                min_jaccard=min_jaccard,
                min_overlap=min_overlap,
                candidates=self.candidate_pairs(tenant=tenant),
            ).persist()
            if cached is not None:
                try:
                    cached[2].unpersist(blocking=False)
                except Exception:  # noqa: BLE001 — best-effort
                    pass
            self._verified_cache = (meta, key, df)
            return df

    def cluster_map(
        self,
        min_jaccard: float = 0.5,
        min_overlap: int = 2,
        tenant: int | None = None,
    ) -> DataFrame:
        """(doc_id, cluster_id) connected components over the verified
        pairs — pair maintenance is incremental; cluster formation
        re-runs over the pair set (pairs ≪ corpus, and labels are a
        global property a true incremental union would have to
        propagate anyway)."""
        return dedup.dup_clusters(
            self.verified_pairs(
                min_jaccard=min_jaccard, min_overlap=min_overlap, tenant=tenant
            )
        )

    def dedup_gate(
        self, documents: DataFrame, tenant: int | None = None
    ) -> DataFrame:
        """Surviving doc_ids of an INCOMING batch after LSH collision
        against the stored corpus (cross-corpus dedup read path —
        dedup.cross_corpus_dedup off the maintained bucket table)."""
        new_wide = dedup.minhash_wide(
            dedup.doc_shingles(documents.select("doc_id", "text")),
            self.num_perms,
        )
        return dedup.cross_corpus_dedup(
            dedup.lsh_buckets_wide(
                new_wide, bands=self.lsh_bands, num_perms=self.num_perms
            ),
            self.buckets(tenant=tenant),
        )
