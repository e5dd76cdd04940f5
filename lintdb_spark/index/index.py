"""The Index: create / load / train / add / remove / update / merge /
search over parquet-backed tables — the Spark rebuild of the
reference's IndexIVF (lintdb/index.h:60-211).

Physical layout (SURVEY.md §7 target architecture):

    <path>/_schema.json                  — Schema (index.cpp:331-333)
    <path>/_meta.json                    — table versions + trained flag
    <path>/centroids/<field>-<gen>.parquet — IVF centroids (broadcastable)
    <path>/quantizers/<field>-<gen>.json   — residual quantizer params;
                                           one generation per (re)train,
                                           named by the meta it was
                                           published with
    <path>/docs/v<N>/                    — forward store, partitioned by
                                           tenant: scalars + per-colbert
                                           codes/residuals/num_tokens
                                           (roles Stored+Context, B7/B8)
    <path>/postings/<field>/v<N>/        — inverted store, partitioned by
                                           (tenant, centroid_id): key-only
                                           posting rows (B5; ColBERT
                                           postings carry no values,
                                           DocEncoder.cpp:107-130)

Design-for-scale notes:
- tenant is a partition column on every table -> structural tenant
  isolation AND pruning, the analogue of the reference's key-prefix
  layout (KeyBuilder.h:13-14).
- postings partitioned by centroid_id -> the IVF probe (`centroid_id
  IN probes`) is partition pruning, i.e. only n_probe/num_centroids of
  the inverted data is ever read — same asymptotics as opening n_probe
  RocksDB posting lists.
- EVERY mutation commits through _meta.json — a poor-man's Delta log.
  A table's live state is the list of SEGMENT directories recorded in
  meta["segments"][table]. Every mutation has one writer (_stage) and
  one commit (_commit_segments, one rename-atomic JSON write covering
  all tables at once): add/merge stage each table's new rows into a
  fresh seg-<uuid> directory; remove/compact stage each table's
  survivors as one consolidated v<N> segment that replaces the list;
  update stages both and publishes them in the same flip. A crash
  anywhere before the flip leaves orphan directories that no reader
  ever sees — a retry cannot duplicate rows (the crash-injection
  tests assert this). The reference gets the same guarantee from a
  single RocksDB WriteBatch (lintdb/invlists/IndexWriter.cpp:22-58).
- centroid matrices live in driver memory / broadcasts (num_centroids
  ~ sqrt(total tokens): 65536 x 128 fp32 = 32 MB at the reference's
  largest published config — BASELINE.md).
"""

from __future__ import annotations

import logging
import math
import os
import threading
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lintdb_spark.cache import tag_broadcasts, tag_cached
from lintdb_spark.index import coarse, kernels, serve
from lintdb_spark.index.query import (
    AndQuery,
    MatchQuery,
    OrQuery,
    SearchOptions,
    TermQuery,
    VectorQuery,
    check_k,
)
from lintdb_spark.index.quantizers import (
    Binarizer,
    IdentityQuantizer,
    ProductQuantizer,
    quantizer_from_json,
    quantizer_to_json,
)
from lintdb_spark.index.schema import DataType, FieldType, QuantizerType, Schema
from lintdb_spark.index.store import APPENDED, REPLACED, UNCHANGED, Delta, SegmentStore


def _parse_byte_conf(value, default: int) -> int:
    """Parse a Spark byte-size conf value. Spark returns these as
    strings that may carry a unit suffix ('10485760b' — the stock
    default —, '64m', '1g', '10mb'); a plain int() would reject them
    and silently fall back, ignoring the user's configured threshold.
    '-1' (feature disabled) passes through as -1."""
    if value is None:
        return default
    s = str(value).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in "kmgt":
        mult = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}[s[-1]]
        s = s[:-1]
    try:
        # multiply BEFORE truncating: '1.5g' is 1.5 GiB, not 1 GiB
        return int(float(s) * mult)
    except ValueError:
        return default


def _tags_broadcasts(fn):
    """Wrap a serve entry point so every per-call broadcast it creates
    (via ``Index._bc``) is tagged onto the returned DataFrame for
    ``cache.release``. Only the OUTERMOST serve call owns the pending
    list — search() delegating to search_xtr() must not reset it; the
    outer wrapper tags the combined set on the frame it returns."""
    import functools

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        tls = self._bcast_tls  # THREAD-local: the HTTP server runs
        # concurrent lock-free searches on one shared Index; shared
        # instance state here would cross-tag (and then prematurely
        # release) another request's broadcasts
        outer = getattr(tls, "pending", None) is None
        if outer:
            tls.pending = []
        try:
            out = fn(self, *args, **kwargs)
            if outer and tls.pending:
                tag_broadcasts(out, *tls.pending)
            return out
        except BaseException:
            # broadcasts created BEFORE the failure (e.g. bc_q built,
            # then a missing-field KeyError) would otherwise leak one
            # blob per failed request on a long-lived server — exactly
            # the leak this mechanism exists to prevent. Best-effort
            # unpersist, then re-raise.
            if outer:
                for b in tls.pending:
                    try:
                        b.unpersist(blocking=False)
                    except Exception:  # noqa: BLE001
                        pass
            raise
        finally:
            if outer:
                tls.pending = None

    return wrapper


_POSTINGS_CACHE_MAX = 64  # serve-postings LRU slots (fields x tenants)

# TERM values the driver-local path compares exactly like Spark's
# ``col == lit(value)``; any other (field type, value type) pair keeps
# the Spark plan and its casting rules
_LOCAL_TERM_TYPES = {
    DataType.INTEGER.value: (int,),
    DataType.FLOAT.value: (int, float),
    DataType.TEXT.value: (str,),
}


def _local_term_ok(data_type, value) -> bool:
    """True when a TERM on a field of ``data_type`` compares ``value``
    in Arrow exactly as Spark's equality does. Not so, and left to the
    Spark plan: bools, ints outside int64, and on FLOAT fields NaN
    (Spark SQL has NaN = NaN, Arrow does not) and ints beyond +-2^53
    (Arrow refuses to cast them to float64)."""
    if not isinstance(value, _LOCAL_TERM_TYPES.get(data_type, ())) or isinstance(
        value, bool
    ):
        return False
    if data_type == DataType.FLOAT.value:
        return (
            abs(value) <= 2**53 if isinstance(value, int) else not math.isnan(value)
        )
    return not isinstance(value, int) or -(2**63) <= value < 2**63


class _Snapshot(NamedTuple):
    """One committed generation of an Index: its meta dict and the
    centroids and quantizers published with it. Never changed after
    adoption; a reader that captures one reads one generation."""

    meta: dict
    centroids: dict[str, np.ndarray]
    quantizers: dict[str, object]


class Index(SegmentStore):
    def __init__(self, spark: SparkSession, path: str, schema: Schema):
        self.schema = schema
        # the driver-local serve state (serve.ServeState): one slot, for
        # the (tenant, field) searched last; read lock-free, built,
        # carried and installed under _serve_lock, which every adoption
        # holds so the slot and the snapshot move together
        self._serve_slot = None
        self._serve_lock = threading.Lock()
        self._serve_rebuilds = 0
        self._serve_carries = 0
        super().__init__(spark, path, {"versions": {}, "trained": False}, ({}, {}))
        # per-call broadcast tracking: a THREAD-local list, non-None
        # only while that thread is inside a @_tags_broadcasts serve
        # entry point (see _bc); thread-local because the HTTP server
        # issues concurrent searches against one shared Index
        self._bcast_tls = threading.local()
        # guards the _postings_serve LRU (lookup/insert/evict) against
        # concurrent server threads
        self._postings_cache_lock = threading.Lock()

    @property
    def _exact_schema_tables(self) -> tuple[str, ...]:
        # docs and vector-postings segments are written from exactly the
        # columns _docs() / _postings() read them with
        return ("docs",) + tuple(
            f"postings/{f.name}" for f in self.schema.colbert_fields()
        )

    # the adopted snapshot, read whole: the meta dict is the token every
    # serve cache keys on, and the trained state is the one published
    # with it
    _meta = property(lambda self: self._snap.meta)
    centroids = property(lambda self: self._snap.centroids)
    quantizers = property(lambda self: self._snap.quantizers)

    def _adopt(self, meta: dict, stat, sidecars=None, carried=None) -> None:
        # the serve state _carry derived for ``meta`` takes the slot in
        # the same critical section: a search that misses on the slot
        # waits here and then finds the new snapshot's state
        with self._serve_lock:
            self._meta_stat = stat
            c, q = (self.centroids, self.quantizers) if sidecars is None else sidecars
            self._snap = _Snapshot(meta, c, q)
            if carried is not None:
                old, self._serve_slot = self._serve_slot, carried
                self._serve_carries += 1
                if old is not None:
                    old.release()

    def _bc(self, obj):
        """Broadcast ``obj``, registering the handle with the current
        serve call (if any) so cache.release can unpersist it after the
        result is materialized. Broadcasts owned by session-lifetime
        caches (the serve state's) must use ``sparkContext.broadcast``
        directly instead."""
        b = self.spark.sparkContext.broadcast(obj)
        pending = getattr(self._bcast_tls, "pending", None)
        if pending is not None:
            pending.append(b)
        return b

    # ---------------- lifecycle (A1-A3, A9) ----------------

    @classmethod
    def create(cls, spark: SparkSession, path: str, schema: Schema) -> "Index":
        """A1: fresh index — directory + schema sidecar, untrained
        quantizers (lintdb/index.cpp:60-74)."""
        idx = cls(spark, path, schema)
        idx.fs.makedirs(path, exist_ok=False)
        idx._save_sidecars({}, {}, False)
        return idx

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "Index":
        """A2: open existing index from sidecars (index.cpp:40-58)."""
        from lintdb_spark.index.fs import filesystem_for

        fs = filesystem_for(path)
        schema = Schema.from_json(
            fs.open_read(os.path.join(path, "_schema.json")).decode()
        )
        idx = cls(spark, path, schema)
        idx._storefs = fs  # reuse (shares the staged-FS cache dir)
        idx._load_meta(idx._stat_meta())
        return idx

    def _normalize_meta(self, meta: dict) -> None:
        # normalize once per (re)load: _version() indexes
        # _meta['versions'] directly, so a legacy add-only meta
        # without the key would load fine but KeyError on the first
        # mutation. super() also decodes the on-disk manifest coding.
        super()._normalize_meta(meta)
        if "segments" not in meta:
            # pre-segment layout: each table's live data is its v<N>
            # dir. Enumerate the SCHEMA's tables — not versions.items():
            # an add-only legacy index never wrote versions at all
            # (implicit v0 dirs), and would otherwise load with no
            # segments registered, reading empty and letting vacuum()
            # delete the live v0 dirs as orphans.
            versions = meta.get("versions", {})
            tables = self._all_tables(self.schema)
            meta["segments"] = {
                t: [f"v{versions.get(t, 0)}"]
                for t in tables
                if self.fs.isdir(
                    os.path.join(self.path, t, f"v{versions.get(t, 0)}")
                )
            }
        if "sidecar_files" not in meta:
            # written before the trained-state files were versioned:
            # each field's files carry the unversioned names
            fields = [f.name for f in self.schema.colbert_fields()]
            meta["sidecar_files"] = {
                "centroids": {f: f"centroids/{f}.parquet" for f in fields},
                "quantizers": {f: f"quantizers/{f}.json" for f in fields},
            }

    def _on_meta_reloaded(self, meta: dict):
        """Centroids + quantizers from the files ``meta`` names
        (``sidecar_files``: {"centroids" | "quantizers": {field: path
        relative to the index}}), adopted with it — by load() and the
        cross-process staleness refresh (an external RE-TRAIN commit
        changes these, not just the segment lists; scoring new postings
        against old centroid matrices would return garbage or
        IndexError)."""
        # rebuilt from SCRATCH each (re)load: an external commit that
        # dropped a field's trained state must drop it here too, not
        # leave the reader serving it forever
        import io

        files = meta["sidecar_files"]
        new_c: dict[str, np.ndarray] = {}
        new_q: dict[str, object] = {}
        for name, rel in files["centroids"].items():
            cpath = os.path.join(self.path, rel)
            if self.fs.exists(cpath):
                pdf = pd.read_parquet(
                    io.BytesIO(self.fs.open_read(cpath))
                ).sort_values("centroid_id")
                new_c[name] = np.vstack(pdf["vec"].to_numpy()).astype(np.float32)
        for name, rel in files["quantizers"].items():
            qpath = os.path.join(self.path, rel)
            if self.fs.exists(qpath):
                new_q[name] = quantizer_from_json(self.fs.open_read(qpath).decode())
        return new_c, new_q

    def copy_trained(self, path: str) -> "Index":
        """A3: clone trained state (centroids/quantizers) into a fresh
        writable index (index.cpp:76-90)."""
        idx = Index.create(self.spark, path, self.schema)
        idx._save_sidecars(
            dict(self.centroids), dict(self.quantizers), self._meta["trained"]
        )
        return idx

    def _save_sidecars(self, centroids: dict, quantizers: dict, trained: bool) -> None:
        """A9 save(): schema + centroids + quantizer params
        (index.cpp:317-357), then ONE flip publishes ``trained`` and
        the new files' names and adopts the new dicts with its meta —
        until then searches score with the adopted snapshot's. Each
        call writes a new generation of files (``<field>-<gen>``), so
        a flip that fails leaves every meta paired with the files it
        names; vacuum collects superseded generations. Heavy (rewrites
        centroid matrices): create/train/set-quantizer time only."""
        import io
        import uuid

        self.fs.write_atomic(
            os.path.join(self.path, "_schema.json"),
            self.schema.to_json().encode(),
        )
        self.fs.makedirs(os.path.join(self.path, "centroids"), exist_ok=True)
        self.fs.makedirs(os.path.join(self.path, "quantizers"), exist_ok=True)
        # sidecars first, each atomically, THEN the _meta.json flip:
        # the meta flip is the one commit point a cross-process reader
        # keys its staleness refresh on, so every byte the refresh will
        # reload must already be durable when the flip lands
        gen = uuid.uuid4().hex[:12]
        files: dict[str, dict[str, str]] = {"centroids": {}, "quantizers": {}}
        for name, C in centroids.items():
            buf = io.BytesIO()
            pd.DataFrame(
                {"centroid_id": np.arange(len(C)), "vec": list(C)}
            ).to_parquet(buf)
            rel = files["centroids"][name] = f"centroids/{name}-{gen}.parquet"
            self.fs.write_atomic(os.path.join(self.path, rel), buf.getvalue())
        for name, q in quantizers.items():
            rel = files["quantizers"][name] = f"quantizers/{name}-{gen}.json"
            self.fs.write_atomic(
                os.path.join(self.path, rel), quantizer_to_json(q).encode()
            )
        self._commit_segments(
            [],
            meta={"trained": trained, "sidecar_files": files},
            sidecars=(centroids, quantizers),
        )

    def vacuum(self, min_age_s: float = 3600.0) -> list[str]:
        """SegmentStore.vacuum, plus the trained-state files no longer
        named by the committed meta (superseded generations, the files
        of a re-train whose flip failed), under the same age guard: a
        re-train in flight has written files its flip does not yet
        name."""
        import time as _time

        removed = super().vacuum(min_age_s)
        live = {
            rel
            for per in self._meta.get("sidecar_files", {}).values()
            for rel in per.values()
        }
        now = _time.time()
        for sub in ("centroids", "quantizers"):
            root = os.path.join(self.path, sub)
            if not self.fs.isdir(root):
                continue
            for child in self.fs.listdir(root):
                rel = f"{sub}/{child}"
                full = os.path.join(root, child)
                try:
                    if rel not in live and now - self.fs.getmtime(full) >= min_age_s:
                        self.fs.unlink(full)
                        removed.append(rel)
                except OSError:
                    continue  # a concurrent writer or vacuum touched it
        return removed

    # ---------------- table paths / segments ----------------

    def _all_tables(self, schema: Schema | None = None) -> list[str]:
        """Every table this schema materializes — THE single list
        load()'s legacy-migration and vacuum()'s orphan sweep both
        enumerate (a new table kind added in one place is covered by
        both)."""
        sch = schema or self.schema
        return (
            ["docs"]
            + [f"postings/{f.name}" for f in sch.colbert_fields()]
            + [f"postings_text/{f.name}" for f in sch.analyzed_text_fields()]
        )

    def _write_postings(self, postings: DataFrame, path: str) -> None:
        """THE vector-postings segment layout, shared by add / rewrite
        / merge. Directory-partitioned by TENANT only, with rows
        shuffled on (tenant, centroid_id) and sorted on centroid_id
        inside each file — so a tenant slice is a bounded number of
        well-sized files (~shuffle.partitions, re-split by
        maxRecordsPerFile) whose row groups carry centroid_id min/max
        stats. Earlier rounds dir-partitioned by (tenant, centroid_id):
        dir-level centroid pruning looked attractive, but every serve
        path reads through the _postings_serve tenant-slice cache
        (which clusters in memory), so the 8,000 centroid dirs bought
        nothing and cost the classic small-files problem — the sf10
        probe paid 6,183 file opens (and, pre-manifest, a 6,183-task
        listing job) on every cold start. One file per (task, tenant)
        is the 100 TB-correct shape: file count scales with cluster
        parallelism, not with num_centroids."""
        (
            postings.repartition("tenant", "centroid_id")
            .sortWithinPartitions("tenant", "centroid_id")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 5_000_000)
            .partitionBy("tenant")
            .parquet(self.fs.spark_write_path(path))
        )
        self.fs.publish(path)

    # the table readers open the snapshot ``meta`` a read captured
    # (default: the live meta, for writers), typed by _minor_schema

    def _docs(self, meta: dict | None = None) -> DataFrame:
        return self._read("docs", self._minor_schema("docs"), meta)

    def _postings(self, field: str, meta: dict | None = None) -> DataFrame:
        t = f"postings/{field}"
        return self._read(t, self._minor_schema(t), meta)

    def _text_postings(self, field: str, meta: dict | None = None) -> DataFrame:
        t = f"postings_text/{field}"
        return self._read(t, self._minor_schema(t), meta)

    # ---------------- train (A4) ----------------

    def train(self, docs_df: DataFrame, normalize: bool = True) -> None:
        """Per colbert field: k-means centroids over all token
        embeddings, then residual-quantizer training on a sqrt(n)-style
        driver sample (index.cpp:198-315). Commits sidecars + meta, so
        it serializes via the writer lock like every other mutator — a
        retrain racing a cross-process add must not lose the add's
        _meta.json update. The heavy k-means runs OUTSIDE the lock
        into locals; the lock covers only the sidecar commit, which
        merges them into copies of the trained state the (re-synced)
        meta was adopted with."""
        new_c: dict[str, np.ndarray] = {}
        new_q: dict[str, object] = {}
        for fld in self.schema.colbert_fields():
            k = fld.parameters.num_centroids
            if k <= 0:
                raise ValueError(f"field {fld.name}: num_centroids required to train")
            toks = docs_df.select(F.explode(F.col(fld.name)).alias("vec"))
            C = coarse.train_centroids(
                toks, k, max_iter=fld.parameters.num_iterations, normalize=normalize
            )
            new_c[fld.name] = C

            qkind = fld.parameters.quantization
            n_tokens = toks.count()
            sample_n = min(n_tokens, max(10_000, int(n_tokens**0.5)))
            frac = min(1.0, sample_n / max(n_tokens, 1))
            sample = np.asarray(
                toks.sample(fraction=frac, seed=42).limit(100_000).toPandas()["vec"].tolist(),
                dtype=np.float32,
            )
            codes = (sample @ C.T).argmax(axis=1)
            residuals = sample - C[codes]
            if qkind == QuantizerType.BINARIZER.value:
                new_q[fld.name] = Binarizer.train(residuals, fld.parameters.nbits)
            elif qkind == QuantizerType.PRODUCT.value:
                new_q[fld.name] = ProductQuantizer.train(
                    residuals,
                    fld.parameters.num_subquantizers,
                    nbits=fld.parameters.nbits or 8,
                )
            elif qkind == QuantizerType.FLOAT16.value:
                from lintdb_spark.index.quantizers import HalfQuantizer

                new_q[fld.name] = HalfQuantizer(fld.parameters.dimensions)
            else:
                new_q[fld.name] = IdentityQuantizer(fld.parameters.dimensions)
        with self._writer_lock():
            self._save_sidecars(
                {**self.centroids, **new_c}, {**self.quantizers, **new_q}, True
            )

    def set_coarse_quantizer(self, field: str, centroids: np.ndarray) -> None:
        """A10: inject externally trained centroids (index.cpp:454-479).
        Lock-serialized for the same reason as train()."""
        with self._writer_lock():
            self._save_sidecars(
                {**self.centroids, field: np.asarray(centroids, dtype=np.float32)},
                dict(self.quantizers),
                True,
            )

    # ---------------- add / remove / update / merge (A5-A8) ----------------

    def _validate_ingest(self, docs_df: DataFrame) -> None:
        """B2 validateField: unknown/missing columns raise
        (DocProcessor.cpp:47-50, 200-207)."""
        expected = {f.name for f in self.schema.ingest_spark_schema().fields}
        got = set(docs_df.columns)
        if got != expected:
            raise ValueError(
                f"ingest schema mismatch: missing={sorted(expected - got)} unknown={sorted(got - expected)}"
            )

    def add(
        self,
        docs_df: DataFrame,
        idempotency_token: tuple[str, int] | None = None,
        auto_maintain: bool | None = None,
    ) -> None:
        """A5/B1: validate -> assign centroids -> encode residuals ->
        role fan-out -> STAGED multi-table append: every table's rows
        land in a fresh segment directory first, then one _meta.json
        flip publishes them all (the WriteBatch-atomicity analogue,
        IndexWriter.cpp:22-58). A crash mid-add leaves only invisible
        orphan segments — retrying cannot duplicate the batch.

        ``idempotency_token`` = (source_key, batch_id) makes REPLAYED
        batches no-ops: the token commits in the SAME meta flip as the
        segments, so a batch is either fully published with its token
        or neither — an at-least-once deliverer (foreachBatch re-runs
        the batch whenever anything after add() fails, including a
        post-add compaction) that replays an already-committed
        (source_key, batch_id) is skipped instead of appending
        duplicates. batch_ids must be monotonically increasing per
        source_key (Structured Streaming's contract)."""
        if not self._meta["trained"]:
            raise RuntimeError("index must be trained before add()")
        if idempotency_token is not None:
            key, bid = idempotency_token
            if int(bid) <= self._meta.get("stream_batches", {}).get(key, -1):
                return  # replay of a batch whose flip already committed
        self._validate_ingest(docs_df)
        self._ingest(docs_df, idempotency_token, auto_maintain)

    def _ingest(
        self, docs_df, idempotency_token=None, auto_maintain=None, replace=False
    ) -> None:
        """Encode ``docs_df``, stage its rows as seg-* segments and
        publish them in one flip — with ``replace``, together with
        every table's survivors of the (tenant, doc_id) anti-join
        against those rows, staged as its next v<N> (update)."""
        ingest_bcs = []  # centroid blobs the coarse UDFs broadcast;
        # released in the finally (a long-lived server must not leak
        # one pair per ingest — including when UDF construction itself
        # fails between fields, e.g. a missing quantizer sidecar)
        with self._writer_lock():
            # re-check the replay watermark UNDER the lock: the refresh
            # inside _writer_lock may have pulled a concurrent
            # process's commit of this very batch
            if idempotency_token is not None:
                key, bid = idempotency_token
                if int(bid) <= self._meta.get("stream_batches", {}).get(key, -1):
                    return
            try:
                # cache: the assign/encode UDF lineage feeds one docs
                # write plus one postings write per colbert/text field
                # (and update's anti-join keys) — without this every
                # action re-runs the broadcast matmuls over the batch
                out = self._encode(docs_df, ingest_bcs).persist()
                try:
                    # ONE count fills the cache AND is the empty-batch
                    # probe: the ingest lineage (aggregation + assign/
                    # encode UDFs) runs exactly once, every staged
                    # write reads the cache, and a zero-row batch
                    # commits nothing (no footerless segment to break
                    # later schema inference)
                    if out.count() == 0:
                        return
                    rewrites = []
                    if replace:
                        keys = out.select("tenant", "doc_id").distinct()
                        rewrites = self._stage(
                            [
                                (t, df.join(keys, ["tenant", "doc_id"], "left_anti"))
                                for t, df in self._committed()
                            ],
                            rewrite=True,
                        )
                    staged = self._stage(self._ingest_frames(out))
                finally:
                    out.unpersist()
                self._commit_segments(
                    staged,
                    stream_batch=idempotency_token,
                    replace=rewrites,
                    delta=REPLACED if replace else APPENDED,
                )
            finally:
                for b in ingest_bcs:
                    try:
                        b.unpersist(blocking=False)
                    except Exception:  # noqa: BLE001 — best-effort
                        pass
            # self-triggering tiered maintenance (shared SegmentStore
            # machinery): a stream whose caller never configured
            # compact_every must not walk into the segment-accretion
            # serve cliff. Still under the writer lock (the re-entrant
            # acquire); auto_compact=False opts out for
            # explicitly-managed indexes, and ``auto_maintain=False``
            # for THIS call only (stream_ingest's explicit cadence).
            if auto_maintain is None or auto_maintain:
                self._auto_maintain()

    def _encode(self, docs_df: DataFrame, ingest_bcs: list) -> DataFrame:
        """Per colbert field: the assigned centroid codes, encoded
        residuals and token count replace the raw token column."""
        out = docs_df
        for fld in self.schema.colbert_fields():
            C = self.centroids[fld.name]
            q = self.quantizers[fld.name]
            assign = coarse.assign_udf(self.spark, C)
            enc = coarse.residual_encode_udf(self.spark, C, q)
            for u in (assign, enc):
                b = getattr(u, "_lintdb_bc", None)
                if b is not None:
                    ingest_bcs.append(b)
            # B2 validateField's value half (>= 1 token vector per doc,
            # non-NULL) is enforced INSIDE assign_udf: Catalyst extracts
            # Python UDFs into their own plan node below any projection,
            # so a plan-side assert_true cannot be ordered before the
            # UDF — the UDF itself raises the clear B2 error.
            out = (
                out.withColumn(f"{fld.name}__codes", assign(F.col(fld.name)))
                .withColumn(f"{fld.name}__residuals", enc(F.col(fld.name), F.col(f"{fld.name}__codes")))
                .withColumn(f"{fld.name}__num_tokens", F.size(F.col(fld.name)).cast("int"))
                .drop(fld.name)
            )
        return out

    def _ingest_frames(self, out: DataFrame) -> list[tuple[str, DataFrame]]:
        """The role fan-out of an encoded batch: its docs rows, one
        posting row per (tenant, centroid, doc) per colbert field, and
        token postings per analyzed TEXT field (the inverted text
        index, the KeyBuilder.h:264-267 text-posting analogue at token
        level)."""
        from lintdb_spark.functions.text import analyze_standard

        doc_cols = [f.name for f in self.schema.doc_spark_schema().fields]
        frames = [("docs", out.select(*doc_cols))]
        for fld in self.schema.colbert_fields():
            frames.append(
                (
                    f"postings/{fld.name}",
                    out.select(
                        "tenant",
                        F.explode(F.col(f"{fld.name}__codes")).alias("centroid_id"),
                        "doc_id",
                    ).distinct(),
                )
            )
        for fld in self.schema.analyzed_text_fields():
            frames.append(
                (
                    f"postings_text/{fld.name}",
                    out.select(
                        "tenant",
                        F.explode(analyze_standard(F.col(fld.name))).alias("token"),
                        "doc_id",
                    )
                    # one row per (token, doc) with its term frequency
                    # (the MatchQuery 'tf' scoring mode)
                    .groupBy("tenant", "token", "doc_id")
                    .agg(F.count("*").cast("bigint").alias("tf")),
                )
            )
        return frames

    def _committed(self, src: "Index | None" = None) -> list[tuple[str, DataFrame]]:
        """(table, committed rows of ``src``, default this index) for
        every table of this schema: docs and the vector postings
        always, a text-postings table once ``src`` holds a segment of
        it."""
        src = src or self
        out = [("docs", src._docs())] + [
            (f"postings/{f.name}", src._postings(f.name))
            for f in self.schema.colbert_fields()
        ]
        for f in self.schema.analyzed_text_fields():
            if src._segments(f"postings_text/{f.name}"):
                out.append((f"postings_text/{f.name}", src._text_postings(f.name)))
        return out

    def _stage(
        self, frames: list[tuple[str, DataFrame]], rewrite: bool = False
    ) -> list[tuple[str, str]]:
        """THE segment writer of every Index mutation: write each
        (table, rows) pair as one new segment in the table's layout
        (_minor_write), all overlapped through _run_writes, and return
        the staged (table, segment) pairs for _commit_segments. An
        append is named seg-<uuid>; a ``rewrite`` (the table's whole
        new contents) is its next v<N>. Nothing is visible until the
        commit; a failure leaves orphans vacuum collects."""
        staged, writes = [], []
        for table, df in frames:
            if rewrite:
                v = self._version(table) + 1
                seg, path = f"v{v}", self._table_path(table, v)
            else:
                seg, path = self._stage_path(table)
            writes.append(lambda t=table, d=df, p=path: self._minor_write(t, d, p))
            staged.append((table, seg))
        self._run_writes(writes)
        return staged

    def remove(self, tenant: int, doc_ids: list[int]) -> None:
        """A6: delete postings + forward rows for ids — every table's
        survivors are staged as its next v<N> and published in one
        flip (Delta-DELETE analogue). The doc->centroid mapping (B6) is
        implicit in the codes column; the tenant + IN filter pushes
        down to the parquet scan. No ids: nothing is committed."""
        ids = sorted({int(i) for i in doc_ids})
        if not ids:
            return
        cond = (F.col("tenant") == tenant) & F.col("doc_id").isin(ids)
        with self._writer_lock():
            self._commit_segments(
                [],
                replace=self._stage(
                    [(t, df.filter(~cond)) for t, df in self._committed()],
                    rewrite=True,
                ),
                delta=Delta(removed=(int(tenant), ids)),
            )

    def update(self, docs_df: DataFrame) -> None:
        """A7: remove + add (index.cpp:501-510) as ONE commit: under
        one writer lock the new rows are encoded and persisted, every
        table's survivors of the (tenant, doc_id) anti-join against
        them are staged as its next v<N>, the new rows as seg-*
        segments, and one meta flip publishes both — a reader sees the
        old docs or the new ones, and a failure anywhere before the
        flip leaves the index as it was. The keys come from the
        persisted batch: no driver-side collect, so bulk updates scale
        to key sets that would OOM an IN-list. A zero-row frame
        commits nothing."""
        if not self._meta["trained"]:
            raise RuntimeError("index must be trained before add()")
        self._validate_ingest(docs_df)
        self._ingest(docs_df, replace=True)

    def _minor_schema(self, table: str):
        """Pin the empty-union fallback's type for every index table
        (ADVICE r11): a minor-merge group whose segments all fall
        through to the listing read and yield no frames (legacy
        no-manifest segments with missing or footerless dirs) reaches
        _read_uncached's createDataFrame([], schema) — None there
        raises inside add()'s commit path. Real (non-empty) reads
        still infer from the files, so columns added later (e.g.
        text-posting tf) are unaffected."""
        if table == "docs":
            return self.schema.doc_spark_schema()
        if table.startswith("postings_text/"):
            return T.StructType(
                [
                    T.StructField("tenant", T.LongType()),
                    T.StructField("token", T.StringType()),
                    T.StructField("doc_id", T.LongType()),
                    T.StructField("tf", T.LongType()),
                ]
            )
        if table.startswith("postings/"):
            return T.StructType(
                [
                    T.StructField("tenant", T.LongType()),
                    T.StructField("centroid_id", T.LongType()),
                    T.StructField("doc_id", T.LongType()),
                ]
            )
        return None

    def _minor_write(self, table: str, df, path: str) -> None:
        """The segment layout per table kind, for every segment the
        Index writes (_stage's seg-* and v<N>, minor_compact's m<L>-*):
        vector postings go through THE shared postings writer; docs
        and text postings are tenant-partitioned parquet."""
        if table.startswith("postings/"):
            self._write_postings(df, path)
        else:
            df.write.mode("overwrite").partitionBy("tenant").parquet(
                self.fs.spark_write_path(path)
            )
            self.fs.publish(path)

    def compact(self) -> None:
        """Consolidate every table's segment list into ONE v<N>
        segment (the Delta OPTIMIZE / RocksDB manual-compaction
        analogue — the reference gets this implicitly from RocksDB's
        background LSM compaction; a segmented parquet layout needs it
        explicit). Streaming/micro-batch ingest accretes one staged
        segment per add(), and every read unions one scan per segment
        — after N small adds a search pays N scan branches and the
        per-file footer overhead. Compaction is remove's rewrite with
        nothing dropped: every table staged as its next v<N>, one meta
        flip; readers of the old segment list are untouched, and a
        crash before the flip changes nothing. Run vacuum() afterwards
        (age guard permitting) to reclaim the superseded segment
        dirs."""
        with self._writer_lock():
            self._commit_segments(
                [],
                replace=self._stage(self._committed(), rewrite=True),
                delta=UNCHANGED,
            )

    def get_mapping(self, tenant: int, doc_id: int, field: str | None = None) -> list[int]:
        """C10 doc->centroid mapping lookup (RocksdbInvertedList.cpp:
        98-118): sorted distinct centroid ids of the doc's tokens,
        read from the codes column (B6's mapping is implicit here)."""
        field = field or self.schema.colbert_fields()[0].name
        rows = (
            self._docs()
            .filter((F.col("tenant") == tenant) & (F.col("doc_id") == doc_id))
            .select(F.explode(F.col(f"{field}__codes")).alias("c"))
            .distinct()
            .collect()
        )
        return sorted(r["c"] for r in rows)

    def merge(self, other: "Index") -> None:
        """A8: bulk-append another index's tables. Requires identical
        trained state — centroids AND residual quantizers (the
        reference documents the same constraint: merging across
        different trained state is unsafe, index.cpp:512-535; a
        different quantizer here would silently mis-decode the other
        index's residual blobs)."""
        from lintdb_spark.index.quantizers import quantizer_to_json

        for name, C in self.centroids.items():
            if name not in other.centroids or not np.allclose(C, other.centroids[name]):
                raise ValueError("merge requires identical centroids")
        for name, q in self.quantizers.items():
            oq = other.quantizers.get(name)
            if oq is None or quantizer_to_json(q) != quantizer_to_json(oq):
                raise ValueError(f"merge requires identical quantizers (field {name})")
        with self._writer_lock():
            self._commit_segments(self._stage(self._committed(other)), delta=APPENDED)

    # ---------------- search (C1-C9, D1-D8) ----------------

    def _postings_serve(
        self, field: str, tenant: int, meta: dict | None = None
    ) -> DataFrame:
        """Serve-side postings slice (centroid_id, doc_id) for one
        tenant of the snapshot ``meta`` (default: the live meta),
        PERSISTED and keyed on that meta's identity — the
        Spark analogue of the reference keeping posting lists hot in
        RocksDB's block cache (RocksdbInvertedList reads hit RAM after
        first touch). Re-reading the partitioned parquet per serve
        call paid a many-file scan every batch (194 tasks over 6183
        partition dirs at the sf10 probe — file-open overhead, not
        data); warm batches drop that entirely. The cached columnar
        form keeps per-batch min/max stats and is clustered on
        centroid_id below, so single-query probe filters
        (centroid_id IN ...) skip non-probed batches in memory —
        cache-side partition pruning.

        Scale contract: persist() is MEMORY_AND_DISK with LRU
        eviction, so hot tenants' slices stay resident and cold ones
        spill — never a correctness risk. The entry map itself is
        LRU-capped (_POSTINGS_CACHE_MAX slots) so a server fielding
        thousands of tenants doesn't accrete unbounded persisted
        lineage; any commit (local or external via the staleness
        refresh) adopts a new meta, and the next serve rebuilds.

        Thread safety: the multi-threaded server shares one Index, so
        lookup/insert/evict run under a lock — without it two threads
        missing on the same key both persist a slice and the loser's
        frame leaks until ContextCleaner GC, and concurrent
        move_to_end/popitem corrupt the OrderedDict. Building the
        DataFrame under the lock is cheap: persist() is lazy, no job
        runs until a caller triggers an action outside the lock."""
        with self._postings_cache_lock:
            cache = getattr(self, "_postings_serve_cache", None)
            if cache is None:
                from collections import OrderedDict

                cache = self._postings_serve_cache = OrderedDict()
            key = (field, int(tenant))
            meta = meta or self._meta
            slot = cache.get(key)
            if slot is not None and slot[0] is meta:
                cache.move_to_end(key)
                return slot[1]
            n_parts = self.spark.sparkContext.defaultParallelism
            df = (
                self._postings(field, meta)
                .filter(F.col("tenant") == int(tenant))
                .select("centroid_id", "doc_id")
                .repartition(n_parts, "centroid_id")
                .sortWithinPartitions("centroid_id")
                .persist()
            )
            if slot is not None:
                try:
                    slot[1].unpersist(blocking=False)
                except Exception:  # noqa: BLE001 — best-effort
                    pass
            cache[key] = (meta, df)
            cache.move_to_end(key)
            while len(cache) > _POSTINGS_CACHE_MAX:
                _, old = cache.popitem(last=False)
                try:
                    old[1].unpersist(blocking=False)
                except Exception:  # noqa: BLE001 — best-effort
                    pass
            return df

    def _top_centroids(
        self, field: str, qtok: np.ndarray, opts: SearchOptions, snap=None
    ) -> list[int]:
        """C6/C7 KnnNearestCentroids (KnnNearestCentroids.cpp:38-110):
        each token nominates its top k_top_centroids; a centroid's score
        is the max over ONLY those nominations (a score outside a
        token's top-k never contributes); non-positive scores dropped;
        top n_probe survive, over ``snap``'s centroids (default: the
        adopted snapshot's) by kernels.top_centroids, as batches do."""
        C = (snap or self._snap).centroids[field].astype(np.float64)
        probed = kernels.top_centroids(C, {0: qtok}, opts.k_top_centroids, opts.n_probe)
        return [c for _, c in probed]

    def _plaid_udf(self, C: np.ndarray, qtok: np.ndarray, threshold: float):
        """D3/D4 codes-only stage-1 scorer over the doc's codes column
        (kernels.plaid_scores) against centroid matrix ``C``."""
        bc = self._bc(qtok.astype(np.float32) @ C.T)
        thr = float(threshold)

        @F.pandas_udf(T.DoubleType())
        def plaid(codes: pd.Series) -> pd.Series:
            return pd.Series(
                kernels.plaid_scores(
                    bc.value, [np.asarray(c, dtype=np.int64) for c in codes], thr
                )
            )

        return plaid

    def _stage2_udf(
        self, C: np.ndarray, quant, qtok: np.ndarray, normalize: bool, use_adc: bool
    ):
        """D6/D11 stage-2 MaxSim over (codes, residuals, num_tokens):
        residual decode + MaxSim (kernels.maxsim), or PQ ADC lookup
        tables (kernels.adc_maxsim) — the working version of the
        reference's vestigial InvertedListScanner + PQDistanceTables
        path, stage-2 work O(n_q*m) instead of O(n_q*dim) per doc
        token. Both broadcast tiny per-query matrices only."""
        Q = np.asarray(qtok, dtype=np.float32)
        bc = self._bc((Q @ C.T, quant.inner_prod_tables(Q)) if use_adc else (Q, C))

        @F.pandas_udf(T.DoubleType())
        def stage2(
            codes: pd.Series, residuals: pd.Series, num_tokens: pd.Series
        ) -> pd.Series:
            if len(codes) == 0:
                return pd.Series(np.empty(0, dtype=np.float64))
            nts = num_tokens.to_numpy().astype(np.int64)
            cents = np.concatenate([np.asarray(c, dtype=np.int64) for c in codes])
            blob = b"".join(residuals)
            if use_adc:
                qc, tables = bc.value
                out = kernels.adc_maxsim(qc, tables, quant, blob, cents, nts)
            else:
                Qv, Cv = bc.value
                out = kernels.maxsim(Qv, Cv, quant, blob, cents, nts, normalize)
            return pd.Series(out)

        return stage2

    @staticmethod
    def _use_adc(quant, opts: SearchOptions) -> bool:
        """D11 routing: ADC decomposes the UNnormalized IP only and
        needs PQ codes; auto-on exactly under those conditions. Every
        serving path routes through here, so the same SearchOptions
        score identically through search() and search_batch()."""
        adc_ok = not opts.normalize and isinstance(quant, ProductQuantizer)
        use_adc = adc_ok if opts.use_adc is None else bool(opts.use_adc)
        if use_adc and not adc_ok:
            raise ValueError(
                "use_adc requires a ProductQuantizer field and normalize=False"
            )
        return use_adc

    @staticmethod
    def _analyze_text(text: str) -> list[str]:
        """Driver-side twin of functions.text.analyze_standard."""
        from lintdb_spark.functions.text import analyze_standard_py

        return analyze_standard_py(text)

    def _match_scores(self, tenant: int, mq: MatchQuery, meta: dict) -> DataFrame:
        """(doc_id, mscore). 'any' scores distinct query tokens matched
        per doc; 'all' additionally keeps only docs matching every
        token; 'tf' scores the summed term frequency of matched tokens
        (postings built since the tf column carry it; older segments
        degrade to tf=1, i.e. 'any' semantics). The postings join is an
        inverted-index lookup: filter by tenant partition + token IN
        (...) predicate, then one aggregate per doc."""
        toks = sorted(set(self._analyze_text(mq.text)))
        p = self._text_postings(mq.field, meta).filter(
            (F.col("tenant") == tenant) & F.col("token").isin(toks)
        )
        if mq.mode == "tf":
            # legacy segments (or whole tables) without the tf column
            # read as NULL -> degrade to tf=1 ('any' semantics) per row
            tf = F.coalesce(F.col("tf"), F.lit(1)) if "tf" in p.columns else F.lit(1)
            return (
                p.select("doc_id", "token", tf.alias("tf"))
                .groupBy("doc_id")
                .agg(F.sum("tf").cast("bigint").alias("mscore"))
            )
        p = p.select("doc_id", "token").distinct()
        agg = p.groupBy("doc_id").agg(F.count_distinct("token").alias("mscore"))
        if mq.mode == "all":
            agg = agg.filter(F.col("mscore") == len(toks))
        return agg

    def _scalar_predicate(self, node) -> F.Column:
        if isinstance(node, TermQuery):
            return F.col(node.field) == F.lit(node.value)
        if isinstance(node, AndQuery):
            preds = [self._scalar_predicate(c) for c in node.children]
            out = preds[0]
            for p in preds[1:]:
                out = out & p
            return out
        if isinstance(node, OrQuery):
            preds = [self._scalar_predicate(c) for c in node.children]
            out = preds[0]
            for p in preds[1:]:
                out = out | p
            return out
        raise TypeError(f"not a scalar node: {node}")

    @staticmethod
    def _vector_nodes(node) -> list:
        if isinstance(node, VectorQuery):
            return [node]
        if isinstance(node, (AndQuery, OrQuery)):
            out = []
            for c in node.children:
                out.extend(Index._vector_nodes(c))
            return out
        return []

    def _stage1(
        self, node, tenant: int, docs: DataFrame, opts: SearchOptions, snap: _Snapshot
    ) -> DataFrame:
        """Compile a query-tree node into a stage-1 (doc_id, s1) frame
        over the snapshot ``snap`` (``docs`` is opened from it) —
        the DataFrame analogue of the reference's DocIterator tree
        (QueryNode.cpp:15-121) with SUM score combination
        (NaryScoringMethod default, scoring_methods.cpp:60-97):

        - Term/Match: presence scores (D1: 1.0 per matched term; match
          scores by distinct matched tokens).
        - Vector: candidates from probed posting lists with codes-only
          PLAID score (C2 + D3) — the OR-across-probed-lists semantics.
        - And: INNER join of children on doc_id, scores summed. A vector
          child therefore restricts to probed candidates — the
          reference's *approximate* AND (index_test.cpp:197-321).
        - Or: union of children, dedup by doc_id, scores summed
          (OrIterator heap-merge analogue, DocIterator.cpp:237-322).
        """
        if isinstance(node, TermQuery):
            return docs.filter(self._scalar_predicate(node)).select(
                "doc_id", F.lit(1.0).alias("s1")
            )
        if isinstance(node, MatchQuery):
            return self._match_scores(tenant, node, snap.meta).select(
                "doc_id", F.col("mscore").cast("double").alias("s1")
            )
        if isinstance(node, VectorQuery):
            qtok = np.asarray(node.query_tokens, dtype=np.float32)
            probes = self._top_centroids(node.field, qtok, opts, snap)
            cand_ids = (
                self._postings_serve(node.field, tenant, snap.meta)
                .filter(F.col("centroid_id").isin(probes))
                .select("doc_id")
                .distinct()
            )
            plaid = self._plaid_udf(
                snap.centroids[node.field], qtok, opts.centroid_score_threshold
            )
            return (
                docs.join(cand_ids, "doc_id")
                .select("doc_id", plaid(F.col(f"{node.field}__codes")).alias("s1"))
            )
        if isinstance(node, AndQuery):
            frames = [self._stage1(c, tenant, docs, opts, snap) for c in node.children]
            out = frames[0]
            for i, f2 in enumerate(frames[1:], 1):
                out = out.join(
                    f2.withColumnRenamed("s1", f"_s{i}"), "doc_id"
                ).withColumn("s1", F.col("s1") + F.col(f"_s{i}")).drop(f"_s{i}")
            return out
        if isinstance(node, OrQuery):
            frames = [self._stage1(c, tenant, docs, opts, snap) for c in node.children]
            out = frames[0]
            for f2 in frames[1:]:
                out = out.unionByName(f2)
            return out.groupBy("doc_id").agg(F.sum("s1").alias("s1"))
        raise TypeError(f"unsupported query node {node}")

    @_tags_broadcasts
    def search(
        self,
        tenant: int,
        query,
        k: int = 10,
        opts: SearchOptions | None = None,
    ) -> DataFrame:
        """C1-C9/D1-D8: full query lifecycle (QueryExecutor.cpp:14-71)
        for ARBITRARY Term/Match/Vector/And/Or trees. Returns (doc_id,
        score, <stored fields>) ordered by score desc, doc_id asc.

        If the tree contains vector nodes, stage-1 scores feed the
        num_second_pass cut and stage-2 reranks by the SUM of exact
        MaxSim over EVERY vector node — consistent with the tree's
        stage-1 SUM combination (NaryScoringMethod,
        scoring_methods.cpp:60-97). With one vector node (the only
        shape the reference can express — it wires a single
        ColBERTScorer per query, index.cpp:390) this is exact parity;
        multi-vector trees extend the same semantics. Trees without
        vector nodes keep the stage-1 boolean score as final.

        Physical paths: a bare VectorQuery, or an AND of TermQuery
        nodes and one VectorQuery, over a tenant whose size estimate
        fits the broadcast threshold (force_cogroup off) is scored in
        the driver from the serve state — no Spark job; the returned
        frame is a LocalRelation over the ranked rows. Every other tree
        compiles to the Spark plan below. Either path reads ONE
        snapshot, captured once: every table it opens and the trained
        state it scores with come from the same commit."""
        self._refresh_meta_if_stale()
        opts = opts or SearchOptions()
        check_k(k)
        if opts.scoring_method == "xtr":
            if not isinstance(query, VectorQuery):
                raise NotImplementedError(
                    "scoring_method='xtr' supports bare VectorQuery trees"
                )
            return self.search_xtr(
                tenant, query.field, np.asarray(query.query_tokens), k=k, opts=opts
            )
        if opts.scoring_method != "plaid":
            raise ValueError(f"unknown scoring_method: {opts.scoring_method!r}")
        snap = self._snap
        local = self._local_search(tenant, query, k, opts, snap)
        if local is not None:
            return local
        docs = self._docs(snap.meta).filter(F.col("tenant") == tenant)
        vecs = self._vector_nodes(query)
        stage1 = self._stage1(query, tenant, docs, opts, snap)
        log = logging.getLogger("lintdb_spark.index").info

        if opts.expected_id >= 0:
            # debug parity with the reference's expected_id trace
            # (SearchOptions.h:24-26): report the doc's stage-1 fate
            eid = int(opts.expected_id)
            hit = stage1.filter(F.col("doc_id") == eid).select("s1").collect()
            log(
                "expected_id %d: %s",
                eid,
                f"stage-1 candidate, s1={hit[0]['s1']:.6f}"
                if hit
                else "NOT a stage-1 candidate (outside probed posting "
                "lists or filtered out)",
            )

        if not vecs:
            out = stage1.join(docs, "doc_id").withColumn("score", F.col("s1"))
            return self._with_metadata(out, k)

        survivors = (
            stage1.orderBy(F.col("s1").desc(), F.col("doc_id").asc())
            .limit(opts.num_second_pass)
            .join(docs, "doc_id")
        )
        if opts.expected_id >= 0:
            surv_hit = survivors.filter(F.col("doc_id") == eid).count()
            log(
                "expected_id %d: %s num_second_pass=%d cut",
                eid,
                "survived" if surv_hit else "ELIMINATED by",
                opts.num_second_pass,
            )
        out = survivors
        for i, vec in enumerate(vecs):
            quant = snap.quantizers[vec.field]
            maxsim = self._stage2_udf(
                snap.centroids[vec.field],
                quant,
                vec.query_tokens,
                opts.normalize,
                self._use_adc(quant, opts),
            )
            out = out.withColumn(
                f"_ms{i}",
                maxsim(
                    F.col(f"{vec.field}__codes"),
                    F.col(f"{vec.field}__residuals"),
                    F.col(f"{vec.field}__num_tokens"),
                ),
            )
        total = F.col("_ms0")
        for i in range(1, len(vecs)):
            total = total + F.col(f"_ms{i}")
        out = out.withColumn("score", total).drop(
            *[f"_ms{i}" for i in range(len(vecs))]
        )
        return self._with_metadata(out, k)

    def _local_search(
        self, tenant: int, query, k: int, opts: SearchOptions, snap: _Snapshot
    ):
        """The driver-local path of search() over ``snap``: the result
        frame when the tree is a bare VectorQuery or an AND of TermQuery
        nodes and one VectorQuery and the tenant's serve state is loaded (size
        estimate within the broadcast threshold, force_cogroup off);
        None sends the tree to the Spark plan. TERM nodes qualify only
        when their value compares exactly like Spark's equality on the
        field's type."""
        if isinstance(query, VectorQuery):
            children = [query]
        elif isinstance(query, AndQuery):
            children = list(query.children)
        else:
            return None
        vecs = [c for c in children if isinstance(c, VectorQuery)]
        if len(vecs) != 1:
            return None
        vec = vecs[0]
        if vec.field not in snap.centroids or vec.field not in snap.quantizers:
            return None
        types = {f.name: f.data_type for f in self.schema.scalar_fields()}
        for c in children:
            if c is not vec and not (
                isinstance(c, TermQuery) and _local_term_ok(types.get(c.field), c.value)
            ):
                return None
        state = self._local_state(tenant, vec.field, snap)
        if state is None:
            return None
        use_adc = self._use_adc(state.quant, opts)
        stored = self._stored_fields()
        table = serve.local_search(
            state, children, vec, k, opts, use_adc, stored,
            log=logging.getLogger("lintdb_spark.index").info,
        )
        doc_schema = self.schema.doc_spark_schema()
        return self.spark.createDataFrame(
            table,
            T.StructType(
                [T.StructField("doc_id", T.LongType()), T.StructField("score", T.DoubleType())]
                + [doc_schema[s] for s in stored]
            ),
        )

    def _local_state(
        self, tenant: int, field: str, snap: _Snapshot
    ) -> serve.ServeState | None:
        """The serve state of ``snap`` the point search and the
        broadcast batch path score from: loaded, its size estimate
        within the broadcast threshold, and ``force_cogroup`` off. None
        otherwise."""
        if getattr(self, "force_cogroup", False):
            return None
        state = self._serve_state(tenant, field, snap)
        return state if state.loaded and state.est_bytes <= self._bcast_max() else None

    def _stored_fields(self) -> list[str]:
        return [
            f.name for f in self.schema.scalar_fields() if f.has_role(FieldType.STORED)
        ]

    def _bcast_max(self) -> int:
        return _parse_byte_conf(
            self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None),
            default=32 * 1024 * 1024,
        )

    def _estimate(self, toks: int, nd: int, text: int, quant) -> int:
        """Driver-memory estimate of a serve state of ``nd`` docs with
        ``toks`` tokens and ``text`` UTF-8 bytes of TEXT values: per
        token the code bytes, the int64 centroid id and its postings
        entry; per doc 256 B of Python objects (code view, residual
        bytes) plus the doc_id and scalar columns as Arrow holds them
        (8 B per fixed-width value, a 4 B offset plus the UTF-8 bytes
        per TEXT value)."""
        fields = self.schema.scalar_fields()
        n_text = len(self._text_scalars())
        per_doc = 256 + 8 + 8 * (len(fields) - n_text) + 4 * n_text
        return toks * (quant.code_size + 16) + nd * per_doc + text

    def _text_scalars(self) -> list[str]:
        return [
            f.name for f in self.schema.scalar_fields()
            if f.data_type == DataType.TEXT.value
        ]

    def _serve_estimate(self, docs: DataFrame, field: str, quant) -> int:
        """_estimate of ``docs`` as a serve state, in one distributed
        job with no shuffle: the needed columns are scanned into a noop
        sink while an Observation sums them (a global aggregate would
        add a shuffle stage, and with AQE a second job)."""
        from pyspark.sql import Observation

        nt_c = f"{field}__num_tokens"
        texts = self._text_scalars()
        aggs = [F.sum(nt_c).alias("toks"), F.count(F.lit(1)).alias("nd")]
        if texts:
            aggs.append(
                F.sum(sum((F.coalesce(F.octet_length(c), F.lit(0)) for c in texts), F.lit(0)))
                .alias("text")
            )
        obs = Observation()
        (
            docs.select(nt_c, *texts)
            .observe(obs, *aggs)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        got = obs.get
        return self._estimate(
            int(got["toks"] or 0), int(got["nd"] or 0), int(got.get("text") or 0), quant
        )

    @property
    def serve_rebuilds(self) -> int:
        """Serve states built with Spark jobs (the size estimate, then
        an Arrow collect of the tenant's docs when they fit)."""
        return self._serve_rebuilds

    @property
    def serve_carries(self) -> int:
        """Serve states carried across an in-process commit by its
        delta, with no Spark job."""
        return self._serve_carries

    def _serve_state(
        self, tenant: int, field: str, snap: _Snapshot | None = None
    ) -> serve.ServeState:
        """The (tenant, field) serve state of the snapshot ``snap``
        (default: the adopted one).

        One slot holds the state of the (tenant, field) searched last.
        It is current while its key matches and it belongs to ``snap``'s
        meta dict, or to the adopted one (a commit that landed after the
        caller captured ``snap``: the state is still one committed
        snapshot). An in-process commit that names its delta carries
        the slot's state to the new snapshot as it adopts it (_carry);
        train, set_coarse_quantizer, an external commit adopted by the
        staleness refresh and a commit without a delta leave the slot
        stale, and the first search after them rebuilds it, lazily.
        The doc data is only loaded when the size estimate fits the
        broadcast threshold, which so bounds the driver memory the slot
        holds. A rebuild takes at most two Spark jobs (the estimate,
        then one Arrow collect of the tenant's doc rows).

        Concurrency: the slot is read without a lock; rebuilds and
        adoptions run under ``_serve_lock`` and install a state by one
        reference assignment, so a concurrent search sees the old state
        or the new one, never a partial build. The replaced state is
        released (its owned broadcast unpersisted); a search still
        holding it keeps reading its data. Docs, centroids and
        quantizer all come from ``snap``."""
        snap = snap or self._snap
        key = (int(tenant), field)
        bmax = self._bcast_max()

        def usable(st):
            return (
                st is not None
                and st.key == key
                and (st.meta is snap.meta or st.meta is self._meta)
                and (st.loaded or st.est_bytes > bmax)
            )

        st = self._serve_slot
        if usable(st):
            return st
        with self._serve_lock:
            st = self._serve_slot
            if usable(st):
                return st
            quant = snap.quantizers[field]
            docs = self._docs(snap.meta).filter(F.col("tenant") == int(tenant))
            same = st is not None and st.key == key and st.meta is snap.meta
            est = st.est_bytes if same else self._serve_estimate(docs, field, quant)
            rows = None
            if est <= bmax:
                rows = serve.doc_rows(
                    docs.select(
                        "doc_id",
                        f"{field}__codes",
                        f"{field}__residuals",
                        f"{field}__num_tokens",
                        *[f.name for f in self.schema.scalar_fields()],
                    ).toArrow(),
                    field,
                )
            new = serve.ServeState(
                key, snap.meta, est, snap.centroids[field], quant, rows
            )
            self._serve_rebuilds += 1
            self._serve_slot = new
            if st is not None:
                st.release()
            return new

    def _carry(self, meta: dict, staged: list[tuple[str, str]], delta: Delta):
        """The serve state of the candidate ``meta``, carried from the
        slot's state of the adopted (parent) snapshot by ``delta``: the
        removed or replaced keys leave, the rows of the appended docs
        segments join, read in the driver (_read_appended, no Spark
        job), and ``est_bytes`` is _estimate over the arrays in hand.
        A carried state over the broadcast threshold is unloaded, as a
        rebuilt one is. None — the next search rebuilds — when the
        slot holds no loaded state of the parent, or the carry fails."""
        st = self._serve_slot
        if st is None or not st.loaded or st.meta is not self._meta:
            return None
        tenant, field = st.key
        try:
            new = None
            if delta.appended:
                docs_segs = [s for t, s in staged if t == "docs"]
                new = self._read_appended(meta, docs_segs, tenant, field, st.scalars.schema)
            drop = ()
            if delta.removed is not None and int(delta.removed[0]) == tenant:
                drop = delta.removed[1]
            elif delta.replaces and new is not None:
                drop = new.doc_ids
            rows = serve.carry_rows(st.rows, drop, new)
            text = sum(
                pc.sum(pc.binary_length(rows.scalars.column(c))).as_py() or 0
                for c in self._text_scalars()
            )
            est = self._estimate(int(rows.nts.sum()), len(rows.doc_ids), text, st.quant)
        except Exception:  # noqa: BLE001 — never fail the commit: rebuild
            logging.getLogger("lintdb_spark.index").warning(
                "serve state not carried; the next search rebuilds it", exc_info=True
            )
            return None
        return serve.ServeState(
            st.key, meta, est, st.C, st.quant, rows if est <= self._bcast_max() else None
        )

    def _read_appended(
        self, meta: dict, segs: list[str], tenant: int, field: str, schema
    ) -> serve.DocRows | None:
        """The ``tenant`` rows of the committed-in-``meta`` docs
        segments ``segs`` as DocRows, scalars typed as ``schema`` (the
        parent state's): each segment's ``tenant=<t>/`` files from its
        manifest, read with pyarrow through the store's filesystem.
        None when no segment holds the tenant."""
        import io

        import pyarrow as pa
        import pyarrow.parquet as pq

        vec = [f"{field}__codes", f"{field}__residuals", f"{field}__num_tokens"]
        cols = ["doc_id", *vec, *schema.names[1:]]
        prefix = f"tenant={int(tenant)}/"
        parts = []
        for seg in segs:
            root = os.path.join(self.path, "docs", seg)
            for rel in meta["manifests"]["docs"][seg]:
                if rel.replace(os.sep, "/").startswith(prefix):
                    parts.append(pq.read_table(
                        io.BytesIO(self.fs.open_read(os.path.join(root, rel))),
                        columns=cols,
                        coerce_int96_timestamp_unit="us",
                    ))
        if not parts:
            return None
        t = pa.concat_tables(parts)
        rows = serve.doc_rows(t.select(cols), field)
        return rows._replace(scalars=rows.scalars.cast(schema))

    @_tags_broadcasts
    def search_xtr(
        self,
        tenant: int,
        field: str,
        query_tokens: np.ndarray,
        k: int = 10,
        opts: SearchOptions | None = None,
    ) -> DataFrame:
        """D9/D10 XTR scoring over the real index — the working
        version of the reference's dead `ScoringMethod` seam
        (`SearchOptions.h:34-35` ships the `nearest_tokens_to_fetch`
        knob; `scoring/Scorer.h:59` is the commented-out XTRScorer).

        The one-query batch: search_batch_xtr with {0: Q}, ordered by
        rank and projected to search()'s (doc_id, score, <stored>)
        contract. Exact-twin property: with n_probe covering all
        centroids and a lossless quantizer this equals
        ``operators.scoring.xtr_topk`` on the raw corpus (tested)."""
        batch = self.search_batch_xtr(tenant, field, {0: query_tokens}, k=k, opts=opts)
        return tag_cached(
            batch.orderBy("rank").select("doc_id", "score", *self._stored_fields()),
            batch,
        )

    def _decoded_token_rows(
        self, field: str, cand: DataFrame, snap: _Snapshot, normalize: bool = True
    ) -> DataFrame:
        """Decode candidate docs' quantized tokens into per-token rows
        (doc_id, token_idx, vec), L2-normalized when ``normalize`` (the
        plaid.h:56 flag — honored here so the XTR paths score the same
        reconstructions SearchOptions.normalize selects on the plaid
        path) — ONE Arrow-batched mapInPandas; everything downstream
        stays declarative. ``cand`` must carry (doc_id,
        <field>__codes, __residuals, __num_tokens) of ``snap``."""
        codes_c, res_c, nt_c = (
            f"{field}__codes",
            f"{field}__residuals",
            f"{field}__num_tokens",
        )
        quant = snap.quantizers[field]
        bc_c = self._bc(snap.centroids[field])

        def decode_tokens(batches):
            # one kernels.decode per Arrow batch — the cascade's
            # stage-2 reconstruction, no per-doc Python loop
            for pdf in batches:
                nts = pdf[nt_c].to_numpy(dtype=np.int64)
                total = int(nts.sum())
                if total == 0:
                    yield pd.DataFrame({"doc_id": [], "token_idx": [], "vec": []})
                    continue
                codes = np.concatenate(
                    [np.asarray(c, dtype=np.int64) for c in pdf[codes_c]]
                )
                toks = kernels.decode(
                    bc_c.value, quant, b"".join(pdf[res_c]), codes, nts, normalize
                ).astype(np.float64)
                starts = np.cumsum(nts) - nts
                yield pd.DataFrame(
                    {
                        "doc_id": np.repeat(pdf["doc_id"].to_numpy(dtype=np.int64), nts),
                        "token_idx": np.arange(total, dtype=np.int64)
                        - np.repeat(starts, nts),
                        "vec": list(toks),
                    }
                )

        return cand.mapInPandas(
            decode_tokens, "doc_id long, token_idx long, vec array<double>"
        )

    @_tags_broadcasts
    def search_batch_xtr(
        self,
        tenant: int,
        field: str,
        queries: dict[int, np.ndarray],
        k: int = 10,
        opts: SearchOptions | None = None,
        doc_filter=None,
    ) -> DataFrame:
        """Batched XTR over the real index: per-qid IVF probes select
        each query's retrieval pool, every candidate doc's tokens are
        decoded ONCE (distinct-doc decode, then fanned back out to the
        qids probing it), and scoring runs as the single declarative
        ``scoring.batch_xtr_topk`` plan. Same (qid, doc_id, rank,
        score, <stored>) contract as the PLAID batch cascade."""
        self._refresh_meta_if_stale()
        from lintdb_spark.operators import scoring as _scoring

        opts = opts or SearchOptions()
        snap = self._snap
        qmats = {int(qid): np.asarray(q, dtype=np.float32) for qid, q in queries.items()}
        codes_c, res_c, nt_c = (
            f"{field}__codes",
            f"{field}__residuals",
            f"{field}__num_tokens",
        )
        cand_ids, docs = self._batch_candidates(
            tenant, field, qmats, opts, doc_filter, snap
        )
        uniq = cand_ids.select("doc_id").distinct().join(
            docs.select("doc_id", codes_c, res_c, nt_c), "doc_id"
        )
        cand_tokens = self._decoded_token_rows(
            field, uniq, snap, normalize=opts.normalize
        ).join(cand_ids, "doc_id")
        # pandas -> Arrow fast path (the tuple-list route serializes
        # row-by-row via py4j: ~4M floats per 1000-query batch)
        queries_df = self.spark.createDataFrame(
            pd.DataFrame(
                [
                    (qid, j, tok)
                    for qid, q in qmats.items()
                    for j, tok in enumerate(q.astype(np.float64))
                ],
                columns=["qid", "q_id", "qvec"],
            ),
            "qid long, q_id long, qvec array<double>",
        )
        topk = _scoring.batch_xtr_topk(
            cand_tokens,
            queries_df,
            k=k,
            nearest_tokens_to_fetch=opts.nearest_tokens_to_fetch,
        )
        stored = self._stored_fields()
        if not stored:
            return topk
        return tag_cached(
            topk.join(docs.select("doc_id", *stored), "doc_id").select(
                "qid", "doc_id", "rank", "score", *stored
            ),
            topk,
        )

    def _batch_candidates(self, tenant, field, qmats, opts, doc_filter, snap):
        """The Spark batch paths' inputs from ``snap``: (qid, doc_id)
        candidates from each query's probed postings, and the tenant's
        docs narrowed by ``doc_filter``."""
        C = snap.centroids[field].astype(np.float64)
        probed = kernels.top_centroids(C, qmats, opts.k_top_centroids, opts.n_probe)
        # probes are a few rows per query: a tuple list is fine here
        probes = self.spark.createDataFrame(
            [(int(q), int(c)) for q, c in probed], "qid long, centroid_id long"
        )
        cand_ids = (
            self._postings_serve(field, tenant, snap.meta)
            .join(F.broadcast(probes), "centroid_id")
            .select("qid", "doc_id")
            .distinct()
        )
        docs = self._docs(snap.meta).filter(F.col("tenant") == tenant)
        if doc_filter is not None:
            keep = self._filter_doc_ids(tenant, doc_filter, snap.meta)
            docs = docs.join(keep, "doc_id", "left_semi")
        return cand_ids, docs

    def _filter_doc_ids(self, tenant: int, node, meta: dict) -> DataFrame:
        """Compile an arbitrary scalar/Match boolean tree over the
        snapshot ``meta`` into a doc_id DataFrame (Term -> filtered
        scan, Match -> inverted-index semi-join, And -> intersection,
        Or -> union). Used by
        search_batch's doc_filter so Match works at ANY depth of the
        tree, not just top-level."""
        if isinstance(node, MatchQuery):
            return self._match_scores(tenant, node, meta).select("doc_id")
        if isinstance(node, TermQuery):
            return (
                self._docs(meta)
                .filter((F.col("tenant") == tenant) & self._scalar_predicate(node))
                .select("doc_id")
            )
        if isinstance(node, AndQuery):
            out = self._filter_doc_ids(tenant, node.children[0], meta)
            for c in node.children[1:]:
                out = out.join(
                    self._filter_doc_ids(tenant, c, meta), "doc_id", "left_semi"
                )
            return out
        if isinstance(node, OrQuery):
            out = self._filter_doc_ids(tenant, node.children[0], meta)
            for c in node.children[1:]:
                out = out.unionByName(self._filter_doc_ids(tenant, c, meta))
            return out.distinct()
        raise TypeError(
            f"doc_filter supports Term/Match/And/Or nodes only, got {type(node).__name__}"
        )

    @_tags_broadcasts
    def search_batch(
        self,
        tenant: int,
        field: str,
        queries: dict[int, np.ndarray],
        k: int = 10,
        opts: SearchOptions | None = None,
        doc_filter=None,
    ) -> DataFrame:
        """Batch VECTOR search: N queries scored in one Spark job —
        the batch form of the reference's per-query loop
        (QueryExecutor.cpp:14-71).

        queries: {qid: (n_tokens, dim) float32}. ``doc_filter`` is an
        optional boolean node tree (Term/Match/And/Or, Match allowed at
        any depth) applied to the candidates of EVERY query — BENCH-3
        filtered search in batch form, with the reference's
        approximate-AND semantics. Returns (qid, doc_id, rank, score,
        <stored fields>).

        Physical strategy (the batch analogue of Spark's broadcast-vs-
        shuffle join selection), decided by the tenant's serve-state
        size estimate against autoBroadcastJoinThreshold:

        - the state fits -> it is broadcast ONCE (owned by the state,
          reused by every batch until the next commit) and the qids
          are parallelized over the executors; each task scores its
          qids with ``serve.local_search`` — the function the point
          search runs in the driver — and emits the ranked rows with
          their stored fields straight from the state. No shuffle, no
          join. A ``doc_filter`` is collected once into a row mask the
          scorer applies to each query's candidates.
        - else (or ``force_cogroup``) -> the cogrouped path: probes
          are computed driver-side and shipped as a small DataFrame,
          the postings scan prunes to the probed partitions, and the
          whole cascade (PLAID -> num_second_pass cut -> residual
          decode -> exact MaxSim -> top-k) runs in ONE cogrouped
          applyInPandas by qid — each candidate's codes+residuals flow
          to its query's group through the shuffle, so per-executor
          memory is one group, bounded regardless of corpus size — the
          100 TB path. For corpora where probe pruning still yields
          millions of candidates per query, the declarative twin
          ``scoring.batch_two_phase_topk`` keeps stage-1 codes-only and
          joins residual rows for survivors alone — same semantics,
          shuffle-lean.

        Every path reads ONE snapshot, captured once."""
        self._refresh_meta_if_stale()
        opts = opts or SearchOptions()
        check_k(k)
        if opts.scoring_method == "xtr":
            return self.search_batch_xtr(
                tenant, field, queries, k=k, opts=opts, doc_filter=doc_filter
            )
        if opts.scoring_method != "plaid":
            raise ValueError(f"unknown scoring_method: {opts.scoring_method!r}")
        snap = self._snap
        qmats = {int(qid): np.asarray(q, dtype=np.float32) for qid, q in queries.items()}
        quant = snap.quantizers[field]
        use_adc = self._use_adc(quant, opts)
        stored = self._stored_fields()
        doc_schema = self.schema.doc_spark_schema()
        out_fields = [
            T.StructField("qid", T.LongType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("rank", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]

        # force_cogroup (bench/ops knob, default off): route down the
        # cogrouped 100 TB fallback even when the state would fit the
        # broadcast threshold — the fallback must be MEASURABLE at any
        # corpus size (an unmeasured fallback is a latency cliff
        # candidate), and an operator can pin it when executor memory
        # is tighter than the threshold suggests.
        state = self._local_state(tenant, field, snap)
        if state is not None:
            # the state may belong to a commit adopted after ``snap``
            # was captured: the filter reads the state's own snapshot
            sc = self.spark.sparkContext
            use_adc = self._use_adc(state.quant, opts)
            mask = None
            if doc_filter is not None:
                keep = self._filter_doc_ids(tenant, doc_filter, state.meta).toArrow()
                mask = np.isin(state.doc_ids, keep.column("doc_id").to_numpy())
            bc_state = state.broadcast(sc, self._bc)
            bc_q = self._bc((qmats, mask))

            def serve_qids(qids):
                st, (qm, m) = bc_state.value, bc_q.value
                for qid in qids:
                    vec = VectorQuery(field, qm[qid])
                    t = serve.local_search(st, [vec], vec, k, opts, use_adc, stored, mask=m)
                    cols = [t.column(c).to_pylist() for c in t.column_names]
                    for rank, (d, score, *rest) in enumerate(zip(*cols), 1):
                        yield (qid, d, rank, score, *rest)

            n = max(1, min(len(qmats), sc.defaultParallelism))
            return self.spark.createDataFrame(
                sc.parallelize(sorted(qmats), n).mapPartitions(serve_qids),
                T.StructType(out_fields + [doc_schema[s] for s in stored]),
            )

        codes_c, res_c, nt_c = (
            f"{field}__codes",
            f"{field}__residuals",
            f"{field}__num_tokens",
        )
        cand_ids, docs = self._batch_candidates(
            tenant, field, qmats, opts, doc_filter, snap
        )
        n_parts = self.spark.sparkContext.defaultParallelism
        bc_c = self._bc(snap.centroids[field])
        cand = cand_ids.join(docs.select("doc_id", codes_c, res_c, nt_c), "doc_id")
        # explicit qid partitioning ahead of the cogroup: the Python
        # cascade is CPU-bound per group, and AQE (which only sees
        # bytes) would coalesce a small batch's shuffle into few
        # partitions, serializing the groups. A user repartition is
        # AQE-exempt and the cogroup reuses it.
        cand = cand.repartition(n_parts, "qid")
        queries_df = self.spark.createDataFrame(
            pd.DataFrame(
                [
                    (qid, j, tok.astype(np.float32))
                    for qid, q in qmats.items()
                    for j, tok in enumerate(q)
                ],
                columns=["qid", "q_id", "qvec"],
            ),
            "qid long, q_id long, qvec array<float>",
        )
        queries_part = queries_df.repartition(n_parts, "qid")
        empty = {
            "qid": pd.Series(dtype="int64"),
            "doc_id": pd.Series(dtype="int64"),
            "rank": pd.Series(dtype="int64"),
            "score": pd.Series(dtype="float64"),
        }

        def cascade(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if left.empty or right.empty:
                return pd.DataFrame(empty)
            Q = np.vstack(right.sort_values("q_id")["qvec"].to_numpy()).astype(np.float32)
            doc_ids = left["doc_id"].to_numpy()
            r = kernels.cascade(
                Q, bc_c.value, quant, doc_ids,
                [np.asarray(c, dtype=np.int64) for c in left[codes_c]],
                left[res_c].to_numpy(),
                left[nt_c].to_numpy().astype(np.int64),
                threshold=float(opts.centroid_score_threshold),
                num_second_pass=int(opts.num_second_pass),
                k=int(k),
                use_adc=use_adc,
                normalize=bool(opts.normalize),
            )
            return pd.DataFrame(
                {
                    "qid": np.full(len(r.rows), int(left["qid"].iloc[0]), dtype=np.int64),
                    "doc_id": doc_ids[r.rows],
                    "rank": np.arange(1, len(r.rows) + 1, dtype=np.int64),
                    "score": r.scores,
                }
            )

        topk = (
            cand.groupBy("qid")
            .cogroup(queries_part.groupBy("qid"))
            .applyInPandas(cascade, T.StructType(out_fields))
        )
        if not stored:
            return topk
        return tag_cached(
            topk.join(docs.select("doc_id", *stored), "doc_id").select(
                "qid", "doc_id", "rank", "score", *stored
            ),
            topk,
        )

    def prewarm(self, tenant: int = 0, field: str | None = None) -> None:
        """Build the serve-state caches a COLD first batch would
        otherwise pay inline — the server-startup step every real
        deployment runs (the reference's analogue is RocksDB opening
        its table readers at Index construction, index.cpp:40-58).

        One tiny search_batch per vector field drives the REAL serve
        path end to end, so everything the first user batch needs is
        resident afterwards: the tenant's serve state (_serve_state:
        the size estimate and the doc blobs, postings and scalar
        columns, which the driver-local point search also scores
        from), its broadcast, and warm executor Python workers. Over
        the broadcast threshold the batch takes the cogroup path and
        warms the persisted postings slice (_postings_serve) instead;
        under it, a Spark-plan search tree builds that slice on first
        use, as it does after every commit. Measured on the sf10 index
        (SCALE.md, "sf10 cold-batch bar"): the first 1000-query batch
        took 10.6 s cold and 7.8 s after a 9.4 s prewarm — the cost
        moves to load time, where a serving deployment wants it."""
        self._refresh_meta_if_stale()
        fields = (
            [field]
            if field is not None
            else [f.name for f in self.schema.colbert_fields()]
        )
        for f in fields:
            cents = self.centroids.get(f)
            if cents is None:
                continue
            dim = int(cents.shape[1])
            q = {-1: np.zeros((1, dim), dtype=np.float32)}
            try:
                self.search_batch(tenant, f, q, k=1).collect()
            except Exception:  # noqa: BLE001 — prewarm is best-effort
                pass

    def _with_metadata(self, scored: DataFrame, k: int) -> DataFrame:
        """C9: order, truncate, project stored fields (index.cpp:407-449)."""
        stored = self._stored_fields()
        return (
            scored.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
            .select("doc_id", "score", *stored)
        )
