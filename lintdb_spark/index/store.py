"""Generic parquet segment store: the commit/read machinery shared by
the search Index and the dedup artifact store.

A store is a directory of TABLES, each table a list of immutable
SEGMENT directories recorded in `_meta.json` (a poor-man's Delta log).
Mutations stage new segment dirs and then flip the meta atomically —
one rename-atomic JSON write covering all tables at once — so a crash
anywhere before the flip leaves orphans no reader ever sees. Every
commit of either store (the Index's add/merge/remove/update/compact,
the artifact store's batch commits, fold, migration and compaction,
and both stores' minor compaction) goes through `_commit_segments`:
it builds the candidate meta on a copy — appends, retired segments,
rewrites and top-level counters alike — flips it and only then adopts
it, so no caller writes the live meta before its flip. Writers
across processes serialize via an O_EXCL lockfile with ownership
tokens and stale takeover; readers follow external commits by statting
the meta file per serve call. The adopted meta dict is the snapshot
token: each commit or refresh installs a new one, with its sidecar
state, by one reference assignment, and every cache keys on its
identity. A commit that names its ``Delta`` also hands in-memory state
built for the parent snapshot to the new one (``_carry``; the Index's
serve state) instead of leaving it to be rebuilt. Each commit also
records its segments'
parquet leaf files (the manifest), so readers open tables without any
partition-discovery listing job.

Subclasses define the table set (`_all_tables`) and may hook
`_normalize_meta` / `_on_meta_reloaded` for their sidecar state.
Extracted from the round-7 Index (see index.py for the search-specific
layers); the reference's analogue of the commit protocol is a single
RocksDB WriteBatch (lintdb/invlists/IndexWriter.cpp:22-58).
"""

from __future__ import annotations

import json
import os
import threading
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from lintdb_spark import params
from lintdb_spark.index.fs import filesystem_for


# Manifest path interning (round 14, VERDICT r13 #3): the leaf-file
# manifest dominated _meta.json at high partition counts — 1.29 MB of
# 1.38 MB at the 8192-spart shape, ~180 B per rel path, because every
# path repeats the same hive dir prefix and (within one segment write)
# the same part-file name. On disk a large manifest is stored as a
# dictionary-coded record; IN MEMORY it is always the plain sorted
# list every consumer already reads (decode happens once per meta
# (re)load in _normalize_meta, encode once per flip in _save_meta), so
# reads are byte-identical and no consumer changes. Old metas (plain
# lists) decode as identity and re-encode on their next flip;
# build_manifests migrates pre-manifest stores as before.
_MANIFEST_INTERN_MIN = 8  # below this, a plain list is smaller AND readable


def _encode_manifest(rel: list) -> list | dict:
    """Dictionary-code one segment's rel-path list for the on-disk
    meta: unique dir strings (minus their common prefix) + unique file
    names + run-length-coded (dir, name) index pairs. The common
    post-compact shape — thousands of hive dirs, ONE part-file name
    per segment write, one file per dir — collapses to the dir-suffix
    list plus a single run. Decode reproduces the exact original list
    (order included); round-tripped by a hypothesis property test."""
    if not isinstance(rel, list) or len(rel) < _MANIFEST_INTERN_MIN:
        return rel
    dirs: list[str] = []
    d_idx: dict[str, int] = {}
    names: list[str] = []
    n_idx: dict[str, int] = {}
    pairs: list[tuple[int, int]] = []
    for r in rel:
        d, _, n = str(r).replace(os.sep, "/").rpartition("/")
        di = d_idx.get(d)
        if di is None:
            di = d_idx[d] = len(dirs)
            dirs.append(d)
        ni = n_idx.get(n)
        if ni is None:
            ni = n_idx[n] = len(names)
            names.append(n)
        pairs.append((di, ni))
    p = os.path.commonprefix(dirs)
    runs: list[list[int]] = []
    for di, ni in pairs:
        if runs and runs[-1][1] == ni and runs[-1][0] + runs[-1][2] == di:
            runs[-1][2] += 1
        else:
            runs.append([di, ni, 1])
    return {
        "_mf": 1,
        "p": p,
        "d": [d[len(p):] for d in dirs],
        "n": names,
        "f": runs,
    }


def _decode_manifest(enc) -> list:
    """Inverse of _encode_manifest; identity on plain lists (legacy
    metas and small segments)."""
    if not isinstance(enc, dict):
        return enc
    p = enc.get("p", "")
    d = enc["d"]
    n = enc["n"]
    out: list[str] = []
    for di0, ni, cnt in enc["f"]:
        nm = n[ni]
        for j in range(cnt):
            dd = p + d[di0 + j]
            out.append(f"{dd}/{nm}" if dd else nm)
    return out


def _seg_level(seg: str) -> int | None:
    """Tier level of a segment name: 0 for per-batch seg-* segments,
    L for m<L>-* minor-compaction outputs, None for v* base segments
    (full-compact output — never minor-merged)."""
    if seg.startswith("v"):
        return None
    if seg.startswith("m"):
        head = seg[1:].split("-", 1)[0]
        if head.isdigit():
            return int(head)
    return 0


class Delta(NamedTuple):
    """The change a commit makes to a store's rows, named by the
    committing call so that in-memory state built for the parent
    snapshot (the Index's serve state) is carried to the new snapshot
    instead of rebuilt. ``appended``: the commit's staged segments hold
    new rows; ``replaces``: those rows replace the committed rows with
    their keys (update); ``removed``: a ``(tenant, ids)`` pair whose
    rows leave. ``Delta()`` changes no row (compaction). A commit that
    names no delta is carried by nothing: such state is rebuilt."""

    appended: bool = False
    replaces: bool = False
    removed: tuple | None = None


APPENDED = Delta(appended=True)
REPLACED = Delta(appended=True, replaces=True)
UNCHANGED = Delta()


# serializes the parallel-discovery-threshold bump in
# _read_manifest_files across ALL stores in the process — the conf is
# session-global, so the lock must be too
_DISCOVERY_CONF_LOCK = threading.Lock()


class SegmentStore:
    # True only for stores whose batch commits stage SINGLE-PASS
    # segments (files carrying the commit's union schema): their
    # _read_uncached projects reads to the declared table schema.
    # False (Index): schema args are empty-fallback type pins and
    # readers may rely on inferred columns the pin omits.
    _project_reads_to_schema = False
    # tables whose declared schema is exactly what their segments hold
    # (written from those columns): a manifested segment opens with it
    # instead of inferring it from a footer, which costs one Spark job
    # per segment on every new snapshot
    _exact_schema_tables: tuple[str, ...] = ()

    def __init__(
        self, spark: SparkSession, path: str, meta: dict | None = None, sidecars=None
    ):
        self.spark = spark
        self.path = path
        # guards every adoption (_adopt): a commit holds it from its
        # meta write until it adopts, a refresh while it reloads
        self._refresh_lock = threading.Lock()
        self._adopt(meta or {"versions": {}}, None, sidecars)
        # active writer-lock hold for THIS thread: (lockpath, token)
        # while inside _writer_lock, else None (thread-local so a
        # reader thread never sees a writer thread's hold)
        self._wlock_tls = threading.local()
        # cross-process writer-lock knobs (see _writer_lock); instance
        # attributes so tests and embedders can tune without globals
        self.writer_lock_timeout_s = 120.0
        self.writer_lock_stale_s = 1800.0

    def _all_tables(self) -> list[str]:
        raise NotImplementedError

    # ---- filesystem layer (object-store readiness) -------------------
    # Round 8 isolated the two manifest primitives (_fs_walk/
    # _fs_exists); round 10 completes the seam: EVERY python-side
    # filesystem touch — the atomic meta flip, the O_EXCL writer lock,
    # stat-based commit detection, vacuum's listing + delete, sidecar
    # reads/writes — routes through a StoreFS implementation picked by
    # the store path's scheme (lintdb_spark.index.fs.filesystem_for):
    # LocalFS for plain paths, an in-memory byte store for mem://
    # (the non-local test double), any fsspec filesystem when the
    # optional package is installed. Spark's own parquet I/O is
    # bridged by fs.spark_write_path / publish / spark_read_path —
    # identity on local paths, a staging/cache directory for schemes
    # the JVM cannot reach (real object-store deployments on
    # s3a://abfs://gs:// let Spark hit the store directly and use only
    # the protocol primitives here; see fs.py's module docstring).
    # _fs_walk/_fs_exists stay as the subclass-overridable seam the
    # round-8 tests pin; they default to the chosen StoreFS.

    @property
    def fs(self):
        f = getattr(self, "_storefs", None)
        if f is None:
            f = self._storefs = filesystem_for(self.path)
        return f

    def _fs_walk(self, root: str):
        return self.fs.walk(root)

    def _fs_exists(self, path: str) -> bool:
        return self.fs.exists(path)

    def _normalize_meta(self, meta: dict) -> None:
        """Hook: normalize a freshly loaded, NOT-YET-ADOPTED meta dict
        in place. Subclass overrides must call super() first — the
        base decodes the dictionary-coded on-disk manifests back to
        the plain rel-path lists every in-memory consumer reads.
        Normalization runs before the adoption (ADVICE r14): a
        concurrent serve thread (IndexServer reads take no lock) must
        never observe encoded dict manifests where every consumer
        expects plain lists."""
        meta.setdefault("versions", {})
        man = meta.get("manifests")
        if man:
            for t, per in man.items():
                for seg, enc in per.items():
                    if isinstance(enc, dict):
                        per[seg] = _decode_manifest(enc)

    def _on_meta_reloaded(self, meta: dict):
        """Hook: load the sidecar state a loaded ``meta`` was published
        with (the Index's trained centroid/quantizer sidecars); the
        result is adopted together with the meta (_adopt)."""

    def _adopt(self, meta: dict, stat, sidecars=None, carried=None) -> None:
        """Install a committed meta (and ``sidecars``, subclass state
        published with it) by one reference assignment, with the meta
        file's identity ``stat``; callers past __init__ hold
        _refresh_lock. ``carried`` is what _carry derived for this
        meta."""
        self._meta_stat = stat
        self._meta = meta

    def _carry(self, meta: dict, staged: list[tuple[str, str]], delta: Delta):
        """Hook: derive in-memory state for the candidate ``meta`` from
        the state held for the adopted one, by the commit's ``delta``
        and its ``staged`` segments; runs before the flip and its
        result is adopted with ``meta``. Default: nothing to carry."""
        return None

    def _load_meta(self, stat) -> None:
        """Read, normalize and adopt the committed meta and sidecars.
        ``stat`` is taken BEFORE the read: read-then-stat could pair
        stale bytes with a concurrent commit's identity, making the
        staleness check skip the reload and a CAS flip silently erase
        that commit."""
        m = json.loads(self.fs.open_read(os.path.join(self.path, "_meta.json")))
        self._normalize_meta(m)
        self._adopt(m, stat, self._on_meta_reloaded(m))

    def _stat_meta(self):
        """(mtime_ns, size, inode) identity of the committed
        _meta.json. The inode matters: os.replace swaps the inode on
        every commit, so two commits inside one mtime quantum with
        same-length payloads (coarse-granularity network mounts) are
        still distinguishable."""
        return self.fs.stat_id(os.path.join(self.path, "_meta.json"))

    def _refresh_meta_if_stale(self) -> None:
        """Cross-process staleness guard for serve paths: another
        process (an offline ingest job beside a long-lived IndexServer)
        may commit segments to the same index path. The atomic
        `_meta.json` flip is the commit point, so stat'ing that one
        file per serve call detects any such commit; on change the
        meta and its sidecars are reloaded and adopted as a new
        snapshot, which every serve cache keys on. This guard makes READERS follow external
        commits instead of serving a stale snapshot forever; WRITERS
        serialize via the `_writer.lock` file (_writer_lock), which
        re-runs this refresh after acquisition so every commit builds
        on the latest published meta."""
        cur = self._stat_meta()
        if cur is None or cur == getattr(self, "_meta_stat", None):
            return
        # one refresher at a time; a commit of this store holds the
        # lock from its flip to its adoption, so a refresh waiting here
        # finds its own commit adopted and reloads nothing
        with self._refresh_lock:
            cur = self._stat_meta()
            if cur is None or cur == self._meta_stat:
                return
            try:
                self._load_meta(cur)
            except Exception:  # noqa: BLE001 — a read failure (mid-replace
                # race) adopts nothing: the next serve call retries
                return

    def _writer_lock(self):
        """Mutual exclusion for the commit protocol ACROSS PROCESSES —
        the reference never faces this (it is an embedded single-process
        library, its RocksDB handle IS the lock); the Spark rebuild
        invites a server plus offline-ingest deployment where two
        processes read-modify-write `_meta.json` and the loser's commit
        silently vanishes. An `O_EXCL` lockfile held across staging +
        meta flip turns that into serialization: after acquiring, the
        in-memory meta is re-synced from disk (_refresh_meta_if_stale),
        so the commit builds on whatever the previous holder published
        — concurrent adds from two processes both land.

        Stale takeover: a crashed writer leaves its lockfile behind;
        a waiter that finds the file older than `writer_lock_stale_s`
        claims it via atomic rename (only one claimant wins) and
        deletes it. Waiters past `writer_lock_timeout_s` raise
        TimeoutError — a loud error, never a lost update.

        Ownership token: each acquisition writes a unique token into
        the lockfile. Release unlinks ONLY if the file still holds our
        token — a SLOW-but-alive writer whose lock was stolen by the
        stale path must not delete the thief's fresh lock (that would
        let a third writer in and reinstate the lost update). The
        commit flip (_save_meta) additionally asserts ownership before
        renaming and touches the lock mtime, so a stolen lock turns
        into a loud RuntimeError instead of a silent overwrite, and a
        live writer issuing several flips inside one hold never ages
        into staleness."""
        import contextlib
        import time as _time
        import uuid as _uuid

        @contextlib.contextmanager
        def _ctx():
            lock = os.path.join(self.path, "_writer.lock")
            token = _uuid.uuid4().hex
            if getattr(self._wlock_tls, "state", None) is not None:
                # re-entrant hold in the same thread (e.g. merge
                # calling a locked helper): the outer hold already
                # serializes; O_EXCL would deadlock against ourselves
                yield
                return
            deadline = _time.monotonic() + self.writer_lock_timeout_s
            while True:
                try:
                    self.fs.create_exclusive(
                        lock,
                        json.dumps(
                            {
                                "pid": os.getpid(),
                                "ts": _time.time(),
                                "token": token,
                            }
                        ).encode(),
                    )
                    break
                except FileExistsError:
                    try:
                        age = _time.time() - self.fs.getmtime(lock)
                    except OSError:
                        continue  # holder just released; retry now
                    if age >= self.writer_lock_stale_s:
                        # atomic claim: of N waiters that all saw a
                        # stale lock, exactly one rename succeeds and
                        # unlinks; the rest loop and contend fresh
                        claim = f"{lock}.stale-{_uuid.uuid4().hex[:8]}"
                        try:
                            self.fs.rename(lock, claim)
                            self.fs.unlink(claim)
                        except OSError:
                            pass
                        continue
                    if _time.monotonic() >= deadline:
                        holder = ""
                        try:
                            holder = self.fs.open_read(lock)[:200].decode(
                                errors="replace"
                            )
                        except OSError:
                            pass
                        raise TimeoutError(
                            f"writer lock at {lock} held past "
                            f"{self.writer_lock_timeout_s}s (holder: {holder!r}); "
                            "another process is committing — retry, or remove "
                            "the lockfile if its owner is dead"
                        )
                    _time.sleep(0.05)
            self._wlock_tls.state = (lock, token)
            try:
                # build on the LATEST committed state, not this
                # process's possibly stale in-memory view — this is
                # what turns two racing adds into two appended batches
                # instead of last-writer-wins on _meta.json
                self._refresh_meta_if_stale()
                yield
            finally:
                self._wlock_tls.state = None
                # unlink ONLY our own lockfile: if the stale path
                # stole it mid-hold, the current file belongs to the
                # thief and must survive our release
                if self._read_lock_token(lock) == token:
                    try:
                        self.fs.unlink(lock)
                    except OSError:
                        pass

        return _ctx()

    def _read_lock_token(self, lock: str) -> str | None:
        try:
            return json.loads(self.fs.open_read(lock)[:4096]).get("token")
        except (OSError, ValueError):
            return None

    def _assert_and_touch_writer_lock(self) -> None:
        """Called by _save_meta when a writer-lock hold is active in
        this thread: refuse to flip _meta.json on a stolen lock (the
        thief may have committed meanwhile — our flip would silently
        drop its segments), and refresh the lock mtime so a hold that
        spans several flips (an add, then its maintenance compaction)
        never crosses writer_lock_stale_s between them."""
        state = getattr(self._wlock_tls, "state", None)
        if state is None:
            return
        lock, token = state
        if self._read_lock_token(lock) != token:
            raise RuntimeError(
                f"writer lock at {lock} was taken over (this commit ran "
                f"past writer_lock_stale_s={self.writer_lock_stale_s}s and "
                "another writer claimed it as stale); aborting the meta "
                "flip to avoid overwriting the new holder's commits — "
                "raise writer_lock_stale_s for long commits and retry"
            )
        try:
            self.fs.utime(lock)
        except OSError:
            pass

    def _save_meta(self, meta: dict):
        """Atomic _meta.json flip of the CANDIDATE ``meta`` via
        fs.write_atomic (locally: temp file + fsync + os.replace —
        rename is atomic on POSIX; on an object store: a whole-object
        conditional put), so a crash at ANY point leaves either the old
        or the new meta, never a torn write. This is the only file the
        commit protocol's atomicity rests on, so it is the one write
        that must not be in-place. Returns the written file's identity;
        _commit_segments, the only caller, adopts the candidate with it
        (a failed flip leaves self._meta consistent with disk).

        On a CAS-capable backend (fs.supports_cas — object stores with
        conditional puts; MemoryFS models them) the flip is a
        compare-and-swap against the meta identity this writer last
        observed: a racing commit the lockfile protocol failed to
        exclude (the documented weakness of O_EXCL emulation on
        eventually-consistent blob stores) turns into a LOUD
        lost-update error instead of silently vanishing under ours —
        the losing writer refreshes and retries its whole commit."""
        self._assert_and_touch_writer_lock()
        meta_path = os.path.join(self.path, "_meta.json")
        target = meta
        # self-cleaning commit-time stats (round 13): per-segment row
        # counts / byte totals / spart byte maps are recorded by
        # _record_manifest; segments leave the lists through many
        # paths (minor merge, fold, compaction), so rather than
        # threading a prune through each, every flip drops entries
        # for segments no longer in any table's list — the maps stay
        # exactly as large as the live segment set
        live = target.get("segments", {})
        for stats_key in ("seg_rows", "seg_bytes", "seg_spart_bytes"):
            sr = target.get(stats_key)
            if not sr:
                continue
            for t in list(sr):
                keep = set(live.get(t, []))
                cur = sr[t]
                for s in [s for s in cur if s not in keep]:
                    del cur[s]
                if not cur:
                    del sr[t]
        # dictionary-code large manifests for the on-disk payload only
        # (the in-memory dict keeps plain lists — see _encode_manifest);
        # shallow-copy the layers the encoding replaces so the
        # candidate's in-memory manifests stay plain lists
        man = target.get("manifests")
        if man:
            enc_man = {
                t: {s: _encode_manifest(rel) for s, rel in per.items()}
                for t, per in man.items()
            }
            target = {**target, "manifests": enc_man}
            # meta-level format marker (ADVICE r14): when any manifest
            # actually got dictionary-coded, stamp manifest_rev=2 so
            # the format change is explicit in the file, not only
            # inferable from per-manifest '_mf' markers. Pre-r14
            # readers ignore the key and would still misread coded
            # manifests — upgrade ordering is readers-before-writers
            # (documented in COVERAGE.md §storage); the rev makes a
            # downgrade detectable and auditable rather than silent.
            if any(
                isinstance(e, dict)
                for per in enc_man.values()
                for e in per.values()
            ):
                target["manifest_rev"] = 2
        payload = json.dumps(target).encode()
        if getattr(self.fs, "supports_cas", False):
            from lintdb_spark.index.fs import ConditionalPutConflict

            try:
                self.fs.write_if_match(
                    meta_path, payload, getattr(self, "_meta_stat", None)
                )
            except ConditionalPutConflict as exc:
                raise RuntimeError(
                    f"meta flip at {meta_path} lost a commit race: another "
                    "writer published since this process last read the "
                    "meta (the conditional put refused to overwrite it). "
                    "Nothing was written — reload the store and retry "
                    "the commit."
                ) from exc
        else:
            self.fs.write_atomic(meta_path, payload)
        return self._stat_meta()

    def _version(self, table: str) -> int:
        return self._meta["versions"].get(table, 0)

    def _table_path(self, table: str, version: int | None = None) -> str:
        v = self._version(table) if version is None else version
        return os.path.join(self.path, table, f"v{v}")

    def _segments(self, table: str, meta: dict | None = None) -> list[str]:
        # ``meta``: a snapshot a reader captured (default: the live meta)
        return (meta or self._meta).get("segments", {}).get(table, [])

    def _commit_segments(
        self,
        staged: list[tuple[str, str]],
        stream_batch: tuple[str, int] | None = None,
        replace: list[tuple[str, str]] | tuple = (),
        retire: dict[str, list[str]] | None = None,
        meta: dict | None = None,
        sidecars=None,
        delta: Delta | None = None,
    ) -> None:
        """THE commit point of both stores and the only caller of
        _save_meta: every mutation, every maintenance rewrite, index
        creation and (re)training builds its candidate meta here, flips
        _meta.json once and adopts the result. Everything before this
        call is invisible staging.

        ``retire`` maps a table to segments that leave its list and
        manifest map (a minor-merge group, the flip/tombstone tables a
        fold or compact absorbed). ``replace`` holds staged
        ``(table, "v<N>")`` rewrites: each replaces its table's whole
        segment list, manifest map and version. The ``staged`` appends
        land after both, in the same flip (update publishes its
        survivors and its new rows together). ``meta`` holds top-level
        keys that ride the same flip (counters, revisions, coverage
        lists); ``stream_batch`` (add's idempotency token) likewise —
        segments, counters and replay watermark commit together or
        not at all. ``sidecars`` is subclass state adopted with the
        meta (the Index's new centroids and quantizers). ``delta`` names
        the commit's change to the rows (Delta): _carry derives the new
        snapshot's in-memory state from it (the Index's serve state)
        and the adoption installs it; without one that state is rebuilt
        on its next use.

        The candidate is a COPY, adopted only after the durable flip
        succeeds: a failed flip (ENOSPC, fsync error) leaves self._meta
        equal to disk, so a retry cannot double-commit, and callers
        never write the live meta — a lock-free reader sees the old or
        the new dict via one atomic assignment, never the next
        commit's counters beside the previous commit's segments. The
        flip and the adoption run under _refresh_lock: a reader's
        staleness check that sees the new file in between waits, then
        finds this commit adopted."""
        import copy

        new_meta = copy.deepcopy(self._meta)
        segs = new_meta.setdefault("segments", {})
        man = new_meta.setdefault("manifests", {})
        for table, gone in (retire or {}).items():
            if gone:
                segs[table] = [s for s in segs[table] if s not in gone]
                for s in gone:
                    man.get(table, {}).pop(s, None)
        for table, seg in replace:
            segs[table] = []
            man[table] = {}
            new_meta["versions"][table] = int(seg[1:])
        for table, seg in [*replace, *staged]:
            segs.setdefault(table, []).append(seg)
            # leaf-file manifest (+ commit-time row count) rides in the
            # same atomic flip as the segment list — readers holding
            # this meta never list
            root = os.path.join(self.path, table, seg)
            # staged-FS bridge: upload locally staged parquet before
            # walking (no-op on LocalFS and for already-remote files)
            self.fs.publish(root)
            self._record_manifest(new_meta, table, seg, root)
        if stream_batch is not None:
            key, bid = stream_batch
            new_meta.setdefault("stream_batches", {})[key] = int(bid)
        if meta:
            new_meta.update(copy.deepcopy(meta))
        carried = None if delta is None else self._carry(new_meta, staged, delta)
        with self._refresh_lock:
            self._adopt(new_meta, self._save_meta(new_meta), sidecars, carried)

    def _run_writes(self, thunks: list) -> None:
        """Run independent segment-write thunks through a small
        thread pool (params.ARTIFACT_STAGE_PARALLELISM; 1 =
        sequential). A multi-table commit's staging writes are
        independent until the meta flip, so overlapping them pays
        driver-side job latency (the dominant cost of a small batch)
        concurrently — and on a cluster overlaps the stages' own
        shuffle/IO. The first worker exception propagates; any
        already-written segments stay invisible staging (vacuum
        collects them), exactly like a crash mid-staging."""
        if not thunks:
            return
        workers = min(int(params.ARTIFACT_STAGE_PARALLELISM), len(thunks))
        if workers <= 1:
            for t in thunks:
                t()
            return
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=workers) as ex:
            list(ex.map(lambda t: t(), thunks))

    def _stage_path(self, table: str) -> tuple[str, str]:
        import uuid

        seg = f"seg-{uuid.uuid4().hex[:12]}"
        return seg, os.path.join(self.path, table, seg)

    def _segment_manifest(
        self, root: str, prefer_local: bool = True
    ) -> list[str]:
        """Relative paths of a segment's parquet leaf files, walked
        once at COMMIT time by the process that just wrote them (a
        local readdir over freshly written dirs — cheap, and on object
        stores the writer already knows these paths). Stored in
        _meta.json so readers can open the segment without any
        partition-discovery listing: at the sf10 probe the postings
        table's ~6,183 (tenant, centroid) dirs cost a 6,183-task
        listing job (~15 s) on every cold open; a manifest read costs
        one footer read + driver-side file stats. Segments are
        immutable after commit, so the manifest can never go stale for
        a reader holding the meta that references it.

        ``prefer_local=False`` (build_manifests' migration path)
        forces the remote walk: migration manifests segments this
        process never wrote, where the local mirror may be a PARTIAL
        download (an interrupted spark_read_path earlier in the same
        process) — a manifest built from it would silently drop the
        missing leaves from every future read."""
        out = []
        # prefer the WRITER's local staged bytes (identity path on
        # LocalFS, the staging mirror on bridged schemes): the writer
        # just put those files, so the listing is complete by
        # construction — a remote walk right after publish can be
        # INCOMPLETE under read-after-write listing lag (S3-era
        # eventual consistency, still the contract floor for generic
        # object stores), and a manifest missing leaf files silently
        # drops their rows from every read holding that meta.
        # Gated (ADVICE r12) on the fs CONFIRMING this process staged
        # and published the root: a read-side cache mirror (possibly
        # partial, from an interrupted download) must never become a
        # manifest — only roots in StagedFS's publish memo qualify,
        # and LocalFS (where the "mirror" IS the segment) always does.
        try:
            staged = (
                getattr(self.fs, "staged_local_path", None)
                if prefer_local
                and getattr(self.fs, "locally_staged", lambda p: False)(root)
                else None
            )
        except Exception:  # noqa: BLE001 — seam-only stores (mock
            # schemes with overridden _fs_walk) may have no resolvable
            # StoreFS at all; the listing fallback below is their path
            staged = None
        if staged is not None:
            local = staged(root)
            if os.path.isdir(local):
                for wr, _dirs, files in os.walk(local):
                    for f in files:
                        if f.endswith(".parquet"):
                            out.append(
                                os.path.relpath(os.path.join(wr, f), local)
                            )
                out.sort()
                return out
        for wr, _dirs, files in self._fs_walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    out.append(os.path.relpath(os.path.join(wr, f), root))
        out.sort()
        return out

    def _staged_manifest_rows(self, root: str, rel: list[str]) -> int | None:
        """Footer row sum of a just-staged segment, read from the
        WRITER's local bytes (identity on LocalFS, the staging mirror
        on bridged schemes) — driver-side metadata, no Spark job.
        None when this process has no complete local copy or a footer
        is unreadable (callers then simply omit the persisted count
        and readers fall back to live footer stats)."""
        try:
            if not getattr(self.fs, "locally_staged", lambda p: False)(root):
                return None
            local = self.fs.staged_local_path(root)
        except Exception:  # noqa: BLE001 — seam-only stores
            return None
        try:
            import pyarrow.parquet as pq

            total = 0
            for r in rel:
                total += int(
                    pq.ParquetFile(os.path.join(local, r)).metadata.num_rows
                )
            return total
        except Exception:  # noqa: BLE001 — stats feed estimates only
            return None

    # tables whose per-spart byte layout is persisted at commit (the
    # artifact store's inverted road router consumes it); empty by
    # default — a fine segment's map has one entry per hive spart dir,
    # so only tables a router actually reads should pay the meta bytes
    _SPART_BYTES_TABLES: tuple = ()

    def _staged_manifest_sizes(
        self, root: str, rel: list[str]
    ) -> dict | None:
        """Per-spart byte map of a just-staged segment from the
        WRITER's local bytes — {spart_key: bytes} with key "" for
        files not under a ``spart=`` hive dir (JSON-safe string keys;
        consumers decode "" back to None). None when this process has
        no complete local copy."""
        try:
            if not getattr(self.fs, "locally_staged", lambda p: False)(root):
                return None
            local = self.fs.staged_local_path(root)
        except Exception:  # noqa: BLE001 — seam-only stores
            return None
        out: dict = {}
        try:
            for r in rel:
                k = ""
                for comp in r.replace(os.sep, "/").split("/"):
                    if comp.startswith("spart="):
                        k = comp[6:]
                        break
                out[k] = out.get(k, 0) + os.path.getsize(
                    os.path.join(local, r)
                )
        except OSError:
            return None
        return out

    def _record_manifest(
        self, new_meta: dict, table: str, seg: str, root: str
    ) -> list[str]:
        """Record a just-published segment in the candidate meta: its
        leaf-file manifest AND its commit-time stats — footer row
        count (``seg_rows``), byte total (``seg_bytes``), and for
        _SPART_BYTES_TABLES the per-spart byte map
        (``seg_spart_bytes``). Persisting stats at commit is what
        keeps cost estimators exact AND meta-only after a RESTART on
        a bridged scheme: a fresh store object there has no local
        parquet footers (so _table_rows would degrade the fold
        trigger to its flat backstop — VERDICT r12 #1), and live byte
        sweeps would cost one backend stat per leaf file per process
        (thousands of network calls on a fine-partitioned segment).
        With the persisted stats, maintenance debt routing
        (_tier_bytes), the fold trigger (_table_rows), and the flip
        road router read the meta alone. Stale entries are pruned
        centrally by _save_meta."""
        rel = self._segment_manifest(root)
        new_meta.setdefault("manifests", {}).setdefault(table, {})[seg] = rel
        rows = self._staged_manifest_rows(root, rel)
        if rows is not None:
            new_meta.setdefault("seg_rows", {}).setdefault(table, {})[
                seg
            ] = rows
        sizes = self._staged_manifest_sizes(root, rel)
        if sizes is not None:
            new_meta.setdefault("seg_bytes", {}).setdefault(table, {})[
                seg
            ] = sum(sizes.values())
            if table in self._SPART_BYTES_TABLES:
                new_meta.setdefault("seg_spart_bytes", {}).setdefault(
                    table, {}
                )[seg] = sizes
        return rel

    def build_manifests(self) -> int:
        """Migration for indexes committed before the manifest existed:
        walk every committed segment that lacks a manifest entry and
        record its leaf files in one meta flip. Safe because committed
        segments are immutable; idempotent; returns the number of
        segments updated (manifested, or row-count-backfilled — see
        below). New commits manifest automatically.

        Round 13: also BACKFILLS ``seg_rows`` — the commit-time footer
        row counts _record_manifest persists for new commits — for
        segments committed before the counts existed, wherever footers
        are readable (in place on LocalFS; via the local cache on
        bridged schemes). Segments with no readable footers stay
        absent and keep the estimate/backstop fallback until their
        next rewrite records them."""
        import copy

        with self._writer_lock():
            man, sr, sb = (
                copy.deepcopy(self._meta.get(k, {}))
                for k in ("manifests", "seg_rows", "seg_bytes")
            )
            added = 0
            for table in self._all_tables():
                for seg in self._segments(table):
                    if seg in man.get(table, {}):
                        continue
                    root = os.path.join(self.path, table, seg)
                    if not self._fs_exists(root):
                        continue
                    # migration path: ALWAYS the remote walk — these
                    # segments were committed by some earlier process;
                    # a local cache mirror may be a partial download
                    man.setdefault(table, {})[seg] = self._segment_manifest(
                        root, prefer_local=False
                    )
                    added += 1
            counter = getattr(self.fs, "parquet_num_rows", None)
            for table in self._all_tables():
                for seg in self._segments(table):
                    rel = man.get(table, {}).get(seg)
                    if rel is None:
                        continue
                    root = os.path.join(self.path, table, seg)
                    if counter is not None and seg not in sr.get(table, {}):
                        n: int | None = 0
                        for r in rel:
                            k = counter(os.path.join(root, r))
                            if k is None:
                                n = None
                                break
                            n += k
                        if n is not None:
                            sr.setdefault(table, {})[seg] = n
                            added += 1
                    if seg not in sb.get(table, {}):
                        # one-time explicit migration: remote getsize
                        # per leaf is acceptable HERE (the live paths
                        # never pay it again once persisted)
                        b = self._seg_bytes(table, seg)
                        if b is not None:
                            sb.setdefault(table, {})[seg] = b
                            added += 1
            if added:
                stats = {k: v for k, v in (("seg_rows", sr), ("seg_bytes", sb)) if v}
                self._commit_segments(
                    [], meta={"manifests": man, **stats}, delta=UNCHANGED
                )
            return added

    def _read_manifest_files(
        self, root: str, files: list[str], schema: T.StructType | None = None
    ) -> DataFrame:
        """Open a segment from its manifest: explicit leaf files with
        ``basePath`` (hive partition columns still parse from the
        paths) and schema inferred from ONE footer (mergeSchema=false
        default) — semantically identical to the directory read, minus
        the recursive listing. The parallel-discovery threshold is
        bumped past the file count for the duration of relation
        resolution so Spark stats the explicit files driver-side
        instead of scheduling a one-task-per-path job (the exact
        6,183-task shape the manifest exists to kill); capped so a
        pathological million-file segment still uses the cluster.

        The set/read/restore triple mutates SESSION conf, so it is
        serialized under a process-wide lock: two threads opening
        manifested segments concurrently (the multi-threaded server)
        could otherwise interleave and leave the threshold permanently
        pinned to one reader's file count. Relation resolution (the
        part the threshold affects) happens eagerly inside
        spark.read.parquet, so the lock scope covers it fully.

        ``schema`` (tables in _exact_schema_tables) skips the footer
        inference job altogether."""
        key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        conf = self.spark.conf
        reader = self.spark.read.option("basePath", root)
        if schema is not None:
            reader = reader.schema(schema)
        bump = len(files) < 100_000
        if not bump:
            return reader.parquet(*files)
        with _DISCOVERY_CONF_LOCK:
            try:
                old = conf.get(key)
            except Exception:  # noqa: BLE001 — unset conf
                old = None
            conf.set(key, str(len(files) + 1))
            try:
                return reader.parquet(*files)
            finally:
                if old is None:
                    conf.unset(key)
                else:
                    conf.set(key, old)

    def _read(
        self, table: str, schema: T.StructType | None = None, meta: dict | None = None
    ) -> DataFrame:
        """Open a table's committed segments in ``meta`` (a snapshot a
        reader captured; default: the live meta) as one DataFrame.

        The OPENED frame is memoized per (table, segment list): file
        listing for a heavily partitioned table is a Spark job with
        one task per directory (parallelPartitionDiscovery — measured
        6183 tasks / ~15 s per call on the sf10 probe's 8000-centroid
        postings), and spark.read re-lists on every call. Re-using the
        relation makes listing a once-per-snapshot cost — the Spark
        analogue of the reference keeping its index open in RAM
        (index.cpp:40-58 opens RocksDB once, not per query). Any
        commit changes the segment list, which changes the key.
        Entries are plain lazy frames — no persisted data, just the
        resolved file index."""
        cache = getattr(self, "_read_cache", None)
        if cache is None:
            cache = self._read_cache = {}
        # schema participates in the key: today every table is read
        # with one fixed schema, but a call site passing a different
        # one must not silently get the first-cached frame
        meta = meta or self._meta
        key = (
            table,
            tuple(self._segments(table, meta)),
            meta["versions"].get(table, 0),
            None if schema is None else schema.json(),
        )
        hit = cache.get(key)
        if hit is not None:
            return hit
        out = self._read_uncached(table, schema, meta=meta)
        cache[key] = out
        # keep one snapshot per table (a reader still on an older one
        # re-opens it); list() and pop(): concurrent readers share it
        for k in [k for k in list(cache) if k[0] == table and k != key]:
            cache.pop(k, None)
        return out

    def _read_uncached(
        self,
        table: str,
        schema: T.StructType | None = None,
        segs: list[str] | None = None,
        meta: dict | None = None,
    ) -> DataFrame:
        """``segs`` restricts the read to a SUBSET of the table's
        committed segments in ``meta`` (default: the live meta), e.g.
        the deferred-verify flush reads only the cand_pairs segments
        pending; default is all of them. The
        manifest-first protocol, the moved-dir listing fallback, and
        the footerless-dir guard apply identically either way."""
        def _has_parquet(p: str) -> bool:
            # a committed-but-footerless dir (empty batch from an old
            # build, or crash remnant) would fail schema inference for
            # the whole union; zero rows to read means skip the branch
            for walk_root, _dirs, files in self._fs_walk(p):
                if any(f.endswith(".parquet") for f in files):
                    return True
            return False

        meta = meta or self._meta
        man = meta.get("manifests", {}).get(table, {})
        frames = []
        for s in self._segments(table, meta) if segs is None else segs:
            root = os.path.join(self.path, table, s)
            rel = man.get(s)
            if rel is not None:
                # manifested segment: build the scan from the committed
                # leaf-file list — no recursive listing, no discovery
                # job (see _segment_manifest). Empty manifest = empty
                # segment, skip the branch like _has_parquet would.
                # spark_read_path maps a non-local segment to its local
                # cache copy (downloaded once — segments are immutable);
                # identity on local stores.
                if rel:
                    try:
                        lroot = self.fs.spark_read_path(root)
                        frames.append(
                            self._read_manifest_files(
                                lroot,
                                [os.path.join(lroot, r) for r in rel],
                                schema
                                if table in self._exact_schema_tables
                                else None,
                            )
                        )
                        continue
                    except Exception:  # noqa: BLE001 — e.g. moved index dir
                        pass  # fall through to the listing read
                else:
                    continue
            if self._fs_exists(root) and _has_parquet(root):
                frames.append(
                    self.spark.read.parquet(self.fs.spark_read_path(root))
                )
        if not frames:
            return self.spark.createDataFrame([], schema)
        # one scan per segment, unioned: segment roots each carry their
        # own hive-partition layout, so they can't share a single
        # read.parquet(*paths) base. Partition pruning still applies
        # per branch; remove/update compact back to one segment.
        from functools import reduce

        # allowMissingColumns: segments written before a column was
        # added (e.g. text-posting `tf`) read as NULL for it instead of
        # failing the union — the documented degrade-gracefully contract
        out = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            frames,
        )
        if schema is not None and self._project_reads_to_schema:
            # single-pass-staged segments (round 16) carry the commit's
            # UNION schema in their files — all-null chunks for other
            # tables' columns. Project to the table's declared fields,
            # keeping the frame's own column order; a guard, not a
            # rewrite: when no undeclared column is present (every
            # classic segment) the frame passes through untouched, so
            # existing plans gain no Project node. Scoped by
            # _project_reads_to_schema to stores that actually stage
            # single-pass segments (DedupArtifacts): the Index's
            # schema args are empty-fallback type pins, NOT projection
            # contracts — its readers rely on inferring columns the
            # pin omits (e.g. the text-posting `tf`), which a global
            # guard would silently drop.
            declared = {f.name for f in schema.fields}
            if any(c not in declared for c in out.columns):
                out = out.select(
                    *[c for c in out.columns if c in declared]
                )
        return out

    def vacuum(self, min_age_s: float = 3600.0) -> list[str]:
        """Delete unreferenced segment directories (the leftovers of
        crashed, uncommitted adds) plus orphaned _meta temp files.
        Returns the removed relative paths.

        ``min_age_s`` guards the one race vacuum has: a CONCURRENT
        add() that has staged segments but not yet flipped the meta
        would look like an orphan — so only dirs whose ENTIRE TREE is
        untouched for min_age_s are collected. The age is the newest
        mtime anywhere under the dir, not the dir's own mtime: a Spark
        parquet job writes under seg-X/_temporary/ for its whole
        duration and only bumps leaf mtimes, so a staged write longer
        than min_age_s would look stale by root mtime alone. Any path
        that vanishes mid-scan (a racing writer committed or a racing
        vacuum won) is treated as just-touched, never as old. Pass 0
        only when no writer can be active."""
        import time as _time

        # sync with the LATEST committed meta before computing the live
        # set: in the cross-process deployment this module supports
        # (server + offline ingest on one path) a long-lived process
        # whose in-memory meta predates another process's commit would
        # otherwise classify the newly committed segments as orphans
        # and delete live data once they age past min_age_s
        self._refresh_meta_if_stale()

        now = _time.time()

        def _tree_age(p: str) -> float:
            # FILE mtimes only: a Spark job bumps leaf mtimes, which is
            # the signal this guards on — and on object stores
            # directories are synthetic (no mtime of their own;
            # FsspecRemote deliberately reports unknown times as "now",
            # which would make every tree read age-0 forever and
            # disable vacuum outright if dirs were included)
            try:
                newest = None
                for walk_root, _dirs, files in self._fs_walk(p):
                    for name in files:
                        m = self.fs.getmtime(os.path.join(walk_root, name))
                        newest = m if newest is None else max(newest, m)
            except OSError:
                return 0.0  # racing writer/remover: not an orphan
            if newest is None:
                # no datable files: on backends with REAL directory
                # mtimes (LocalFS) fall back to the root dir's own —
                # an empty orphan dir (crash after mkdir, before any
                # file) would otherwise never age and leak forever
                # (ADVICE r12). Object-store schemes keep the
                # just-touched rule: their dir times are synthetic
                # ("now"), and treating those as datable would make
                # every empty tree instantly stale OR never stale
                # depending on the backend's lie.
                if getattr(self.fs, "real_dir_mtimes", False):
                    try:
                        return now - self.fs.getmtime(p)
                    except OSError:
                        return 0.0
                return 0.0
            return now - newest

        removed: list[str] = []
        for child in self.fs.listdir(self.path):
            # _meta.json.tmp-*: orphans of crashed _save_meta flips.
            # _writer.lock.stale-*: a stale-lock claimant that died
            # between its atomic rename and the unlink (the one
            # leftover _writer_lock's takeover protocol can leak).
            if child.startswith("_meta.json.tmp-") or child.startswith(
                "_writer.lock.stale-"
            ):
                full = os.path.join(self.path, child)
                try:
                    if now - self.fs.getmtime(full) >= min_age_s:
                        self.fs.unlink(full)
                        removed.append(child)
                except OSError:
                    continue  # a concurrent _save_meta just renamed it
        for table in self._all_tables():
            root = os.path.join(self.path, table)
            if not self.fs.isdir(root):
                continue
            live = set(self._segments(table))
            for child in self.fs.listdir(root):
                full = os.path.join(root, child)
                if (
                    child not in live
                    and self.fs.isdir(full)
                    and _tree_age(full) >= min_age_s
                ):
                    self.fs.rmtree(full)
                    removed.append(f"{table}/{child}")
        return removed

    # ---------------- tiered self-triggering maintenance ----------------
    # Shared by every SegmentStore-backed store (DedupArtifacts, Index):
    # segment accretion is normally answered by the batch-proportional
    # MINOR merge (per-batch seg-* segments fold into leveled m<L>-*
    # tier segments at ARTIFACT_MINOR_FANOUT), and the FULL corpus
    # rewrite (self.compact()) runs only when real debt accrued — at
    # 100 TB "full compact every N micro-batches" is itself the scale
    # cliff. Subclasses parameterize via hooks:
    #   _MINOR_SKIP         tables never minor-merged
    #   _TIER_BYTES_SKIP    tables excluded from the debt byte ratio
    #   _minor_schema       empty-read schema for a table (None = infer)
    #   _minor_reduce       exact per-table reduction applied on merge
    #   _minor_write        the table's batch-segment physical layout
    #   _minor_excluded     segment names referenced elsewhere in meta
    #   _minor_companion    segments + meta keys riding a merge's flip
    #   _extra_full_compact_due   store-specific debt (e.g. tombstones)
    # Both compactions publish through _commit_segments: a minor merge
    # retires its group and stages the merged segment, a full compact
    # stages one v<N> rewrite per table.

    _MINOR_SKIP: tuple = ()
    _TIER_BYTES_SKIP: tuple = ()

    def _should_autocompact(self) -> bool:
        """Count backstop for the measured no-compaction serve cliff
        (SCALE.md §9: 407 segments -> 87 s serves, 30x): maintenance
        is due when any table's segment list reaches the threshold.
        Meta-only check — no Spark job."""
        if not getattr(self, "auto_compact", True):
            return False
        segs = max(
            (len(self._segments(t)) for t in self._all_tables()),
            default=0,
        )
        return segs >= int(params.ARTIFACT_AUTOCOMPACT_SEGMENTS)

    def _minor_due(self) -> bool:
        """Meta-only: does any table hold >= ARTIFACT_MINOR_FANOUT
        MERGEABLE segments at one level? (Level 0 = per-batch seg-*;
        level L = m<L>-* minor outputs. v* base segments have no
        level.) Segments minor_compact could never merge — pinned by a
        by-name reference (_minor_excluded) or known zero-row (empty
        manifest) — are not counted: counting them would trip a no-op
        maintenance evaluation (with its manifest byte sweep) on every
        subsequent commit until the pin clears."""
        fanout = int(params.ARTIFACT_MINOR_FANOUT)
        man_all = self._meta.get("manifests", {})
        for t in self._all_tables():
            if t in self._MINOR_SKIP:
                continue
            excluded = self._minor_excluded(t)
            man = man_all.get(t, {})
            counts: dict[int, int] = {}
            for s in self._segments(t):
                lv = _seg_level(s)
                if lv is None or s in excluded or man.get(s) == []:
                    continue
                counts[lv] = counts.get(lv, 0) + 1
                if counts[lv] >= fanout:
                    return True
        return False

    def _tier_bytes(self, table: str) -> tuple[int | None, int | None]:
        """(base_bytes, batch_bytes) of a table's committed segments —
        driver-side stats over the manifest file lists (one getsize
        per leaf file; no Spark job). Base = v* segments (full compact
        output), batch = everything else (per-batch seg-* and
        minor-merge m<L>-*). Per-segment sums are memoized for the
        store object's lifetime: segments are immutable after commit
        and names are never reused (version numbers only grow, batch
        names carry a uuid), so repeated maintenance evaluations —
        and the doc_ids/removed_ids tables the artifact tombstone
        check visits on top of the generic loop — cost one stat sweep
        per NEW segment, not per trip (the dominant driver-side cost
        on object stores, where each getsize is a network call).

        A tier sum is ``None`` — unknown, NOT zero — when any of its
        segments has a file whose size the backend could not report
        (getsize raised, or returned None as HTTP/SFTP-style fsspec
        info does). The two failure modes of coercing to 0 are both
        routing bugs: an undercounted BASE makes every batch tier
        look like debt (full rewrite per trip — the cliff the tiered
        policy removes), an undercounted BATCH silently defers the
        rewrite forever. Unknown sums make _full_compact_due skip the
        byte-ratio criteria; the segment-count backstop still routes.
        A segment with a failed stat is NOT memoized, so the next
        maintenance evaluation retries it — on object stores with
        read-after-write listing lag the retry is the fix."""
        base: int | None = 0
        batch: int | None = 0
        for seg in self._segments(table):
            sz = self._seg_bytes(table, seg)
            if seg.startswith("v"):
                base = None if (sz is None or base is None) else base + sz
            else:
                batch = None if (sz is None or batch is None) else batch + sz
        return base, batch

    def _table_rows(self, table: str) -> int | None:
        """Estimated committed row count of a table. Sources, in
        order per segment: the COMMIT-TIME count persisted in the meta
        (``seg_rows``, written by _record_manifest from the writer's
        own footers — available even to a store object opened fresh on
        a bridged scheme, where no local footers exist; round 13,
        VERDICT r12 #1), then live parquet FOOTERS (LocalFS reads in
        place; StagedFS counts only files with a local staged/cached
        copy, never a remote fetch), memoized per immutable segment
        like _tier_bytes. Segments with neither are estimated from
        the table's known rows-per-byte ratio (manifest byte stats);
        None when nothing at all is known. Feeds cost ESTIMATES (e.g.
        the artifact fold trigger), never correctness."""
        cache = getattr(self, "_seg_rows_cache", None)
        if cache is None:
            cache = self._seg_rows_cache = {}
        man = self._meta.get("manifests", {}).get(table, {})
        persisted = self._meta.get("seg_rows", {}).get(table, {})
        known_rows = known_bytes = 0
        unknown_bytes = 0
        any_known = False
        for seg in self._segments(table):
            key = (table, seg)
            n = cache.get(key)
            if n is None:
                pn = persisted.get(seg)
                if pn is not None:
                    n = cache[key] = int(pn)
            if n is None:
                root = os.path.join(self.path, table, seg)
                rel = man.get(seg)
                if rel is None:
                    files = [
                        os.path.join(wr, f)
                        for wr, _d, fls in self._fs_walk(root)
                        for f in fls
                        if f.endswith(".parquet")
                    ]
                else:
                    files = [os.path.join(root, r) for r in rel]
                n = 0
                counter = getattr(self.fs, "parquet_num_rows", None)
                for p in files:
                    k = counter(p) if counter is not None else None
                    if k is None:
                        n = None
                        break
                    n += k
                if n is not None:
                    cache[key] = n
            if n is not None:
                any_known = True
                known_rows += n
                b = self._seg_bytes(table, seg)
                known_bytes += b if b is not None else 0
            else:
                b = self._seg_bytes(table, seg)
                if b is None:
                    return None  # cannot even byte-estimate
                unknown_bytes += b
        if not any_known:
            return None if unknown_bytes else 0
        if unknown_bytes and known_bytes:
            known_rows += int(unknown_bytes * known_rows / known_bytes)
        return known_rows

    def _seg_bytes(self, table: str, seg: str) -> int | None:
        """Byte sum of ONE committed segment via the _tier_bytes
        cache protocol: memoized when complete, uncached (returns
        None) when any file's size is unknowable right now. The
        COMMIT-TIME total persisted in the meta (``seg_bytes``,
        round 13) is consulted first — maintenance debt evaluation
        then costs zero backend stat calls, even on a store object
        opened fresh on a remote scheme."""
        cache = getattr(self, "_seg_bytes_cache", None)
        if cache is None:
            cache = self._seg_bytes_cache = {}
        key = (table, seg)
        sz = cache.get(key)
        if sz is not None:
            return sz
        p = self._meta.get("seg_bytes", {}).get(table, {}).get(seg)
        if p is not None:
            cache[key] = int(p)
            return int(p)
        man = self._meta.get("manifests", {}).get(table, {})
        root = os.path.join(self.path, table, seg)
        rel = man.get(seg)
        if rel is None:
            files = [
                os.path.join(wr, f)
                for wr, _d, fls in self._fs_walk(root)
                for f in fls
                if f.endswith(".parquet")
            ]
        else:
            files = [os.path.join(root, r) for r in rel]
        sz = 0
        for p in files:
            try:
                n = self.fs.getsize(p)
            except OSError:
                n = None
            if n is None:
                return None
            sz += int(n)
        cache[key] = sz
        return sz

    def _extra_full_compact_due(self) -> bool:
        """Store-specific debt beyond the generic criteria (e.g. the
        artifact store's tombstone fraction). Default: none."""
        return False

    def _full_compact_due(self) -> bool:
        """Is the FULL corpus rewrite worth it, vs the
        batch-proportional minor merge? Evaluated only when a count
        trigger already tripped (once per ~fanout batches), so the
        manifest byte stats here run at maintenance cadence, not per
        commit. Full is due when:

        - no base tier exists yet (the first compact establishes the
          v* segments — and any compaction-only companion tables), or
        - store-specific debt accrued (_extra_full_compact_due), or
        - the batch tier's bytes rival the base tier's: re-merging
          would copy a base-sized volume anyway, while the rewrite
          also restores the fine physical layout.

        At 100 TB this is the difference between maintenance cost
        ∝ recent writes (minor, the steady state) and ∝ corpus (full,
        amortized over 1/FRAC growth)."""
        primary = self._all_tables()[0]
        if not any(s.startswith("v") for s in self._segments(primary)):
            return True
        if self._extra_full_compact_due():
            return True
        base = batch = 0
        for t in self._all_tables():
            if t in self._TIER_BYTES_SKIP:
                continue
            b0, b1 = self._tier_bytes(t)
            if b0 is None or b1 is None:
                # a tier sum is unknowable (backend can't report file
                # sizes right now) — byte-ratio routing would compare
                # garbage either way, so skip it: minor merges keep
                # running on the count trigger and _auto_maintain's
                # nothing-was-mergeable backstop still forces the full
                # rewrite; the next evaluation retries the stats
                return False
            base += b0
            batch += b1
        return batch >= float(
            params.ARTIFACT_FULLCOMPACT_BATCH_FRAC
        ) * max(base, 1)

    def _minor_schema(self, table: str):
        """Schema for an (impossible in practice) all-empty subset
        read; None = infer from the files."""
        return None

    def _minor_reduce(self, table: str, df: DataFrame) -> DataFrame:
        """Exact per-table reduction applied to merged rows (identity
        by default; e.g. the artifact df table pre-aggregates because
        its reads sum segments anyway)."""
        return df

    def _minor_write(self, table: str, df: DataFrame, path: str) -> None:
        """Write one merged segment in the table's BATCH-segment
        physical layout (and publish it)."""
        raise NotImplementedError

    def _minor_excluded(self, table: str) -> set:
        """Segment names other meta state references BY NAME — never
        merged (the reference would dangle)."""
        return set()

    def _minor_companion(
        self, table: str, merged: list, seg: str, meta: dict
    ) -> tuple[list[tuple[str, str]], dict]:
        """Hook: companion segments and top-level meta keys that must
        ride the SAME flip as a minor merge of ``table`` into ``seg``
        (e.g. the artifact store's inverted shingle sliver + coverage
        advance). ``meta`` is the top-level meta as this minor_compact
        call has updated it so far (read-only). Returns ``(staged,
        meta_updates)``: companion writes are staged like the merge
        itself, so a crash before the flip leaves only
        vacuum-collectable orphans. Default: none."""
        return [], {}

    def minor_compact(self, force: bool = False) -> dict:
        """Merge per-batch segments into ONE segment per (table,
        level) WITHOUT touching the base tier — the LSM answer to
        segment accretion when the corpus is large: read cost returns
        to a handful of scans and the write cost is the merged
        segments' bytes, never the corpus. Exact by construction:
        every read unions a table's segments order-independently, so
        replacing N list entries with one segment holding the same
        rows changes no read. Levels bound write amplification:
        level-0 (per-batch seg-*) merges into one m1-* segment at
        ARTIFACT_MINOR_FANOUT, m1 into m2 at the same fanout — a row
        is rewritten at most log_fanout(batches) times between full
        compacts instead of once per count trip.

        Every merge group is retired and its merged segment staged in
        ONE _commit_segments flip; a merged segment that a cascade
        merges again within the call is never published (vacuum
        collects its dir).

        Returns {table: number_of_segments_merged}; {} if nothing
        qualified. ``force=True`` merges every level with >= 2
        mergeable segments regardless of the fanout — for explicitly
        managed stores (a stream calling it on its own cadence). Run
        vacuum() afterwards to reclaim the superseded per-batch dirs
        (same grace contract as the full compact)."""
        import uuid

        fanout = int(params.ARTIFACT_MINOR_FANOUT)
        backstop = int(params.ARTIFACT_AUTOCOMPACT_SEGMENTS)
        merged: dict[str, int] = {}
        staged: list[tuple[str, str]] = []
        retire: dict[str, list[str]] = {}
        meta: dict = {}
        with self._writer_lock():
            man_map = self._meta.get("manifests", {})
            for table in self._all_tables():
                if table in self._MINOR_SKIP:
                    continue
                excluded = self._minor_excluded(table)
                # companion segments staged earlier in this call (an
                # inverted sliver) are merge candidates like any other
                fresh = {s for t, s in staged if t == table}
                current = self._segments(table) + sorted(fresh)
                man = man_map.get(table, {})
                gone = retire.setdefault(table, [])
                # iterate levels ascending so a merge that fills the
                # next level can cascade within one call
                lv = 0
                while True:
                    group = [
                        s
                        for s in current
                        if _seg_level(s) == lv and s not in excluded
                    ]
                    # zero-row segments (empty manifest — e.g. a batch
                    # that staged no rows for this table) carry nothing
                    # a read could miss: drop them from the list
                    # outright instead of feeding an all-empty group to
                    # the subset read (whose empty-union fallback needs
                    # a schema a wide table doesn't pin). Not counted in
                    # `merged`: a drop is bookkeeping, and reporting it
                    # as a merge would mask _auto_maintain's
                    # nothing-was-mergeable backstop fallback
                    empty = [s for s in group if man.get(s) == []]
                    if empty:
                        group = [s for s in group if s not in empty]
                        current = [s for s in current if s not in empty]
                        gone.extend(empty)
                    if len(group) >= 2 and (
                        force or len(group) >= fanout or len(current) >= backstop
                    ):
                        df = self._minor_reduce(
                            table,
                            self._read_uncached(
                                table, self._minor_schema(table), segs=group
                            ),
                        )
                        seg = f"m{lv + 1}-{uuid.uuid4().hex[:12]}"
                        self._minor_write(
                            table, df, os.path.join(self.path, table, seg)
                        )
                        current = [s for s in current if s not in group] + [seg]
                        for s in group:
                            if s in fresh:
                                staged.remove((table, s))
                            else:
                                gone.append(s)
                        staged.append((table, seg))
                        fresh.add(seg)
                        merged[table] = merged.get(table, 0) + len(group)
                        extra, up = self._minor_companion(
                            table, group, seg, {**self._meta, **meta}
                        )
                        staged.extend(extra)
                        meta.update(up)
                    # advance past levels with nothing to do; stop
                    # once no segment sits at or above this level
                    if not any(
                        (_seg_level(s) or 0) > lv
                        for s in current
                        if _seg_level(s) is not None
                    ):
                        break
                    lv += 1
            if not staged and not any(retire.values()):
                return {}  # nothing merged, nothing dropped
            self._commit_segments(staged, retire=retire, meta=meta, delta=UNCHANGED)
        return merged

    def _auto_maintain(self) -> dict:
        """Self-triggering tiered maintenance — ingest paths call this
        under the writer lock right after their commit. Routes the
        count trigger by debt: full compact only when
        _full_compact_due says the rewrite is worth it, the
        batch-proportional minor merge otherwise; falls back to full
        when the count backstop tripped but nothing was mergeable
        (e.g. every segment pinned by a by-name reference). Vacuums
        with the reader grace period after either."""
        out: dict = {}
        if not getattr(self, "auto_compact", True):
            return out
        if not (self._should_autocompact() or self._minor_due()):
            return out
        if self._full_compact_due():
            self.compact()
            out["compacted"] = True
        else:
            merged = self.minor_compact()
            if merged:
                out["minor_compacted"] = merged
            elif self._should_autocompact():
                self.compact()
                out["compacted"] = True
        if out:
            self.vacuum(
                min_age_s=float(params.ARTIFACT_AUTOCOMPACT_VACUUM_AGE_S)
            )
        return out
