"""Round-12 (VERDICT r11 "Next round" #4): exercise the store-seam
lifecycle against an OBJECT-STORE-SEMANTICS backend, not mem://'s
idealized one. No fsspec in this container, so the backend is a
CI-style fake that speaks the fsspec duck-type FsspecRemote adapts —
meaning the REAL adapter code runs: the getmtime fallback chain
(S3-style 'LastModified' / no time key at all), size=None info, walk
re-anchoring, and the new conditional-put seam (put_if_match ->
supports_cas -> CAS meta flip). Quirk knobs model the classic
eventual-consistency hazards:

- listing lag: freshly put objects are INVISIBLE to ls/walk/info for
  the next N listing calls (read-after-write list consistency)
- stat lag: info() of a fresh object raises FileNotFoundError a few
  times before converging
- size_none: info() reports size=None (HTTP/SFTP-style backends)

The manifest protocol must stay complete under listing lag (the
round-12 fix builds manifests from the writer's staged bytes), CAS
must reject lost updates loudly, and maintenance byte-ratio routing
must defer — never misroute — under size=None.
"""

from __future__ import annotations

import json
import threading
import time
import uuid

import pytest

from lintdb_spark.index import fs as fsmod
from lintdb_spark.index.fs import (
    ConditionalPutConflict,
    FsspecRemote,
    StagedFS,
    _shared_cache_root,
    register_scheme,
)


class _Missing(FileNotFoundError):
    pass


class TransientError(OSError):
    """Throttling / 5xx-style failure: the op did NOT take effect and
    a retry is correct. Carries the status attribute real backends
    surface (FsspecRemote._is_transient keys on it)."""

    status = 503


class FakeObjectStore:
    """fsspec-AbstractFileSystem duck type backing scheme fakes3://.
    Flat object namespace (directories implied), S3-style info dicts,
    optional consistency quirks. Process-global like MemoryFS so
    every StagedFS bridge sees the same objects."""

    _inst = None
    _inst_lock = threading.Lock()

    @classmethod
    def instance(cls):
        with cls._inst_lock:
            if cls._inst is None:
                cls._inst = cls()
            return cls._inst

    def __init__(self):
        self._lock = threading.RLock()
        self.objects: dict[str, bytes] = {}
        self.mtimes: dict[str, float] = {}
        # quirk knobs
        self.listing_lag: int = 0  # fresh objects hidden for N list ops
        self.stat_lag: int = 0  # fresh objects 404 for N info ops
        self.size_none: bool = False
        self.time_key: str | None = "LastModified"  # None = no time at all
        self.no_etag: bool = False  # info() exposes no ETag at all
        self.transient_every: int = 0  # every Nth call raises 503
        # lost-success injection: the next N conditional puts LAND
        # and then raise transient (the ack never reaches the client)
        self.ack_lost_next: int = 0
        self._op_count: int = 0
        self.op_log: list[str] = []  # op-name trace (protocol audits)
        self._fresh: dict[str, int] = {}  # path -> remaining hidden ops

    def reset(self, **quirks):
        with self._lock:
            self.objects.clear()
            self.mtimes.clear()
            self._fresh.clear()
            self.listing_lag = quirks.get("listing_lag", 0)
            self.stat_lag = quirks.get("stat_lag", 0)
            self.size_none = quirks.get("size_none", False)
            self.time_key = quirks.get("time_key", "LastModified")
            self.no_etag = quirks.get("no_etag", False)
            self.transient_every = quirks.get("transient_every", 0)
            self.ack_lost_next = quirks.get("ack_lost_next", 0)
            self._op_count = 0
            self.op_log = []

    @staticmethod
    def _norm(p: str) -> str:
        return p.rstrip("/")

    def _visible_for_listing(self, p: str) -> bool:
        n = self._fresh.get(p, 0)
        if n > 0:
            self._fresh[p] = n - 1
            return False
        return True

    def _op(self, name: str) -> None:
        """Per-call bookkeeping: trace the op name (protocol audits)
        and inject a deterministic transient failure every Nth call
        when the transient_every quirk is on."""
        with self._lock:
            self.op_log.append(name)
            if self.transient_every:
                self._op_count += 1
                if self._op_count % self.transient_every == 0:
                    raise TransientError(
                        f"SlowDown: simulated 503 on {name} "
                        f"(call {self._op_count})"
                    )

    # ---- fsspec surface FsspecRemote adapts -------------------------
    def exists(self, p):
        self._op("exists")
        p = self._norm(p)
        with self._lock:
            return p in self.objects or self._isdir_raw(p)

    def _isdir_raw(self, p):
        p = self._norm(p) + "/"
        with self._lock:
            return any(k.startswith(p) for k in self.objects)

    def isdir(self, p):
        self._op("isdir")
        return self._isdir_raw(p)

    def ls(self, p):
        self._op("ls")
        p = self._norm(p)
        with self._lock:
            kids = set()
            for k in list(self.objects):
                if k.startswith(p + "/"):
                    if not self._visible_for_listing(k):
                        continue
                    kids.add(p + "/" + k[len(p) + 1 :].split("/", 1)[0])
            return sorted(kids)

    def walk(self, root):
        self._op("walk")
        root = self._norm(root)
        with self._lock:
            by_dir: dict[str, list[str]] = {}
            for k in list(self.objects):
                if not (k.startswith(root + "/") or k == root):
                    continue
                if not self._visible_for_listing(k):
                    continue
                d, _, f = k.rpartition("/")
                by_dir.setdefault(d, []).append(f)
            dirs = set(by_dir)
            for d in list(dirs):
                cur = d
                while cur and cur != root and "/" in cur:
                    cur = cur.rpartition("/")[0]
                    dirs.add(cur)
            dirs.add(root)
            for d in sorted(dirs):
                subs = sorted(
                    {
                        x[len(d) + 1 :].split("/", 1)[0]
                        for x in dirs
                        if x.startswith(d + "/")
                        and "/" not in x[len(d) + 1 :]
                    }
                )
                yield d, subs, sorted(by_dir.get(d, []))

    def makedirs(self, p, exist_ok=False):
        self._op("makedirs")
        return  # object stores have no real directories

    class _Writer:
        def __init__(self, store, path):
            self.store, self.path, self.buf = store, path, bytearray()

        def write(self, data):
            self.buf.extend(data)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            if not exc or exc[0] is None:
                self.store._put(self.path, bytes(self.buf))

    class _Reader:
        def __init__(self, data):
            self.data = data

        def read(self):
            return self.data

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    def open(self, p, mode="rb"):
        self._op("open_w" if "w" in mode else "open_r")
        p = self._norm(p)
        if "w" in mode:
            return self._Writer(self, p)
        with self._lock:
            if p not in self.objects:
                raise _Missing(p)
            return self._Reader(self.objects[p])

    def _put(self, p, data):
        with self._lock:
            self.objects[p] = data
            self.mtimes[p] = time.time()
            lag = max(self.listing_lag, self.stat_lag)
            if lag:
                self._fresh[p] = lag

    def rm_file(self, p):
        self._op("rm_file")
        p = self._norm(p)
        with self._lock:
            self.objects.pop(p, None)
            self.mtimes.pop(p, None)

    def mv(self, src, dst):
        self._op("mv")
        with self._lock:
            s = self._norm(src)
            if s not in self.objects:
                # fsspec semantics: a vanished source is
                # FileNotFoundError — a losing stale-lock claimant
                # must see OSError (and loop), not a KeyError crash
                raise _Missing(src)
            self.objects[self._norm(dst)] = self.objects.pop(s)
            self.mtimes[self._norm(dst)] = time.time()

    def rm(self, p, recursive=False):
        self._op("rm")
        p = self._norm(p)
        with self._lock:
            hit = False
            for k in list(self.objects):
                if k == p or (recursive and k.startswith(p + "/")):
                    del self.objects[k]
                    self.mtimes.pop(k, None)
                    hit = True
            if not hit:
                raise _Missing(p)

    def info(self, p):
        self._op("info")
        p = self._norm(p)
        with self._lock:
            if p not in self.objects:
                if self._isdir_raw(p):
                    return {"name": p, "type": "directory", "size": 0}
                raise _Missing(p)
            n = self._fresh.get(p, 0)
            if self.stat_lag and n > 0:
                self._fresh[p] = n - 1
                raise _Missing(p)
            d = {
                "name": p,
                "type": "file",
                "size": None if self.size_none else len(self.objects[p]),
            }
            if not self.no_etag:
                d["ETag"] = (
                    __import__("hashlib").md5(self.objects[p]).hexdigest()
                )
            if self.time_key:
                d[self.time_key] = self.mtimes[p]
            return d

    # ---- the conditional-put extension the CAS seam adapts ----------
    def put_if_match(self, p, data, etag):
        self._op("put_if_match")
        p = self._norm(p)
        with self._lock:
            cur = self.objects.get(p)
            cur_tag = (
                __import__("hashlib").md5(cur).hexdigest()
                if cur is not None
                else None
            )
            if cur_tag != etag:
                raise OSError(
                    f"PreconditionFailed: {p} expected {etag} found {cur_tag}"
                )
            self._put(p, data)
            if self.ack_lost_next > 0:
                # the put LANDED; the response is lost in transit
                self.ack_lost_next -= 1
                raise TransientError(
                    "SlowDown: simulated lost response after commit"
                )


FAKE = FakeObjectStore.instance()
register_scheme(
    "fakes3",
    lambda path: StagedFS(
        FsspecRemote(FAKE, strip_scheme=True), _shared_cache_root(path)
    ),
)


def _path(tag):
    return f"fakes3://bucket/{tag}-{uuid.uuid4().hex[:8]}"


# ---------------------------------------------------------------------------
# adapter-level quirks
# ---------------------------------------------------------------------------


def test_getmtime_fallback_chain_on_s3_style_and_timeless_info():
    FAKE.reset(time_key="LastModified")
    r = FsspecRemote(FAKE, strip_scheme=True)
    p = "fakes3://bucket/mt/a.bin"
    r.write_atomic(p, b"x")
    assert abs(r.getmtime(p) - time.time()) < 5
    # a backend reporting NO time key must read FRESH (now), never
    # epoch-old: age checks gate lock stealing and vacuum
    FAKE.time_key = None
    assert abs(r.getmtime(p) - time.time()) < 5


def test_getsize_none_defers_debt_routing_end_to_end(spark, tmp_path):
    """size=None all the way through a real store: byte-ratio debt
    routing defers (count backstop still live) instead of reading 0."""
    from lintdb_spark.index.store import SegmentStore

    FAKE.reset(size_none=True)

    class _S(SegmentStore):
        TABLES = ["t"]

        def _all_tables(self):
            return ["t"]

    st = _S(spark, _path("sizes"))
    st._meta = {
        "versions": {"t": 1},
        "segments": {"t": ["v1", "seg-a"]},
        "manifests": {"t": {"v1": ["f.parquet"], "seg-a": ["g.parquet"]}},
    }
    for seg, f in (("v1", "f.parquet"), ("seg-a", "g.parquet")):
        st.fs.write_atomic(f"{st.path}/t/{seg}/{f}", b"pq" * 50)
    assert st._tier_bytes("t") == (None, None)
    assert st._full_compact_due() is False
    # sizes converge -> routing resumes with real numbers
    FAKE.size_none = False
    b0, b1 = st._tier_bytes("t")
    assert b0 == 100 and b1 == 100


# ---------------------------------------------------------------------------
# CAS on the fsspec-style backend (the seam round 11 proved on mem://)
# ---------------------------------------------------------------------------


def test_cas_meta_flip_rejects_lost_update_on_object_store(spark):
    from lintdb_spark.index.store import SegmentStore

    FAKE.reset()

    class _S(SegmentStore):
        TABLES = ["t"]

        def _all_tables(self):
            return ["t"]

    path = _path("cas")
    w1 = _S(spark, path)
    assert w1.fs.supports_cas
    w1._commit_segments([])  # put-if-absent
    assert w1._meta_stat is not None

    w2 = _S(spark, path)
    w2._meta = json.loads(w2.fs.open_read(path + "/_meta.json"))
    w2._meta_stat = w2._stat_meta()
    w2._commit_segments([], meta={"n": 2})

    with pytest.raises(RuntimeError, match="lost a commit race"):
        w1._commit_segments([], meta={"n": 1})
    assert json.loads(w1.fs.open_read(path + "/_meta.json"))["n"] == 2

    w1._refresh_meta_if_stale()
    assert w1._meta["n"] == 2
    w1._commit_segments([], meta={"n": 3})
    assert json.loads(w1.fs.open_read(path + "/_meta.json"))["n"] == 3

    # raw primitive: put-if-absent refuses an existing object
    with pytest.raises(ConditionalPutConflict):
        w1.fs.write_if_match(path + "/_meta.json", b"{}", None)

    # create_exclusive rides the conditional put on CAS backends
    lock = path + "/_writer.lock"
    w1.fs.create_exclusive(lock, b"tok")
    with pytest.raises(FileExistsError):
        w1.fs.create_exclusive(lock, b"tok2")


# ---------------------------------------------------------------------------
# full artifact lifecycle under listing lag
# ---------------------------------------------------------------------------


# slow lane per the r11 verdict's suite-budget task: the adapter-level
# quirks and the CAS/manifest units above stay in the default lane;
# this full two-store lifecycle rep runs on the scheduled lane
@pytest.mark.slow
def test_artifact_lifecycle_on_laggy_object_store(spark, sf_dir, tmp_path):
    """create -> update x2 (drift) -> manifests complete despite
    listing lag -> compact -> CAS flips throughout -> vacuum grace —
    reads byte-equal to the same corpus on a local store. Round 13
    also throttles every 9th backend call (transient 503): the retry
    seam must absorb the failures on every lifecycle op."""
    from pyspark.sql import functions as F

    from lintdb_spark.operators.artifacts import DedupArtifacts
    from lintdb_spark.tables import load_table

    FAKE.reset(listing_lag=3, time_key="LastModified", transient_every=9)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 60)
    )
    path = _path("life")
    st = DedupArtifacts.create(spark, path)
    st.update(docs.filter(F.col("doc_id") < 30))
    st.update(docs.filter(F.col("doc_id") >= 30))
    # manifests must be COMPLETE (from the writer's staged bytes, not
    # the laggy remote listing): every manifested leaf exists remotely
    man = st._meta.get("manifests", {})
    n_files = 0
    for t, per_seg in man.items():
        for seg, rels in per_seg.items():
            for rel in rels:
                n_files += 1
                assert st.fs.exists(f"{path}/{t}/{seg}/{rel}"), (t, seg, rel)
    assert n_files > 0
    local = DedupArtifacts.create(spark, str(tmp_path / "local_twin"))
    local.update(docs)
    cols = ["doc_a", "doc_b", "n_common", "jaccard"]

    def rows(df):
        return sorted(
            (r["doc_a"], r["doc_b"], r["n_common"], r["jaccard"])
            for r in df.select(*cols).collect()
        )

    assert rows(st.verified_pairs(min_jaccard=0.0, min_overlap=1)) == rows(
        local.verified_pairs(min_jaccard=0.0, min_overlap=1)
    )
    # compact + vacuum with grace on the laggy store
    st.compact()
    removed_early = st.vacuum(min_age_s=3600)
    assert removed_early == []  # grace respected (mtimes fresh)
    removed = st.vacuum(min_age_s=0)
    assert removed, "superseded segments reclaimed"
    assert rows(st.verified_pairs(min_jaccard=0.0, min_overlap=1)) == rows(
        local.verified_pairs(min_jaccard=0.0, min_overlap=1)
    )


def test_manifest_complete_under_listing_lag_unit():
    """The round-12 manifest fix in isolation: a remote whose walk
    hides fresh objects yields an INCOMPLETE listing, but
    _segment_manifest reads the writer's staged bytes and stays
    complete."""
    from lintdb_spark.index.store import SegmentStore

    FAKE.reset(listing_lag=100)

    class _S(SegmentStore):
        TABLES = ["t"]

        def _all_tables(self):
            return ["t"]

    st = _S(None, _path("man"))
    root = st.path + "/t/seg-x"
    # stage two leaf files the way _write_segment does (local staging
    # then publish)
    import os

    local = st.fs.spark_write_path(root)
    os.makedirs(os.path.join(local, "tenant=0"), exist_ok=True)
    for name in ("part-0.parquet", "tenant=0/part-1.parquet"):
        fp = os.path.join(local, name)
        os.makedirs(os.path.dirname(fp), exist_ok=True)
        with open(fp, "wb") as f:
            f.write(b"pq")
    st.fs.publish(root)
    man = st._segment_manifest(root)
    assert man == ["part-0.parquet", "tenant=0/part-1.parquet"]
    # the remote walk REALLY was lagging (sanity: direct walk misses)
    seen = [
        f
        for _wr, _d, fls in FsspecRemote(FAKE, strip_scheme=True).walk(root)
        for f in fls
    ]
    assert len(seen) < 2


def test_transient_failures_retried_across_adapter_ops():
    """Round 13 (VERDICT r12 #5): every FsspecRemote op runs through
    the retry seam — a backend that 503s every 2nd call (so every op's
    FIRST attempt may throttle) must still complete reads, puts,
    stats, walks, CAS, rename and delete correctly."""
    FAKE.reset(transient_every=2)
    r = FsspecRemote(FAKE, strip_scheme=True)
    r.retry_base_s = 0.001
    p = "fakes3://bucket/tr/a.bin"
    r.write_atomic(p, b"x")
    assert r.open_read(p) == b"x"
    assert r.exists(p)
    assert r.getsize(p) == 1
    assert r.getmtime(p) > 0
    assert [
        f for _w, _d, fls in r.walk("fakes3://bucket/tr") for f in fls
    ] == ["a.bin"]
    sid = r.stat_id(p)
    assert sid is not None
    r.write_if_match(p, b"y", sid)  # CAS: retried AND precondition kept
    assert r.open_read(p) == b"y"
    # a REAL precondition refusal is semantic — never retried, still
    # surfaced as the loud lost-update error
    with pytest.raises(ConditionalPutConflict):
        r.write_if_match(p, b"z", (0, 0, "bogus-etag"))
    assert r.open_read(p) == b"y"
    r.rename(p, p + ".2")
    r.unlink(p + ".2")
    assert not r.exists(p)

    # exhaustion: a backend that throttles EVERY call raises the
    # transient error after retry_attempts, not a mislabeled conflict
    FAKE.reset(transient_every=1)
    r2 = FsspecRemote(FAKE, strip_scheme=True)
    r2.retry_base_s = 0.001
    r2.retry_attempts = 3
    with pytest.raises(OSError, match="SlowDown"):
        r2.write_atomic(p, b"x")
    assert FAKE.op_log.count("open_w") == 3


def test_transient_classifier_boundaries_and_conflict_precedence():
    """ADVICE r13: _is_transient must not fire on digits embedded in
    paths/identifiers ('run-429', 'part-00503.parquet'), must treat
    conflict-shaped errors (409/412/precondition) as SEMANTIC even
    when the message also carries a retryable-looking token, and must
    still catch real standalone status markers."""
    from lintdb_spark.index.fs import _is_transient

    # path/identifier digits: never transient
    assert not _is_transient(OSError("open failed: /data/run-429/f.bin"))
    assert not _is_transient(OSError("missing part-00503.parquet"))
    assert not _is_transient(OSError("bad key a5031b"))
    # real status markers: transient
    assert _is_transient(OSError("HTTP 503 Service Unavailable"))
    assert _is_transient(OSError("server returned (500)"))
    assert _is_transient(OSError("SlowDown: reduce request rate"))
    assert _is_transient(TimeoutError("read timed out"))
    # conflict-shaped beats transient-shaped: a 412 precondition
    # failure is a lost commit race, retrying would mask real state
    assert not _is_transient(OSError("412 precondition failed (was 503)"))
    assert not _is_transient(OSError("at version 429: etag mismatch"))
    e = OSError("conditional put refused")
    e.status = 412
    assert not _is_transient(e)
    e2 = OSError("throttled")
    e2.status = 429
    assert _is_transient(e2)
    # ADVICE r14: sentence punctuation after a status number is not an
    # identifier continuation — '... returned 503.' stays transient
    assert _is_transient(OSError("backend returned 503."))
    assert _is_transient(OSError("slow down: 503/SlowDown"))
    assert not _is_transient(OSError("v503.2 incompatible"))
    # ADVICE r14: the conflict match uses the SAME strict standalone
    # rule — an incidental 'run-412' path segment inside a transient
    # message must not force non-transient / a spurious conflict
    assert _is_transient(OSError("timed out reading /data/run-412/f"))
    assert not _is_transient(OSError("status 412."))


def test_lost_success_conditional_puts_resolve_by_readback():
    """ADVICE r13 #4, fixed rather than documented: a conditional put
    that LANDS but whose response is lost to a transient failure must
    not strand the writer. The retry collides with this writer's own
    object; the seam reads it back — bytes equal means OUR put
    succeeded (create_exclusive returns instead of FileExistsError on
    its own lock; the CAS meta flip returns instead of a spurious
    'lost a commit race'), while a GENUINE conflict (different bytes)
    still raises loudly."""
    FAKE.reset(ack_lost_next=1)
    r = FsspecRemote(FAKE, strip_scheme=True)
    r.retry_base_s = 0.001
    lock = "fakes3://bucket/ls/_writer.lock"
    r.create_exclusive(lock, b"token-abc")  # ack lost -> readback saves it
    assert r.open_read(lock) == b"token-abc"
    # a real holder is still excluded (different bytes -> conflict)
    with pytest.raises(FileExistsError):
        r.create_exclusive(lock, b"token-other")
    # CAS flip: ack lost on the conditional overwrite
    meta = "fakes3://bucket/ls/_meta.json"
    r.write_atomic(meta, b"v1")
    sid = r.stat_id(meta)
    FAKE.ack_lost_next = 1
    r.write_if_match(meta, b"v2", sid)  # lands, ack lost, readback ok
    assert r.open_read(meta) == b"v2"
    # genuine lost race still loud: stale tag, different committed bytes
    with pytest.raises(ConditionalPutConflict):
        r.write_if_match(meta, b"v3", sid)
    assert r.open_read(meta) == b"v2"


def test_readback_swallows_non_oserror_read_failures():
    """ADVICE r14: fsspec backends can raise non-OSError (ValueError /
    KeyError from memory-style filesystems) on reads; _readback_equals
    must return False on ANY read failure so the conflict
    classification (FileExistsError / ConditionalPutConflict) stays
    authoritative instead of an unrelated read error escaping."""
    FAKE.reset()
    r = FsspecRemote(FAKE, strip_scheme=True)
    r.retry_base_s = 0.001

    def _boom(*a, **k):
        raise ValueError("memory filesystem tantrum")

    r.open_read = _boom
    assert r._readback_equals("fakes3://bucket/rb/x", b"data") is False
    # end-to-end: create_exclusive on an existing object whose
    # readback read blows up with ValueError still raises the
    # intended FileExistsError, not the ValueError
    FAKE.reset()
    r2 = FsspecRemote(FAKE, strip_scheme=True)
    r2.retry_base_s = 0.001
    lock = "fakes3://bucket/rb/_writer.lock"
    r2.create_exclusive(lock, b"holder")
    real_read = r2.open_read
    r2.open_read = _boom
    with pytest.raises(FileExistsError):
        r2.create_exclusive(lock, b"other")
    r2.open_read = real_read
    assert r2.open_read(lock) == b"holder"


def test_retry_skips_final_backoff_and_clamps_attempts(monkeypatch):
    """ADVICE r13: _retry must not sleep the exponential backoff after
    the FINAL failed attempt (pure wasted latency before the raise),
    and retry_attempts < 1 must behave as one attempt, never raise a
    bare None."""
    import lintdb_spark.index.fs as fsmod

    sleeps: list[float] = []
    monkeypatch.setattr(fsmod.time, "sleep", lambda s: sleeps.append(s))
    FAKE.reset(transient_every=1)  # throttle EVERY call
    r = FsspecRemote(FAKE, strip_scheme=True)
    r.retry_attempts = 3
    r.retry_base_s = 0.01
    with pytest.raises(OSError, match="SlowDown"):
        r.write_atomic("fakes3://bucket/rt/x.bin", b"x")
    # 3 attempts -> 2 sleeps (between attempts), none after the last
    assert len(sleeps) == 2
    r2 = FsspecRemote(FAKE, strip_scheme=True)
    r2.retry_attempts = 0  # misconfigured: clamp to one attempt
    with pytest.raises(OSError, match="SlowDown"):
        r2.open_read("fakes3://bucket/rt/x.bin")


def test_commit_protocol_requires_no_atomic_rename():
    """Atomicity audit (VERDICT r12 #5): a full writer-locked segment
    commit on the object-store fake — lock acquire, publish, manifest,
    CAS meta flip, lock release — must never call rename/mv. Object
    stores lack atomic rename; the protocol's commit path rests on
    whole-object puts and the conditional put only. rename is reserved
    for the writer lock's STALE takeover, where copy+delete semantics
    suffice (the delete serializes claimants and create_exclusive is
    the real exclusion point)."""
    import os

    from lintdb_spark.index.store import SegmentStore

    FAKE.reset()

    class _S(SegmentStore):
        def _all_tables(self):
            return ["t"]

    st = _S(None, _path("norename"))
    root = st.path + "/t/seg-a"
    local = st.fs.spark_write_path(root)
    os.makedirs(local, exist_ok=True)
    with open(os.path.join(local, "part-0.parquet"), "wb") as f:
        f.write(b"pq")
    FAKE.op_log.clear()
    with st._writer_lock():
        st._commit_segments([("t", "seg-a")])
    assert "mv" not in FAKE.op_log, FAKE.op_log
    assert "put_if_match" in FAKE.op_log  # CAS flip + exclusive lock
    assert st._meta["segments"]["t"] == ["seg-a"]


def test_stale_lock_takeover_on_object_store():
    """The writer lock's stale-takeover path on the object-store fake:
    a dead writer's aged lockfile is claimed (rename + delete — the
    ONE protocol use of rename, not required atomic) and a new hold
    proceeds without timeout. A claimant whose source vanished (the
    copy+delete race's loser) sees FileNotFoundError — an OSError the
    waiter loop absorbs, never a crash."""
    import os

    from lintdb_spark.index.store import SegmentStore

    FAKE.reset()

    class _S(SegmentStore):
        def _all_tables(self):
            return ["t"]

    st = _S(None, _path("stale"))
    st.writer_lock_stale_s = 1.0
    st.writer_lock_timeout_s = 10.0
    lock = os.path.join(st.path, "_writer.lock")
    st.fs.write_atomic(
        lock, json.dumps({"pid": 0, "ts": 0, "token": "dead"}).encode()
    )
    # age the dead writer's lock past the stale bound
    FAKE.mtimes[lock.split("://", 1)[1]] = time.time() - 1000
    with st._writer_lock():
        cur = json.loads(st.fs.open_read(lock))
        assert cur["token"] != "dead"  # took over, fresh hold
    assert not st.fs.exists(lock)  # released cleanly
    # the losing claimant's rename of a vanished lock is OSError
    with pytest.raises(FileNotFoundError):
        st.fs.rename(lock, lock + ".stale-loser")


def test_build_manifests_ignores_partial_cache_mirror():
    """ADVICE r12 (medium): build_manifests migrates segments this
    process never wrote; if an earlier spark_read_path was interrupted
    mid-download the cache holds a PARTIAL mirror — the migration must
    manifest from the REMOTE walk, or the missing leaves' rows are
    silently dropped from every future read."""
    import os

    from lintdb_spark.index.store import SegmentStore

    FAKE.reset()

    class _S(SegmentStore):
        def _all_tables(self):
            return ["t"]

    st = _S(None, _path("partial"))
    root = st.path + "/t/seg-old"
    # the segment was committed by some OTHER process: objects exist
    # remotely, nothing staged locally by this one
    for rel in ("part-0.parquet", "part-1.parquet", "part-2.parquet"):
        st.fs.write_atomic(f"{root}/{rel}", b"pq")
    st._meta = {"versions": {}, "segments": {"t": ["seg-old"]}}
    st.fs.write_atomic(st.path + "/_meta.json", json.dumps(st._meta).encode())
    st._meta_stat = st._stat_meta()
    # simulate the interrupted download: ONE file mirrored in the cache
    local = st.fs.staged_local_path(root)
    os.makedirs(local, exist_ok=True)
    with open(os.path.join(local, "part-0.parquet"), "wb") as f:
        f.write(b"pq")
    assert not st.fs.locally_staged(root)  # never published by us
    # 2 = the manifest + the byte-total backfill (footer row counts
    # stay absent: the partial mirror's fake bytes aren't parquet)
    assert st.build_manifests() == 2
    assert sorted(st._meta["manifests"]["t"]["seg-old"]) == [
        "part-0.parquet",
        "part-1.parquet",
        "part-2.parquet",
    ]


def test_write_if_match_degrades_without_backend_etag():
    """ADVICE r12 (low): when info() exposes no ETag, stat_id's tag is
    a locally fabricated content hash the backend cannot verify —
    write_if_match must degrade to a plain atomic put instead of
    sending the fabricated token as If-Match (which bricked every
    flip after the first on backends where ETag != content-md5)."""
    from lintdb_spark.index.store import SegmentStore

    FAKE.reset(no_etag=True)

    class _S(SegmentStore):
        def _all_tables(self):
            return ["t"]

    st = _S(None, _path("noetag"))
    assert st.fs.supports_cas  # put_if_match exists
    st._commit_segments([])  # put-if-absent: backend-verifiable, real CAS
    sid = st._meta_stat
    assert isinstance(sid[2], str) and sid[2].startswith("md5!")
    # the second and third flips carry a fabricated expected tag —
    # before the fix these raised ConditionalPutConflict every time
    st._commit_segments([], meta={"n": 1})
    st._commit_segments([], meta={"n": 2})
    assert json.loads(st.fs.open_read(st.path + "/_meta.json"))["n"] == 2


def test_vacuum_reclaims_empty_orphan_dir_on_localfs(tmp_path):
    """ADVICE r12 (low): an empty orphan staging dir (crash after
    mkdir, before any file) has no datable files; on LocalFS the dir's
    own mtime is real, so vacuum ages it out instead of leaking it
    forever. Grace is still respected for fresh empty dirs."""
    import os

    from lintdb_spark.index.store import SegmentStore

    class _S(SegmentStore):
        def _all_tables(self):
            return ["t"]

    st = _S(None, str(tmp_path / "store"))
    orphan = os.path.join(st.path, "t", "seg-orphan")
    os.makedirs(orphan)
    # fresh: grace respected
    assert st.vacuum(min_age_s=3600) == []
    # aged: reclaimed via the dir's own mtime
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    assert st.vacuum(min_age_s=3600) == ["t/seg-orphan"]
    assert not os.path.exists(orphan)


def _mk_routing_store(base, files):
    """Committed-store skeleton for road-routing units: real files on
    LocalFS with the manifest/segment meta a commit would have
    written. files = {'table/seg/relpath': nbytes}."""
    import os

    from lintdb_spark.operators.artifacts import DedupArtifacts

    st = DedupArtifacts(None, str(base))
    man: dict = {}
    for rel, n in files.items():
        table, seg, r = rel.split("/", 2)
        fp = os.path.join(str(base), table, seg, r)
        os.makedirs(os.path.dirname(fp), exist_ok=True)
        with open(fp, "wb") as f:
            f.write(b"x" * n)
        man.setdefault(table, {}).setdefault(seg, []).append(r)
    st._meta["segments"] = {t: sorted(per) for t, per in man.items()}
    st._meta["manifests"] = {
        t: {s: sorted(rs) for s, rs in per.items()} for t, per in man.items()
    }
    return st


def test_flip_road_routing_on_byte_stats(tmp_path):
    """Round 13 (VERDICT r12 #6): the flip lookup routes on the BYTES
    the pruned inverted read will open, not the matched-partition
    count — under partition-size skew the byte rule picks the cheaper
    road where the count proxy doesn't, in both directions."""
    P_TOTAL = 1024
    # SKEW A: one spart holds ~all the inverted bytes. Matching it
    # means the "pruned" read opens the whole table — byte rule FLAT;
    # the count proxy (1 matched << P/4) would have stayed inverted.
    skew = _mk_routing_store(
        tmp_path / "skew",
        {
            "shingle_docs/v1/tenant=0/spart=0/p.parquet": 9000,
            **{
                f"shingle_docs/v1/tenant=0/spart={i}/p.parquet": 10
                for i in range(1, 10)
            },
            "shingles/v1/tenant=0/p.parquet": 9100,
        },
    )
    assert skew._flat_road_cheaper([0], P_TOTAL) is True
    assert len({0}) < max(1, P_TOTAL // 4)  # the count proxy disagrees
    # SKEW B: many tiny matched partitions — the count proxy saturates
    # (9 >= parts_total/4) but the bytes are a sliver: stay inverted.
    assert skew._flat_road_cheaper(list(range(1, 10)), 8) is False
    assert len(set(range(1, 10))) >= max(1, 8 // 4)  # count says flat
    # coarse (unpartitioned) inverted segments count fully: the
    # inverted road cannot prune them
    coarse = _mk_routing_store(
        tmp_path / "coarse",
        {
            "shingle_docs/v1/tenant=0/spart=0/p.parquet": 10,
            "shingle_docs/seg-b/part-0.parquet": 5000,
            "shingles/v1/tenant=0/p.parquet": 9000,
        },
    )
    assert coarse._flat_road_cheaper([0], P_TOTAL) is True
    # the probes' read-only forcing knob bypasses both rules
    skew._road_override = "inverted"
    assert skew._flat_road_cheaper([0], P_TOTAL) is False
    skew._road_override = "flat"
    assert skew._flat_road_cheaper([5], P_TOTAL) is True
    skew._road_override = None


def test_flip_road_counts_uncovered_shingles_debt(tmp_path):
    """ADVICE r13: the inverted road also reads the UNCOVERED
    doc-keyed shingles segments in full (the since-covers union in
    _crossing_doc_rows), so their bytes belong in the inverted total.
    A store with heavy uncovered batch debt must route FLAT even when
    the spart-pruned inverted bytes alone are a sliver."""
    files = {
        # inverted: matched spart is tiny (100 B of 10 KB)
        "shingle_docs/v1/tenant=0/spart=0/p.parquet": 100,
        "shingle_docs/v1/tenant=0/spart=1/p.parquet": 9900,
        # doc-keyed: covered seg + a HUGE uncovered batch seg
        "shingles/v1/tenant=0/p.parquet": 10000,
        "shingles/v2/tenant=0/p.parquet": 8000,
    }
    st = _mk_routing_store(tmp_path / "debt", files)
    st._meta["shingle_docs_covers"] = ["v1"]
    # flat total 18000; inverted = 100 pruned + 8000 uncovered = 8100
    # >= 0.375 * 18000 -> flat. Without the debt, 100 stays inverted.
    assert st._flat_road_cheaper([0], 1024) is True
    # same files, debt covered: inverted back to the sliver
    st2 = _mk_routing_store(tmp_path / "cov", files)
    st2._meta["shingle_docs_covers"] = ["v1", "v2"]
    st2._spart_bytes_cache = {}
    assert st2._flat_road_cheaper([0], 1024) is False
    # lockstep-legacy store (no covers key): shingle_docs mirrors
    # everything, uncovered = [] — sliver stays inverted
    st3 = _mk_routing_store(tmp_path / "legacy", files)
    assert st3._flat_road_cheaper([0], 1024) is False


def test_flip_road_falls_back_to_count_proxy_when_sizes_unknown():
    """size=None backends (HTTP/SFTP-style info) make the byte rule
    unknowable — the router must fall back to the r11 count proxy,
    never coerce unknown to 0 (which would route every lookup down
    one road forever)."""
    from lintdb_spark.operators.artifacts import DedupArtifacts

    FAKE.reset(size_none=True)
    st = DedupArtifacts(None, _path("roads"))
    st.fs.write_atomic(
        st.path + "/shingle_docs/v1/tenant=0/spart=0/p.parquet", b"x" * 100
    )
    st.fs.write_atomic(
        st.path + "/shingles/v1/tenant=0/p.parquet", b"x" * 100
    )
    st._meta["segments"] = {"shingle_docs": ["v1"], "shingles": ["v1"]}
    st._meta["manifests"] = {
        "shingle_docs": {"v1": ["tenant=0/spart=0/p.parquet"]},
        "shingles": {"v1": ["tenant=0/p.parquet"]},
    }
    assert st._flat_road_cheaper([0], 1024) is False  # 1 < 256
    assert st._flat_road_cheaper(list(range(300)), 1024) is True  # >= 256
    # sizes converge -> the byte rule takes over (the None result was
    # deliberately left uncached, so the same object retries): the one
    # matched spart IS the whole inverted table -> flat
    FAKE.size_none = False
    assert st._flat_road_cheaper([0], 1024) is True


@pytest.mark.slow
# Slow lane (round 16 suite budget): in-lane twins —
# test_build_manifests_backfills_seg_rows pins the same seg_rows
# bookkeeping, and the q_artifact_remote_fold oracle (driver window)
# fires the trigger that consumes the persisted counts.
def test_seg_rows_recorded_exact_and_pruned(spark, sf_dir, tmp_path):
    """Round 13 (VERDICT r12 #1): every commit persists its segments'
    footer row counts in the meta (seg_rows) — exact against a direct
    footer walk — and counts for segments that leave the lists are
    pruned by the next flip (compaction here), so the map tracks the
    live segment set."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from lintdb_spark.operators.artifacts import DedupArtifacts
    from lintdb_spark.tables import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 40)
    )
    st = DedupArtifacts.create(spark, str(tmp_path / "store"))
    st.update(docs.filter(F.col("doc_id") < 20))
    st.update(docs.filter(F.col("doc_id") >= 20))
    sr = st._meta.get("seg_rows", {})
    assert sr, "commit-time row counts persisted"
    checked = 0
    for t, per_seg in sr.items():
        assert set(per_seg) <= set(st._segments(t))
        for seg, n in per_seg.items():
            true_n = 0
            for rel in st._meta["manifests"][t][seg]:
                true_n += pq.ParquetFile(
                    os.path.join(st.path, t, seg, rel)
                ).metadata.num_rows
            assert n == true_n, (t, seg)
            checked += 1
    assert checked >= 4
    # byte totals persisted too, equal to an on-disk du per segment
    sb = st._meta.get("seg_bytes", {})
    assert sb
    for t, per_seg in sb.items():
        for seg, b in per_seg.items():
            du = sum(
                os.path.getsize(os.path.join(st.path, t, seg, rel))
                for rel in st._meta["manifests"][t][seg]
            )
            assert b == du, (t, seg)
    st.compact()  # establishes shingle_docs (no per-batch inverted copy)
    # the road table's per-spart layout rides the compaction flip
    assert "shingle_docs" in st._meta.get("seg_spart_bytes", {})
    for stats_key in ("seg_rows", "seg_bytes", "seg_spart_bytes"):
        for t, per_seg in st._meta.get(stats_key, {}).items():
            # superseded batch segments' stats pruned with the rewrite
            assert set(per_seg) <= set(st._segments(t)), (stats_key, t)
    assert any(per for per in st._meta["seg_rows"].values())
    # the compacted fine shingle_docs segment's map is per-spart
    sd = st._meta["seg_spart_bytes"]["shingle_docs"]
    vseg = [s for s in sd if s.startswith("v")]
    assert vseg and any(k != "" for k in sd[vseg[0]])


def test_build_manifests_backfills_seg_rows(spark, sf_dir, tmp_path):
    """Round 13: stores committed before seg_rows existed keep the
    estimate fallback until migrated — build_manifests backfills the
    commit-time counts from readable footers, restoring the exact
    stats path without waiting for each table's next rewrite."""
    import json as _json

    from pyspark.sql import functions as F

    from lintdb_spark.operators.artifacts import DedupArtifacts
    from lintdb_spark.tables import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 30)
    )
    st = DedupArtifacts.create(spark, str(tmp_path / "store"))
    st.update(docs)
    truth = dict(st._meta["seg_rows"])
    assert truth
    # simulate a pre-round-13 meta: strip the counts and re-commit
    st._save_meta({k: v for k, v in st._meta.items() if k != "seg_rows"})
    st2 = DedupArtifacts.load(spark, st.path)
    assert "seg_rows" not in st2._meta
    assert st2.build_manifests() > 0
    assert st2._meta["seg_rows"] == truth
    # idempotent: nothing left to do
    assert st2.build_manifests() == 0


@pytest.mark.slow
# Slow lane (round 16 suite budget): in-lane twin — the
# q_artifact_remote_fold oracle (driver window) serves the identical
# degraded-stats cold-bridged-reopen road, byte-checked vs DuckDB.
def test_fold_cost_trigger_survives_cold_remote_reopen(spark, sf_dir):
    """VERDICT r12 'Next round' #1: a store re-opened COLD on a
    bridged scheme has no local parquet footers, so live footer stats
    are unavailable — the commit-time counts persisted in the meta
    must keep _table_rows EXACT (not byte-estimated, not None), and
    the serve-cost fold trigger must fire through its primary road at
    the same trip point as on LocalFS."""
    import shutil

    from pyspark.sql import functions as F

    from lintdb_spark import params as P
    from lintdb_spark.operators.artifacts import DedupArtifacts
    from lintdb_spark.queries import _drift_corpus

    FAKE.reset()
    path = _path("coldfold")
    st = DedupArtifacts.create(spark, path)
    docs = _drift_corpus(spark, sf_dir)
    st.update(docs.filter(F.col("doc_id") < 8))
    truth_pr = st._table_rows("pair_stats")
    truth_ep = st._table_rows("pair_docs")
    assert truth_pr and truth_ep

    # simulated restart: wipe the local staging/cache mirror and open
    # a FRESH store object — no local footers exist anywhere now
    shutil.rmtree(st.fs.cache_root, ignore_errors=True)
    st2 = DedupArtifacts.load(spark, path)
    for seg, rels in st2._meta["manifests"]["pair_stats"].items():
        for rel in rels:
            assert (
                st2.fs.parquet_num_rows(f"{path}/pair_stats/{seg}/{rel}")
                is None
            )
    # ...yet the counts are exact, via the persisted commit-time stats
    # (pre-fix: any_known stayed False and these returned None)
    assert st2._table_rows("pair_stats") == truth_pr
    assert st2._table_rows("pair_docs") == truth_ep
    # and BYTE stats are meta-only too: on ANOTHER fresh object (no
    # warm memo caches), maintenance debt evaluation and the flip
    # road router issue ZERO backend stat calls (persisted
    # seg_bytes / seg_spart_bytes)
    st3 = DedupArtifacts.load(spark, path)
    FAKE.op_log.clear()
    b0, b1 = st3._tier_bytes("pair_stats")
    assert b0 is not None and b1 is not None
    st3._flat_road_cheaper([0, 1], 1024)
    assert "info" not in FAKE.op_log, FAKE.op_log

    # the drift batch's flips trip the COST road on the cold object
    # (cost bound forced to 1, flat row backstop pushed out of reach)
    old = (P.ARTIFACT_FOLD_COST_ROWS, P.ARTIFACT_AUTOCOMPACT_FLIP_ROWS)
    P.ARTIFACT_FOLD_COST_ROWS = 1
    P.ARTIFACT_AUTOCOMPACT_FLIP_ROWS = 10**15
    try:
        r = st2.update(docs.filter(F.col("doc_id") >= 8))
        assert r.get("folded"), r
    finally:
        P.ARTIFACT_FOLD_COST_ROWS, P.ARTIFACT_AUTOCOMPACT_FLIP_ROWS = old
    assert not st2._segments("flip_docs")


def test_stat_id_tolerates_size_none():
    FAKE.reset(size_none=True)
    r = FsspecRemote(FAKE, strip_scheme=True)
    p = "fakes3://bucket/sid/a.json"
    r.write_atomic(p, b"{}")
    sid = r.stat_id(p)
    assert sid is not None and sid[1] == 0 and sid[2]
    # identity still distinguishes content changes via the tag
    r.write_atomic(p, b"{\"n\":1}")
    assert r.stat_id(p)[2] != sid[2]


def test_index_cold_reopen_stats_meta_only(spark):
    """The commit-time stats are shared SegmentStore machinery: the
    ANN Index's maintenance debt evaluation (_tier_bytes) on a store
    object opened fresh on a bridged scheme also runs meta-only —
    zero backend stat calls, and the persisted byte totals equal the
    warm writer's (so tiered-maintenance routing is identical after a
    restart)."""
    import shutil
    import sys

    sys.path.insert(0, "tests")
    from test_streaming_multimodal import make_docs, make_schema

    from lintdb_spark.index.index import Index

    FAKE.reset()
    path = _path("idxcold")
    idx = Index.create(spark, path, make_schema("none"))
    idx.train(make_docs(spark, range(8)))
    idx.add(make_docs(spark, range(4)))
    idx.add(make_docs(spark, range(4, 8)))
    warm = {t: idx._tier_bytes(t) for t in idx._all_tables()}
    assert all(b is not None for pair in warm.values() for b in pair)
    # simulated restart: wipe the local mirror, fresh object
    shutil.rmtree(idx.fs.cache_root, ignore_errors=True)
    idx2 = Index.load(spark, path)
    FAKE.op_log.clear()
    cold = {t: idx2._tier_bytes(t) for t in idx2._all_tables()}
    assert cold == warm
    assert "info" not in FAKE.op_log, FAKE.op_log


@pytest.mark.slow
def test_index_lifecycle_on_laggy_object_store(spark, tmp_path):
    """The ANN Index's full lifecycle (create/train/add/search/
    compact/vacuum) against the laggy fake object store — the
    twin of the mem:// rep in test_store_seam, under non-idealized
    listing semantics and the CAS meta flip."""
    import sys

    sys.path.insert(0, "tests")
    from test_streaming_multimodal import OPTS, doc_tokens, make_docs, make_schema

    from lintdb_spark.index.index import Index
    from lintdb_spark.index.query import VectorQuery

    FAKE.reset(listing_lag=3, time_key="LastModified")
    path = _path("idx")
    idx = Index.create(spark, path, make_schema("none"))
    idx.train(make_docs(spark, range(10)))
    idx.add(make_docs(spark, range(6)))
    idx.add(make_docs(spark, range(6, 10)))
    res = idx.search(0, VectorQuery("colbert", doc_tokens(7)), k=3, opts=OPTS)
    assert res.collect()[0]["doc_id"] == 7
    idx.compact()
    idx.vacuum(min_age_s=0)
    res2 = idx.search(0, VectorQuery("colbert", doc_tokens(3)), k=3, opts=OPTS)
    assert res2.collect()[0]["doc_id"] == 3
    # reload from the object store in a fresh object
    idx2 = Index.load(spark, path)
    res3 = idx2.search(0, VectorQuery("colbert", doc_tokens(7)), k=3, opts=OPTS)
    assert res3.collect()[0]["doc_id"] == 7
