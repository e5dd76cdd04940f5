"""Object-store readiness of the manifest path layer (round-9 task):
SegmentStore's manifest machinery must touch the filesystem only
through the _fs_walk/_fs_exists seam, so an object-store deployment
can supply fsspec-style implementations and keep the zero-LIST read
path. No SparkSession needed — the seam is pure path bookkeeping."""

from __future__ import annotations

import os

from lintdb_spark.index.store import SegmentStore


class MockFSStore(SegmentStore):
    """A store whose 'filesystem' is an in-memory dict of
    path -> [leaf files], simulating a non-local scheme."""

    TABLES = ["t"]

    def __init__(self, tree: dict[str, list[str]]):
        # no SparkSession: the seam under test never needs one
        self.spark = None
        self.path = "mock://bucket/store"
        self._meta = {"versions": {}}
        self.tree = tree
        self.calls: list[tuple[str, str]] = []

    def _all_tables(self):
        return list(self.TABLES)

    def _fs_walk(self, root):
        self.calls.append(("walk", root))
        # flat one-level walk: every registered file sits under root
        files = self.tree.get(root, [])
        dirs = sorted(
            {f.split("/", 1)[0] for f in files if "/" in f}
        )
        yield root, dirs, [f for f in files if "/" not in f]
        for d in dirs:
            sub = [
                f.split("/", 1)[1] for f in files if f.startswith(d + "/")
            ]
            yield os.path.join(root, d), [], sub

    def _fs_exists(self, path):
        self.calls.append(("exists", path))
        return path in self.tree


def test_segment_manifest_uses_seam_only():
    root = "mock://bucket/store/t/seg-abc"
    st = MockFSStore(
        {
            root: [
                "part-00000.parquet",
                "bpart=3/part-00001.parquet",
                "bpart=3/_SUCCESS",  # non-parquet ignored
            ]
        }
    )
    man = st._segment_manifest(root)
    assert man == ["bpart=3/part-00001.parquet", "part-00000.parquet"]
    # every touch went through the seam — no os.walk on the mock path
    assert all(c[0] == "walk" for c in st.calls)
    assert st.calls[0][1] == root


def test_read_fallback_probes_through_seam():
    """_read_uncached's existence/footer probes for unmanifested
    segments route through the seam (a local os.path.exists against a
    mock:// URI would simply return False and silently skip data)."""
    root = "mock://bucket/store/t/seg-xyz"
    st = MockFSStore({root: []})
    st._meta = {"versions": {}, "segments": {"t": ["seg-xyz"]}}

    # empty segment: probed via seam, skipped, empty-frame path taken
    # (createDataFrame would need Spark; assert we reach that branch
    # by seeing the probe calls and catching the AttributeError from
    # the deliberately absent SparkSession)
    try:
        st._read_uncached("t", None)
    except AttributeError:
        pass
    kinds = [c[0] for c in st.calls]
    assert "exists" in kinds
    assert ("walk", root) in st.calls or not st.tree[root]


# ---------------------------------------------------------------------------
# Round 10: FULL lifecycle on a non-local scheme. The round-8 seam
# proved the manifest bookkeeping; these tests run the real stores —
# segment write (staged + published), manifest read, atomic meta flip,
# writer lock, compaction, vacuum — against the in-memory mem://
# backend (lintdb_spark.index.fs.MemoryFS), with Spark I/O bridged
# through the StagedFS local cache. Protocol files never touch the
# local filesystem.
# ---------------------------------------------------------------------------


def _mem_path(tag: str) -> str:
    import uuid

    return f"mem://bucket/{tag}-{uuid.uuid4().hex[:8]}"


def test_dedup_artifacts_lifecycle_on_memory_scheme(spark, sf_dir):
    from pyspark.sql import functions as F

    from lintdb_spark.index.fs import MemoryFS
    from lintdb_spark.operators import dedup
    from lintdb_spark.operators.artifacts import DedupArtifacts
    from lintdb_spark.tables import load_table

    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = _mem_path("artifacts")
    st = DedupArtifacts.create(spark, path)
    mem = MemoryFS.instance()
    # the protocol files live in the remote byte store, not on disk
    assert mem.exists(path + "/_meta.json")
    assert not os.path.exists(path)

    b1 = corpus.filter(F.col("doc_id") % 2 == 0).limit(40)
    b2 = corpus.filter(F.col("doc_id") % 2 == 1).limit(40)
    st.update(b1)
    st.update(b2)
    # segment write published parquet bytes into the remote
    assert any(
        f.endswith(".parquet")
        for wr, _d, fs_ in mem.walk(path + "/shingles")
        for f in fs_
    )
    union = b1.unionByName(b2)
    sh_all = dedup.doc_shingles(union).persist()
    cols = ["doc_a", "doc_b", "n_common", "jaccard"]
    try:
        scratch = dedup.jaccard_verify_pairs(
            dedup.df_capped_shingles(sh_all),
            dedup.lsh_buckets_wide(dedup.minhash_wide(sh_all)),
            min_jaccard=0.2,
        )
        want = sorted(
            tuple(r[c] for c in cols) for r in scratch.collect()
        )
        got = sorted(
            tuple(r[c] for c in cols)
            for r in st.verified_pairs(min_jaccard=0.2).collect()
        )
        assert want and got == want

        # compact + vacuum run against the remote; reads unchanged
        st.compact()
        st.vacuum(min_age_s=0.0)
        got2 = sorted(
            tuple(r[c] for c in cols)
            for r in st.verified_pairs(min_jaccard=0.2).collect()
        )
        assert got2 == want

        # a FRESH process-like load (new StagedFS cache) reads the
        # manifests from the remote and serves identical artifacts
        st2 = DedupArtifacts.load(spark, path)
        got3 = sorted(
            tuple(r[c] for c in cols)
            for r in st2.verified_pairs(min_jaccard=0.2).collect()
        )
        assert got3 == want
        assert st2.doc_ids().count() == union.count()
    finally:
        sh_all.unpersist()

    # vacuum collects a remote orphan (a crashed writer's leftover)
    orphan = path + "/shingles/seg-deadbeef/part-0.parquet"
    mem.write_atomic(orphan, b"not really parquet")
    mem._files[orphan] = (b"x", 0.0, mem._files[orphan][2])  # age it
    removed = st.vacuum(min_age_s=0.0)
    assert any("seg-deadbeef" in r for r in removed)
    assert not mem.exists(orphan)


def test_index_lifecycle_on_memory_scheme(spark):
    from lintdb_spark.index import Index
    from lintdb_spark.index.fs import MemoryFS
    from tests.test_index_lifecycle import make_docs, make_schema

    path = _mem_path("idx")
    idx = Index.create(spark, path, make_schema("none"))
    mem = MemoryFS.instance()
    assert mem.exists(path + "/_schema.json")
    assert not os.path.exists(path)

    docs = make_docs(spark, range(8))
    idx.train(docs)
    idx.add(docs)
    assert idx._docs().count() == 8

    from lintdb_spark.index.query import VectorQuery
    from tests.test_index_lifecycle import doc_tokens

    q = VectorQuery("colbert", doc_tokens(3))
    top = idx.search(0, q, k=3).collect()
    assert top and top[0]["doc_id"] == 3

    # remove triggers the version-bumped rewrite path (fine segments)
    idx.remove(0, [7])
    assert idx._docs().count() == 7

    # reload from the remote (fresh cache): sidecars + manifests +
    # segments all round-trip; search still works
    idx2 = Index.load(spark, path)
    assert idx2._docs().count() == 7
    top2 = idx2.search(0, q, k=3).collect()
    assert top2 and top2[0]["doc_id"] == 3

    # vacuum reclaims the superseded pre-rewrite segments remotely
    removed = idx2.vacuum(min_age_s=0.0)
    assert removed
    assert idx2._docs().count() == 7


def test_staged_publish_replaces_remote_on_restage():
    """Review fix (round 10): a version-keyed path can be re-staged by
    a compact/rewrite retry, and Spark part-file names differ between
    attempts — publish must REPLACE the remote subtree (an additive
    upload would leave both attempts' files and a manifest walk would
    double-count), and re-staging must invalidate the publish memo."""
    import tempfile

    from lintdb_spark.index.fs import MemoryFS, StagedFS

    fs = StagedFS(MemoryFS(), tempfile.mkdtemp(prefix="sfs_test_"))
    root = "mem://b/t/v5"

    local = fs.spark_write_path(root)
    os.makedirs(local, exist_ok=True)
    with open(os.path.join(local, "part-a.parquet"), "wb") as f:
        f.write(b"attempt-1")
    fs.publish(root)
    fs.publish(root)  # memoized second call: no-op, no error
    assert fs.remote.open_read(root + "/part-a.parquet") == b"attempt-1"

    # retry: re-stage the SAME root with a different part-file set
    local = fs.spark_write_path(root)
    os.unlink(os.path.join(local, "part-a.parquet"))
    with open(os.path.join(local, "part-b.parquet"), "wb") as f:
        f.write(b"attempt-2")
    fs.publish(root)
    assert not fs.remote.exists(root + "/part-a.parquet")
    assert fs.remote.open_read(root + "/part-b.parquet") == b"attempt-2"
    # the remote holds EXACTLY the second attempt
    files = [
        f for _wr, _d, fls in fs.remote.walk(root) for f in fls
    ]
    assert files == ["part-b.parquet"]


def test_fsspec_walk_reanchors_stripped_paths():
    """Review fix (round 10): fsspec filesystems yield protocol-
    STRIPPED walk roots; the adapter must re-anchor them onto the
    scheme-ful root the caller passed, or manifest relpaths and cache
    mirroring compute garbage."""
    from lintdb_spark.index.fs import FsspecRemote

    class FakeFsspecFS:
        """Mimics fsspec: walk yields stripped roots."""

        def _strip_protocol(self, p):
            return p.split("://", 1)[1] if "://" in p else p

        def walk(self, root):
            yield "bucket/store/t/seg-1", ["sub"], ["a.parquet"]
            yield "bucket/store/t/seg-1/sub", [], ["b.parquet"]

    ad = FsspecRemote(FakeFsspecFS())
    out = list(ad.walk("s3://bucket/store/t/seg-1"))
    assert out[0][0] == "s3://bucket/store/t/seg-1"
    assert out[1][0] == "s3://bucket/store/t/seg-1/sub"
    # the exact consumer: _segment_manifest's relpath computation
    rels = sorted(
        os.path.relpath(os.path.join(wr, f), "s3://bucket/store/t/seg-1")
        for wr, _d, fls in out
        for f in fls
    )
    assert rels == ["a.parquet", "sub/b.parquet"]


def test_shared_cache_root_per_store_path():
    """Two store objects over the same non-local path share one cache
    mirror (segments are immutable, so sharing is safe and avoids one
    corpus mirror per load); different paths do not collide."""
    from lintdb_spark.index.fs import filesystem_for

    a1 = filesystem_for("mem://b/shared-store")
    a2 = filesystem_for("mem://b/shared-store")
    b = filesystem_for("mem://b/other-store")
    assert a1.cache_root == a2.cache_root
    assert a1.cache_root != b.cache_root


def test_conditional_put_meta_flip_rejects_lost_update(spark):
    """Round-11 CAS seam: on a CAS-capable backend (MemoryFS models an
    object store's conditional put) the meta flip is write-if-match
    against the identity this writer last observed. A writer whose
    lockfile exclusion was bypassed (the documented hazard on
    eventually-consistent blob stores) gets a LOUD lost-update error —
    the other writer's commit survives; after a refresh the loser's
    retry lands."""
    import json

    import pytest as _pytest

    from lintdb_spark.index.fs import ConditionalPutConflict, MemoryFS

    path = _mem_path("cas")

    class _Store(SegmentStore):
        def _all_tables(self):
            return ["t"]

    w1 = _Store(spark, path)
    w1.fs.makedirs(path, exist_ok=False)
    w1._commit_segments([])  # put-if-absent: the file must not exist yet
    assert w1._meta_stat is not None

    # second process on the same path
    w2 = _Store(spark, path)
    w2._meta = json.loads(w2.fs.open_read(path + "/_meta.json"))
    w2._meta_stat = w2._stat_meta()
    w2._commit_segments([], meta={"n": 2})  # normal CAS flip

    # w1 still holds the pre-w2 identity: its flip must be REFUSED and
    # w2's meta must survive untouched
    with _pytest.raises(RuntimeError, match="lost a commit race"):
        w1._commit_segments([], meta={"n": 1})
    assert json.loads(w1.fs.open_read(path + "/_meta.json"))["n"] == 2

    # refresh -> retry lands (and w2's field is preserved in the
    # reloaded base)
    w1._refresh_meta_if_stale()
    assert w1._meta["n"] == 2
    w1._commit_segments([], meta={"n": 3})
    assert json.loads(w1.fs.open_read(path + "/_meta.json"))["n"] == 3

    # the raw primitive: put-if-absent refuses an existing object
    mem = MemoryFS.instance()
    with _pytest.raises(ConditionalPutConflict):
        mem.write_if_match(path + "/_meta.json", b"{}", None)


# ---------------------------------------------------------------------------
# Round 12 (ADVICE r11): tier-byte stats must treat "backend could not
# report a size" as UNKNOWN — never as 0, and never memoized. Both
# coercion failure modes are maintenance-routing bugs: base=0 makes
# every batch tier look like debt (full rewrite per trip), batch=0
# defers the debt rewrite forever.
# ---------------------------------------------------------------------------


class _SizedFS:
    """Seam double whose getsize answers from a mutable dict: a
    missing key raises OSError (read-after-write listing lag), an
    explicit None models fsspec backends whose info() carries
    size=None (HTTP/SFTP-style)."""

    def __init__(self, sizes: dict[str, int | None]):
        self.sizes = sizes

    def getsize(self, path: str):
        if path not in self.sizes:
            raise OSError(f"no such object (lag): {path}")
        return self.sizes[path]


class _TierStore(SegmentStore):
    TABLES = ["t"]

    def __init__(self, sizes):
        self.spark = None
        self.path = "mock://bucket/tiers"
        self._storefs = _SizedFS(sizes)
        self._meta = {
            "versions": {"t": 1},
            "segments": {"t": ["v1", "seg-a"]},
            "manifests": {
                "t": {"v1": ["base.parquet"], "seg-a": ["a.parquet"]}
            },
        }

    def _all_tables(self):
        return list(self.TABLES)


def _leaf(seg, name):
    return os.path.join("mock://bucket/tiers", "t", seg, name)


def test_tier_bytes_failed_stat_is_uncached_and_retried():
    sizes = {_leaf("v1", "base.parquet"): 1000}
    st = _TierStore(sizes)
    # seg-a's leaf can't be stat'ed yet: its tier reads UNKNOWN (None),
    # not a silently-cached 0
    assert st._tier_bytes("t") == (1000, None)
    assert ("t", "v1") in st._seg_bytes_cache
    assert ("t", "seg-a") not in st._seg_bytes_cache
    # the byte-ratio debt check skips rather than routing on garbage
    assert st._full_compact_due() is False
    # lag clears -> the NEXT evaluation retries and gets the real sum
    sizes[_leaf("seg-a", "a.parquet")] = 400
    assert st._tier_bytes("t") == (1000, 400)
    assert st._seg_bytes_cache[("t", "seg-a")] == 400
    # with real sizes the ratio routes again (400 >= 0.25 * 1000)
    assert st._full_compact_due() is True


def test_tier_bytes_size_none_reads_unknown_not_zero():
    # fsspec-style size=None: the old coercion made base read 0 and
    # batch >= 0.25*max(0,1) fire the full rewrite on EVERY trip
    st = _TierStore(
        {_leaf("v1", "base.parquet"): None, _leaf("seg-a", "a.parquet"): 50}
    )
    assert st._tier_bytes("t") == (None, 50)
    assert st._full_compact_due() is False
    # ...and the inverse orientation must not disable debt forever by
    # reading batch=0: it reads unknown and the check just defers
    st2 = _TierStore(
        {_leaf("v1", "base.parquet"): 100, _leaf("seg-a", "a.parquet"): None}
    )
    assert st2._tier_bytes("t") == (100, None)
    assert st2._full_compact_due() is False


def test_fsspec_getsize_surfaces_none():
    from lintdb_spark.index.fs import FsspecRemote

    class _Info:
        def __init__(self, size):
            self._size = size

        def info(self, path):
            return {"name": path, "size": self._size}

    assert FsspecRemote(_Info(None)).getsize("b/f") is None
    assert FsspecRemote(_Info(77)).getsize("b/f") == 77


# ---- round 14: on-disk manifest dictionary coding ----


def test_manifest_codec_roundtrip_realistic_shapes():
    """_encode_manifest/_decode_manifest must reproduce the exact
    original list (order included) on every manifest shape the store
    writes, and actually shrink the dominant one."""
    import json

    from lintdb_spark.index.store import _decode_manifest, _encode_manifest

    uuid = "2567c82e-d1af-4e39-b851-c0286e5e7f0d"
    # post-compact fine-partitioned: thousands of hive dirs, one name
    fine = sorted(
        f"tenant=0/spart={i}/part-00000-{uuid}.c000.snappy.parquet"
        for i in range(4096)
    )
    enc = _encode_manifest(fine)
    assert isinstance(enc, dict) and enc["_mf"] == 1
    assert _decode_manifest(enc) == fine
    assert len(enc["n"]) == 1 and len(enc["f"]) == 1  # one name, one run
    plain, coded = len(json.dumps(fine)), len(json.dumps(enc))
    assert coded < plain / 5, (plain, coded)
    # multi-tenant + multi-file dirs + root-level files + empty dirname
    mixed = [
        "part-00000-aa.parquet",
        "tenant=0/dpart=0/part-00000-bb.parquet",
        "tenant=0/dpart=0/part-00001-bb.parquet",
        "tenant=1/dpart=0/part-00000-bb.parquet",
        "tenant=1/dpart=1/part-00000-cc.parquet",
        "tenant=1/dpart=10/part-00000-cc.parquet",
        "tenant=1/dpart=2/part-00000-cc.parquet",
        "x", "y/z",
    ]
    assert _decode_manifest(_encode_manifest(mixed)) == mixed
    # small lists stay plain (readability; a dict would be larger)
    small = ["a/b.parquet", "c.parquet"]
    assert _encode_manifest(small) == small
    assert _decode_manifest(small) == small
    assert _encode_manifest([]) == []


def test_manifest_codec_roundtrip_property():
    """Hypothesis: decode(encode(x)) == x for arbitrary path lists —
    the codec must never lose or reorder a leaf file (a dropped leaf
    silently drops its rows from every read holding that meta)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lintdb_spark.index.store import _decode_manifest, _encode_manifest

    seg = st.text(
        alphabet=st.sampled_from("abz019=.-_"), min_size=1, max_size=8
    )
    path = st.builds(
        lambda parts, name: "/".join(parts + [name + ".parquet"]),
        st.lists(seg, min_size=0, max_size=4),
        seg,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(path, min_size=0, max_size=64))
    def check(rel):
        assert _decode_manifest(_encode_manifest(rel)) == rel

    check()


def test_save_meta_encodes_on_disk_only_and_reload_decodes():
    """The flip stores large manifests dictionary-coded but must NOT
    mutate the in-memory dict (nor a passed candidate dict); a reload
    through _normalize_meta restores the exact plain lists."""
    import json

    from lintdb_spark.index.fs import LocalFS

    rel = sorted(
        f"tenant=0/spart={i}/part-00000-feedbeef.c000.snappy.parquet"
        for i in range(64)
    )

    class _S(MockFSStore):
        def __init__(self, tmp):
            super().__init__({})
            self.path = tmp
            self._storefs = LocalFS()
            self._meta = {
                "versions": {},
                "segments": {"t": ["v1"]},
                "manifests": {"t": {"v1": list(rel)}},
            }

        def _assert_and_touch_writer_lock(self):
            pass

    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        st = _S(tmp)
        st._save_meta(st._meta)
        assert st._meta["manifests"]["t"]["v1"] == rel  # untouched
        raw = json.loads(open(os.path.join(tmp, "_meta.json")).read())
        assert isinstance(raw["manifests"]["t"]["v1"], dict)
        # ADVICE r14: coded manifests stamp a meta-level format rev so
        # the change is explicit in the file, not only per-manifest
        assert raw.get("manifest_rev") == 2
        st2 = _S(tmp)
        st2._meta = raw
        st2._normalize_meta(raw)
        assert st2._meta["manifests"]["t"]["v1"] == rel


def test_refresh_publishes_meta_only_after_normalize(spark):
    """ADVICE r14 (medium): _refresh_meta_if_stale must normalize the
    freshly read dict BEFORE the single `self._meta = m` assignment —
    an unlocked serve-thread reader must never observe the
    dictionary-coded on-disk manifests mid-refresh. Pinned by
    asserting, from inside _normalize_meta during a refresh, that the
    published self._meta is still the OLD object."""
    import json

    path = _mem_path("atomic-refresh")
    rel = sorted(f"spart={i}/part-00000-cafe.snappy.parquet" for i in range(64))

    class _Store(SegmentStore):
        observed: list = []

        def _all_tables(self):
            return ["t"]

        def _normalize_meta(self, meta=None):
            if meta is not None and meta is not self._meta:
                # refresh path: publication must not have happened yet
                _Store.observed.append(self._meta is meta)
                _Store.observed.append(
                    isinstance(
                        self._meta.get("manifests", {}).get("t", {}).get("v1"),
                        dict,
                    )
                )
            super()._normalize_meta(meta)

        def _assert_and_touch_writer_lock(self):
            pass

    w = _Store(spark, path)
    w.fs.makedirs(path, exist_ok=False)
    w._meta = {
        "versions": {},
        "segments": {"t": ["v1"]},
        "manifests": {"t": {"v1": list(rel)}},
    }
    w._commit_segments([])

    # an "external" commit with a coded manifest lands on disk
    other = _Store(spark, path)
    other._meta = json.loads(other.fs.open_read(path + "/_meta.json"))
    other._normalize_meta(other._meta)
    other._meta_stat = other._stat_meta()
    other._commit_segments([], meta={"n": 7})

    _Store.observed = []
    w._refresh_meta_if_stale()
    # the hook ran on the refresh path, self._meta was never the
    # in-flight dict nor an encoded intermediate, and the published
    # result is fully decoded
    assert _Store.observed == [False, False]
    assert w._meta["n"] == 7
    assert w._meta["manifests"]["t"]["v1"] == rel
