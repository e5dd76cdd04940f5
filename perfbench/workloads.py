"""Set-up and the two workloads, timed from outside the index.

Only the public surface is called: ``IndexServer`` over HTTP, and
``Index.create/set_coarse_quantizer/add/remove/load/prewarm/search/
search_batch``. See README.md for why each workload exists.
"""

from __future__ import annotations

import contextlib
import itertools
import shutil
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa

from perfbench import corpus as cp
from perfbench import harness as hx

K = 10  # results per search
QUANT_SAMPLE = 4096  # tokens the binarizer is trained on, and the quantizer probe
RECALL_FLOOR = 0.6  # a run whose recall_at_10 falls below this is not correct
TOKEN_BYTES = cp.TOKENS * cp.DIM * 4  # raw float32 bytes of one doc


@dataclass(frozen=True)
class Sizes:
    n_docs: int  # docs in the built index
    n_queries: int  # distinct queries in the pool
    add_batch: int  # docs per writer add, and in the build's cold first add
    remove_batch: int  # ids per remove


FULL = Sizes(n_docs=800, n_queries=32, add_batch=64, remove_batch=8)
TOY = Sizes(n_docs=480, n_queries=6, add_batch=4, remove_batch=2)
# REST clients of online_search. At local[4], over ten seeds at 20 s
# windows, two closed-loop clients gave quartile spreads of 0.29 (p50),
# 0.23 (p90) and 0.24 (qps), one client 0.23, 0.17 and 0.21. Traced runs
# need one, so that each span's parent is unambiguous.
SEARCH_CLIENTS = 1
# Spark task threads (local[SPARK_CPUS]). At this index size a search is
# job overhead, not parallel work, and each task thread drives its own
# Python worker. On a 4-vCPU VM the REST search p50 was 1250 ms at
# local[4], 1000 ms at local[2] and 905 ms at local[1], and a busy loop
# pinned to one vCPU slowed it by 18%, 13% and 7%: more task threads
# measured the host's scheduler more than the program.
SPARK_CPUS = 1
# untimed searches before the online_search window: at local[4] latency
# kept falling over the first ~15 s of searching (JIT, Python workers);
# at local[1] the first timed searches were no slower than the rest
WARMUP_SEARCHES = 2
CYCLE = ("add", "remove")  # the ingest_mixed writer's ops, in turn
# untimed write cycles before the ingest_mixed window: the write path and
# the search after a commit warm up over the first cycles (adds took
# 1.65, 1.45, 1.15 and 0.90 s), and a window holds only a few
WARMUP_CYCLES = 2
# timed adds of add_batch fresh docs after the online_search window, for
# its ingest_docs_per_s, after one untimed add: one timed add of the
# 736-doc build swung with the host (quartile spread 0.30-0.38 over ten
# seeds). No more: the sixth add after the build's two makes the eighth
# segment, whose commit runs a compaction (4 s instead of 1 s)
PROBE_ADDS = 4

# name -> unit; these must match BENCHMARK.json (the smoke test checks)
END_TO_END = {
    "setup_s": "s",
    "search_p50_ms": "ms",
    "search_p90_ms": "ms",
    "search_qps": "1/s",
    "recall_at_10": "fraction",
    "ingest_docs_per_s": "docs/s",
    "stored_bytes_per_input_byte": "ratio",
}
PER_LAYER = {
    "server.request_ms": "ms",
    "server.translate_ms": "ms",
    "server.overhead_ms": "ms",
    "index.search_plan_ms": "ms",
    "index.search_exec_ms": "ms",
    "index.search_spark_jobs": "count",
    "index.search_spark_tasks": "count",
    "index.search_batch_s": "s",
    "index.search_batch_spark_jobs": "count",
    "index.search_batch_spark_tasks": "count",
    "index.load_s": "s",
    "index.prewarm_s": "s",
    "index.add_ms": "ms",
    "index.add_spark_jobs": "count",
    "index.remove_ms": "ms",
    "index.remove_spark_jobs": "count",
    "index.first_search_after_commit_ms": "ms",
    "store.segments_max": "count",
    "store.minor_compactions": "count",
    "store.full_compactions": "count",
    "store.bytes_written_per_input_byte": "ratio",
    "quantizers.decode_ns_per_token": "ns",
    "quantizers.encode_ns_per_token": "ns",
    "cache.persisted_rdds_delta": "count",
    "process.peak_rss_mb": "MB",
    "error_rate": "ratio",
    "trace.overhead_ms": "ms",
}


def make_schema(n_centroids: int):
    from lintdb_spark.index.schema import (
        DataType,
        FieldType,
        IndexedField,
        Schema,
        StoredField,
        TensorField,
    )

    return Schema(
        [
            TensorField(
                "emb", dimensions=cp.DIM, roles=[FieldType.COLBERT],
                quantization="binarizer", nbits=2, num_centroids=n_centroids,
            ),
            IndexedField("topic", DataType.INTEGER),
            StoredField("title", DataType.TEXT),
        ]
    )


def ingest_df(spark, ids: np.ndarray, tokens: np.ndarray, topics: np.ndarray):
    """Docs as an ingest DataFrame, built through Arrow in one piece."""
    n, t, d = tokens.shape
    flat = pa.array(tokens.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * t * d + 1, d, dtype=np.int32))
    rows = pa.ListArray.from_arrays(offsets, flat)
    docs = pa.ListArray.from_arrays(pa.array(np.arange(0, n * t + 1, t, dtype=np.int32)), rows)
    table = pa.table(
        {
            "tenant": pa.array(np.zeros(n, dtype=np.int64)),
            "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
            "topic": pa.array(np.asarray(topics, dtype=np.int64)),
            "title": pa.array([f"doc-{i}" for i in ids]),
            "emb": docs,
        }
    )
    return spark.createDataFrame(table)


class NoTracer:
    """Stands in for hx.Tracer in untraced runs."""

    @contextlib.contextmanager
    def span(self, name, layer, job_group=False, remote=False, new_jobs=False):
        yield None


@dataclass
class Run:
    spark: object
    work: Path
    seed: int
    seconds: float
    sizes: Sizes
    tracer: object  # hx.Tracer in a traced run, else NoTracer
    report: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    @property
    def sc(self):
        return self.spark.sparkContext

    @property
    def traced(self) -> bool:
        return isinstance(self.tracer, hx.Tracer)

    def note(self, line: str) -> None:
        self.report.append(line)

    def count(self, phase: str, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed
        self.note(
            f"phase {phase}: attempted={attempted} "
            f"succeeded={attempted - failed} failed={failed}"
        )


# ------------------------------------------------------------------ set-up


@dataclass
class Served:
    corpus: cp.Corpus
    idx: object
    server: object
    path: Path
    setup_s: float
    load_s: float
    prewarm_s: float


def build(run: Run, corpus: cp.Corpus, path: Path) -> None:
    """Create the index with the generator's centres as its coarse
    quantizer and a binarizer trained on a fixed sample, then add the
    corpus in two calls: the first ``add_batch`` docs, which pay for the
    cold JVM and Python workers, then the rest."""
    from lintdb_spark.index import Index
    from lintdb_spark.index.quantizers import Binarizer

    idx = Index.create(run.spark, str(path), make_schema(len(corpus.centers)))
    sample = corpus.tokens.reshape(-1, cp.DIM)[:QUANT_SAMPLE]
    codes = (sample @ corpus.centers.T).argmax(axis=1)
    idx.quantizers["emb"] = Binarizer.train(sample - corpus.centers[codes], 2)
    idx.set_coarse_quantizer("emb", corpus.centers)  # also saves the quantizer
    ids = np.arange(corpus.n_docs)
    first = run.sizes.add_batch
    idx.add(ingest_df(run.spark, ids[:first], corpus.tokens[:first], corpus.topics[:first]))
    with run.tracer.span("index.build_add", "index", new_jobs=True):
        idx.add(ingest_df(run.spark, ids[first:], corpus.tokens[first:], corpus.topics[first:]))


def setup(run: Run, copy: bool) -> Served:
    """Generate, build, load and start the server with prewarm: what a
    fresh server process pays, cold JVM and Python workers included.
    With ``copy`` the server gets a byte-identical copy of the built
    index, which stays pristine."""
    from lintdb_spark.index import Index
    from lintdb_spark.server import IndexServer

    t0 = time.perf_counter()
    with run.tracer.span("bench.generate", "bench"):
        corpus = cp.make_corpus(run.seed, run.sizes.n_docs, run.sizes.n_queries, K)
    with run.tracer.span("bench.build", "bench"):
        build(run, corpus, run.work / "built")
    path = run.work / "built"
    if copy:
        path = run.work / "live"
        shutil.copytree(run.work / "built", path)
    t1 = time.perf_counter()
    with run.tracer.span("index.load", "index"):
        idx = Index.load(run.spark, str(path))
    t2 = time.perf_counter()
    with run.tracer.span("server.start_prewarm", "server"):
        server = IndexServer(idx).start(prewarm=True)
    t3 = time.perf_counter()
    run.note(f"setup: {t3 - t0:.3f}s (load {t2 - t1:.3f}s, "
             f"prewarm {t3 - t2:.3f}s)")
    return Served(corpus, idx, server, path, t3 - t0, t2 - t1, t3 - t2)


# ------------------------------------------------------------ measurement


def install_search_tracing(run: Run, idx):
    """Wrap the server's query translation and the index's search so
    their spans nest under the traced request in flight. Returns an
    undo function."""
    import lintdb_spark.server as server_mod

    tracer = run.tracer
    orig_translate = server_mod.query_node_from_json
    orig_search = idx.search
    local = threading.local()  # translation recurses into AND children

    def translate(node):
        if getattr(local, "inside", False):
            return orig_translate(node)
        local.inside = True
        try:
            with tracer.span("server.translate", "server", remote=True):
                return orig_translate(node)
        finally:
            local.inside = False

    def search(tenant, query, k=10, opts=None):
        with tracer.span("index.search_plan", "index", job_group=True, remote=True):
            df = orig_search(tenant, query, k=k, opts=opts)
        orig_collect = df.collect

        def collect():
            with tracer.span("index.search_exec", "index", job_group=True, remote=True):
                return orig_collect()

        df.collect = collect
        return df

    server_mod.query_node_from_json = translate
    idx.search = search

    def undo():
        server_mod.query_node_from_json = orig_translate
        del idx.search

    return undo


def deadline(seconds: float):
    end = time.perf_counter() + seconds
    return lambda: time.perf_counter() < end


class Searches:
    """The REST search load of a run, every result checked against the
    oracle."""

    def __init__(self, run: Run, served: Served, clients: int):
        self.run, self.served, self.clients = run, served, clients
        qs = served.corpus.queries
        self.bodies = [hx.search_body(q.tokens, q.topic, K) for q in qs]
        self.truths = [q.truth for q in qs]
        self.checker = hx.Checker(K)

    def first(self, per_client: int) -> None:
        """Untimed searches per client: prewarm warms the batch path,
        not the point-query path, and a server pays that once."""
        hx.first_searches(
            self.served.server.port, self.bodies, self.truths, self.clients, self.checker,
            per_client,
        )

    def measure(self, keep_going):
        """Closed-loop timed searches while ``keep_going()`` holds.
        Returns the samples and the end-to-end search metrics."""
        samples, wall = hx.closed_loop(
            self.served.server.port, self.bodies, self.truths, self.clients,
            keep_going, self.checker, self.run.tracer if self.run.traced else None,
        )
        return samples, self.summarize(samples, wall)

    def after_writes(self, writer: "Writer", seconds: float):
        """Write cycles for ``seconds`` (checked before each cycle), at
        least one, on one client: an add, one timed search, a remove.
        Every search thus reads the same state, the first after an
        add's commit: with a search after the remove too, latencies fell
        into two modes (~2.8 s and ~1.5 s), and the median of an even
        mix of the two sat in the gap between them. A traced run traces
        every second cycle and runs at least two. WARMUP_CYCLES untimed
        cycles go first. Returns the samples and the end-to-end search
        metrics."""
        tracer = self.run.tracer if self.run.traced else None
        rest = hx.RestClient(self.served.server.port)
        samples = []

        def cycle(n: int, traced: bool) -> None:
            writer.op("add")
            qi = n % len(self.bodies)
            samples.append(hx.timed_search(
                rest, self.bodies[qi], self.truths[qi], self.checker, 0,
                tracer if traced else None,
            ))
            writer.op("remove")

        try:
            for n in range(WARMUP_CYCLES):
                cycle(n, False)
            del samples[:]
            writer.forget_times()
            t0 = time.perf_counter()
            keep_going = deadline(seconds)
            for n in itertools.count():
                if writer.failed or (n >= (2 if tracer else 1) and not keep_going()):
                    break
                cycle(n, n % 2 == 1)
        finally:
            rest.close()
        return samples, self.summarize(samples, time.perf_counter() - t0)

    def summarize(self, samples, wall: float) -> dict:
        run, checker = self.run, self.checker
        run.count("search", checker.attempted, checker.failed)
        run.problems += checker.errors
        if checker.recall < RECALL_FLOOR:
            run.problems.append(f"recall_at_10 {checker.recall:.4f} below floor {RECALL_FLOOR}")
        stats = hx.latency_stats(samples, wall)
        run.note(
            f"  timed searches={stats['n']} in {wall:.1f}s p50={stats['p50']:.1f}ms "
            f"p90={stats['p90']:.1f}ms recall_at_10={checker.recall:.4f}"
        )
        return {
            "search_p50_ms": stats["p50"],
            "search_p90_ms": stats["p90"],
            "search_qps": hx.throughput(samples),
            "recall_at_10": checker.recall,
        }


def quantizer_probe(run: Run, served: Served) -> dict:
    """ns per token of Binarizer.encode and .decode on a fixed sample."""
    q = served.idx.quantizers["emb"]
    c = served.corpus
    sample = c.tokens.reshape(-1, cp.DIM)[:QUANT_SAMPLE]
    resid = sample - c.centers[(sample @ c.centers.T).argmax(axis=1)]
    enc, dec = [], []
    for _ in range(5):
        with run.tracer.span("quantizers.encode", "quantizers"):
            t0 = time.perf_counter_ns()
            blob = q.encode(resid)
            t1 = time.perf_counter_ns()
        with run.tracer.span("quantizers.decode", "quantizers"):
            q.decode(blob, len(resid))
            t2 = time.perf_counter_ns()
        enc.append((t1 - t0) / len(resid))
        dec.append((t2 - t1) / len(resid))
    return {
        "quantizers.encode_ns_per_token": hx.median(enc),
        "quantizers.decode_ns_per_token": hx.median(dec),
    }


def batch_probe(run: Run, served: Served) -> list:
    """Two calls of ``Index.search_batch`` of every bare query in the
    pool, on the cogroup (shuffle) path that serves indexes over the
    broadcast threshold, pinned with the index's ``force_cogroup`` knob.
    Each call's results are checked like a REST search's. Returns the
    calls' spans."""
    from lintdb_spark.cache import release

    qs = [q for q in served.corpus.queries if q.topic is None]
    checker = hx.Checker(K)
    idx, spans = served.idx, []
    idx.force_cogroup = True
    try:
        for _ in range(2):
            with run.tracer.span("index.search_batch", "index", job_group=True) as sp:
                df = idx.search_batch(0, "emb", {i: q.tokens for i, q in enumerate(qs)}, k=K)
                try:
                    rows = df.collect()
                finally:
                    release(df)
            spans.append(sp)
            for i, q in enumerate(qs):
                hits = sorted((r["rank"], r["doc_id"]) for r in rows if r["qid"] == i)
                checker.result([d for _, d in hits], q.truth)
    finally:
        idx.force_cogroup = False
    run.count("search_batch", checker.attempted, checker.failed)
    run.problems += checker.errors
    if checker.recall < RECALL_FLOOR:
        run.problems.append(f"batch recall_at_10 {checker.recall:.4f} below floor {RECALL_FLOOR}")
    run.note(f"  search_batch: {len(spans)} calls of {len(qs)} queries, "
             f"median {median_ms(spans):.0f} ms, recall_at_10={checker.recall:.4f}")
    return spans


def search_layers(run: Run, samples) -> dict:
    """Per-search medians over the traced requests and their children,
    and the tracing overhead: traced minus untraced median latency."""
    tr = run.tracer
    kids = tr.children()
    rows = []
    for req in tr.named("server.request"):
        ch = kids.get(req.id, [])
        by = {n: [c for c in ch if c.name == n] for n in
              ("server.translate", "index.search_plan", "index.search_exec")}
        parts = {n: sum(hx.ms(c) for c in v) for n, v in by.items()}
        spark_side = by["index.search_plan"] + by["index.search_exec"]
        rows.append(
            {
                "server.request_ms": hx.ms(req),
                "server.translate_ms": parts["server.translate"],
                "index.search_plan_ms": parts["index.search_plan"],
                "index.search_exec_ms": parts["index.search_exec"],
                "server.overhead_ms": hx.ms(req) - sum(parts.values()),
                "index.search_spark_jobs": sum(c.jobs or 0 for c in spark_side),
                "index.search_spark_tasks": sum(c.tasks or 0 for c in spark_side),
            }
        )
    out = {n: hx.median(r[n] for r in rows) for n in (rows[0] if rows else ())}
    out["trace.overhead_ms"] = hx.median(s.ms for s in samples if s.ok and s.traced) - (
        hx.median(s.ms for s in samples if s.ok and not s.traced)
    )
    return out


def finish_layers(run: Run, served: Served, samples, rss: hx.PeakRss,
                  workload: str, workload_layers) -> dict:
    """All per-layer metrics of a traced run; ``workload_layers()``
    gives the workload's own, once Spark job counts are resolved."""
    run.tracer.resolve_jobs()
    layers = workload_layers()
    layers.update(search_layers(run, samples))
    layers.update(quantizer_probe(run, served))
    layers["index.load_s"] = served.load_s
    layers["index.prewarm_s"] = served.prewarm_s
    rss.sample()
    layers["process.peak_rss_mb"] = rss.peak_mb
    layers["error_rate"] = run.failed / run.attempted if run.attempted else 0.0
    path = hx.OUT / f"spans-{workload}-seed{run.seed}.jsonl"
    run.tracer.write(path)
    run.note(f"spans: {len(run.tracer.spans)} written to {path.relative_to(hx.ROOT)}")
    for layer, self_ms in sorted(run.tracer.layer_self_ms().items()):
        run.note(f"  self time {layer}: {self_ms:.1f} ms")
    return {name: float(layers.get(name, 0.0)) for name in PER_LAYER}


def median_ms(spans) -> float:
    return hx.median(hx.ms(s) for s in spans)


def median_jobs(spans) -> float:
    return hx.median(s.jobs or 0 for s in spans)


# --------------------------------------------------------------- workloads


def online_search(run: Run, rss: hx.PeakRss) -> dict:
    """Read-only REST point search against a prewarmed server; after
    the window, an untimed add and PROBE_ADDS timed ones for its ingest
    figures."""
    served = setup(run, copy=False)
    undo = install_search_tracing(run, served.idx) if run.traced else None
    try:
        before = hx.persisted_rdds(run.sc)
        load = Searches(run, served, SEARCH_CLIENTS)
        load.first(WARMUP_SEARCHES)
        samples, e2e = load.measure(deadline(run.seconds))
        persisted = hx.persisted_rdds(run.sc) - before
    finally:
        if undo:
            undo()
        served.server.stop()
    meta = hx.read_meta(served.path)
    stored = hx.live_bytes(served.path, meta) / (served.corpus.n_docs * TOKEN_BYTES)
    writer = Writer(run, served)
    for n in range(PROBE_ADDS + 1):
        writer.op("add")
        if n == 0:
            writer.forget_times()
    run.count("write", writer.attempted, writer.failed)
    writer.note()
    if run.traced:
        batch = batch_probe(run, served)
        adds = writer.spans["add"]
        return finish_layers(run, served, samples, rss, "online_search", lambda: {
            "index.search_batch_s": median_ms(batch) / 1e3,
            "index.search_batch_spark_jobs": median_jobs(batch),
            "index.search_batch_spark_tasks": hx.median(s.tasks or 0 for s in batch),
            "index.add_ms": median_ms(adds),
            "index.add_spark_jobs": median_jobs(adds),
            "store.segments_max": max(len(s) for s in meta["segments"].values()),
            "store.bytes_written_per_input_byte": stored,
            "cache.persisted_rdds_delta": persisted,
        })
    return {
        **e2e,
        "setup_s": served.setup_s,
        "ingest_docs_per_s": writer.docs_per_s,
        "stored_bytes_per_input_byte": stored,
    }


class Writer:
    """Adds of fresh docs and removes of victims: the ingest_mixed
    writer, in turn, and online_search's adds after its window.
    Every op is timed and the committed _meta.json is read after it to
    follow segments and compactions."""

    def __init__(self, run: Run, served: Served):
        self.run, self.served = run, served
        c = served.corpus
        self.next_id = c.n_docs
        self.victims = list(c.victims)
        self.added, self.removed = [], []  # (id, tokens)
        self.seconds = {op: [] for op in CYCLE}
        self.spans = {op: [] for op in CYCLE}
        self.attempted = self.failed = 0
        self.docs_ingested = 0
        self.minor = self.full = 0
        self.segments_max = self._segments_max(hx.read_meta(served.path))

    @staticmethod
    def _segments_max(meta) -> int:
        return max(len(s) for s in meta["segments"].values())

    def _victims(self, n: int) -> list[int]:
        out, self.victims = self.victims[:n], self.victims[n:]
        return out

    def _write(self, op: str) -> None:
        run, idx, c = self.run, self.served.idx, self.served.corpus
        if op == "add":
            ids = np.arange(self.next_id, self.next_id + run.sizes.add_batch)
            self.next_id += len(ids)
            toks, topics = cp.fresh_docs(c, len(ids))
            idx.add(ingest_df(run.spark, ids, toks, topics))
            self.added += zip(ids.tolist(), toks)
            self.docs_ingested += len(ids)
        else:
            ids = self._victims(run.sizes.remove_batch)
            idx.remove(0, ids)
            self.removed += [(i, c.tokens[i]) for i in ids]

    def forget_times(self) -> None:
        self.seconds = {op: [] for op in CYCLE}
        self.spans = {op: [] for op in CYCLE}

    def op(self, op: str) -> None:
        before = hx.read_meta(self.served.path)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            # the index stages table writes on its own threads, so
            # count the jobs that appear while it runs
            with self.run.tracer.span(f"index.{op}", "index", new_jobs=True) as sp:
                self._write(op)
        except Exception as exc:  # noqa: BLE001 - a failed attempt
            self.failed += 1
            self.run.problems.append(f"{op} failed: {type(exc).__name__}: {exc}")
            return
        t1 = time.perf_counter()
        self.seconds[op].append(t1 - t0)
        if sp is not None:
            self.spans[op].append(sp)
        after = hx.read_meta(self.served.path)
        self.segments_max = max(
            self.segments_max, self._segments_max(before), self._segments_max(after)
        )
        # a remove rewrites the tables, which bumps the docs table
        # version once; any further bump is a full compaction
        bump = after["versions"].get("docs", 0) - before["versions"].get("docs", 0)
        self.full += max(0, bump - (op == "remove"))
        old = {s for segs in before["segments"].values() for s in segs}
        if any(s.startswith("m") and s not in old
               for segs in after["segments"].values() for s in segs):
            self.minor += 1

    def note(self) -> None:
        self.run.note(
            "writer: " + " ".join(
                f"{op}s (s)=[{', '.join(f'{x:.2f}' for x in t)}]" for op, t in self.seconds.items()
            ) + f" minor_compactions={self.minor} full_compactions={self.full} "
            f"segments_max={self.segments_max}"
        )

    @property
    def docs_per_s(self) -> float:
        """Docs added over the time the timed adds took."""
        adds = self.seconds["add"]
        return self.run.sizes.add_batch * len(adds) / sum(adds) if adds else 0.0

    @property
    def live_docs(self) -> int:
        return self.served.corpus.n_docs + len(self.added) - len(self.removed)


def verify_writes(run: Run, served: Served, writer: Writer) -> None:
    """After the writer stops: the last added doc is found first for a
    noised copy of its tokens, and the last removed doc is gone. One
    search_batch, outside the timed window."""
    from lintdb_spark.cache import release

    rng = np.random.default_rng([run.seed, 7])
    checks = []  # (doc id, tokens, must be found first)
    for done, found in ((writer.added, True), (writer.removed, False)):
        if done:
            checks.append((*done[-1], found))
    if not checks:
        return
    queries = {i: cp.noised(rng, toks) for i, (_, toks, _) in enumerate(checks)}
    df = served.idx.search_batch(0, "emb", queries, k=K)
    try:
        rows = sorted(df.collect(), key=lambda r: r["rank"])
    finally:
        release(df)
    for i, (doc_id, _, found) in enumerate(checks):
        ids = [r["doc_id"] for r in rows if r["qid"] == i]
        ok = len(ids) == K and len(set(ids)) == K
        ok = ok and ((ids[0] == doc_id) if found else (doc_id not in ids))
        if not ok:
            what = "found first" if found else "gone"
            run.problems.append(f"write check failed: doc {doc_id} not {what}: {ids}")
    run.note(f"write checks: {len(checks)} run after the writer stopped")


def ingest_mixed(run: Run, rss: hx.PeakRss) -> dict:
    """One client alternating writes and REST searches: an add, a
    search, a remove, and so on, until the first cycle after the
    deadline. Every search is the first after an add's commit."""
    served = setup(run, copy=True)
    writer = Writer(run, served)
    files_before = hx.file_sizes(served.path)
    undo = install_search_tracing(run, served.idx) if run.traced else None
    try:
        load = Searches(run, served, 1)
        before = hx.persisted_rdds(run.sc)
        samples, e2e = load.after_writes(writer, run.seconds)
        persisted = hx.persisted_rdds(run.sc) - before
        run.count("write", writer.attempted, writer.failed)
        verify_writes(run, served, writer)
    finally:
        if undo:
            undo()
        served.server.stop()
    meta = hx.read_meta(served.path)
    stored = hx.live_bytes(served.path, meta) / (writer.live_docs * TOKEN_BYTES)
    written = sum(v for p, v in hx.file_sizes(served.path).items() if p not in files_before)
    writer.note()
    if run.traced:
        sp = writer.spans
        return finish_layers(run, served, samples, rss, "ingest_mixed", lambda: {
            "index.add_ms": median_ms(sp["add"]),
            "index.add_spark_jobs": median_jobs(sp["add"]),
            "index.remove_ms": median_ms(sp["remove"]),
            "index.remove_spark_jobs": median_jobs(sp["remove"]),
            # every search follows a commit
            "index.first_search_after_commit_ms": median_ms(run.tracer.named("server.request")),
            "store.segments_max": writer.segments_max,
            "store.minor_compactions": writer.minor,
            "store.full_compactions": writer.full,
            "store.bytes_written_per_input_byte":
                written / max(1, writer.docs_ingested * TOKEN_BYTES),
            "cache.persisted_rdds_delta": persisted,
        })
    return {
        **e2e,
        "setup_s": served.setup_s,
        "ingest_docs_per_s": writer.docs_per_s,
        "stored_bytes_per_input_byte": stored,
    }


WORKLOADS = {"online_search": online_search, "ingest_mixed": ingest_mixed}


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    metrics: dict  # name -> value
    units: dict  # name -> unit
    report: list

    def summary(self) -> dict:
        return {
            "correct": self.correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                n: {"value": v, "unit": self.units[n]} for n, v in self.metrics.items()
            },
        }


def run(workload: str, seed: int, seconds: float, trace: bool, sizes: Sizes = FULL) -> Result:
    """One benchmark run in its own directory and Spark session."""
    t0 = time.perf_counter()
    with hx.run_dir() as work, hx.PeakRss() as rss:
        spark = hx.start_spark(work, SPARK_CPUS)
        try:
            tracer = hx.Tracer(spark.sparkContext) if trace else NoTracer()
            r = Run(spark, work, seed, seconds, sizes, tracer)
            r.note(f"workload={workload} seed={seed} seconds={seconds} trace={int(trace)}")
            r.note(f"spark start: {time.perf_counter() - t0:.1f}s")
            metrics = WORKLOADS[workload](r, rss)
        finally:
            t1 = time.perf_counter()
            hx.stop_spark(spark)
    r.note(f"spark stop: {time.perf_counter() - t1:.1f}s, run: {time.perf_counter() - t0:.1f}s")
    units = PER_LAYER if trace else END_TO_END
    correct = not r.problems and r.failed == 0
    r.note(f"correct={correct} attempted={r.attempted} "
           f"succeeded={r.attempted - r.failed} failed={r.failed}")
    r.report += [f"  problem: {p}" for p in r.problems[:10]]
    r.report += [f"metric {n} = {v:.6g} {units[n]}" for n, v in metrics.items()]
    return Result(correct, r.attempted, r.failed, metrics, units, r.report)
