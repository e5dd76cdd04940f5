"""Run isolation, Spark lifecycle, the REST client, spans and statistics.

Nothing here knows a workload; workloads.py composes these pieces.
"""

from __future__ import annotations

import contextlib
import http.client
import itertools
import json
import os
import shutil
import subprocess
import tempfile
import threading
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent  # the checkout the benchmark runs in
SCRATCH = ROOT / ".perfbench_tmp"  # per-run temp dirs, removed at the end of each run
OUT = ROOT / ".perfbench_out"  # span files of traced runs


# ---------------------------------------------------------------- isolation


@contextlib.contextmanager
def run_dir():
    """A fresh directory under the checkout for everything one run
    writes: the indexes, Spark's local and warehouse dirs, temp files.
    Removed when the run ends, whatever the outcome."""
    path = SCRATCH / uuid.uuid4().hex[:12]
    (path / "tmp").mkdir(parents=True)
    saved = tempfile.tempdir
    tempfile.tempdir = str(path / "tmp")
    try:
        yield path
    finally:
        tempfile.tempdir = saved
        shutil.rmtree(path, ignore_errors=True)
        with contextlib.suppress(OSError):
            SCRATCH.rmdir()  # only when no other run is using it


def start_spark(path: Path, cpus: int):
    """A local SparkSession whose JVM, Python workers and temp files all
    live under ``path``. PYTHONPATH must name the checkout before the
    JVM starts: pandas UDF workers import ``lintdb_spark`` from it."""
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if str(ROOT) not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT)] + [p for p in paths if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(path / "spark-local")
    os.environ["TMPDIR"] = str(path / "tmp")
    # every JVM, spark-submit's launcher too: temp files under ``path``,
    # and no hsperfdata file, which the JVM writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={path / 'tmp'} -XX:-UsePerfData"
    from lintdb_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.local.dir": str(path / "spark-local"),
            "spark.sql.warehouse.dir": str(path / "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM, and with it the Python
    worker daemon, to exit: the gateway exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


# ------------------------------------------------------------------ memory


class PeakRss:
    """Peak resident memory of this process and all its descendants
    (the Spark JVM and its Python workers), sampled on a thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree(self) -> list[int]:
        pids, frontier = [], [os.getpid()]
        while frontier:
            pid = frontier.pop()
            pids.append(pid)
            with contextlib.suppress(OSError):
                for task in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{task}/children") as fh:
                        frontier.extend(int(c) for c in fh.read().split())
        return pids

    def sample(self) -> None:
        total = 0
        for pid in self._tree():
            with contextlib.suppress(OSError, ValueError, IndexError):
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "PeakRss":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


# ------------------------------------------------------------------- REST


class SearchFailed(Exception):
    pass


class RestClient:
    """One HTTP client. The server speaks HTTP/1.0, so http.client
    opens a new connection for each request."""

    def __init__(self, port: int, timeout_s: float = 150.0):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout_s)

    def search(self, body: bytes) -> list[int]:
        self.conn.request(
            "POST", "/v1/Index/search/0", body, {"Content-Type": "application/json"}
        )
        resp = self.conn.getresponse()
        data = resp.read()
        if resp.status != 200:
            raise SearchFailed(f"HTTP {resp.status}: {data[:200]!r}")
        payload = json.loads(data)
        if "error" in payload:
            raise SearchFailed(str(payload["error"])[:200])
        return [int(r["id"]) for r in payload["results"]]

    def close(self) -> None:
        self.conn.close()


def search_body(tokens: np.ndarray, topic: int | None, k: int) -> bytes:
    node = {
        "type": "TENSOR",
        "name": "emb",
        "value": tokens.ravel().tolist(),
        "num_tensors": int(tokens.shape[0]),
    }
    if topic is not None:
        term = {"type": "TERM", "name": "topic", "value": int(topic)}
        node = {"type": "AND", "children": [term, node]}
    return json.dumps({"query": node, "k": k}).encode()


# ---------------------------------------------------------------- results


@dataclass
class Sample:
    start: float  # perf_counter seconds
    ms: float
    ok: bool
    traced: bool
    client: int


@dataclass
class Checker:
    """Checks every search result against the exact oracle and keeps
    the counts. A result is bad if it is not exactly k rows or repeats a
    doc, and a run with any error (the first few are kept) is not
    correct; recall is the share of the exact top-k a result returns."""

    k: int
    attempted: int = 0
    failed: int = 0
    recall_sum: float = 0.0
    errors: list = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def result(self, ids: list[int], truth) -> None:
        with self.lock:
            self.attempted += 1
            if len(ids) != self.k or len(set(ids)) != len(ids):
                if len(self.errors) < 5:
                    self.errors.append(f"bad result list: {ids}")
            self.recall_sum += len(set(ids) & set(int(t) for t in truth)) / self.k

    def failure(self, exc: BaseException) -> None:
        with self.lock:
            self.attempted += 1
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(f"{type(exc).__name__}: {exc}")

    @property
    def recall(self) -> float:
        answered = self.attempted - self.failed
        return self.recall_sum / answered if answered else 0.0


def first_searches(port: int, bodies: list[bytes], truths: list, clients: int,
                   checker: Checker, per_client: int) -> None:
    """``per_client`` searches per client, concurrently, checked but not
    timed."""

    def one(c: int) -> None:
        rest = RestClient(port)
        try:
            for i in range(per_client):
                qi = (c * len(bodies) // clients + i) % len(bodies)
                timed_search(rest, bodies[qi], truths[qi], checker, c)
        finally:
            rest.close()

    on_threads(clients, one)


def on_threads(n: int, fn) -> None:
    """fn(0) .. fn(n - 1), each on its own thread; returns when all end."""
    threads = [threading.Thread(target=fn, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def timed_search(rest: RestClient, body: bytes, truth, checker: Checker, client: int,
                 tracer=None) -> Sample:
    """One timed search, checked; with a tracer it is traced."""
    t0 = time.perf_counter()
    try:
        with tracer.request() if tracer else contextlib.nullcontext():
            ids = rest.search(body)
        ok = True
    except Exception as exc:  # noqa: BLE001 - a failed attempt
        checker.failure(exc)
        ok = False
    t1 = time.perf_counter()
    if ok:
        checker.result(ids, truth)
    return Sample(t0, (t1 - t0) * 1e3, ok, tracer is not None, client)


def closed_loop(
    port: int,
    bodies: list[bytes],
    truths: list,
    clients: int,
    keep_going,
    checker: Checker,
    tracer=None,
) -> tuple[list[Sample], float]:
    """Each client sends its next search only after the previous answer
    arrived, while ``keep_going()`` holds. With a tracer, every second
    request is traced, so traced and untraced requests share conditions
    and their difference is the tracing overhead. Returns the samples
    and the wall time from the first send to the last answer."""
    samples: list[Sample] = []
    lock = threading.Lock()

    def client(c: int) -> None:
        # clients walk the pool in order from evenly spaced offsets
        offset = c * len(bodies) // clients
        order = [(offset + i) % len(bodies) for i in range(len(bodies))]
        rest = RestClient(port)
        try:
            for n, qi in enumerate(itertools.cycle(order)):
                if not keep_going():
                    return
                sample = timed_search(rest, bodies[qi], truths[qi], checker, c,
                                      tracer if n % 2 == 1 else None)
                with lock:
                    samples.append(sample)
        finally:
            rest.close()

    t0 = time.perf_counter()
    on_threads(clients, client)
    return samples, time.perf_counter() - t0


def latency_stats(samples: list[Sample], window_s: float) -> dict:
    """Median and p90 in ms over every attempt. A failed search counts
    above every latency: it ranks past the slowest answer and the
    window length."""
    if not samples:
        return {"p50": 0.0, "p90": 0.0, "n": 0}
    ok_ms = [s.ms for s in samples if s.ok]
    miss = max(ok_ms + [window_s * 1e3]) + 1.0
    ms = np.array([s.ms if s.ok else miss for s in samples], dtype=np.float64)
    p50, p90 = np.percentile(ms, [50, 90])
    return {"p50": float(p50), "p90": float(p90), "n": len(samples)}


def throughput(samples: list[Sample]) -> float:
    """Answers per second: each client's answers over the time its
    requests took, summed over clients. Unlike answers over the window,
    it does not jump by a whole request when one more fits in, and it
    leaves out what a client does between its requests."""
    total = 0.0
    for c in {s.client for s in samples}:
        mine = [s for s in samples if s.client == c]
        busy = sum(s.ms for s in mine) / 1e3
        if busy > 0:
            total += sum(s.ok for s in mine) / busy
    return total


def median(values) -> float:
    values = list(values)
    return float(np.median(values)) if values else 0.0


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    id: int
    trace_id: int
    parent_id: int | None
    name: str
    layer: str
    start_ns: int
    end_ns: int = 0
    job_ids: object = None  # a job group name, or the job ids themselves
    jobs: int | None = None
    tasks: int | None = None


class Tracer:
    """Spans recorded around the benchmark's calls into each layer.

    A span has a name, a layer, a start, an end, a parent and a trace
    id. Spans opened on a thread nest under that thread's open span;
    spans opened on a server thread nest under the request the single
    traced client has in flight, which is why traced runs use one
    client. Spark jobs are attributed to a span through a job group
    set on the thread that runs them."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._request: Span | None = None

    def _open(self, name: str, layer: str, parent: Span | None) -> Span:
        sid = next(self._ids)
        trace_id = parent.trace_id if parent else sid
        return Span(sid, trace_id, parent.id if parent else None, name, layer,
                    time.perf_counter_ns())

    @contextlib.contextmanager
    def span(self, name: str, layer: str, job_group: bool = False,
             remote: bool = False, new_jobs: bool = False):
        """Record a span around the body.

        ``job_group``: Spark jobs the body submits on this thread are
        the span's, through a job group. ``new_jobs``: the span's jobs
        are the ungrouped jobs that appear while it runs, which also
        catches jobs the body submits from its own threads; only valid
        while every concurrent job runs in a group. ``remote``: the span
        runs on a server thread on behalf of the request in flight,
        which becomes its parent; with no traced request in flight
        nothing is recorded, but the job group is still set, so traced
        and untraced requests cost the same apart from the span."""
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else (self._request if remote else None)
        sp = None if remote and parent is None else self._open(name, layer, parent)
        group = f"perfbench-{sp.id if sp else 'u' + str(next(self._ids))}"
        if job_group:
            self.sc.setJobGroup(group, name)
        if new_jobs:
            tracker = self.sc.statusTracker()
            before = set(tracker.getJobIdsForGroup(None))
        if sp:
            stack.append(sp)
        try:
            yield sp
        finally:
            if job_group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            if sp:
                stack.pop()
                sp.end_ns = time.perf_counter_ns()
                if job_group:
                    sp.job_ids = group
                if new_jobs:
                    sp.job_ids = sorted(set(tracker.getJobIdsForGroup(None)) - before)
                with self._lock:
                    self.spans.append(sp)

    @contextlib.contextmanager
    def request(self):
        """Client-side span of one REST search (layer ``server``: what
        the server costs as seen from outside)."""
        with self.span("server.request", "server") as sp:
            self._request = sp
            try:
                yield sp
            finally:
                self._request = None

    def resolve_jobs(self) -> None:
        """Fill in Spark job and task counts per job group. Called after
        the workload, once the status listener has caught up."""
        time.sleep(1.0)
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            if sp.job_ids is None:
                continue
            jobs = sp.job_ids
            if isinstance(jobs, str):
                jobs = tracker.getJobIdsForGroup(jobs)
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for st in info.stageIds if info else ():
                    sinfo = tracker.getStageInfo(st)
                    tasks += sinfo.numCompletedTasks if sinfo else 0
            sp.jobs, sp.tasks = len(jobs), tasks

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent_id is not None:
                out.setdefault(sp.parent_id, []).append(sp)
        return out

    def self_ms(self) -> dict[int, float]:
        """Each span's duration minus the part of it its children cover."""
        kids = self.children()
        out = {}
        for sp in self.spans:
            covered = 0
            for c in kids.get(sp.id, ()):
                covered += max(0, min(c.end_ns, sp.end_ns) - max(c.start_ns, sp.start_ns))
            out[sp.id] = (sp.end_ns - sp.start_ns - covered) / 1e6
        return out

    def layer_self_ms(self) -> dict[str, float]:
        totals: dict[str, float] = {}
        own = self.self_ms()
        for sp in self.spans:
            totals[sp.layer] = totals.get(sp.layer, 0.0) + own[sp.id]
        return totals

    def named(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        own = self.self_ms()
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start_ns):
                rec = dict(sp.__dict__)
                rec["self_ms"] = round(own[sp.id], 3)
                fh.write(json.dumps(rec) + "\n")


def ms(sp: Span) -> float:
    return (sp.end_ns - sp.start_ns) / 1e6


# -------------------------------------------------------------- index files


def read_meta(index_path: Path) -> dict:
    with open(index_path / "_meta.json") as fh:
        return json.load(fh)


def file_sizes(root: Path) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with contextlib.suppress(OSError):
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def live_bytes(index_path: Path, meta: dict) -> int:
    """Bytes a reader of the committed state needs: every live segment
    of every table plus the sidecars (schema, meta, centroids,
    quantizers). Superseded segments awaiting vacuum do not count."""
    total = 0
    for table, segs in meta.get("segments", {}).items():
        for seg in segs:
            total += sum(file_sizes(index_path / table / seg).values())
    for side in ("_schema.json", "_meta.json"):
        total += (index_path / side).stat().st_size
    for side in ("centroids", "quantizers"):
        total += sum(file_sizes(index_path / side).values())
    return total


def persisted_rdds(sc) -> int:
    # PySpark has no public call for this; the Java context has
    return int(sc._jsc.getPersistentRDDs().size())
