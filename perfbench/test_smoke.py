"""Smoke test of the benchmark itself, at toy size.

    python -m pytest perfbench/test_smoke.py -q

Runs every workload untraced and traced through the benchmark's own
command (two to three minutes), checks that each metric BENCHMARK.json
names comes out with its unit, and that the exact-MaxSim oracle agrees
with a brute-force loop.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from perfbench import corpus as cp
from perfbench import workloads as wl

ROOT = Path(__file__).resolve().parent.parent
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_oracle_top10_matches_brute_force():
    rng = np.random.default_rng(3)
    docs = cp.unit(rng.standard_normal((40, 5, 8))).astype(np.float32)
    query = cp.unit(rng.standard_normal((3, 8))).astype(np.float32)
    docs[17] = docs[4]  # an exact tie: the lower id ranks first
    brute = []
    for d in range(len(docs)):
        score = sum(max(float(q @ t) for t in docs[d]) for q in query)
        brute.append((-round(score, 9), d))
    expected = [d for _, d in sorted(brute)[:10]]
    assert cp.exact_topk(query, docs, 10).tolist() == expected

    allowed = np.arange(len(docs)) % 3 == 0
    expected = [d for _, d in sorted(b for b in brute if allowed[b[1]])[:10]]
    assert cp.exact_topk(query, docs, 10, allowed).tolist() == expected


def test_writes_never_change_an_exact_answer():
    c = cp.make_corpus(5, 480, 8, 10)
    toks, topics = cp.fresh_docs(c, 50)
    assert set(topics.tolist()) <= set(range(cp.FRESH_TOPIC0, cp.TOPICS))
    everything = np.concatenate([c.tokens, toks])
    keep = np.ones(len(everything), dtype=bool)
    keep[c.victims[:40]] = False  # removed
    all_topics = np.concatenate([c.topics, topics])
    for q in c.queries:
        allowed = keep if q.topic is None else keep & (all_topics == q.topic)
        assert cp.exact_topk(q.tokens, everything, 10, allowed).tolist() == q.truth.tolist()


def _metric_table(kind: str) -> dict:
    return {m["name"]: m["unit"] for m in BENCHMARK[kind]}


def test_benchmark_json_matches_the_code():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(wl.WORKLOADS)
    assert _metric_table("end_to_end") == wl.END_TO_END
    assert _metric_table("per_layer") == wl.PER_LAYER


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(wl.WORKLOADS))
def test_workload_emits_every_metric(workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "2", "--trace", str(trace), "--size", "toy"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["correct"], proc.stdout
    assert summary["failed"] == 0 and summary["attempted"] >= 1
    table = _metric_table("per_layer" if trace else "end_to_end")
    assert {n: m["unit"] for n, m in summary["metrics"].items()} == table
    for name, m in summary["metrics"].items():
        assert isinstance(m["value"], float) and np.isfinite(m["value"]), name
        if not trace:
            assert m["value"] > 0, name
