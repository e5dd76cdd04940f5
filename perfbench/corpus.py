"""Seeded multi-vector corpus, query pool and exact-MaxSim oracle.

The corpus is a mixture of Gaussians in the shape of
``lintdb_spark/golden.py``: each document draws its tokens from a small
set of cluster centres, the way real ColBERT passages cluster. The
centres double as the index's coarse quantizer (K close to the square
root of the total token count).

Each centre belongs to one of 16 topics and a document draws its
clusters from its topic's centres. The centres are split in two. The
initial corpus and every query use the *stable* centres and topics;
documents written while the index serves reads (``fresh_docs``) use the
*fresh* centres, whose topics no filtered query asks for. Writers also
only remove *victims*: documents in no query's exact top-k, with topics
no filtered query asks for. Together these keep every query's exact answer
fixed while the index changes underneath it, so a search that overlaps
any number of commits can still be checked exactly.

Everything here is numpy and touches no Spark: the oracle must not share
code with the system it checks.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

DIM = 128
TOKENS = 32
CLUSTERS_PER_DOC = 2
TOPICS = 16
# topics [FRESH_TOPIC0, TOPICS) belong to fresh docs only; filtered
# queries ask for topics below FILTER_TOPICS, and victims have topics in
# [FILTER_TOPICS, FRESH_TOPIC0), so no write touches a filtered query's
# candidates, which are few
FILTER_TOPICS = 6
FRESH_TOPIC0 = 12
DOC_NOISE = 0.05
QUERY_NOISE = 0.02
FILTERED_SHARE = 0.3


def unit(x: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(x, axis=-1, keepdims=True)
    n[n == 0] = 1.0
    return x / n


@dataclass
class Query:
    tokens: np.ndarray  # (TOKENS, DIM) float32
    topic: int | None  # TERM filter on `topic`, None for a bare TENSOR query
    truth: np.ndarray  # exact top-k doc ids, best first


@dataclass
class Corpus:
    centers: np.ndarray  # (K, DIM) float32, the coarse quantizer
    cluster_topic: np.ndarray  # (K,) topic of each centre
    tokens: np.ndarray  # (N, TOKENS, DIM) float32, doc id = row
    topics: np.ndarray  # (N,) int64
    queries: list[Query]
    victims: np.ndarray  # doc ids in no query's exact top-k, shuffled
    rng: np.random.Generator  # continues the seeded stream for writers

    @property
    def n_docs(self) -> int:
        return len(self.tokens)


def _topic_of_cluster(n_clusters: int, n_stable: int) -> np.ndarray:
    """Each centre belongs to one topic: stable centres to the query
    topics [0, FRESH_TOPIC0), fresh centres to the rest."""
    c = np.arange(n_clusters)
    fresh = FRESH_TOPIC0 + (c - n_stable) % (TOPICS - FRESH_TOPIC0)
    return np.where(c < n_stable, c % FRESH_TOPIC0, fresh)


def _docs(rng, centers, cluster_topic, topics):
    """Tokens and clusters of one doc per entry of ``topics``: the
    doc's clusters are drawn from its topic's centres, so topics follow
    content as real ones do."""
    n = len(topics)
    picks = np.empty((n, CLUSTERS_PER_DOC), dtype=np.int64)
    for t in np.unique(topics):
        mine = topics == t
        picks[mine] = rng.choice(
            np.flatnonzero(cluster_topic == t), size=(int(mine.sum()), CLUSTERS_PER_DOC)
        )
    which = rng.integers(0, CLUSTERS_PER_DOC, size=(n, TOKENS))
    assign = np.take_along_axis(picks, which, axis=1)
    noise = rng.standard_normal((n, TOKENS, DIM), dtype=np.float32)
    return unit(centers[assign] + DOC_NOISE * noise).astype(np.float32), picks


def maxsim(query: np.ndarray, tokens: np.ndarray) -> np.ndarray:
    """Exact ColBERT MaxSim of one query against every doc: for each
    query token its best dot product over the doc's tokens, summed.
    query (Tq, D), tokens (N, Td, D) -> (N,) float64."""
    n, td, d = tokens.shape
    sims = tokens.reshape(n * td, d) @ query.T  # (N*Td, Tq)
    return sims.reshape(n, td, -1).max(axis=1).sum(axis=1, dtype=np.float64)


def exact_topk(
    query: np.ndarray, tokens: np.ndarray, k: int, allowed: np.ndarray | None = None
) -> np.ndarray:
    """Doc ids of the exact top-k by MaxSim, ties broken by lower id
    (the index's own order). ``allowed`` masks the docs a filter keeps."""
    scores = maxsim(query, tokens)
    if allowed is not None:
        scores = np.where(allowed, scores, -np.inf)
    order = np.lexsort((np.arange(len(scores)), -scores))
    return order[:k]


def make_corpus(seed: int, n_docs: int, n_queries: int, k: int) -> Corpus:
    rng = np.random.default_rng(seed)
    n_clusters = max(2 * TOPICS, int(round((n_docs * TOKENS) ** 0.5)))
    n_stable = n_clusters - n_clusters // 4
    centers = unit(rng.standard_normal((n_clusters, DIM), dtype=np.float32))
    cluster_topic = _topic_of_cluster(n_clusters, n_stable)
    topics = rng.integers(0, FRESH_TOPIC0, size=n_docs).astype(np.int64)
    tokens, picks = _docs(rng, centers, cluster_topic, topics)

    queries = []
    # filtered queries spread evenly through the pool, so any stretch
    # of it has the same mix
    i = np.arange(n_queries)
    filtered = np.floor((i + 1) * FILTERED_SHARE) > np.floor(i * FILTERED_SHARE)
    n_filtered = int(filtered.sum())
    sources = np.empty(n_queries, dtype=np.int64)
    # a filtered query finds only docs of its topic in the clusters it
    # probes, which are its source's own, so the source must share a
    # cluster with 1.5k docs of its topic for the index to fill k rows
    member = np.zeros((n_docs, n_clusters), dtype=np.int32)
    member[np.arange(n_docs)[:, None], picks] = 1
    reach = (((member @ member.T) > 0) & (topics[:, None] == topics[None, :])).sum(axis=1)
    sources[filtered] = rng.choice(
        np.flatnonzero((topics < FILTER_TOPICS) & (reach >= 3 * k // 2)), n_filtered, replace=False
    )
    rest = np.setdiff1d(np.arange(n_docs), sources[filtered])
    sources[~filtered] = rng.choice(rest, n_queries - n_filtered, replace=False)
    for src, filt in zip(sources, filtered):
        topic = int(topics[src]) if filt else None
        queries.append(Query(noised(rng, tokens[src]), topic, None))
    for q in queries:
        allowed = None if q.topic is None else topics == q.topic
        q.truth = exact_topk(q.tokens, tokens, k, allowed)

    protected = topics < FILTER_TOPICS
    for q in queries:
        protected[q.truth] = True
    victims = rng.permutation(np.flatnonzero(~protected))
    return Corpus(centers, cluster_topic, tokens, topics, queries, victims, rng)


def fresh_docs(corpus: Corpus, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(tokens, topics) of n new docs that can never enter a query's
    exact top-k (fresh centres, fresh-only topics)."""
    topics = corpus.rng.integers(FRESH_TOPIC0, TOPICS, size=n).astype(np.int64)
    return _docs(corpus.rng, corpus.centers, corpus.cluster_topic, topics)[0], topics


def noised(rng: np.random.Generator, tokens: np.ndarray) -> np.ndarray:
    """A query that is a noised copy of one doc's tokens."""
    noise = rng.standard_normal(tokens.shape, dtype=np.float32)
    return unit(tokens + QUERY_NOISE * noise).astype(np.float32)
