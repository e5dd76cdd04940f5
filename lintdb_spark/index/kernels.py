"""The PLAID cascade in numpy: the one implementation of the scoring
math every serving path runs (plaid.cpp:38-185, Scorer.cpp:11-63,
KnnNearestCentroids.cpp:38-110).

- probe selection (``top_centroids``): the IVF lists a query opens;
- stage 1 (``plaid_scores``): codes-only PLAID score with the centroid
  threshold;
- the ``num_second_pass`` cut and the final top-k (``rank``), both
  ordered by (score desc, doc_id asc);
- stage 2: residual decode (``decode``, which XTR's token rows share)
  plus MaxSim (``maxsim``), or PQ ADC MaxSim from lookup tables
  (``adc_maxsim``);
- ``cascade``: stage 1 -> cut -> stage 2 -> top-k over one query's
  candidates.

Callers are thin adapters: the per-query pandas UDFs of the Spark
plan, the cogroup cascade of ``Index.search_batch``, and
``serve.local_search``, which the driver-local point search and the
broadcast batch path share. Candidate docs come as aligned per-doc
sequences: ``code_arrs`` (int64 centroid ids, one per token),
``blobs`` (packed residual bytes, token-major fixed-size rows) and
``nts`` (token counts). Docs always have >= 1 token (validateField
rejects empty tensors), so every segment is non-empty.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


def segment_starts(lens: np.ndarray) -> np.ndarray:
    """Start offset of each doc's tokens in the concatenated arrays."""
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    return starts


def top_centroids(
    C: np.ndarray, qmats: dict, k_top_centroids: int, n_probe: int
) -> list[tuple[int, int]]:
    """Probe selection for a whole query batch in a few vectorized
    passes; returns [(qid, centroid_id), ...] in per-query rank order.
    ``C`` is the float64 centroid matrix.

    Each query token nominates its top ``k_top_centroids`` centroids
    (ranked on round(score, 6), ascending centroid id on ties); a
    centroid's score is the max over its nominations' RAW scores,
    non-positive scores are dropped, and the top ``n_probe`` survive by
    (round(score, 6) desc, centroid_id asc) — the semantics the
    declarative twin ann.top_centroids and the oracle pin. Tie-breaks
    survive vectorization exactly: rounded scores live on the 1e-6
    grid, so rint(r6 * 1e6) is an exact integer image of r6, and the
    composite key ``K6 * M + (M - 1 - cid)`` is a strict total order
    equal to (r6 desc, cid asc) — argpartition over it selects
    precisely the stable-argsort head.

    Memory: queries are processed in ~64 MB score-matrix chunks, so a
    10k-query batch never materializes a (total_tokens x M) matrix."""
    M = C.shape[0]
    k_top = min(max(k_top_centroids, 1), M)
    cid_tail = (M - 1 - np.arange(M, dtype=np.int64))[None, :]
    qids = list(qmats)
    chunk_tokens = max(1, (64 << 20) // (8 * max(M, 1)))
    out: list[tuple[int, int]] = []
    i = 0
    while i < len(qids):
        j, tok = i, 0
        while j < len(qids) and (
            tok == 0 or tok + np.asarray(qmats[qids[j]]).shape[0] <= chunk_tokens
        ):
            tok += np.asarray(qmats[qids[j]]).shape[0]
            j += 1
        chunk_q = qids[i:j]
        i = j
        Qall = np.concatenate(
            [np.asarray(qmats[q], dtype=np.float64) for q in chunk_q], axis=0
        )
        scores = Qall @ C.T  # (tok, M)
        # rint(x * 1e6) == rint(round(x, 6) * 1e6): numpy's round IS
        # scale-rint-unscale, so the integer image is computed directly
        key = np.rint(scores * 1e6).astype(np.int64) * M + cid_tail
        nom = np.argpartition(-key, k_top - 1, axis=1)[:, :k_top]
        vals = np.take_along_axis(scores, nom, axis=1)
        pos = 0
        for q in chunk_q:
            t = np.asarray(qmats[q]).shape[0]
            c_ids = nom[pos : pos + t].ravel()
            v = vals[pos : pos + t].ravel()
            pos += t
            order = np.argsort(c_ids, kind="stable")
            c_s, v_s = c_ids[order], v[order]
            uniq, first = np.unique(c_s, return_index=True)
            high = np.maximum.reduceat(v_s, first)
            m = high > 0
            # the final ranking uses Python round() like the sequential
            # form (candidate sets are <= n_tok * k_top entries)
            ranked = sorted(
                zip(uniq[m].tolist(), high[m].tolist()),
                key=lambda e: (-round(float(e[1]), 6), e[0]),
            )
            out.extend((int(q), int(c)) for c, _ in ranked[:n_probe])
    return out


def plaid_scores(qc: np.ndarray, code_arrs, threshold: float) -> np.ndarray:
    """Stage 1 (plaid.cpp:38-95): per query token the max centroid score
    over the doc's codes, summed over query tokens. ``qc`` is the
    (n_q_tokens, n_centroids) query-centroid score matrix.

    One gather plus a segment max (reduceat) covers every doc at once;
    duplicate codes within a doc don't change a per-token max, so the
    reference's unique() is unnecessary. The threshold prunes, never
    disables: a centroid column whose best query-token score is below it
    becomes -inf (score_documents_by_codes skips such codes,
    plaid.cpp:78-84), and a doc with no surviving column scores 0."""
    if len(code_arrs) == 0:
        return np.empty(0, dtype=np.float64)
    lens = np.fromiter((len(c) for c in code_arrs), dtype=np.int64, count=len(code_arrs))
    M = qc[:, np.concatenate(code_arrs)]
    if threshold > 0.0:
        M = np.where(M.max(axis=0, keepdims=True) >= threshold, M, -np.inf)
    s = np.maximum.reduceat(M, segment_starts(lens), axis=1).sum(axis=0)
    return np.where(np.isfinite(s), s, 0.0).astype(np.float64)


def rank(scores: np.ndarray, doc_ids: np.ndarray, n: int) -> np.ndarray:
    """Positions of the ``n`` best entries by (score desc, doc_id asc) —
    the order of both the num_second_pass cut and the final top-k."""
    return np.lexsort((doc_ids, -scores))[: max(int(n), 0)]


def decode(
    C: np.ndarray, quant, blob: bytes, codes: np.ndarray, nts: np.ndarray,
    normalize: bool,
) -> np.ndarray:
    """Reconstruct doc tokens (centroid + decoded residual), one row per
    token, L2-normalized when ``normalize`` (plaid.h:56's flag).
    ``blob`` is the docs' residual bytes joined and ``codes`` their
    concatenated centroid ids: one decode and one gather for all docs."""
    toks = quant.decode(blob, int(nts.sum())) + C[codes]
    if normalize:
        norms = np.linalg.norm(toks, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        toks = toks / norms
    return toks


def maxsim(
    Q: np.ndarray, C: np.ndarray, quant, blob: bytes, codes: np.ndarray,
    nts: np.ndarray, normalize: bool,
) -> np.ndarray:
    """Stage 2 exact MaxSim (plaid.cpp:119-185 + Scorer.cpp:11-63):
    sum_q max_d <q, d> over the decoded tokens — one
    (n_q_tokens x total_tokens) matmul and a segment max."""
    return _segment_maxsum(Q @ decode(C, quant, blob, codes, nts, normalize).T, nts)


def adc_maxsim(
    qc: np.ndarray, tables: np.ndarray, quant, blob: bytes, codes: np.ndarray,
    nts: np.ndarray,
) -> np.ndarray:
    """Stage 2 MaxSim via PQ ADC lookup tables (PQDistanceTables.cpp:
    10-43): a doc token's score is <q, centroid> (a column of ``qc``)
    plus its m table lookups in ``tables`` = quant.inner_prod_tables(Q)
    — never reconstructing floats. Equals ``maxsim(normalize=False)``
    up to float association. The m lookups accumulate one at a time: a
    single (n_q, N, m) fancy-index would peak at m x the memory."""
    pqcodes = quant.unpack_codes(blob, int(nts.sum()))  # (N, m)
    S = qc[:, codes].copy()
    for i in range(tables.shape[1]):
        S += tables[:, i, :][:, pqcodes[:, i]]
    return _segment_maxsum(S, nts)


def _segment_maxsum(S: np.ndarray, nts: np.ndarray) -> np.ndarray:
    return np.maximum.reduceat(S, segment_starts(nts), axis=1).sum(axis=0).astype(
        np.float64
    )


@dataclass
class Ranked:
    """One query's cascade: ``s1`` per candidate, the ``survivors`` of
    the num_second_pass cut, and the top-k as candidate positions
    (``rows``, best first) with their MaxSim ``scores``."""

    s1: np.ndarray
    survivors: np.ndarray
    rows: np.ndarray
    scores: np.ndarray


def cascade(
    Q: np.ndarray, C: np.ndarray, quant, doc_ids: np.ndarray, code_arrs, blobs,
    nts: np.ndarray, *, threshold: float, num_second_pass: int, k: int,
    use_adc: bool, normalize: bool, combine=None,
) -> Ranked:
    """The full per-query cascade: PLAID stage 1 -> num_second_pass cut
    -> stage-2 MaxSim (ADC or decode) -> top-k. ``combine`` maps the
    PLAID scores to the tree's stage-1 score before the cut (an AND
    with TERM children adds their 1.0s in child order); the final
    score is the MaxSim alone, as in the Spark plan."""
    qc = Q @ C.T  # (n_q_tokens, n_centroids)
    s1 = plaid_scores(qc, code_arrs, threshold)
    if combine is not None:
        s1 = combine(s1)
    surv = rank(s1, doc_ids, num_second_pass)
    if len(surv) == 0:
        empty = np.empty(0, dtype=np.int64)
        return Ranked(s1, surv, empty, np.empty(0, dtype=np.float64))
    nts_s = nts[surv]
    codes_s = np.concatenate([code_arrs[i] for i in surv])
    blob_s = b"".join(blobs[i] for i in surv)
    if use_adc:
        s2 = adc_maxsim(qc, quant.inner_prod_tables(Q), quant, blob_s, codes_s, nts_s)
    else:
        s2 = maxsim(Q, C, quant, blob_s, codes_s, nts_s, normalize)
    keep = rank(s2, doc_ids[surv], k)
    return Ranked(s1, surv, surv[keep], s2[keep])
