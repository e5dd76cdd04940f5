"""Driver-local serving state: one tenant's snapshot of one vector
field, held in the driver process so a point search scores there with
no Spark job — the analogue of the reference answering a query inside
its own process from posting lists hot in RocksDB's block cache
(index.cpp:360-405; REPOSE, ICDE 2021, scores against a local index
and merges top-k at the driver).

A ``ServeState`` belongs to one committed snapshot (the Index keys it
on the tenant, the field and the identity of the adopted meta dict)
and its data is never mutated after, so a search that grabbed one
reads exactly one generation. It is built from Spark once, then
carried from commit to commit: an in-process commit that names its
delta (rows appended, ids removed, keys replaced, or nothing) derives
the next snapshot's state from the parent's (``carry_rows``). It
holds:

- the tenant's doc blobs (codes, residual bytes, n_tokens per doc);
- postings by centroid, inverted from the docs' codes (the postings
  table is written as the distinct ``explode(codes)``, so this is the
  same relation without another read);
- the tenant's scalar columns, for TERM masks and the stored fields of
  results.

``local_search`` scores one query against a state. The point search
calls it in the driver; ``search_batch`` ships the state to executors
once (``broadcast``) and calls it there once per query.
"""

from __future__ import annotations

import threading
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from lintdb_spark.index import kernels


class DocRows(NamedTuple):
    """One tenant's doc rows as a serve state holds them, doc_id
    ascending: ``code_arrs`` and ``blobs`` hold one entry per doc (its
    centroid codes and residual bytes), ``scalars`` is an Arrow table
    of doc_id and the scalar columns."""

    doc_ids: np.ndarray
    code_arrs: list
    blobs: list
    nts: np.ndarray
    scalars: pa.Table


def doc_rows(table: pa.Table, field: str) -> DocRows:
    """The DocRows of an Arrow table of (doc_id, <field>__codes,
    <field>__residuals, <field>__num_tokens, scalar columns), sorted by
    doc_id."""
    table = table.sort_by("doc_id")
    # per-doc code arrays: zero-copy views into one flat buffer
    codes = table.column(f"{field}__codes").combine_chunks()
    flat = codes.flatten().to_numpy().astype(np.int64, copy=False)
    offs = codes.offsets.to_numpy()
    offs = offs - offs[0]
    return DocRows(
        table.column("doc_id").to_numpy().astype(np.int64),
        [flat[offs[i] : offs[i + 1]] for i in range(len(offs) - 1)],
        table.column(f"{field}__residuals").to_pylist(),
        table.column(f"{field}__num_tokens").to_numpy().astype(np.int64),
        table.drop_columns(
            [f"{field}__codes", f"{field}__residuals", f"{field}__num_tokens"]
        ),
    )


def carry_rows(old: DocRows, drop, new: DocRows | None) -> DocRows:
    """``old`` minus the docs whose id is in ``drop``, plus ``new``,
    doc_id ascending (stable: a kept row sorts before an appended row
    with its id). The kept entries are shared with ``old``, which is
    returned as is when nothing changes."""
    if new is None and not len(drop):
        return old
    keep = np.flatnonzero(~np.isin(old.doc_ids, np.fromiter(drop, dtype=np.int64)))
    src = [(old, keep)] + ([] if new is None else [(new, np.arange(len(new.doc_ids)))])
    doc_ids = np.concatenate([r.doc_ids[idx] for r, idx in src])
    order = np.argsort(doc_ids, kind="stable")

    def cat(name):
        vals = [getattr(r, name)[i] for r, idx in src for i in idx]
        return [vals[i] for i in order]

    return DocRows(
        doc_ids[order],
        cat("code_arrs"),
        cat("blobs"),
        np.concatenate([r.nts[idx] for r, idx in src])[order],
        pa.concat_tables([r.scalars.take(pa.array(idx, type=pa.int64())) for r, idx in src])
        .take(pa.array(order, type=pa.int64()))
        .combine_chunks(),
    )


class ServeState:
    """One (tenant, field) serving snapshot. ``rows`` holds the
    tenant's docs (DocRows), or is None when the size estimate is over
    the broadcast threshold — such a state only remembers
    ``est_bytes``."""

    def __init__(self, key, meta, est_bytes, C, quant, rows: DocRows | None = None):
        self.key, self.meta, self.est_bytes = key, meta, est_bytes
        self.C, self.quant = C, quant
        self.C64 = C.astype(np.float64)
        self.loaded = rows is not None
        self._bc = None
        self._released = False
        self._bc_lock = threading.Lock()
        if rows is None:
            return
        self.doc_ids, self.code_arrs, self.blobs, self.nts, self.scalars = rows
        # postings CSR: distinct (centroid, row) pairs, rows ascending
        # within each centroid's list
        n = len(self.doc_ids)
        lens = np.fromiter(map(len, self.code_arrs), dtype=np.int64, count=n)
        flat = np.concatenate(self.code_arrs) if n else np.empty(0, dtype=np.int64)
        pairs = np.unique(flat * max(n, 1) + np.repeat(np.arange(n, dtype=np.int64), lens))
        cents = pairs // max(n, 1)
        self.post_rows = pairs % max(n, 1)
        self.post_ptr = np.zeros(C.shape[0] + 1, dtype=np.int64)
        np.cumsum(np.bincount(cents, minlength=C.shape[0]), out=self.post_ptr[1:])

    @property
    def rows(self) -> DocRows:
        return DocRows(self.doc_ids, self.code_arrs, self.blobs, self.nts, self.scalars)

    def candidates(self, probes) -> np.ndarray:
        """Rows (ascending, so doc_id ascending) of the docs in any
        probed posting list."""
        lists = [self.post_rows[self.post_ptr[c] : self.post_ptr[c + 1]] for c in probes]
        if not lists:
            return np.empty(0, dtype=np.int64)
        return np.unique(np.concatenate(lists))

    def term_mask(self, rows: np.ndarray, field: str, value) -> np.ndarray:
        """TERM equality over the given rows; NULL never matches."""
        col = self.scalars.column(field).take(pa.array(rows))
        eq = pc.equal(col, pa.scalar(value, type=col.type))
        return pc.fill_null(eq, False).to_numpy(zero_copy_only=False)

    def __getstate__(self):
        # an executor needs the data only: not the driver-side lock and
        # broadcast handle, nor the meta dict the state is keyed on
        d = dict(self.__dict__)
        for name in ("meta", "_bc", "_bc_lock"):
            del d[name]
        return d

    def broadcast(self, sc, per_call):
        """This state as a Spark broadcast, created on first use and
        owned by the state (``release`` unpersists it). Once the state
        is released — a commit or another tenant's search replaced it
        after the caller picked it up — a broadcast it created would
        have no owner left to free it, so it goes out through
        ``per_call`` (``Index._bc``: freed with the caller's result)."""
        with self._bc_lock:
            if self._bc is not None:
                return self._bc
            if self._released:
                return per_call(self)
            self._bc = sc.broadcast(self)
            return self._bc

    def release(self) -> None:
        # unpersist, not destroy: a concurrent request still mid-job on
        # this broadcast can lazily refetch it
        with self._bc_lock:
            self._released = True
            if self._bc is not None:
                try:
                    self._bc.unpersist(blocking=False)
                except Exception:  # noqa: BLE001 — best-effort
                    pass
                self._bc = None


def local_search(state: ServeState, children: list, vec, k: int, opts, use_adc: bool,
                 stored: list[str], log=None, mask=None) -> pa.Table:
    """Score a bare VectorQuery (``children == [vec]``) or an AND of
    TermQuery nodes and one VectorQuery from ``state``. The stage-1
    score sums the children's scores in child order (1.0 per TERM, the
    PLAID score for the vector), as the Spark plan's AND join does; the
    final score is the MaxSim. ``mask``, when given, is a boolean per
    state row: candidates outside it are dropped (search_batch's
    doc_filter). Returns (doc_id, score, *stored) rows, best first.
    ``log(msg, *args)``, when given, receives the expected_id trace."""
    Q = np.asarray(vec.query_tokens, dtype=np.float32)
    probes = [
        c for _, c in kernels.top_centroids(
            state.C64, {0: Q}, opts.k_top_centroids, opts.n_probe
        )
    ]
    rows = state.candidates(probes)
    if mask is not None:
        rows = rows[mask[rows]]
    for node in children:
        if node is not vec:
            rows = rows[state.term_mask(rows, node.field, node.value)]

    def combine(s1):
        out = None
        for node in children:
            v = s1 if node is vec else 1.0
            out = v if out is None else out + v
        return out

    doc_ids = state.doc_ids[rows]
    r = kernels.cascade(
        Q, state.C, state.quant, doc_ids,
        [state.code_arrs[i] for i in rows], [state.blobs[i] for i in rows],
        state.nts[rows],
        threshold=float(opts.centroid_score_threshold),
        num_second_pass=int(opts.num_second_pass), k=k,
        use_adc=use_adc, normalize=bool(opts.normalize), combine=combine,
    )
    if log is not None and opts.expected_id >= 0:
        eid = int(opts.expected_id)
        pos = np.flatnonzero(doc_ids == eid)
        log(
            "expected_id %d: %s", eid,
            f"stage-1 candidate, s1={r.s1[pos[0]]:.6f}" if len(pos)
            else "NOT a stage-1 candidate (outside probed posting lists or "
            "filtered out)",
        )
        log(
            "expected_id %d: %s num_second_pass=%d cut", eid,
            "survived" if len(pos) and pos[0] in r.survivors else "ELIMINATED by",
            opts.num_second_pass,
        )
    top = rows[r.rows]
    out = state.scalars.select(stored).take(pa.array(top, type=pa.int64()))
    return out.add_column(0, "score", pa.array(r.scores, type=pa.float64())).add_column(
        0, "doc_id", pa.array(state.doc_ids[top], type=pa.int64())
    )
