"""Posting-at-a-time block-max WAND cursors — the test reference for the
doc-sharded batch kernel in ``sparksearch.wand``.

This is the reference-faithful DAAT semantics: chunk-granular ``next_geq``
skipping via per-chunk ``last_doc_id`` (hw3/DataLoader.cpp:793-806) plus our
per-chunk score bounds, a bounded top-k heap (hw3/DataLoader.cpp:636-671)
with the tie-break pinned to (score desc, doc_id asc), and the min-df seed
conjunctive probe (hw3/DataLoader.cpp:393-428, 773-864).  It runs in the
driver over collected blocks (:func:`cursor_topk`); its chunk counters show
how much decode chunk-granular skipping saves.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd

from ..bm25 import bm25_idf_py
from ..codec import chunk_offsets, decode_chunk, tf_norm
from ..constants import CONJUNCTIVE, TOP_K
from ..wand import _disjunctive_bound


class TermCursor:
    """Lazy CHUNK-granular cursor over one term's block sequence (ascending
    doc_id).  Skip metadata is per 64-posting chunk — last_doc_id (the
    reference's skip key, hw3/DataLoader.cpp:793-806) plus our per-chunk
    score bound — so next_geq never decodes a skipped chunk, and the WAND
    upper bound is the suffix max over remaining chunks (finer than the
    per-block bound: rare-term conjunctive queries skip inside blocks)."""

    __slots__ = ("weight", "idf", "avg_dl", "chunk_last", "suffix_bound", "chunk_src",
                 "ci", "pi", "_docs", "_scores", "exhausted",
                 "chunks_total", "chunks_decoded")

    def __init__(self, term_blocks: pd.DataFrame, weight: float, idf: float, avg_dl: float):
        tb = term_blocks.sort_values(["bucket", "block_id"])
        has_chunk_meta = "chunk_max_norms" in tb.columns
        lasts, bounds, srcs = [], [], []
        for b in tb.itertuples(index=False):
            n_chunks = len(b.last_doc_ids)
            s, d_end, t_end, l_end = chunk_offsets(
                np.asarray(b.docid_sizes), np.asarray(b.tf_sizes), np.asarray(b.dl_sizes)
            )
            if has_chunk_meta:
                cmax = np.asarray(b.chunk_max_norms, np.float64)
                cmin = np.asarray(b.chunk_min_norms, np.float64)
            else:  # index persisted before chunk metadata: block-level bound
                cmax = np.full(n_chunks, float(b.max_tf_norm))
                cmin = np.full(n_chunks, float(b.min_tf_norm))
            # same op shape as the score computation ((w*idf)*norm) so the
            # fp-monotonicity bound argument holds exactly
            bounds.append((weight * idf) * (cmax if idf >= 0 else cmin))
            lasts.append(np.asarray(b.last_doc_ids, np.int64))
            payload = bytes(b.payload)
            for i in range(n_chunks):
                srcs.append((payload, int(s[i]), int(d_end[i]), int(t_end[i]), int(l_end[i])))
        self.chunk_last = np.concatenate(lasts) if lasts else np.zeros(0, np.int64)
        if len(self.chunk_last) > 1 and (np.diff(self.chunk_last) < 0).any():
            # next_geq binary-searches chunk_last, which is only sound when
            # chunk doc ranges are disjoint and ascending — guaranteed by the
            # batch build (doc-sorted within (term, bucket)) and by the
            # streaming build's bucket-aligned batch offsets.  An index
            # violating it (e.g. written by a pre-alignment streaming build)
            # must fail loudly, not silently drop postings.
            raise ValueError(
                "posting blocks have overlapping/descending doc ranges; "
                "rebuild or compact the index (buckets must be doc-disjoint)"
            )
        chunk_bound = np.concatenate(bounds) if bounds else np.zeros(0)
        self.suffix_bound = (
            np.maximum.accumulate(chunk_bound[::-1])[::-1] if len(chunk_bound) else chunk_bound
        )
        self.chunk_src = srcs
        self.chunks_total = len(srcs)
        self.chunks_decoded = 0
        self.weight = weight
        self.idf = idf
        self.avg_dl = avg_dl
        self.ci = -1
        self.pi = 0
        self._docs = None
        self.exhausted = self.chunks_total == 0
        if not self.exhausted:
            self._load(0)

    def _load(self, ci: int) -> None:
        payload, s, d_end, t_end, l_end = self.chunk_src[ci]
        docs, tfs, dls = decode_chunk(payload, s, d_end, t_end, l_end)
        self._docs = docs
        # score the whole chunk vectorized on load (64 values) — the
        # per-posting score read is then a plain array index; scalar
        # (weight*idf) binds first (left-assoc), matching bm25.py's pinned
        # association
        self._scores = (self.weight * self.idf) * tf_norm(
            tfs.astype(np.float64), dls.astype(np.float64), self.avg_dl
        )
        self.ci = ci
        self.pi = 0
        self.chunks_decoded += 1

    def doc(self) -> int:
        return int(self._docs[self.pi])

    def upper_bound(self) -> float:
        """Score bound for the REMAINING chunks (current onward)."""
        return float(self.suffix_bound[self.ci])

    def next_geq(self, target: int) -> None:
        """Advance to first posting with doc_id >= target, skipping whole
        chunks via last_doc_id metadata (skipped chunks never decode)."""
        if self.exhausted:
            return
        if self.chunk_last[self.ci] < target:
            nci = int(np.searchsorted(self.chunk_last, target, side="left"))
            if nci >= self.chunks_total:
                self.exhausted = True
                return
            self._load(nci)
            # chunk_last[nci] >= target ⇒ a qualifying posting exists here
            self.pi = int(np.searchsorted(self._docs, target))
        else:
            self.pi = int(np.searchsorted(self._docs[self.pi :], target) + self.pi)

    def advance(self) -> None:
        self.pi += 1
        if self.pi >= len(self._docs):
            if self.ci + 1 >= self.chunks_total:
                self.exhausted = True
            else:
                self._load(self.ci + 1)

    def score_current(self) -> float:
        return float(self._scores[self.pi])


class _TopK:
    """Bounded heap, tie-break (score desc, doc_id asc) — the distributed twin
    of hw3/DataLoader.cpp:636-671 with ties pinned."""

    def __init__(self, k: int):
        self.k = k
        self.heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap

    def theta(self) -> float:
        return self.heap[0][0] if len(self.heap) >= self.k else float("-inf")

    def offer(self, doc_id: int, score: float) -> None:
        item = (score, -doc_id)
        if len(self.heap) < self.k:
            heapq.heappush(self.heap, item)
        elif item > self.heap[0]:
            heapq.heapreplace(self.heap, item)

    def ranked(self) -> list[tuple[int, float]]:
        return [(-nd, s) for s, nd in sorted(self.heap, key=lambda x: (-x[0], -x[1]))]


def wand_topk_query(cursors: list[TermCursor], k: int) -> list[tuple[int, float]]:
    top = _TopK(k)
    cursors = [c for c in cursors if not c.exhausted]
    while cursors:
        cursors.sort(key=lambda c: c.doc())
        acc_pos = 0.0
        best_single = float("-inf")
        pivot_idx = -1
        theta = top.theta()
        for i, c in enumerate(cursors):
            ub = c.upper_bound()
            if ub > 0.0:
                acc_pos += ub
            if ub > best_single:
                best_single = ub
            # prefix bound is nondecreasing in i, so the first crossing
            # is the pivot (docs below it cannot beat θ)
            if _disjunctive_bound(acc_pos, best_single) > theta:
                pivot_idx = i
                break
        if pivot_idx < 0:
            break  # no doc can beat θ
        pivot_doc = cursors[pivot_idx].doc()
        if cursors[0].doc() == pivot_doc:
            score = 0.0
            for c in cursors:
                if c.doc() == pivot_doc:
                    score += c.score_current()
                    c.advance()
                elif c.doc() > pivot_doc:
                    break
            top.offer(pivot_doc, score)
        else:
            for c in cursors:
                if c.doc() >= pivot_doc:
                    break
                c.next_geq(pivot_doc)
        cursors = [c for c in cursors if not c.exhausted]
    return top.ranked()


def conjunctive_topk_query(cursors: list[TermCursor], n_terms: int, k: int) -> list[tuple[int, float]]:
    """AND via min-df seed + next_geq block skipping — the distributed twin of
    the reference's seed-hash probe with chunk skip (hw3/DataLoader.cpp:393-428,
    773-864)."""
    if len(cursors) < n_terms or any(c.exhausted for c in cursors):
        return []
    top = _TopK(k)
    while not any(c.exhausted for c in cursors):
        candidate = max(c.doc() for c in cursors)
        for c in cursors:
            c.next_geq(candidate)
        if any(c.exhausted for c in cursors):
            break
        if all(c.doc() == candidate for c in cursors):
            top.offer(candidate, sum(c.score_current() for c in cursors))
            for c in cursors:
                c.advance()
    return top.ranked()


def cursor_topk(
    blocks_pdf: pd.DataFrame,
    qterm_rows: list,
    n_docs: int,
    avg_doc_len: float,
    k: int = TOP_K,
) -> dict[int, tuple[list[tuple[int, float]], int, int]]:
    """Top-k of every query in ``qterm_rows`` (``query.query_term_rows``
    rows) over collected blocks (e.g. ``blocks.toPandas()``), one cursor per
    present term.  df is each term's ``n_postings`` sum, idf the one
    ``bm25_idf_py`` definition.  Returns ``{query_id: (ranked [(doc_id,
    score)], chunks_total, chunks_decoded)}``."""
    dfs = blocks_pdf.groupby("term")["n_postings"].sum()
    queries: dict[int, tuple[str, int, list]] = {}
    for r in qterm_rows:
        q = queries.setdefault(int(r["query_id"]), (r["mode"], int(r["n_terms"]), []))
        q[2].append((r["term"], float(r["weight"])))
    out = {}
    for qid, (mode, n_terms, terms) in queries.items():
        cursors = [
            TermCursor(
                blocks_pdf[blocks_pdf["term"] == t], w, bm25_idf_py(int(dfs[t]), n_docs),
                avg_doc_len,
            )
            for t, w in terms
            if t in dfs.index
        ]
        if mode == CONJUNCTIVE:
            ranked = conjunctive_topk_query(cursors, n_terms, k)
        else:
            ranked = wand_topk_query(cursors, k)
        out[qid] = (
            ranked,
            sum(c.chunks_total for c in cursors),
            sum(c.chunks_decoded for c in cursors),
        )
    return out
