"""BM25 top-k over the compressed block index: one doc-sharded kernel.

The reference evaluates queries TAAT-exhaustively (hw3/DataLoader.cpp:372-430)
with chunk skipping only in the conjunctive probe (hw3/DataLoader.cpp:793-864
via per-chunk last_docID).  Here both entry points — :func:`wand_topk` (one
interactive call) and :func:`wand_topk_batch` (a query batch, the
reference's driver-side query loop) — run the same kernel,
:func:`_batch_walk_shard`: the vocabulary-pruned index is shuffled
once into doc-range shards, each shard walks its buckets in ascending doc
order, decodes every matched term once, scores ALL queries against the
decoded arrays range-at-a-time, and keeps a per-query running top-k whose
k-th score is a θ.  That running θ is the ONE skip rule: a later bucket
whose per-(bucket, term) score bound falls below a query's θ skips that
query's dense evaluation (the reference's heap-threshold tightening,
hw3/DataLoader.cpp:636-671, at bucket granularity).  A final window merges
the shards' k rows per query.  The posting-at-a-time cursor WAND is kept
only as a test reference (``sparksearch.oracle.wand_cursor``).

Per-posting contributions use the ONE pinned floating-point association
``(weight * idf) * tf_norm`` (bm25.py module docstring), so a single
contribution is bit-identical across the kernel, the exhaustive DataFrame
scorer (query.py), the pure-Python oracles, and the DuckDB oracle SQL.
Every entry point inserts a query's terms in sorted order and the kernel
groups each bucket's terms in sorted order, so a query scored on the same
kernel path (per-query adds below 32 survivors in a bucket, the matrix
path above) gets bit-identical sums from every entry point.  Against the
exhaustive scorer (Spark aggregates in partition order) raw-score equality
is only guaranteed for queries with <= 2 distinct terms (two-operand
addition commutes exactly); the RANK contract holds at micro resolution
(round(score * 1e6) desc, doc_id asc) — the resolution the driver oracle
pins.  Within one call, ranking is deterministic at raw resolution with
the doc_id tie-break.

Upper bounds with the reference's UNCLAMPED idf (negative for df > N/2):
contribution = (weight * idf) * tf_norm, so the per-block bound is
``(weight * idf) * (max_tf_norm  if idf >= 0 else  min_tf_norm)`` —
the SAME association as the score sites (a differently-associated bound
can land 1 ulp below a true contribution and wrongly prune a θ-tie) —
a bound CONDITIONAL on the doc containing the term.  Combining per-term
bounds across a disjunctive query must respect that a doc may simply LACK
a negative-bound term (contributing 0 > bound), so the combined bound is
``Σ max(bd_t, 0)`` when any bd_t > 0, else ``max_t bd_t`` (the doc must
contain at least one query term).  Summing raw (possibly negative) bounds
under-estimates and can skip a winning pos-only doc — see
:func:`_disjunctive_bound` and tests/test_wand.py::test_negative_idf_mix.
Conjunctive evaluation forces every term present, so there the plain sum
is sound (and tighter).

Rank identity under skipping: θ is always an ACHIEVED k-th score within
the shard (a lower bound on the final k-th), and a bucket is skipped only
when its bound sits strictly below θ (minus a float-safety margin, one
micro quantum more under micro ranking), so a skipped doc could not even
tie the final k-th.
"""

from __future__ import annotations

import threading
import weakref

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .bm25 import bm25_idf_py
from .codec import decode_block, tf_norm
from .constants import CONJUNCTIVE, TOP_K

# guards mutation of _LEX_CACHE: a long-running batch service may drive
# wand_topk_batch from several driver threads (ADVICE r4).  Spark collects
# happen OUTSIDE the lock — a lost race costs one redundant lexicon job,
# never a wrong answer.
_CACHE_LOCK = threading.Lock()

# {lexicon DataFrame -> {term -> df}} incremental cache for the driver-side
# df/idf resolution in wand_topk / wand_topk_batch: a batch service resolves
# many query batches against one immutable lexicon snapshot, and each resolve
# was one collect JOB — a fixed serial driver cost per call (profiled ~0.2 s)
# that capped measured short-phase 4x-core scaling.  Only terms not yet
# cached are fetched; absent terms cache as df=0 so they are never re-probed.
_LEX_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_LEX_CACHE_MAX_TERMS = 1 << 16


def _lexicon_dfs(lexicon: DataFrame, vocab: list[str]) -> dict[str, int]:
    """df counts for ``vocab`` from the lexicon, incrementally cached per
    lexicon DataFrame object.  WeakKeyDictionary: entries die with the
    DataFrame, so a rebuilt lexicon (a new object) can never serve stale
    counts.  The per-DataFrame dict is cleared if it would outgrow
    ``_LEX_CACHE_MAX_TERMS`` (query vocabularies are tiny; the bound only
    guards a pathological unbounded-vocabulary service)."""
    with _CACHE_LOCK:
        cache = _LEX_CACHE.setdefault(lexicon, {})
        out = {t: cache[t] for t in vocab if t in cache}
    missing = [t for t in vocab if t not in out]
    if missing:
        found = {
            r["term"]: int(r["df"])
            for r in lexicon.select("term", "df")
            .filter(F.col("term").isin(missing))
            .collect()
        }
        for t in missing:
            out[t] = found.get(t, 0)
        with _CACHE_LOCK:
            # answer from `out` (complete by construction) BEFORE the bound
            # clears the cache: clearing then refilling only `missing` would
            # drop already-cached vocab terms mid-call
            if len(cache) + len(missing) > _LEX_CACHE_MAX_TERMS:
                cache.clear()
            for t in missing:
                cache[t] = out[t]
    return out

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _micro_i64(scores: np.ndarray) -> np.ndarray:
    """round(score * 1e6) half-away-from-zero — the repo-wide *_micro
    convention (matches Spark F.round HALF_UP and DuckDB round())."""
    v = scores * 1e6
    return np.where(v >= 0, np.floor(v + 0.5), -np.floor(-v + 0.5)).astype(np.int64)


def _disjunctive_bound(acc_pos: float, best_single: float) -> float:
    """Sound upper bound for a doc containing >=1 of a term set whose
    per-term presence-conditional bounds have positive-sum ``acc_pos`` and
    max ``best_single`` (module docstring: negative-bound terms may be
    absent and contribute 0, so they never tighten a disjunctive bound)."""
    return acc_pos if acc_pos > 0.0 else best_single


# per-shard candidate rows of wand_topk_batch, which wand_topk also runs:
# both entries share this one kernel, so their scores are bit-identical by
# construction (the fp-determinism contract, bm25.py module docstring).
_BATCH_CAND_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)
_BATCH_EMPTY = {"query_id": np.int32, "doc_id": np.int64, "score": np.float64}
# stats_out keys, in _batch_walk_shard's ``accs`` order
_STATS_KEYS = ("chunks_total", "chunks_decoded", "query_evals_total", "query_evals_skipped")

# wand_topk(with_stats=True): the call's stats_out counters appended to every row
TOPK_STATS_SCHEMA = T.StructType(
    list(TOPK_SCHEMA.fields) + [T.StructField(c, T.LongType(), False) for c in _STATS_KEYS]
)


def _merge_shards(cands: DataFrame, k: int, micro_rank: bool) -> DataFrame:
    """Final merge window over the shards' ≤k candidate rows per query:
    (query_id, rank, doc_id, score), ranked (score desc, doc_id asc) on
    the micro-rounded key under ``micro_rank``."""
    rank_col = (
        F.round(F.col("score") * 1e6, 0).cast("long") if micro_rank else F.col("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc(rank_col), F.asc("doc_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def _query_bound(q: dict, term_stats: dict) -> float | None:
    """Score bound for one query over one bucket, from per-(bucket, term)
    max/min tf_norm; None = the query cannot match here at all.  Same term
    order and multiplication shape as the scoring loop, so the bound
    dominates every achieved score under fp monotonicity."""
    present = [t for t in q["terms"] if t in term_stats]
    if not present:
        return None
    if q["mode"] == CONJUNCTIVE:
        if len(present) < q["n_terms"]:
            return None
        acc = 0.0
        for t in present:
            w, idf = q["terms"][t]
            mx, mn = term_stats[t]
            acc += (w * idf) * (mx if idf >= 0 else mn)
        return acc
    acc_pos, best_single = 0.0, float("-inf")
    for t in present:
        w, idf = q["terms"][t]
        mx, mn = term_stats[t]
        bd = (w * idf) * (mx if idf >= 0 else mn)
        if bd > 0.0:
            acc_pos += bd
        if bd > best_single:
            best_single = bd
    return _disjunctive_bound(acc_pos, best_single)


def _batch_score_bucket(
    pdf: pd.DataFrame,
    qitems,
    run_theta: dict,
    collect,
    avg_doc_len: float,
    k: int,
    micro_rank: bool,
) -> tuple[int, int]:
    """Score every query of ``qitems`` against ONE bucket's blocks (see
    wand_topk_batch's docstring for the architecture).  Decodes each term
    once, builds dense per-term accumulators, θ-skips against the shard's
    running θ in ``run_theta``, then either the BLAS matrix path (≥32
    survivors) or per-query dense vector adds.  Returns (evals, skipped):
    the queries that could match this bucket, and those θ-skipped."""
    # decode each term once for this bucket; track per-term max/min tf_norm
    # over its blocks for the bound check.  Terms go in sorted order so the
    # matrix path's term axis does not depend on shuffle row order.
    decoded: list[tuple[str, np.ndarray, np.ndarray]] = []
    term_stats: dict[str, tuple[float, float]] = {}
    lo = None
    hi = None
    for term, tb in pdf.groupby("term", sort=True):
        tb = tb.sort_values(["bucket", "block_id"])
        d_parts, n_parts = [], []
        for b in tb.itertuples(index=False):
            docs, tfs, dls = decode_block(
                bytes(b.payload),
                np.asarray(b.docid_sizes),
                np.asarray(b.tf_sizes),
                np.asarray(b.dl_sizes),
            )
            d_parts.append(docs)
            n_parts.append(
                tf_norm(tfs.astype(np.float64), dls.astype(np.float64), avg_doc_len)
            )
        docs = np.concatenate(d_parts)
        decoded.append((term, docs, np.concatenate(n_parts)))
        term_stats[term] = (
            float(tb["max_tf_norm"].max()),
            float(tb["min_tf_norm"].min()),
        )
        # min/max, not the ends: bincount accumulation does not need the
        # blocks in doc order, so neither does the span
        lo = int(docs.min()) if lo is None else min(lo, int(docs.min()))
        hi = int(docs.max()) if hi is None else max(hi, int(docs.max()))
    if not decoded:
        return 0, 0

    # dense per-bucket accumulators (the reference's TAAT dense score array,
    # hw3/DataLoader.cpp:376-392, applied per doc range): one bincount per
    # TERM, then each query is a few dense vector adds — no per-query
    # sort/unique (that variant saturated the memory bus and anti-scaled at
    # 32 cores).  Sparse-span guard: an unbucketed index (bucket_span=None)
    # or a sparse doc-id subset must not allocate span-sized arrays — remap
    # doc_ids to a compact 0..n_unique-1 space first.
    total_len = sum(len(d) for _, d, _ in decoded)
    span = hi - lo + 1
    if span > max(4 * total_len, 1 << 16):
        id_map = np.unique(np.concatenate([d for _, d, _ in decoded]))
        span = len(id_map)

        def to_off(docs: np.ndarray) -> np.ndarray:
            return np.searchsorted(id_map, docs)

    else:
        id_map = None

        def to_off(docs: np.ndarray) -> np.ndarray:
            return (docs - lo).astype(np.int64)

    term_dense: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for term, docs, norms in decoded:
        off = to_off(docs)
        dn = np.bincount(off, weights=norms, minlength=span)
        mask = np.zeros(span, np.int16)
        mask[off] = 1
        term_dense[term] = (dn, mask)

    survivors: list[tuple[int, dict, list[str]]] = []
    n_evals = n_skipped = 0
    for qid, q in qitems:
        present = [t for t in q["terms"] if t in term_dense]
        if not present:
            continue
        if q["mode"] == CONJUNCTIVE and len(present) < q["n_terms"]:
            continue
        n_evals += 1
        # θ = the shard's running k-th best ACHIEVED score, a sound lower
        # bound on the final k-th
        tq = run_theta.get(qid)
        if tq is not None:
            bound = _query_bound(q, term_stats)
            # strict less-than with a float-safety margin (one micro quantum
            # under micro_rank so micro ties are never skippable): skipped
            # work, never results
            margin = 1e-9 * max(1.0, abs(tq)) + (1e-6 if micro_rank else 0.0)
            if bound is not None and bound < tq - margin:
                n_skipped += 1
                continue
        survivors.append((qid, q, present))

    def emit(qid: int, docs_sel: np.ndarray, scores_sel: np.ndarray) -> None:
        if len(docs_sel) > k:  # local top-k, tie (score desc, doc asc)
            rank_key = _micro_i64(scores_sel) if micro_rank else scores_sel
            order = np.lexsort((docs_sel, -rank_key))[:k]
            docs_sel, scores_sel = docs_sel[order], scores_sel[order]
        collect(
            qid,
            (docs_sel + lo if id_map is None else id_map[docs_sel]).astype(np.int64),
            scores_sel,
        )

    if len(survivors) >= 32:
        # matrix path for large query sets: one dgemm per query block
        # replaces thousands of per-query span-length numpy passes (BLAS is
        # cache-blocked; the r2 per-query vector adds saturated the memory
        # bus and anti-scaled at high core counts).  BLAS itself is pinned
        # to 1 thread per worker (session._WORKER_THREAD_PINS) so tasks
        # never oversubscribe cores with nested OMP pools.
        terms_list = list(term_dense)
        t_index = {t: i for i, t in enumerate(terms_list)}
        D = np.stack([term_dense[t][0] for t in terms_list])  # T x span
        # TWO-PHASE cut (bandwidth): the span-wide matmul + mask + k-th-
        # partition passes run in float32 — HALF the bytes of the kernel's
        # dominant passes — with the cut threshold lowered by a rigorous
        # rounding-error bound, then only the surviving ≈k docs per query
        # are re-scored EXACTLY in float64 before emit().  Soundness: for
        # row r the f32 score s32 satisfies |s32 − s64| ≤
        # γ·Σ_t|W[r,t]|·max|D_t| (standard summation bound, γ = 2·T·eps32),
        # so any doc whose exact score ties or beats the exact k-th has
        # s32 ≥ kth32 − 2·err_r; cutting at that threshold keeps every such
        # doc, and emit's exact lexsort (on f64 scores) does the final
        # ranking — f32 never decides an ORDER, only a superset.
        # float32 for the presence-count matmul too: counts are small
        # integers (≤ n_terms ≤ 2^24), exactly representable
        D32 = D.astype(np.float32)
        d_absmax = np.abs(D).max(axis=1)  # (T,) for the error bound
        P = np.stack([term_dense[t][1] for t in terms_list]).astype(np.float32)
        for blk in range(0, len(survivors), 256):  # bound temp memory
            part = survivors[blk : blk + 256]
            nq = len(part)
            W = np.zeros((nq, len(terms_list)))
            B = np.zeros((nq, len(terms_list)), np.float32)
            need = np.empty(nq, np.float32)
            conj = np.empty(nq, bool)
            for r, (qid, q, present) in enumerate(part):
                for t in present:
                    w, idf = q["terms"][t]
                    W[r, t_index[t]] = w * idf
                    B[r, t_index[t]] = 1.0
                need[r] = q["n_terms"]
                conj[r] = q["mode"] == CONJUNCTIVE
            scores = W.astype(np.float32) @ D32
            counts = B @ P  # small-int floats: exact comparisons
            sel_rows = np.where(conj[:, None], counts == need[:, None], counts > 0)
            # per-row f32 rounding-error bound (see comment above)
            err_row = (2.0 * len(terms_list) * np.finfo(np.float32).eps) * (
                np.abs(W) @ d_absmax
            )
            # candidate cut on the EXACT float score (one full-matrix pass):
            # row-wise k-th largest, candidates = all >= it.  Under
            # micro_rank the threshold drops by one micro quantum (+ float-
            # safety) so every doc that could still TIE the k-th micro key
            # survives into emit(), whose exact micro lexsort does the final
            # cut — sound because micro is monotone, so the k-th micro key
            # equals micro(k-th exact score), and s ≤ t - 1e-6 implies
            # micro(s) < micro(t).  (The former full-matrix _micro_i64 pass
            # was one of ~6 span-wide passes per block of a memory-
            # bandwidth-bound kernel.)
            # mask IN PLACE: non-selected cells become -inf inside the f32
            # scores matrix itself, avoiding a second full-width matrix
            # allocation + write
            np.copyto(scores, -np.inf, where=~sel_rows)
            masked = scores
            if span > k:
                kth = np.partition(masked, span - k, axis=1)[:, span - k]
            else:
                kth = np.full(nq, -np.inf, np.float32)
            # threshold = f32 k-th − 2·err (covers both the k-th's own error
            # and a candidate's), − one micro quantum under micro_rank so
            # micro ties survive into emit
            thr = kth.astype(np.float64) - 2.0 * err_row
            if micro_rank:
                thr -= 1e-6 + 1e-9 * np.maximum(1.0, np.abs(kth))
            for r, (qid, q, present) in enumerate(part):
                cand = np.flatnonzero(sel_rows[r] & (masked[r] >= thr[r]))
                if len(cand):
                    # EXACT f64 re-score of the ≈k survivors only
                    emit(qid, cand, W[r] @ D[:, cand])
    else:
        for qid, q, present in survivors:
            score = None
            cnt = None
            for t in present:
                dn, mask = term_dense[t]
                w, idf = q["terms"][t]
                contrib = (w * idf) * dn
                score = contrib if score is None else score + contrib
                cnt = mask.copy() if cnt is None else cnt + mask
            keep = cnt == q["n_terms"] if q["mode"] == CONJUNCTIVE else cnt > 0
            docs_sel = np.flatnonzero(keep)
            if len(docs_sel):
                emit(qid, docs_sel, score[docs_sel])
    return n_evals, n_skipped


def _batch_walk_shard(
    pdf: pd.DataFrame,
    qs: dict,
    avg_doc_len: float,
    k: int,
    micro_rank: bool,
    accs: tuple | None = None,
) -> pd.DataFrame:
    """Walk ONE shard's buckets in ascending doc order keeping a per-query
    RUNNING top-k (see wand_topk_batch's n_shards paragraph); emits ≤k rows
    per query for the final merge window.  ``accs`` = (chunks received,
    chunks decoded, query evals, query evals θ-skipped) accumulators, each
    added to once per shard."""
    qitems = list(qs.items())
    # per-query running top-k across this shard's buckets (merged ≤2k
    # bounded cut per bucket) + running θ once k results exist
    cand: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    run_theta: dict[int, float] = {}

    def collect(qid: int, docs_sel: np.ndarray, scores_sel: np.ndarray) -> None:
        prev = cand.get(qid)
        if prev is not None:
            docs_sel = np.concatenate([prev[0], docs_sel])
            scores_sel = np.concatenate([prev[1], scores_sel])
        if len(docs_sel) > k:
            rank_key = _micro_i64(scores_sel) if micro_rank else scores_sel
            order = np.lexsort((docs_sel, -rank_key))[:k]
            docs_sel, scores_sel = docs_sel[order], scores_sel[order]
        cand[qid] = (docs_sel, scores_sel)
        if len(docs_sel) >= k:
            run_theta[qid] = float(scores_sel.min())

    n_evals = n_skipped = 0
    for _bucket, bpdf in pdf.groupby("bucket", sort=True):
        e, sk = _batch_score_bucket(
            bpdf, qitems, run_theta, collect, avg_doc_len, k, micro_rank
        )
        n_evals += e
        n_skipped += sk
    if accs is not None:
        # _batch_score_bucket decodes every block it is given
        n_chunks = int(pdf["n_chunks"].sum())
        for acc, v in zip(accs, (n_chunks, n_chunks, n_evals, n_skipped)):
            acc.add(v)
    if not cand:
        return pd.DataFrame({c: [] for c in _BATCH_EMPTY}).astype(_BATCH_EMPTY)
    out_q, out_d, out_s = [], [], []
    for qid, (d, s) in cand.items():
        out_q.append(np.full(len(d), qid, np.int32))
        out_d.append(d)
        out_s.append(s)
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            "doc_id": np.concatenate(out_d).astype(np.int64),
            "score": np.concatenate(out_s),
        }
    )


def wand_topk_batch(
    blocks: DataFrame,
    lexicon: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avg_doc_len: float,
    k: int = TOP_K,
    stats_out: dict | None = None,
    micro_rank: bool = False,
    n_shards: int | None = None,
) -> DataFrame:
    """(query_id, rank, doc_id, score): DOC-PARTITIONED batch evaluation —
    the throughput architecture for large query sets.

    A query-sharded plan (join blocks to queries, shuffle by query_id)
    DUPLICATES every block payload shared by Q queries Q times (measured:
    the shuffle, not scoring, dominates past ~10^3 queries/batch).  Here the
    index subset is shuffled ONCE, partitioned by doc-range bucket; the
    query set (tiny: terms, weights, idfs) is broadcast; each bucket
    decodes every matched term ONCE and scores ALL queries against the
    decoded arrays (decode-once-score-many), emitting its local top-k per
    query; a final window top-k merges buckets.  Shuffle volume is the
    vocabulary-pruned index subset + k rows per (query, bucket) — payload
    bytes never fan out with Q.  This is classic document-sharded search:
    each shard answers every query over its doc range.

    Exactness: a doc lives in exactly ONE bucket (bucket = doc_id range),
    so per-bucket scoring is complete per doc (conjunctive count filters
    stay correct) and the global top-k is a merge of per-bucket top-k.
    Rank-identical to the exhaustive scorer (query.topk) and the cursor
    reference (oracle.wand_cursor.cursor_topk), cross-tested.

    ``micro_rank=True`` truncates each shard's local top-k on the
    micro-rounded key (round(score*1e6) half-away, desc, doc_id asc) —
    a TOTAL order, so exactly k rows per shard suffice for any consumer
    that re-ranks on the micro score (the driver entries) with no tie
    slack; the θ-skip margin widens to one micro quantum so skipping can
    never drop a doc that ties at micro resolution.  Emitted scores stay
    exact doubles either way.

    SHARD grouping (``n_shards``, default = spark.sql.shuffle.partitions):
    buckets are grouped by ``bucket mod n_shards`` and one task walks its
    buckets in ascending doc order keeping a per-query RUNNING top-k, so

    * the final merge window receives k rows per (query, shard) instead of
      per (query, bucket) — merge-shuffle volume is O(Q·k·shards), constant
      in corpus size (at 10^4+ buckets the per-bucket emit was the
      dominant shuffle);
    * each query's running k-th-best score is the ONE skip rule: a later
      bucket in the shard whose metadata score bound (per-(bucket, term)
      max/min tf_norm, :func:`_query_bound`) falls below it skips that
      query's dense evaluation, with NO extra Spark jobs — the distributed
      form of the reference's heap threshold tightening as it streams doc
      ranges (hw3/DataLoader.cpp:636-671), i.e. the block-max top-k skip
      of Ding & Suel (SIGIR'11) at bucket granularity.  It is sound
      because θ is an ACHIEVED k-th score; visit order only affects how
      fast it tightens, and the float/micro margins make ties unskippable.
      A shard skips a bucket only after it holds k results, so fewer
      shards skip more.

    ``stats_out`` (optional dict) receives four accumulators:
    ``chunks_total`` / ``chunks_decoded`` (the ``n_chunks`` of every block
    the kernel received / decoded) and ``query_evals_total`` /
    ``query_evals_skipped`` (the (query, bucket) pairs that could match,
    and those the running θ skipped).  Read ``.value`` after an action;
    the counts are per call, and task retries can make them approximate
    (evidence only).

    ``qterms`` may be the usual DataFrame or a plain driver-side list of
    dicts/Rows with the same fields — query batches originate driver-side,
    and a list skips one collect job per call (a fixed serial cost that
    capped measured 4x-core scaling efficiency of short batch phases).
    """
    spark = blocks.sparkSession
    sc = spark.sparkContext
    if isinstance(qterms, list):
        rows = qterms
    else:
        rows = qterms.select("query_id", "term", "weight", "mode", "n_terms").collect()
    vocab = sorted({r["term"] for r in rows})
    lex_rows = _lexicon_dfs(lexicon, vocab)
    # the one idf definition (bm25.py: Python libm, never JVM F.log),
    # computed once per DISTINCT term, not once per (query, term) row
    idf_by_term = {t: bm25_idf_py(lex_rows.get(t, 0), n_docs) for t in vocab}
    all_queries: dict[int, dict] = {}
    # terms inserted in sorted order: the per-query kernel path adds a
    # multi-term sum in insertion order, which must not depend on typing
    for r in sorted(rows, key=lambda r: r["term"]):
        q = all_queries.setdefault(
            int(r["query_id"]), {"mode": r["mode"], "n_terms": int(r["n_terms"]), "terms": {}}
        )
        q["terms"][r["term"]] = (float(r["weight"]), idf_by_term[r["term"]])
    # signature dedup: real batch workloads repeat queries (retries, head
    # queries, templated expansions) — identical (mode, weighted term bag)
    # signatures are evaluated ONCE and the ranked result is replicated to
    # every member query_id by a tiny broadcast join at the end.  The
    # representative is the smallest qid so output is deterministic.
    group_of: dict[int, list[int]] = {}
    _sig_rep: dict[tuple, int] = {}
    for qid in sorted(all_queries):
        q = all_queries[qid]
        sig = (q["mode"], q["n_terms"], tuple(sorted(q["terms"].items())))
        rep = _sig_rep.setdefault(sig, qid)
        group_of.setdefault(rep, []).append(qid)
    queries = {qid: all_queries[qid] for qid in group_of}
    bq = sc.broadcast(queries)

    if n_shards is None:
        n_shards = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    sel = blocks.filter(F.col("term").isin(vocab)).withColumn(
        "shard", F.pmod(F.col("bucket"), F.lit(int(n_shards)))
    )

    accs = None
    if stats_out is not None:
        accs = tuple(sc.accumulator(0) for _ in _STATS_KEYS)
        stats_out.update(zip(_STATS_KEYS, accs))

    def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        return _batch_walk_shard(pdf, bq.value, avg_doc_len, k, micro_rank, accs)

    cands = sel.groupBy("shard").applyInPandas(per_shard, schema=_BATCH_CAND_SCHEMA)
    ranked = _merge_shards(cands, k, micro_rank)
    if len(all_queries) == len(group_of):
        return ranked  # no duplicate signatures
    mapping = spark.createDataFrame(
        [(rep, qid) for rep, qids in group_of.items() for qid in qids],
        "rep int, query_id int",
    )
    return (
        ranked.withColumnRenamed("query_id", "rep")
        .join(F.broadcast(mapping), "rep")
        .select("query_id", "rank", "doc_id", "score")
    )


def wand_topk(
    blocks: DataFrame,
    lexicon: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avg_doc_len: float,
    k: int = TOP_K,
    with_stats: bool = False,
) -> DataFrame:
    """(query_id, rank, doc_id, score) over the compressed index: the
    interactive entry to the one doc-sharded kernel (:func:`wand_topk_batch`,
    raw-score ranking).

    With ``with_stats`` the result is collected and returned as a local
    DataFrame (TOPK_STATS_SCHEMA) whose every row also carries the call's
    four ``stats_out`` counters (:func:`wand_topk_batch`, ``_STATS_KEYS``).
    The counts are per CALL — per query for one-query calls, the
    interactive shape — and task retries can make them approximate.
    """
    if not with_stats:
        return wand_topk_batch(blocks, lexicon, qterms, n_docs, avg_doc_len, k=k)
    stats: dict = {}
    rows = wand_topk_batch(
        blocks, lexicon, qterms, n_docs, avg_doc_len, k=k, stats_out=stats
    ).collect()
    extra = tuple(int(stats[c].value) for c in _STATS_KEYS)
    return blocks.sparkSession.createDataFrame(
        [tuple(r) + extra for r in rows], TOPK_STATS_SCHEMA
    )
