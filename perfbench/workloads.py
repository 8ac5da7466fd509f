"""The two seeded workloads, their inputs and their correctness gate.

``index`` is the write path: bulk index builds alternate with micro-batch
ingests into a streaming index, which is compacted at the end.  ``query`` is
the read path: bulk ``wand_topk_batch`` calls alternate with interactive
single queries that fetch snippets.  Each workload is one client in a closed
loop: the next operation starts when the previous one has returned (and, for
queries, collected) its result.

Inputs are a pure function of the seed: documents come from
``corpus.synthetic_corpus``, queries from :func:`query_log`.  Each workload
calls only public functions of ``sparksearch``; every call is wrapped in a
tracer span named ``<module>.<function>``, which costs nothing when tracing
is off.
"""

from __future__ import annotations

import os
import random
import time

from pyspark.sql import functions as F

from sparksearch.blocks import build_block_index
from sparksearch.constants import (
    BLOCK_HEADER_BYTES,
    CHUNK_META_BYTES,
    CONJUNCTIVE,
    DISJUNCTIVE,
    TOP_K,
)
from sparksearch.corpus import reorder_documents, synthetic_corpus
from sparksearch.query import query_term_rows, query_terms_df, topk
from sparksearch.snippets import attach_snippets
from sparksearch.stats import collection_stats, doc_table, lexicon
from sparksearch.streaming import compact_index, read_index, run_incremental_index
from sparksearch.tokenize import postings_from_documents, tokenize_text
from sparksearch.wand import TOPK_SCHEMA, wand_topk, wand_topk_batch

# --- generator parameters (perfbench/README.md records them) ---------------
# Term classes of corpus.synthetic_corpus's vocabulary: a Zipf head that
# nearly every doc holds (negative idf), 32 mid-df identifiers (~90% of
# docs), a 400-term tail (~30% of docs each) and one uniq{i}tok per doc.
HOT = ["if", "return", "the", "for", "int", "x", "i"]
MID = [
    "def", "else", "while", "import", "class", "void", "static", "func",
    "self", "data", "value", "result", "index", "count", "buffer", "len",
    "size", "node", "list", "map", "key", "str", "err", "nil", "true",
    "false", "print", "range", "append", "struct", "const", "float",
]
TAIL_TERMS = 400
# Query shape from the reference query protocol (FIXTURES.md section 5):
# 1-5 words, hot, rare and absent terms, repeated-word cases, conjunctive or
# disjunctive.  Every length and mode comes round once in each cycle of
# SHAPES, in an order that mixes short and long queries, so a run's first
# few queries cover the same shapes whatever the seed.
SHAPES = (
    (3, CONJUNCTIVE), (1, DISJUNCTIVE), (5, CONJUNCTIVE), (2, DISJUNCTIVE),
    (4, CONJUNCTIVE), (3, DISJUNCTIVE), (1, CONJUNCTIVE), (5, DISJUNCTIVE),
    (2, CONJUNCTIVE), (4, DISJUNCTIVE),
)
# UNVERIFIED GUESSES, not taken from any query log: the protocol names the
# cases but not their shares.  Keep them fixed until a real log is in the
# repository; A/B results depend on them.
TERM_MIX = (("hot", 0.25), ("mid", 0.25), ("tail", 0.25), ("uniq", 0.15), ("absent", 0.1))
REPEATED_WORD_SHARE = 0.1  # queries of 2+ words whose last word repeats an earlier one
REPEAT_SHARE = 0.2  # log entries that repeat an earlier (text, mode) signature

INDEX_DOCS = 2048  # docs per bulk build, and in the query workload's index
BUCKET_SPAN = 512  # INDEX_DOCS / BUCKET_SPAN = 4 doc-range shards
MICRO_BATCH_DOCS = 500
MICRO_BATCHES = 6
INGEST_BUCKET_SPAN = 128  # many small buckets until compaction
BATCH_QUERIES = 128  # queries per wand_topk_batch call
LOG_QUERIES = 32 * BATCH_QUERIES
GATE_QUERIES = 16  # seeded sample of batch results checked against the exhaustive scorer
GATE_SLACK = 64  # extra exhaustive rows so micro-resolution ties re-rank exactly


def query_log(seed: int, n: int, n_docs: int) -> list[tuple[int, str, str]]:
    """``n`` seeded (query_id, text, mode) triples: entry ``i`` has shape
    ``SHAPES[i % len(SHAPES)]`` unless it repeats an earlier signature."""
    rng = random.Random(seed)
    names, weights = zip(*TERM_MIX)

    def term() -> str:
        cls = rng.choices(names, weights)[0]
        if cls == "hot":
            return rng.choice(HOT)
        if cls == "mid":
            return rng.choice(MID)
        if cls == "tail":
            return f"sym{rng.randrange(TAIL_TERMS)}"
        if cls == "uniq":
            return f"uniq{rng.randrange(n_docs)}tok"
        return f"absent{rng.randrange(1 << 20)}tok"

    log: list[tuple[int, str, str]] = []
    for qid in range(n):
        if log and rng.random() < REPEAT_SHARE:
            _, text, mode = rng.choice(log)
        else:
            length, mode = SHAPES[qid % len(SHAPES)]
            words = [term() for _ in range(length)]
            if length > 1 and rng.random() < REPEATED_WORD_SHARE:
                words[-1] = rng.choice(words[:-1])
            text = " ".join(words)
        log.append((qid, text, mode))
    return log


def _micro(rows) -> list[tuple[int, int]]:
    """(doc_id, round(score * 1e6)) in (score desc, doc_id asc) order."""
    out = [(int(d), round(s * 1e6)) for d, s in rows]
    return sorted(out, key=lambda r: (-r[1], r[0]))


class Workload:
    """``setup`` (untimed), ``op(kind)`` (timed, repeated), ``finish``
    (timed, once), ``gate`` (untimed correctness checks).  A cycle is one
    ``op`` of each of ``kinds`` in turn.  A run does a fixed number of
    cycles, ``--seconds`` divided by ``cycle_s`` (one cycle's wall on a
    4-vCPU host), at least ``min_cycles``: the same work on every run,
    whatever the host's speed at the moment, so a run's medians are always
    over the same samples.  Set-up ends with the untimed operations
    ``warm_up``: Spark's JIT keeps speeding up over the first ~20 s of
    operations, and timing that tail would measure how warm the JVM
    happened to be."""

    name = ""
    kinds: tuple[str, ...] = ()
    warm_up: tuple[str, ...] = ()
    min_cycles = 2
    cycle_s = 6.0  # a cycle of either workload takes 4-9 s on a 4-vCPU host, by its load
    max_cycles = 1 << 30
    bulk_kind = ""  # its items / median wall is bulk_per_s
    latency_kind = ""  # its median wall is latency_p50_s

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tr = tracer
        self.work = work
        self.seed = seed
        # (kind, query_id) -> [(doc_id, score)] of the latest run of it
        self.results: dict[tuple[str, int], list[tuple[int, float]]] = {}
        self.queries: dict[int, tuple[int, str, str]] = {}
        self.counts: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    has_finish = False

    def finish(self) -> list[dict]:
        """A timed step once after the loop (``has_finish``)."""
        return []

    # -- shared pieces ------------------------------------------------------
    def _documents(self, out: str) -> None:
        """A canonical documents table of INDEX_DOCS seeded docs.  Ids are
        unique but not dense: the build's reorder_documents re-assigns them."""
        with self.tr.span("corpus.synthetic_corpus"):
            synthetic_corpus(self.spark, INDEX_DOCS, seed=self.seed, partitions=8).select(
                F.monotonically_increasing_id().alias("doc_id"),
                "repo", "path", "commit", "lang", "content",
                F.length("content").cast("long").alias("doc_len"),
                F.sha2("content", 256).alias("content_sha256"),
            ).write.parquet(out)

    def _build(self, raw_path: str, out: str) -> dict:
        """bench.py's build: reorder, tokenize, stats, blocks; each persisted."""
        spark, tr = self.spark, self.tr
        with tr.span("corpus.reorder_documents"):
            reorder_documents(spark.read.parquet(raw_path)).write.mode("overwrite").parquet(
                f"{out}/documents"
            )
        docs = spark.read.parquet(f"{out}/documents")
        with tr.span("tokenize.postings_from_documents"):
            postings_from_documents(docs).write.mode("overwrite").parquet(f"{out}/postings")
        postings = spark.read.parquet(f"{out}/postings")
        with tr.span("stats.collection_stats"):
            st = collection_stats(docs)
        with tr.span("stats.lexicon"):
            lexicon(postings).write.mode("overwrite").parquet(f"{out}/lexicon")
        with tr.span("stats.doc_table"):
            doc_table(docs, postings).write.mode("overwrite").parquet(f"{out}/doc_table")
        with tr.span("blocks.build_block_index"):
            build_block_index(postings, st["avg_doc_len"], bucket_span=BUCKET_SPAN).write.mode(
                "overwrite"
            ).parquet(f"{out}/blocks")
        return st

    def _open(self, out: str):
        """(blocks, lexicon) of a built index as new DataFrame objects."""
        return (
            self.spark.read.parquet(f"{out}/blocks"),
            self.spark.read.parquet(f"{out}/lexicon").select("term", "df"),
        )

    def _batch(self, blocks, lex, queries, n_docs: int, avg_doc_len: float) -> None:
        """One wand_topk_batch call, collected; results kept for the gate."""
        with self.tr.span("wand.wand_topk_batch") as attrs:
            stats_out: dict = {}
            rows = wand_topk_batch(
                blocks, lex, query_term_rows(queries), n_docs, avg_doc_len,
                micro_rank=True, stats_out=stats_out if self.tr.enabled else None,
            ).collect()
            # the accumulators are None when prune="auto" declined the θ-gate
            acc_total = stats_out.get("query_evals_total")
            attrs["prune_gate_fired"] = acc_total is not None
            if acc_total is not None:
                attrs["evals_total"] = acc_total.value
                attrs["evals_skipped"] = stats_out["query_evals_skipped"].value
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for q in queries:
            self.queries[q[0]] = q
            self.results[("batch", q[0])] = got = by_q.get(q[0], [])
            if len(got) > TOP_K:
                raise RuntimeError(f"query {q[0]}: {len(got)} rows > k")

    def _index_checks(self, docs, postings, blocks, tag: str) -> list[tuple[str, bool, str]]:
        """sha256 invariant on the written documents; the index's posting
        count equals the batch tokenizer's over the same documents."""
        bad = docs.filter(F.sha2("content", 256) != F.col("content_sha256")).count()
        row = blocks.agg(
            F.sum(F.length("payload")).alias("payload"),
            F.sum("n_chunks").alias("chunks"),
            F.count("*").alias("blocks"),
            F.sum("n_postings").alias("postings"),
        ).collect()[0]
        n_post = postings.count()
        if tag == "":
            self.counts["tokenize.postings_rows"] = n_post
            self.counts["blocks.payload_bytes"] = row["payload"]
            self.counts["blocks.n_blocks"] = row["blocks"]
            meta = CHUNK_META_BYTES * row["chunks"] + BLOCK_HEADER_BYTES * row["blocks"]
            self.counts["index_bytes_per_posting"] = (row["payload"] + meta) / row["postings"]
        return [
            (f"{tag}content_sha256", bad == 0, f"{bad} rows differ"),
            (f"{tag}index_posting_count", row["postings"] == n_post,
             f"index {row['postings']} vs batch tokenizer {n_post}"),
        ]

    def _rank_identity(self, postings, lex, n_docs, avg_doc_len) -> tuple[str, bool, str]:
        """Every interactive result and a seeded sample of the batch results
        must equal the exhaustive ``query.topk`` at micro resolution, (score
        desc, doc_id asc) ties."""
        batch = sorted(k for k in self.results if k[0] == "batch")
        sample = [k for k in sorted(self.results) if k[0] != "batch"]
        sample += random.Random(self.seed + 1).sample(batch, min(GATE_QUERIES, len(batch)))
        qs = [self.queries[q] for q in sorted({q for _, q in sample})]
        truth: dict[int, list] = {}
        for r in topk(postings, lex, query_terms_df(self.spark, qs), n_docs, avg_doc_len,
                      k=TOP_K + GATE_SLACK).collect():
            truth.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        wrong = [key for key in sample
                 if _micro(self.results[key]) != _micro(truth.get(key[1], []))[:TOP_K]]
        return ("rank_identity", not wrong,
                f"{len(sample) - len(wrong)}/{len(sample)} identical"
                + (f"; differ: {wrong}" if wrong else ""))


class Index(Workload):
    """Write path.  Bulk builds of INDEX_DOCS docs alternate with micro-batch
    ingests: each drops the next file into the input directory and drains it
    with run_incremental_index.  Compaction of the streaming index is timed
    once at the end."""

    name = "index"
    kinds = ("build", "ingest")
    bulk_kind = "build"
    latency_kind = "ingest"
    # builds keep speeding up after the first: with one warm build the first
    # timed build ran 10-25% slower than the second (6.8 s vs 5.3 s).  A third
    # timed cycle costs one ingest more than a second warm build would, and
    # the median of three drops that slow first build instead of averaging
    # it in.
    warm_up = ("build", "ingest")
    has_finish = True
    max_cycles = MICRO_BATCHES - warm_up.count("ingest")  # one file per ingest

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self._documents(self.path("raw"))
        # micro-batch docs: another seed's corpus, in (repo, path) order
        with self.tr.span("corpus.synthetic_corpus"):
            pdf = (
                synthetic_corpus(self.spark, MICRO_BATCH_DOCS * MICRO_BATCHES,
                                 seed=self.seed + 1, partitions=8)
                .toPandas()
                .sort_values(["repo", "path"], ignore_index=True)
            )
        os.makedirs(self.path("stage"))
        os.makedirs(self.path("input"))
        # zero-padded names: name order and mtime order of the drops agree
        self.files = []
        for b in range(MICRO_BATCHES):
            f = f"batch_{b:04d}.parquet"
            lo = b * MICRO_BATCH_DOCS
            pq.write_table(pa.Table.from_pandas(pdf.iloc[lo : lo + MICRO_BATCH_DOCS],
                                                preserve_index=False), self.path("stage", f))
            self.files.append(f)
        self.n_ingests = 0
        for kind in self.warm_up:
            self.op(kind)

    def _ingest(self, b: int) -> None:
        f = self.files[b]
        os.replace(self.path("stage", f), self.path("input", f))
        with self.tr.span("streaming.run_incremental_index"):
            run_incremental_index(self.spark, self.path("input"), self.path("stream"),
                                  bucket_span=INGEST_BUCKET_SPAN, available_now=True,
                                  max_files_per_trigger=1)

    def op(self, kind: str) -> list[dict]:
        if kind == "build":
            self.st = self._build(self.path("raw"), self.path("index"))
            return [{"kind": "build", "items": INDEX_DOCS}]
        self._ingest(self.n_ingests)
        self.n_ingests += 1
        return [{"kind": "ingest", "items": MICRO_BATCH_DOCS}]

    def finish(self) -> list[dict]:
        blocks = read_index(self.spark, self.path("stream"))[1]
        self.counts["streaming.buckets_before"] = blocks.select("bucket").distinct().count()
        t0 = time.perf_counter()
        with self.tr.span("streaming.compact_index"):
            compact_index(self.spark, self.path("stream"), bucket_span=BUCKET_SPAN)
        return [{"kind": "compact", "items": 0, "wall": time.perf_counter() - t0}]

    def gate(self):
        spark, out = self.spark, self.path("index")
        blocks, lex = self._open(out)
        checks = self._index_checks(spark.read.parquet(f"{out}/documents"),
                                    spark.read.parquet(f"{out}/postings"), blocks, "")
        df_sum = lex.agg(F.sum("df")).collect()[0][0]
        checks.append(("lexicon_df_sum", df_sum == self.counts["tokenize.postings_rows"],
                       f"{df_sum}"))
        checks.append(("n_docs", self.st["n_docs"] == INDEX_DOCS, f"{self.st['n_docs']}"))
        # the compacted streaming index holds the same postings as a batch
        # build over its documents
        sdocs, sblocks, _lex, sst = read_index(spark, self.path("stream"))
        self.counts["streaming.buckets_after"] = sblocks.select("bucket").distinct().count()
        checks += self._index_checks(sdocs, postings_from_documents(sdocs), sblocks, "stream_")
        n_want = self.n_ingests * MICRO_BATCH_DOCS
        checks.append(("stream_n_docs", sst["n_docs"] == n_want, f"{sst['n_docs']} of {n_want}"))
        return checks


class Query(Workload):
    """Read path over one prebuilt index.  A bulk wand_topk_batch call, then
    two interactive queries (wand_topk, then attach_snippets), repeat.  Each
    batch call opens the index afresh (new DataFrames), so wand's lexicon and
    metadata caches are cold at the start of every timed call.  Interactive
    queries use an index kept open for the run, as a server would: its
    lexicon cache holds the warm-up queries' terms when timing starts and
    fills as the seeded sequence runs."""

    name = "query"
    # two interactive queries a cycle: query walls depend on the query's
    # shape, and with one a cycle the median of three shapes spread 0.35
    # (IQR / median over ten seeds)
    kinds = ("batch", "query", "query")
    bulk_kind = "batch"
    latency_kind = "query"
    # batch calls keep speeding up over their first few calls (timed walls
    # 2.23, 1.97, 1.76 s after a single warm batch)
    warm_up = ("batch", "batch", "query")

    def setup(self) -> None:
        self._documents(self.path("raw"))
        self.st = self._build(self.path("raw"), self.path("index"))
        self.blocks, self.lex = self._open(self.path("index"))
        self.docs = self.spark.read.parquet(self.path("index", "documents"))
        self.dfs = {r["term"]: r["df"] for r in self.lex.collect()}
        # warm-up queries come from another stream of the same generator
        self.log = query_log(self.seed + 2, LOG_QUERIES, INDEX_DOCS)
        self.n_batches = self.n_queries = 0
        for kind in self.warm_up:
            self.op(kind)
        self.log = query_log(self.seed, LOG_QUERIES, INDEX_DOCS)
        self.results.clear()
        self.n_batches = self.n_queries = 0

    def _query(self, q) -> None:
        spark, tr, st = self.spark, self.tr, self.st
        qt = query_terms_df(spark, [q])
        with tr.span("wand.wand_topk") as attrs:
            rows = wand_topk(self.blocks, self.lex, qt, st["n_docs"], st["avg_doc_len"],
                             with_stats=tr.enabled).collect()
            if tr.enabled and rows:
                attrs["chunks_total"] = rows[0]["chunks_total"]
                attrs["chunks_decoded"] = rows[0]["chunks_decoded"]
        self.queries[q[0]] = q
        self.results[("query", q[0])] = [(r["doc_id"], r["score"]) for r in rows]
        words = tokenize_text(q[1])
        info = {q[0]: (words, [self.dfs.get(w, 0) for w in words])}
        with tr.span("snippets.attach_snippets"):
            top = spark.createDataFrame(
                [(r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows], TOPK_SCHEMA
            )
            out = attach_snippets(top, self.docs, info, st["n_docs"], st["avg_doc_len"]).collect()
        if len(rows) > TOP_K or len(out) != len(rows):
            raise RuntimeError(f"query {q[0]}: {len(rows)} hits, {len(out)} snippets")

    def op(self, kind: str) -> list[dict]:
        if kind == "query":
            self._query(self.log[self.n_queries % LOG_QUERIES])
            self.n_queries += 1
            return [{"kind": "query", "items": 1}]
        lo = (self.n_batches * BATCH_QUERIES) % LOG_QUERIES
        self.n_batches += 1
        self._batch(*self._open(self.path("index")), self.log[lo : lo + BATCH_QUERIES],
                    self.st["n_docs"], self.st["avg_doc_len"])
        return [{"kind": "batch", "items": BATCH_QUERIES}]

    def gate(self):
        spark, out = self.spark, self.path("index")
        postings = spark.read.parquet(f"{out}/postings")
        blocks, lex = self._open(out)
        checks = self._index_checks(spark.read.parquet(f"{out}/documents"), postings, blocks, "")
        checks.append(self._rank_identity(postings, lex, self.st["n_docs"],
                                          self.st["avg_doc_len"]))
        return checks


WORKLOADS = {w.name: w for w in (Index, Query)}
