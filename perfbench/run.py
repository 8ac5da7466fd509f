#!/usr/bin/env python3
"""sparksearch benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload {index,query}
                             --seed N --seconds S --trace {0,1}

Run from the repository root.  Set-up (Spark start, input generation, the
prebuilt index, warm-up) is timed as ``setup_s``; then the workload's
operations repeat in a closed loop for a fixed number of cycles, as many as
take ``--seconds`` on a 4-vCPU host; then a correctness gate checks the
outputs.  Earlier stdout lines print every metric by name with its
unit; the last line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json and keeps them
in ``.perfbench/e2e-<workload>-<seed>.json``.  ``--trace 1`` reports the
per-layer metrics instead: every operation runs inside tracer spans, and the
tracing overhead is the traced median latency-operation wall minus the
``--trace 0`` run's ``latency_p50_s`` for the same seed, when that run has
been made.  Spans are written to ``.perfbench/trace-<workload>-<seed>.json``.
The command exits non-zero if a check fails or sparksearch is missing.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
from tracing import SPARK_FIELDS, Tracer  # noqa: E402  (this script's directory)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "bulk_per_s": "1/s",
    "latency_p50_s": "s",
    "index_bytes_per_posting": "B",
    "peak_rss_mb": "MB",
}

# span name -> per-layer metric prefix
FUNCTION_METRICS = {
    "corpus.reorder_documents": "corpus.reorder",
    "tokenize.postings_from_documents": "tokenize.postings",
    "stats.collection_stats": "stats.collection_stats",
    "stats.lexicon": "stats.lexicon",
    "stats.doc_table": "stats.doc_table",
    "blocks.build_block_index": "blocks.build_block_index",
    "wand.wand_topk_batch": "wand.batch",
    "wand.wand_topk": "wand.topk",
    "snippets.attach_snippets": "snippets.attach",
    "streaming.run_incremental_index": "streaming.ingest",
    "streaming.compact_index": "streaming.compact_index",
}
LAYERS = ("corpus", "tokenize", "stats", "blocks", "wand", "snippets", "streaming")
COUNTS = {
    "tokenize.postings_rows": "count",
    "blocks.payload_bytes": "B",
    "blocks.n_blocks": "count",
    "streaming.buckets_before": "count",
    "streaming.buckets_after": "count",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{p}_s": "s" for p in FUNCTION_METRICS.values()}
    units.update({
        "wand.batch.jobs": "count",
        "wand.batch.driver_s": "s",
        "wand.topk.jobs_per_query": "count",
        "wand.topk.driver_s": "s",
        "wand.chunks_decoded_frac": "ratio",
    })
    units.update(COUNTS)
    for layer in LAYERS:
        units.update({
            f"{layer}.task_s": "s",
            f"{layer}.gc_s": "s",
            f"{layer}.shuffle_read_bytes": "B",
            f"{layer}.shuffle_write_bytes": "B",
            f"{layer}.spill_bytes": "B",
        })
    units.update({
        "trace.jobs": "count",
        "trace.driver_s": "s",
        "trace.layer_coverage": "ratio",
        "trace.latency_p50_s": "s",
    })
    return units


def process_tree_peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over this process and every
    descendant: the Spark JVM and its Python workers.  Pages shared between
    forked workers count once per process."""
    children: dict[int, list[int]] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(pid))
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        tree.add(p)
        frontier.extend(children.get(p, []))
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when there are too few samples."""
    xs = sorted(values)
    if len(xs) <= 10:
        return None
    i = len(xs) - 11
    return 100.0 * (i + 1) / len(xs), xs[i]


def sandbox(work: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python workers write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM of the launch: no /tmp/hsperfdata files, temp files in work
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARKSEARCH_DRIVER_MEM", "1g")
    return {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of the run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def stop_spark(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and wait."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def in_ops(spans: list[dict]) -> list[dict]:
    """Spans inside a timed operation (not set-up or the gate)."""
    by_id = {s["id"]: s for s in spans}

    def op_root(s):
        while s["parent"]:
            s = by_id[s["parent"]]
        return s

    return [s for s in spans if s["name"] != "op" and op_root(s)["name"] == "op"]


def layer_metrics(spans: list[dict], wl, records: list[dict]) -> dict[str, float]:
    """Per-layer metrics from the timed operations: ``<function>_s`` and
    ``<function>.*`` are means per call of that function, ``<layer>.*`` means
    per call into that layer, ``trace.*`` means per operation."""

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    ops = [s for s in spans if s["name"] == "op"]
    inside = in_ops(spans)
    m = dict.fromkeys(per_layer_units(), 0.0)
    for name, prefix in FUNCTION_METRICS.items():
        m[f"{prefix}_s"] = mean([s["self_s"] for s in inside if s["name"] == name])
    for layer in LAYERS:
        calls = [s for s in inside if s["name"].split(".")[0] == layer]
        for f in SPARK_FIELDS:
            m[f"{layer}.{f}"] = mean([s[f] for s in calls])
    batch = [s for s in inside if s["name"] == "wand.wand_topk_batch"]
    single = [s for s in inside if s["name"] == "wand.wand_topk"]
    m["wand.batch.jobs"] = mean([s["jobs"] for s in batch])
    m["wand.batch.driver_s"] = mean([s["driver_s"] for s in batch])
    m["wand.topk.jobs_per_query"] = mean([s["jobs"] for s in single])
    m["wand.topk.driver_s"] = mean([s["driver_s"] for s in single])
    ch_total = sum(s["attrs"].get("chunks_total", 0) for s in single)
    ch_dec = sum(s["attrs"].get("chunks_decoded", 0) for s in single)
    m["wand.chunks_decoded_frac"] = ch_dec / ch_total if ch_total else 0.0
    for k in COUNTS:
        m[k] = float(wl.counts.get(k, 0))
    op_wall = sum(s["wall_s"] for s in ops)
    layer_wall = sum(s["self_s"] for s in inside if s["name"].split(".")[0] in LAYERS)
    m["trace.jobs"] = sum(s["jobs"] for s in ops + inside) / max(len(ops), 1)
    m["trace.driver_s"] = mean([s["off_spark_s"] for s in ops])
    m["trace.layer_coverage"] = layer_wall / op_wall if op_wall else 0.0
    m["trace.latency_p50_s"] = statistics.median(
        r["wall"] for r in records if r["kind"] == wl.latency_kind)
    return m


def trace_lines(spans: list[dict], metrics: dict, untraced: dict | None) -> list[str]:
    """The tracing overhead and the θ-gate state, for reading, not the JSON line."""
    if untraced is None:
        over = "n/a (no --trace 0 run of this seed in .perfbench/)"
    else:
        p50 = untraced["latency_p50_s"]["value"]
        over = f"{metrics['trace.latency_p50_s'] - p50:.6g} s (untraced latency_p50_s {p50:.6g} s)"
    lines = [f"trace_overhead_s = {over}"]
    batch = [s["attrs"] for s in in_ops(spans) if s["name"] == "wand.wand_topk_batch"]
    if batch:
        fired = [a for a in batch if a["prune_gate_fired"]]
        lines.append(f"prune gate fired in {len(fired)} of {len(batch)} wand_topk_batch calls")
        ev_total = sum(a["evals_total"] for a in fired)
        if ev_total:
            lines[-1] += f", evals skipped {sum(a['evals_skipped'] for a in fired) / ev_total:.6g}"
    return lines


def end_to_end(wl, records: list[dict], setup_s: float, rss_mb: float) -> tuple[dict, list[str]]:
    def walls(kind):
        return [r["wall"] for r in records if r["kind"] == kind]

    bulk_items = next(r["items"] for r in records if r["kind"] == wl.bulk_kind)
    bulk = bulk_items / statistics.median(walls(wl.bulk_kind))
    lat = walls(wl.latency_kind)
    p50 = statistics.median(lat)
    m = {
        "setup_s": setup_s,
        "bulk_per_s": bulk,
        "latency_p50_s": p50,
        "index_bytes_per_posting": wl.counts["index_bytes_per_posting"],
        "peak_rss_mb": rss_mb,
    }
    # the same figures under the names the workload's users know them by
    if wl.name == "index":
        ingest_docs = sum(r["items"] for r in records if r["kind"] == "ingest")
        ingest_wall = sum(walls("ingest")) + sum(walls("compact"))
        lines = [f"build_docs_per_s = {bulk:.6g} docs/s",
                 f"ingest_p50_s = {p50:.6g} s (one micro-batch)",
                 f"ingest_docs_per_s = {ingest_docs / ingest_wall:.6g} docs/s "
                 f"(ingests + compaction)",
                 f"compact_s = {sum(walls('compact')):.6g} s"]
    else:
        lines = [f"batch_queries_per_s = {bulk:.6g} q/s", f"interactive_p50_s = {p50:.6g} s"]
    for kind in dict.fromkeys(wl.kinds):
        lines.append(f"{kind}_walls_s = {[round(w, 3) for w in walls(kind)]}")
    t = tail(lat)
    lines.append(
        f"{wl.latency_kind}_tail_s = {t[1]:.6g} s (p{t[0]:.0f}, n={len(lat)})" if t
        else f"{wl.latency_kind}_tail_s = n/a (n={len(lat)}: no percentile has 10 samples beyond it)"
    )
    return m, lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["index", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sparksearch", "__init__.py")):
        print(f"perfbench: no sparksearch package under {ROOT}", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    extra_conf = sandbox(work)
    sys.path.insert(0, ROOT)

    from workloads import WORKLOADS
    from sparksearch.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(f"perfbench-{args.workload}", cores=nproc, shuffle_partitions=nproc,
                      extra_conf=extra_conf)
    try:
        tracer = Tracer(spark, enabled=bool(args.trace), workload=args.workload)
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        with tracer.span("setup"):
            wl.setup()
        setup_s = time.perf_counter() - T_START

        records: list[dict] = []
        failed_ops = 0

        def run_op(i: int, kind: str | None) -> None:
            nonlocal failed_ops
            t0 = time.perf_counter()
            try:
                with tracer.span("op", op=i):
                    recs = wl.op(kind) if kind else wl.finish()
            except Exception:
                traceback.print_exc()
                failed_ops += 1
                recs = [{"kind": "failed", "items": 0}]
            wall = time.perf_counter() - t0
            for r in recs:
                r.setdefault("wall", wall)
            records.extend(recs)

        n_cycles = min(wl.max_cycles, max(wl.min_cycles, round(args.seconds / wl.cycle_s)))
        t_loop = time.perf_counter()
        ops = wl.kinds * n_cycles
        for i, kind in enumerate(ops):
            run_op(i, kind)
        loop_s = time.perf_counter() - t_loop
        if wl.has_finish:
            run_op(len(ops), None)
        rss_mb = process_tree_peak_rss_mb()

        with tracer.span("gate"):
            try:
                checks = wl.gate()
            except Exception:
                traceback.print_exc()
                checks = [("gate", False, "raised")]
        spans = tracer.report()
    finally:
        stop_spark(spark)

    for name, ok, detail in checks:
        print(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    attempted = len(records) + len(checks)
    failed = failed_ops + sum(1 for _, ok, _ in checks if not ok)
    correct = failed == 0
    print(f"workload = {args.workload}, seed = {args.seed}, local[{nproc}], "
          f"shuffle partitions = {nproc}, cycles = {n_cycles}, loop = {loop_s:.3f} s")
    print(f"ops_failed_frac = {failed / attempted:.6g} ratio ({failed}/{attempted})")

    e2e_file = os.path.join(out_dir, f"e2e-{args.workload}-{args.seed}.json")
    metrics, units, lines = {}, {}, []
    if args.trace:
        metrics = layer_metrics(spans, wl, records)
        units = per_layer_units()
        untraced = None
        if os.path.isfile(e2e_file):
            with open(e2e_file) as f:
                untraced = json.load(f)
        lines = trace_lines(spans, metrics, untraced)
        with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": spans,
                       "records": records, "metrics": metrics}, f, indent=1, default=str)
    elif correct:
        metrics, lines = end_to_end(wl, records, setup_s, rss_mb)
        units = END_TO_END
    for line in lines:
        print(line)
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    if correct and not args.trace:
        with open(e2e_file, "w") as f:
            json.dump(result["metrics"], f)
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
