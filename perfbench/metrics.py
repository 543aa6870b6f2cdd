"""Per-layer metrics from a traced pass, and the process-tree memory peak.

Timings are the nearest-rank p50 per call unless the name says ``p90``
or ``total``; counts are totals over the traced pass unless the name
says ``per``.
Each layer also reports its self time (span time minus the part its
child spans cover) and its error count (spans that raised plus failed
Spark tasks). A layer the workload never calls reports 0.
"""

from __future__ import annotations

import os

from spans import LAYERS, Tracer, by_name, durations, self_times


def pct(xs: list[float], p: float) -> float:
    """Nearest-rank percentile, the one rule for every p50 and p90 the
    benchmark reports; 0 for no samples."""
    ys = sorted(xs)
    if not ys:
        return 0.0
    k = max(0, min(len(ys) - 1, -(-len(ys) * p // 100) - 1))
    return ys[int(k)]


# name -> unit, in the order they are printed (and listed in
# BENCHMARK.json)
PER_LAYER = {
    "session.get_spark.s": "s",
    "catalog.load_tables.s": "s",
    "functions.materialize_index.s": "s",
    "functions.refresh_bm25_stats.s": "s",
    "functions.load_bm25_stats.ms": "ms",
    "functions.kg_build.ms": "ms",
    "plans.compile_query.p50_ms": "ms",
    "plans.compile_query.p90_ms": "ms",
    "plans.compile_query.total_ms": "ms",
    "plans.compile_query.construct_jobs": "count",
    "plans.facet_counts.ms": "ms",
    "action.p50_ms": "ms",
    "action.jobs_per_request": "count",
    "action.tasks_per_request": "count",
    "sources.read_jsonlines.ms": "ms",
    "pipeline.run_modules.ms": "ms",
    "operators.decontaminate.ms": "ms",
    "operators.decontaminated_rows": "count",
    "sinks.upsert_partitioned.p50_s": "s",
    "sinks.upsert_partitioned.total_s": "s",
    "sinks.upsert_partitioned.jobs": "count",
    "sinks.buckets_touched_per_commit": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written_per_input_byte": "ratio",
    "streaming.add_batch.s": "s",
    "streaming.foreach_batch.s": "s",
    "streaming.stateful.s": "s",
    "streaming.wal_commit.ms": "ms",
    "streaming.commit_offsets.ms": "ms",
    "streaming.query_planning.ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.batches": "count",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    **{f"{layer}.jobs": "count" for layer in LAYERS},
    **{f"{layer}.errors": "count" for layer in LAYERS},
    "tracing_overhead_frac": "ratio",
}


def per_layer(tracer: Tracer, wl) -> dict[str, tuple[float, str, int]]:
    sp = tracer.spans
    c = tracer.counters
    ms = lambda name: [d * 1e3 for d in durations(sp, name)]  # noqa: E731
    jobs = lambda name: sum(s.jobs for s in by_name(sp, name))  # noqa: E731

    def p50(name: str, unit: float = 1.0) -> tuple[float, int]:
        """Median span time of ``name``, in seconds times ``unit``."""
        xs = [d * unit for d in durations(sp, name)]
        return pct(xs, 50), len(xs)

    cq = ms("plans.compile_query")
    actions = by_name(sp, "action.collect")
    requests = {s.request for s in actions} or {None}
    up = durations(sp, "sinks.upsert_partitioned")
    commits = c.get("sinks.commits", 0)
    v: dict[str, tuple[float, int]] = {
        "session.get_spark.s": p50("session.get_spark"),
        "catalog.load_tables.s": p50("catalog.load_tables"),
        "functions.materialize_index.s": p50("functions.materialize_index"),
        "functions.refresh_bm25_stats.s": p50("functions.refresh_bm25_stats"),
        "functions.load_bm25_stats.ms": p50("functions.load_bm25_stats", 1e3),
        "functions.kg_build.ms": p50("functions.kg_build", 1e3),
        "plans.compile_query.p50_ms": (pct(cq, 50), len(cq)),
        "plans.compile_query.p90_ms": (pct(cq, 90), len(cq)),
        "plans.compile_query.total_ms": (sum(cq), len(cq)),
        "plans.compile_query.construct_jobs": (jobs("plans.compile_query"),
                                               len(cq)),
        "plans.facet_counts.ms": p50("plans.facet_counts", 1e3),
        "action.p50_ms": p50("action.collect", 1e3),
        "action.jobs_per_request": (
            sum(s.jobs for s in actions) / len(requests), len(requests)),
        "action.tasks_per_request": (
            sum(s.tasks for s in actions) / len(requests), len(requests)),
        "sources.read_jsonlines.ms": p50("sources.read_jsonlines", 1e3),
        "pipeline.run_modules.ms": p50("pipeline.run_modules", 1e3),
        "operators.decontaminate.ms": p50("operators.decontaminate", 1e3),
        "operators.decontaminated_rows": (
            c.get("operators.decontaminated_rows", 0), 1),
        "sinks.upsert_partitioned.p50_s": (pct(up, 50), len(up)),
        "sinks.upsert_partitioned.total_s": (sum(up), len(up)),
        "sinks.upsert_partitioned.jobs": (jobs("sinks.upsert_partitioned"),
                                          len(up)),
        "sinks.buckets_touched_per_commit": (
            c.get("sinks.buckets_touched", 0) / commits if commits else 0.0,
            int(commits)),
        "sinks.files_written": (c.get("sinks.files_written", 0),
                                int(commits)),
        "sinks.bytes_written_per_input_byte": (
            c.get("sinks.bytes_written", 0) / c["sinks.input_bytes"]
            if c.get("sinks.input_bytes") else 0.0, int(commits)),
    }
    v.update(_streaming(wl, sp))
    selft = self_times(sp)
    for layer in LAYERS:
        ls = [s for s in sp if s.layer == layer]
        v[f"{layer}.self_s"] = (sum(selft[s.sid] for s in ls), len(ls))
        v[f"{layer}.jobs"] = (sum(s.jobs for s in ls), len(ls))
        v[f"{layer}.errors"] = (
            sum(s.error for s in ls) + sum(s.failed_tasks for s in ls),
            len(ls))
    return {k: (v[k][0], PER_LAYER[k], v[k][1]) for k in PER_LAYER
            if k in v}


def _streaming(wl, sp) -> dict[str, tuple[float, int]]:
    prog = getattr(wl, "progress", [])
    fb = durations(sp, "streaming.foreach_batch")
    dur = lambda k: [p.durationMs.get(k, 0) for p in prog]  # noqa: E731
    add = [x / 1e3 for x in dur("addBatch")]
    state = prog[-1].stateOperators if prog else []
    return {
        "streaming.add_batch.s": (pct(add, 50), len(add)),
        "streaming.foreach_batch.s": (pct(fb, 50), len(fb)),
        # pairs batch i's addBatch with its i-th callback; the warm-up
        # drain runs untraced, so both lists cover the same batches
        "streaming.stateful.s": (pct([a - f for a, f in zip(add, fb)], 50),
                                 min(len(add), len(fb))),
        "streaming.wal_commit.ms": (pct(dur("walCommit"), 50), len(prog)),
        "streaming.commit_offsets.ms": (pct(dur("commitOffsets"), 50),
                                        len(prog)),
        "streaming.query_planning.ms": (pct(dur("queryPlanning"), 50),
                                        len(prog)),
        "streaming.state_rows": (sum(s.numRowsTotal for s in state),
                                 len(state)),
        "streaming.state_bytes": (sum(s.memoryUsedBytes for s in state),
                                  len(state)),
        "streaming.batches": (len(prog), len(prog)),
    }


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendant pids, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its descendants (the JVM and
    its Python worker daemon and workers)."""
    total_kb = 0
    for pid in process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
