"""Per-layer metrics of a traced run: spans from the benchmark's own
calls into each module, joined with the Spark event log through the
job group set around each call."""

from __future__ import annotations

import statistics

from spans import (
    EventLog,
    Span,
    attribute_executions,
    attribute_jobs,
    collected_rows,
    descendants,
    operator_totals,
    self_times,
    stage_totals,
    union_length,
)

# Spark-side categories a span's job time is split into
CATEGORIES = ("driver", "kernels", "exchange", "scan", "compute")
REQUEST_SPANS = ("request", "retrieval.fresh_query")

# name -> unit; every traced run reports all of them (0 where the
# workload does not exercise the layer)
PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_rows": "count",
    "sources.scan_ms": "ms",
    "telemetry.log_run_ms": "ms",
    "kernels.worker_start_ms": "ms",
    "kernels.worker_init_ms": "ms",
    "kernels.run_ms": "ms",
    "kernels.bytes_sent": "B",
    "kernels.bytes_returned": "B",
    "kernels.passes": "count",
    "exchange.count": "count",
    "exchange.shuffle_bytes": "B",
    "exchange.records": "count",
    "exchange.write_ms": "ms",
    "exchange.fetch_wait_ms": "ms",
    "driver.jobs_per_request": "count",
    "driver.stages_per_request": "count",
    "driver.tasks_per_request": "count",
    "driver.plan_ms": "ms",
    "driver.collect_rows": "count",
    "corpus_index.build_delta_s": "s",
    "corpus_index.derive_s": "s",
    "corpus_index.save_s": "s",
    "corpus_index.bytes_written_per_text_byte": "ratio",
    "corpus_index.load_s": "s",
    "corpus_index.materialize_s": "s",
    "corpus_index.warm_idf_s": "s",
    "router.route_ms": "ms",
    "retrieval.compile_ms": "ms",
    "retrieval.topk_ms": "ms",
    "retrieval.rows_scored_per_result": "ratio",
    "serving.arm_fill_s.keyword": "s",
    "serving.arm_fill_s.vector": "s",
    "serving.arm_fill_s.hybrid": "s",
    "answer.generate_ms": "ms",
    "evaluate.collect_s": "s",
    "evaluate.fold_ms": "ms",
    "ingest.upsert_s": "s",
    "ingest.bytes_written": "B",
    "ingest.landed_per_delivered": "ratio",
    "ingest.reload_s": "s",
    "dedup.signature_s": "s",
    "dedup.lsh_s": "s",
    "dedup.verify_s": "s",
    "dedup.cluster_s": "s",
    "dedup.candidates": "count",
    "dedup.verified": "count",
    "dedup.verified_per_candidate": "ratio",
    "similarity.neardup_s": "s",
    "pretrain.contamination_s": "s",
    "pretrain.repetition_s": "s",
    "pretrain.pack_s": "s",
    "jvm.gc_ms": "ms",
    "trace.jobs_time_attributed": "count",
    **{f"self_s.{c}": "s" for c in CATEGORIES},
}

# span name -> (metric, scale) for plain span medians
SPAN_MEDIANS = {
    "telemetry.log_run": ("telemetry.log_run_ms", 1000.0),
    "corpus_index.build_delta": ("corpus_index.build_delta_s", 1.0),
    "corpus_index.derive": ("corpus_index.derive_s", 1.0),
    "corpus_index.save": ("corpus_index.save_s", 1.0),
    "corpus_index.load": ("corpus_index.load_s", 1.0),
    "corpus_index.materialize": ("corpus_index.materialize_s", 1.0),
    "corpus_index.warm_idf": ("corpus_index.warm_idf_s", 1.0),
    "router.route": ("router.route_ms", 1000.0),
    "retrieval.compile": ("retrieval.compile_ms", 1000.0),
    "retrieval.topk": ("retrieval.topk_ms", 1000.0),
    "serving.arm_fill.keyword": ("serving.arm_fill_s.keyword", 1.0),
    "serving.arm_fill.vector": ("serving.arm_fill_s.vector", 1.0),
    "serving.arm_fill.hybrid": ("serving.arm_fill_s.hybrid", 1.0),
    "answer.generate": ("answer.generate_ms", 1000.0),
    "ingest.upsert": ("ingest.upsert_s", 1.0),
    "ingest.reload": ("ingest.reload_s", 1.0),
    "dedup.signature": ("dedup.signature_s", 1.0),
    "dedup.lsh": ("dedup.lsh_s", 1.0),
    "dedup.verify": ("dedup.verify_s", 1.0),
    "dedup.cluster": ("dedup.cluster_s", 1.0),
    "similarity.neardup": ("similarity.neardup_s", 1.0),
    "pretrain.contamination": ("pretrain.contamination_s", 1.0),
    "pretrain.repetition": ("pretrain.repetition_s", 1.0),
    "pretrain.pack": ("pretrain.pack_s", 1.0),
}


def _job_split(log: EventLog, jobs: list, first_owner: dict[int, int]) -> dict[str, float]:
    """Task-time ms of ``jobs`` per Spark-side category.  An SQL
    execution's operator metrics count once, with its first job."""
    st = stage_totals(log, jobs)
    execs = {j.execution for j in jobs if j.execution is not None and first_owner.get(j.execution) == j.jid}
    ops = operator_totals(log, execs)
    kern = ops["worker_start_ms"] + ops["worker_init_ms"] + ops["run_ms"]
    exch = st["shuffle_write_ms"] + st["fetch_wait_ms"]
    scan = ops["scan_ms"]
    return {
        "kernels": kern,
        "exchange": exch,
        "scan": scan,
        "compute": max(0.0, st["task_ms"] - kern - exch - scan),
    }


def self_time_table(spans: list[Span], log: EventLog, job_span: dict[int, str]) -> dict[str, dict[str, float]]:
    """layer -> {total, driver, kernels, exchange, scan, compute} seconds.

    A span's self time is its duration minus its children's.  The part of
    it during which one of its own jobs ran is job time; the rest is
    driver time (analysis, planning, Python and py4j).  Job time is split
    by the task-time shares of the span's jobs."""
    own: dict[str, list] = {}
    for jid, sid in job_span.items():
        own.setdefault(sid, []).append(log.jobs[jid])
    first_owner: dict[int, int] = {}
    for j in sorted(log.jobs.values(), key=lambda j: j.jid):
        if j.execution is not None:
            first_owner.setdefault(j.execution, j.jid)
    selfs = self_times(spans)
    table: dict[str, dict[str, float]] = {}
    for s in spans:
        jobs = own.get(s.sid, [])
        busy = min(selfs[s.sid], union_length([(j.submit, j.end or s.end) for j in jobs], s.start, s.end))
        row = table.setdefault(s.layer, {"total": 0.0, **{c: 0.0 for c in CATEGORIES}})
        row["total"] += selfs[s.sid]
        row["driver"] += selfs[s.sid] - busy
        split = _job_split(log, jobs, first_owner)
        whole = sum(split.values())
        for c, v in split.items():
            row[c] += busy * (v / whole) if whole > 0 else 0.0
        if whole <= 0:
            row["compute"] += busy
    return table


def per_layer(ctx, log: EventLog) -> tuple[dict[str, float], dict]:
    """(metrics named as in PER_LAYER, detail for the report)."""
    spans: list[Span] = ctx.tracer.spans
    job_span, n_time = attribute_jobs(log, spans)
    timed_jobs = [log.jobs[j] for j in job_span]
    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = ctx.session_s
    m["trace.jobs_time_attributed"] = n_time

    execs = {j.execution for j in timed_jobs if j.execution is not None}
    ops = operator_totals(log, execs)
    m["sources.scan_rows"] = ops["scan_rows"]
    m["sources.scan_ms"] = ops["scan_ms"]
    for k in ("worker_start_ms", "worker_init_ms", "run_ms", "bytes_sent", "bytes_returned", "passes"):
        m[f"kernels.{k}"] = ops[k]
    st = stage_totals(log, timed_jobs)
    m["exchange.count"] = st["exchanges"]
    m["exchange.shuffle_bytes"] = st["shuffle_bytes"]
    m["exchange.records"] = st["shuffle_records"]
    m["exchange.write_ms"] = st["shuffle_write_ms"]
    m["exchange.fetch_wait_ms"] = st["fetch_wait_ms"]
    m["jvm.gc_ms"] = st["gc_ms"]

    def subtree_jobs(sid: str) -> list:
        ids = descendants(spans, sid)
        return [log.jobs[j] for j, s in job_span.items() if s in ids]

    reqs = [s for s in spans if s.name in REQUEST_SPANS]
    if reqs:
        per = [stage_totals(log, subtree_jobs(s.sid)) for s in reqs]
        m["driver.jobs_per_request"] = statistics.mean(p["jobs"] for p in per)
        m["driver.stages_per_request"] = statistics.mean(p["stages"] for p in per)
        m["driver.tasks_per_request"] = statistics.mean(p["tasks"] for p in per)
        m["driver.plan_ms"] = 1000.0 * statistics.mean(
            s.dur - union_length([(j.submit, j.end or s.end) for j in subtree_jobs(s.sid)], s.start, s.end)
            for s in reqs
        )
        exec_span = attribute_executions(log, spans)

        def rows_to_driver(sid: str) -> float:
            ids = descendants(spans, sid)
            return sum(collected_rows(log, e) for e, owner in exec_span.items() if owner in ids)

        m["driver.collect_rows"] = statistics.mean(rows_to_driver(s.sid) for s in reqs)

    for name, (metric, scale) in SPAN_MEDIANS.items():
        durs = ctx.tracer.total(name)
        if durs:
            m[metric] = statistics.median(durs) * scale

    for s in spans:
        if s.name == "corpus_index.save":
            m["corpus_index.bytes_written_per_text_byte"] = (
                stage_totals(log, subtree_jobs(s.sid))["output_bytes"] / ctx.text_bytes
            )
        elif s.name == "evaluate.evaluate_all":
            busy = union_length([(j.submit, j.end or s.end) for j in subtree_jobs(s.sid)], s.start, s.end)
            m["evaluate.collect_s"] = busy
            m["evaluate.fold_ms"] = (s.dur - busy) * 1000.0
        elif s.name == "ingest.upsert":
            m["ingest.bytes_written"] += stage_totals(log, subtree_jobs(s.sid))["output_bytes"]

    for k in ("retrieval.rows_scored_per_result", "ingest.landed_per_delivered"):
        m[k] = ctx.out.get(k.split(".", 1)[1], 0.0)
    res = ctx.results
    if "candidates" in res:
        m["dedup.candidates"] = res["candidates"]
        m["dedup.verified"] = len(res["text_pairs"])
        m["dedup.verified_per_candidate"] = len(res["text_pairs"]) / max(1, res["candidates"])

    table = self_time_table(spans, log, job_span)
    for c in CATEGORIES:
        m[f"self_s.{c}"] = sum(row[c] for row in table.values())
    detail = {
        "self_s_by_layer": table,
        "jobs": len(timed_jobs),
        "jobs_time_attributed": n_time,
        "spans": len(spans),
    }
    return m, detail
