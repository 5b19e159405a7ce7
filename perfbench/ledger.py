"""Per-layer metrics of a traced run.

Joins the benchmark's own spans and op records with Spark's event log
(jobs, stages, task metrics per job group) into one number per layer
metric. Every metric is emitted for every workload; a layer the workload
does not touch reads 0.
"""

from __future__ import annotations

import probes as tr

MB = 1024.0 * 1024.0

# name -> unit, in output order
PER_LAYER = {
    "session.boot_s": "s", "session.load_s": "s", "session.warmup_s": "s",
    "registry.build_s": "s", "registry.build_jobs": "count", "registry.build_share": "ratio",
    "spark.collect_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.s_per_job": "s", "spark.failed_tasks": "count",
    "spark.retry_ratio": "ratio",
    "spark.catalyst_analysis_s": "s", "spark.catalyst_optimization_s": "s",
    "spark.catalyst_planning_s": "s",
    "spark.task_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.core_busy_ratio": "ratio",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.scan_mb": "MB",
    "python.udf_s": "s", "python.boot_s": "s", "python.init_s": "s", "python.sent_mb": "MB", "python.recv_mb": "MB",
    "io.read_mb": "MB", "io.write_mb": "MB",
    "httpd.submit_s": "s", "httpd.queue_s": "s", "httpd.notify_lag_s": "s",
    "httpd.rejected_ratio": "ratio",
    "workflow.run_s": "s", "workflow.tasks": "count", "workflow.self_s": "s",
    "workflow.retries": "count",
    "server.op_s": "s", "server.op_jobs": "count",
    "store.cubes_start": "count", "store.cubes_end": "count",
    "generator.late_p90_s": "s",
    "trace.setup_s": "s", "trace.ops_per_s": "1/s", "trace.latency_p50_s": "s",
    "trace.latency_tail_s": "s", "trace.peak_rss_mb": "MB",
    "trace.spans": "count", "trace.self_residual_s": "s",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _job_spans(ctx, jobs, parent_of) -> None:
    """Add a spark.job span per job whose group maps to a parent span.
    Jobs of one parent are clipped so they do not overlap (concurrent jobs
    count once, as the time the parent waited on Spark)."""
    by_parent: dict[int, list] = {}
    for j in jobs:
        if j.group is None or j.end_ms == 0:
            continue
        start = j.start_ms / 1000.0 - ctx.wall_minus_mono
        end = j.end_ms / 1000.0 - ctx.wall_minus_mono
        hit = parent_of(j.group, start)
        if hit is not None:
            by_parent.setdefault(hit, []).append((start, end))
    for pid, ivals in by_parent.items():
        parent = ctx.tracer.spans[pid]
        cursor = parent.start
        for start, end in sorted(ivals):
            start, end = max(start, cursor, parent.start), min(end, parent.end)
            if end > start:
                ctx.tracer.add(parent.op, "spark.job", start, end, pid)
                cursor = end


def _spark_totals(groups: list[dict]) -> dict:
    tot: dict[str, float] = {}
    for g in groups:
        for k, v in g.items():
            tot[k] = tot.get(k, 0.0) + v
    return tot


def _residual(ctx, ops) -> float:
    selfs = tr.self_times(ctx.tracer.spans)
    by_op: dict[str, float] = {}
    for s in ctx.tracer.spans:
        by_op[s.op] = by_op.get(s.op, 0.0) + selfs[s.id]
    return max((abs(by_op.get(o["op"], 0.0) - o["latency"]) for o in ops), default=0.0)


def closed(ctx, ops, jobs, per_group) -> dict:
    spans_by = {(s.op, s.name): s.id for s in ctx.tracer.spans}

    def parent_of(group, start):
        build = spans_by.get((group, "registry.build"))
        if build is None:
            return None
        b = ctx.tracer.spans[build]
        return build if start < b.end else spans_by.get((group, "spark.collect"))

    _job_spans(ctx, jobs, parent_of)
    n = len(ops)
    busy = sum(o["latency"] for o in ops)
    per_op = [per_group.get(o["op"], {}) for o in ops]
    tot = _spark_totals(per_op)
    op_ids = {o["op"]: o for o in ops}
    op_jobs = [j for j in jobs if j.group in op_ids and j.end_ms]
    build_jobs = [j for j in op_jobs
                  if j.start_ms / 1000.0 - ctx.wall_minus_mono
                  < op_ids[j.group]["start"] + op_ids[j.group]["build"]]
    out = _spark_block(ctx, tot, n, busy, op_jobs)
    out.update({
        "registry.build_s": _mean(o["build"] for o in ops),
        "registry.build_jobs": len(build_jobs) / n,
        "registry.build_share": sum(o["build"] for o in ops) / busy,
        "spark.collect_s": _mean(o["collect"] for o in ops),
        "spark.catalyst_analysis_s": _mean(o["phases"].get("analysis", 0.0) for o in ops),
        "spark.catalyst_optimization_s": _mean(o["phases"].get("optimization", 0.0) for o in ops),
        "spark.catalyst_planning_s": _mean(o["phases"].get("planning", 0.0) for o in ops),
        "io.read_mb": max(0.0, sum(o["io_read_b"] for o in ops) - tot.get("shuffle_read_b", 0)) / MB / n,
        "io.write_mb": max(0.0, sum(o["io_write_b"] for o in ops) - tot.get("shuffle_write_b", 0)) / MB / n,
    })
    out["trace.self_residual_s"] = _residual(ctx, ops)
    return out


def _spark_block(ctx, tot: dict, n: int, busy: float, op_jobs) -> dict:
    tasks = tot.get("tasks", 0.0)
    return {
        "spark.jobs": len(op_jobs) / n,
        "spark.stages": tot.get("stages_run", 0.0) / n,
        "spark.tasks": tasks / n,
        "spark.s_per_job": _mean((j.end_ms - j.start_ms) / 1000.0 for j in op_jobs),
        "spark.failed_tasks": tot.get("failed_tasks", 0.0),
        "spark.retry_ratio": tot.get("failed_tasks", 0.0) / tasks if tasks else 0.0,
        "spark.task_s": tot.get("task_ms", 0.0) / 1000.0 / n,
        "spark.task_cpu_s": tot.get("cpu_ns", 0.0) / 1e9 / n,
        "spark.gc_s": tot.get("gc_ms", 0.0) / 1000.0 / n,
        "spark.core_busy_ratio": tot.get("task_ms", 0.0) / 1000.0 / (busy * ctx.cores),
        "spark.shuffle_write_mb": tot.get("shuffle_write_b", 0.0) / MB / n,
        "spark.shuffle_read_mb": tot.get("shuffle_read_b", 0.0) / MB / n,
        "spark.spill_mb": tot.get("spill_b", 0.0) / MB / n,
        "spark.scan_mb": tot.get("scan_b", 0.0) / MB / n,
        "python.udf_s": tot.get("udf_ms", 0.0) / 1000.0 / n,
        "python.boot_s": tot.get("boot_ms", 0.0) / 1000.0 / n,
        "python.init_s": tot.get("init_ms", 0.0) / 1000.0 / n,
        "python.sent_mb": tot.get("sent_b", 0.0) / MB / n,
        "python.recv_mb": tot.get("recv_b", 0.0) / MB / n,
    }


def service(ctx, ops, jobs, per_group) -> dict:
    runs = ctx.timed.runs
    calls_by_wf: dict[str, list] = {}
    for c in ctx.op_calls:
        calls_by_wf.setdefault(c["wf"], []).append(c)
    group_span: dict[str, int] = {}
    for o in ops:
        root = ctx.tracer.add(o["op"], "op", o["start"], o["end"])
        r = runs.get(o["op"])
        if o.get("sent") is not None:
            # the server may start the run before the client reads the 202
            handoff = o["acked"] if r is None else min(o["acked"], r["run_start"])
            ctx.tracer.add(o["op"], "httpd.submit", o["sent"], handoff, root)
        if r is None:
            continue
        if r["run_start"] > o["acked"]:
            ctx.tracer.add(o["op"], "httpd.queue", o["acked"], r["run_start"], root)
        run_span = ctx.tracer.add(o["op"], "workflow.run", r["run_start"], r["run_end"], root)
        group_span[o["op"]] = run_span
        for c in calls_by_wf.get(o["op"], []):
            group_span[c["group"]] = ctx.tracer.add(
                o["op"], f"server.{c['operator']}", c["start"], c["end"], run_span)
        ctx.tracer.add(o["op"], "httpd.notify", r["run_end"], o["end"], root)
    _job_spans(ctx, jobs, lambda g, _start: group_span.get(g))

    done = [o for o in ops if o["op"] in runs]
    n = max(1, len(done))
    wall = (max(o["end"] for o in ops) - min(o["start"] for o in ops)) or 1.0
    names = {o["op"] for o in done}
    groups = [v for g, v in per_group.items() if g.split("/")[0] in names]
    tot = _spark_totals(groups)
    op_jobs = [j for j in jobs if j.group and j.group.split("/")[0] in names and j.end_ms]
    out = _spark_block(ctx, tot, n, wall, op_jobs)
    calls = [c for c in ctx.op_calls if c["wf"] in names]
    call_jobs = [j for j in op_jobs if j.group.count("/") == 2]
    op_time = {w: sum(c["end"] - c["start"] for c in cs) for w, cs in calls_by_wf.items()}
    out.update({
        "httpd.submit_s": _mean(o["acked"] - o["sent"] for o in ops if o.get("sent")),
        "httpd.queue_s": _mean(max(0.0, runs[o["op"]]["run_start"] - o["acked"]) for o in done),
        "httpd.notify_lag_s": _mean(o["end"] - runs[o["op"]]["run_end"] for o in done),
        "httpd.rejected_ratio": sum(1 for o in ops if o["rejected"]) / len(ops),
        "workflow.run_s": _mean(runs[w]["run_end"] - runs[w]["run_start"] for w in names),
        "workflow.tasks": _mean(runs[w]["tasks"] for w in names),
        "workflow.self_s": _mean(runs[w]["run_end"] - runs[w]["run_start"] - op_time.get(w, 0.0)
                                 for w in names),
        "workflow.retries": sum(runs[w]["retries"] for w in names),
        "server.op_s": _mean(c["end"] - c["start"] for c in calls),
        "spark.catalyst_analysis_s": _mean(c["phases"].get("analysis", 0.0) for c in calls),
        "spark.catalyst_optimization_s": _mean(
            c["phases"].get("optimization", 0.0) for c in calls),
        "spark.catalyst_planning_s": _mean(c["phases"].get("planning", 0.0) for c in calls),
        "server.op_jobs": len(call_jobs) / max(1, len(calls)),
        "store.cubes_start": ctx.cubes_start,
        "store.cubes_end": ctx.cubes_end,
        "generator.late_p90_s": tr.percentile(
            [max(0.0, o["sent"] - o["start"]) for o in ops if o.get("sent")] or [0.0], 90),
    })
    (rd0, wr0), log0 = ctx.io_before
    (rd1, wr1), log1 = ctx.io_after
    out["io.read_mb"] = max(0.0, rd1 - rd0 - tot.get("shuffle_read_b", 0)) / MB / n
    out["io.write_mb"] = max(
        0.0, wr1 - wr0 - (log1 - log0) - tot.get("shuffle_write_b", 0)) / MB / n
    out["trace.self_residual_s"] = _residual(ctx, done)
    return out
