"""Closed-loop workloads: one client runs registered queries back to back.

Each op is `QUERIES[name](spark, sf_dir)` (the registry layer builds the
DataFrame, running any build-time jobs) followed by `collect()` (Catalyst
and the Spark jobs behind the result). The queries come in families, each
on its own dataset; one pass runs every query of every family once. The
client sends its next query only after the previous one returned, so a
slower program receives less load.
The seed permutes the query order of every pass; a run is a fixed whole
number of passes, so every run times the same multiset of queries.
"""

from __future__ import annotations

import math
import random
import time

import probes as tr
from oracle import result_hash


def _run_op(ctx, op_id: str, name: str) -> dict:
    from ophidia_server_spark.registry import QUERIES

    sc = ctx.spark.sparkContext
    sc.setJobGroup(op_id, name)
    if ctx.trace:
        io0, log0 = tr.tree_io_bytes(ctx.pid), tr.dir_bytes(ctx.event_dir)
    t0 = time.monotonic()
    with ctx.tracer.span(op_id, "op") as root:
        with ctx.tracer.span(op_id, "registry.build", root):
            df = QUERIES[name](ctx.spark, ctx.query_dir[name])
        t1 = time.monotonic()
        with ctx.tracer.span(op_id, "spark.collect", root):
            rows = df.collect()
    t2 = time.monotonic()
    rec = {"op": op_id, "name": name, "start": t0, "end": t2,
           "latency": t2 - t0, "build": t1 - t0, "collect": t2 - t1}
    if ctx.trace:
        io1, log1 = tr.tree_io_bytes(ctx.pid), tr.dir_bytes(ctx.event_dir)
        # the event log is the tracer's own write, not the op's
        rec["io_read_b"] = io1[0] - io0[0]
        rec["io_write_b"] = io1[1] - io0[1] - (log1 - log0)
        rec["phases"] = tr.catalyst_phases(df)
    rec["ok"] = result_hash(rows, df.columns) == ctx.expected[name]
    return rec


def load(ctx) -> None:
    """Table load: fill the registry's own table cache (load_tables plus
    the temp views) for each family's dataset, so no op loads them again."""
    from ophidia_server_spark.registry import _t

    for sf_dir in dict.fromkeys(ctx.query_dir.values()):
        _t(ctx.spark, sf_dir)


def setup(ctx) -> None:
    """Warm-up: every query once, in declared order, results checked."""
    for i, name in enumerate(ctx.queries):
        rec = _run_op(ctx, f"warm-{i}", name)
        ctx.warm_latency[name] = rec["latency"]
        if not rec["ok"]:
            ctx.warm_failures.append(name)


def measure(ctx) -> list[dict]:
    """ceil(seconds / pass_s) seeded passes, where pass_s is the workload's
    pass time on the calibration machine: a run measures about `seconds`
    there, and every run times the same number of passes whatever the
    machine's speed at the time."""
    rng = random.Random(ctx.seed)
    names = list(ctx.queries)
    ops: list[dict] = []
    for _ in range(max(1, math.ceil(ctx.seconds / ctx.wl["pass_s"]))):
        rng.shuffle(names)
        for name in names:
            op_id = f"op-{len(ops)}"
            t0 = time.monotonic()
            try:
                rec = _run_op(ctx, op_id, name)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                t1 = time.monotonic()
                rec = {"op": op_id, "name": name, "start": t0, "end": t1,
                       "latency": t1 - t0, "build": t1 - t0, "collect": 0.0,
                       "phases": {}, "io_read_b": 0, "io_write_b": 0, "ok": False,
                       "error": f"{type(exc).__name__}: {str(exc)[:300]}"}
            ops.append(rec)
    return ops
