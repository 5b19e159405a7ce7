"""Open-loop workload: JSON workflows POSTed to the HTTP service.

The program side is `EngineHttpServer(build_default_engine(spark, store),
farm_size=...)` in this process; the client side is loadgen.py in its own
process, sending workflows in async mode with a callback URL at the fixed
rate in workloads.json, in bursts of two. An op is one workflow; its
latency runs from its due time to the receipt of its callback.

Three kinds of workflow, sent in equal turns (the seed orders them):
  read   import -> subset(month range) -> reduce(sum) -> explorecube
  write  import -> aggregate(sum) -> exportcsv
  loop   import -> oph_for over two month bounds {subset -> reduce}
         -> massive cubeschema over the workflow's container
and every workflow ends with a massive delete of its own container, so the
cube catalog stays bounded. The equal shares are an assumption, not a
measured traffic mix. Each read's explorecube grid is checked against
DuckDB with the same parameters.
"""

from __future__ import annotations

import json
import math
import os
import random
import subprocess
import sys
import threading
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor

KINDS = ("read", "write", "loop")
BURST = 2  # workflows that arrive together
IMPORT_ARGS = {"explicit_dims": "l_returnflag|l_linestatus",
               "implicit_dim": "month", "measure": "l_quantity"}


def make_workflow(kind: str, idx: int, rng: random.Random, src: str, out_dir: str) -> dict:
    name = f"wf{idx}"
    tasks = [{"name": "import", "operator": "oph_importparquet",
              "arguments": {"src_path": src, "container": name, **IMPORT_ARGS}}]
    params: dict = {}
    if kind == "read":
        lo = rng.randint(1, 12)
        hi = rng.randint(lo, 12)
        params = {"lo": lo, "hi": hi}
        tasks += [
            {"name": "subset", "operator": "oph_subset", "dependencies": ["import"],
             "arguments": {"subset_dims": "month", "subset_filter": f"{lo}:{hi}",
                           "subset_type": "coord", "container": name}},
            {"name": "reduce", "operator": "oph_reduce", "dependencies": ["subset"],
             "arguments": {"operation": "sum", "container": name}},
            {"name": "explore", "operator": "oph_explorecube", "dependencies": ["reduce"],
             "arguments": {"limit": "100"}},
        ]
        leaves = ["explore"]
    elif kind == "write":
        tasks += [
            {"name": "aggregate", "operator": "oph_aggregate", "dependencies": ["import"],
             "arguments": {"operation": "sum", "group_dims": "l_linestatus",
                           "container": name}},
            {"name": "export", "operator": "oph_exportcsv", "dependencies": ["aggregate"],
             "arguments": {"output_path": os.path.join(out_dir, name)}},
        ]
        leaves = ["export"]
    else:
        bounds = sorted(rng.sample(range(1, 12), 2))
        tasks += [
            {"name": "loop", "operator": "oph_for",
             "arguments": {"key": "lo", "values": "|".join(map(str, bounds))}},
            {"name": "sub", "operator": "oph_subset", "dependencies": ["import"],
             "arguments": {"subset_dims": "month", "subset_filter": "@lo:12",
                           "subset_type": "coord", "container": name}},
            {"name": "red", "operator": "oph_reduce", "dependencies": ["sub"],
             "arguments": {"operation": "sum", "container": name}},
            {"name": "endloop", "operator": "oph_endfor", "arguments": {}},
            {"name": "schemas", "operator": "oph_cubeschema",
             "dependencies": ["red_0", "red_1"],
             "arguments": {"cube": f"[container={name}]"}},
        ]
        leaves = ["schemas"]
    tasks.append({"name": "cleanup", "operator": "oph_delete", "dependencies": leaves,
                  "arguments": {"cube": f"[container={name}]"}})
    return {"kind": kind, "params": params, "body": {"name": name, "tasks": tasks}}


def plan(ctx, n: int) -> list[dict]:
    """n seeded arrivals over the window in bursts of BURST, one burst per
    period, each shifted by a seeded offset of up to a tenth of the period.
    Every workflow shares the farm with the rest of its burst and, while the
    service keeps up, with no other. With one arrival per slot at a uniform
    offset, a workflow's latency depended mostly on whether its arrival
    happened to overlap another's, which at ~5 arrivals a run moved the
    median by 35% between seeds. Each kind gets an equal share of the
    arrivals (to within one); only their order is seeded."""
    rng = random.Random(ctx.seed)
    kinds = [KINDS[i % len(KINDS)] for i in range(n)]
    rng.shuffle(kinds)
    bursts = math.ceil(n / BURST)
    period = ctx.seconds / bursts
    starts = [(b + 0.1 * rng.random()) * period for b in range(bursts)]
    return [{**make_workflow(kind, i, rng, ctx.wf_input, ctx.wf_out), "due": starts[i // BURST]}
            for i, kind in enumerate(kinds)]


def load(ctx) -> None:
    """Table load: the workflows' import source, lineitem's cube columns as
    parquet, plus the DuckDB connection the explorecube check queries."""
    import duckdb

    ctx.wf_input = os.path.join(ctx.tmp, "wf_input.parquet")
    ctx.wf_out = os.path.join(ctx.tmp, "wf_out")
    con = duckdb.connect()
    con.execute(f"""COPY (SELECT l_returnflag, l_linestatus,
        CAST(month(l_shipdate) AS INTEGER) AS month, l_quantity
        FROM '{os.path.join(ctx.sf_dir, "lineitem.parquet")}')
        TO '{ctx.wf_input}' (FORMAT PARQUET)""")
    ctx.duck = con


def grid_ok(ctx, wf: dict, payload: dict) -> bool:
    """Completed, every task completed, and for reads the explorecube grid
    equals DuckDB's sum over the same month range."""
    resp = payload.get("response") or {}
    if payload.get("status") != "OPH_ODB_STATUS_COMPLETED":
        return False
    if any(t.get("status") != "OPH_ODB_STATUS_COMPLETED" for t in resp.get("tasks", [])):
        return False
    if wf["kind"] != "read":
        return True
    grid = next((t["response"] for t in resp["tasks"] if t["task"] == "explore"), None)
    if not isinstance(grid, dict):
        return False
    got = sorted((r[0], r[1], round(float(m[0]), 6))
                 for r, m in zip(grid["rowvalues"], grid["measurevalues"]))
    p = wf["params"]
    want = sorted((a, b, round(float(s), 6)) for a, b, s in ctx.duck.execute(
        f"""SELECT l_returnflag, l_linestatus, SUM(l_quantity) FROM '{ctx.wf_input}'
        WHERE month BETWEEN {p['lo']} AND {p['hi']} GROUP BY 1, 2""").fetchall())
    return got == want


class TimedEngine:
    """Traced runs only: a proxy around WorkflowEngine.run that records when
    each workflow started and ended inside the server, and sets a job group
    per workflow so jobs outside operators (massive expansion) are
    attributed to it."""

    def __init__(self, engine, spark):
        self.engine = engine
        self.spark = spark
        self.runs: dict[str, dict] = {}
        self.current = threading.local()

    def run(self, wf, role=None, **kw):
        name = wf.get("name")
        self.current.name = name
        self.spark.sparkContext.setJobGroup(name, "workflow")
        t0 = time.monotonic()
        run = self.engine.run(wf, role=role, **kw)
        t1 = time.monotonic()
        self.runs[name] = {
            "run_start": t0, "run_end": t1, "tasks": len(run.results),
            "retries": sum(max(0, r.attempts - 1) for r in run.results.values()),
        }
        return run


def wrap_operators(engine, timed: TimedEngine, store, calls: list) -> None:
    """Traced runs only: time every operator call, give it its own job
    group `<workflow>/<operator>/<n>`, and read the Catalyst phases of the
    cube plan it registers."""
    import probes

    sc = timed.spark.sparkContext
    counter = iter(range(1 << 30))

    def wrap(opname, fn):
        def timed_op(eng, args, inputs):
            wf = getattr(timed.current, "name", None)
            gid = f"{wf}/{opname}/{next(counter)}"
            sc.setJobGroup(gid, opname)
            t0 = time.monotonic()
            out = None
            try:
                out = fn(eng, args, inputs)
                return out
            finally:
                t1 = time.monotonic()
                entry = store.entries.get(out) if isinstance(out, str) else None
                calls.append({"wf": wf, "operator": opname, "group": gid, "start": t0,
                              "end": t1, "phases": probes.catalyst_phases(entry.cube.df)
                              if entry is not None and entry.cube is not None else {}})
                sc.setJobGroup(wf, "workflow")
        return timed_op

    for opname, fn in list(engine.operators.items()):
        engine.operators[opname] = wrap(opname, fn)


def _post_sync(port: int, body: dict) -> dict:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/execute", data=json.dumps(body).encode(),
        method="POST", headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=120) as r:
        return json.loads(r.read())


def setup(ctx) -> None:
    """Start the server and run the warm-up workflows, one of each kind in
    turn, all at once (sync mode, one connection each)."""
    from ophidia_server_spark.plans.httpd import EngineHttpServer
    from ophidia_server_spark.plans.server import build_default_engine
    from ophidia_server_spark.store import CubeStore

    ctx.store = CubeStore(spark=ctx.spark, workspace=os.path.join(ctx.tmp, "cubes"))
    engine = build_default_engine(ctx.spark, ctx.store)
    ctx.op_calls = []
    ctx.timed = None
    if ctx.trace:
        ctx.timed = TimedEngine(engine, ctx.spark)
        wrap_operators(engine, ctx.timed, ctx.store, ctx.op_calls)
    ctx.server = EngineHttpServer(engine=ctx.timed or engine,
                                  farm_size=ctx.wl["farm_size"])
    ctx.port = ctx.server.start()
    rng = random.Random(0)
    warm = [make_workflow(kind, 100000 + i, rng, ctx.wf_input, ctx.wf_out)
            for i, kind in enumerate(KINDS)]
    ctx.warm_workflows = len(warm)
    with ThreadPoolExecutor(max_workers=len(warm)) as pool:
        outs = list(pool.map(lambda wf: _post_sync(ctx.port, wf["body"]), warm))
    ctx.warm_failures += [wf["body"]["name"] for wf, out in zip(warm, outs)
                          if not grid_ok(ctx, wf, out)]


def measure(ctx) -> list[dict]:
    arrivals = plan(ctx, max(1, round(ctx.wl["rate_per_s"] * ctx.seconds)))
    ctx.cubes_start = len(ctx.store.entries)
    gen_plan = {
        "url": f"http://127.0.0.1:{ctx.port}/execute",
        "connections": min(ctx.wl["connections"], ctx.nproc),
        "drain_timeout_s": ctx.wl["drain_timeout_s"],
        "arrivals": [{"name": a["body"]["name"], "due": a["due"], "body": a["body"]}
                     for a in arrivals],
    }
    proc = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py")],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(json.dumps(gen_plan),
                                  timeout=ctx.seconds * 3 + ctx.wl["drain_timeout_s"] + 60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    ctx.server.stop()
    gen = json.loads(out)
    ctx.cubes_end = len(ctx.store.entries)
    by_name = {a["body"]["name"]: a for a in arrivals}
    ops = []
    for rec in gen["records"]:
        wf = by_name[rec["name"]]
        done = rec.get("http") == 202 and "callback_at" in rec
        end = rec["callback_at"] if done else rec.get("acked", rec["due"])
        ops.append({
            "op": rec["name"], "name": wf["kind"], "due_offset": wf["due"],
            "start": rec["due"], "end": end,
            "latency": end - rec["due"], "sent": rec.get("sent"),
            "acked": rec.get("acked"), "http": rec.get("http"),
            "rejected": rec.get("http") in (429, 503),
            "unfinished": rec.get("http") == 202 and not done,
            "ok": done and grid_ok(ctx, wf, rec["payload"]),
        })
    return ops
