"""The repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads are defined in workloads.json:

  olap_corpus       closed loop, one client, over two query families:
                    read-only OLAP/datacube queries at sf0.1 and
                    iterative/corpus queries at sf0.01
  workflow_service  open loop of JSON workflows over HTTP (async + callback)

The tables are generated from a fixed seed (datagen.py) under .perfbench/
on first use; --seed only orders the queries and draws the arrivals and the
order of the workflow kinds. Every op's result is checked: query results
against the DuckDB oracle's hash, workflows by status and, for reads, their
explorecube grid against DuckDB.

An op is one query (closed loops) or one workflow (open loop). ops_per_s is
completed ops per second of busy time, the time at least one op was in
flight, so on the open loop it is the service's rate and not the offered
load; the latency percentiles are over op latencies.

With --trace 0 the last line carries the end-to-end metrics; with --trace 1
it carries the per-layer metrics of ledger.py (Spark's event log is on, job
groups and /proc are read per op, and spans are written to the run's
directory). The line before it is the full report: run record, the tail
percentile's name and sample count, failed_ratio, slo_ok_ratio, peak_rss_mb
and, for the closed loop, each query family's own figures.
Exit status is 0 only when every checked output was correct.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import probes as tr  # noqa: E402

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "latency_p50_s": "s",
              "latency_tail_s": "s"}
SMOKE_SF = 0.001


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(tmp: str, event_dir: str | None) -> None:
    """Keep every file Spark, the JVM and the package write under tmp."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # every JVM (spark-submit's launcher too) keeps its temp files under tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData")
    submit = ["--conf", "spark.ui.showConsoleProgress=false",
              "--conf", f"spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"]
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{event_dir}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def _record(ctx, args, wl, fps) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    src = hashlib.sha256()
    pkg = os.path.join(ctx.root, "ophidia_server_spark")
    for dp, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dp, f), "rb") as fh:
                    src.update(f.encode() + fh.read())
    rev = "unknown"
    head = os.path.join(ctx.root, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            refpath = os.path.join(ctx.root, ".git", ref[5:])
            if os.path.exists(refpath):
                with open(refpath) as fh:
                    rev = fh.read().strip()
        else:
            rev = ref
    return {
        "workload": args.workload, "kind": wl["kind"], "seed": args.seed,
        "seconds": args.seconds, "traced": bool(args.trace), "sf": ctx.sf,
        "dataset_fingerprint": fps, "git_revision": rev,
        "source_sha256": src.hexdigest()[:16],
        "master": ctx.spark.sparkContext.master,
        "default_parallelism": ctx.spark.sparkContext.defaultParallelism,
        "nproc": ctx.nproc, "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "warmup_passes": 1 if wl["kind"] == "closed" else 0,
        "warmup_workflows": ctx.warm_workflows,
    }


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "ophidia_server_spark")):
        print("perfbench: run from the repository root (ophidia_server_spark/ not found)",
              file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    wl = workloads.get(args.workload)
    if wl is None or "kind" not in wl:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # one dataset per query family (closed loops) or for the service
    if wl["kind"] == "closed":
        scales = {fam: f["sf"] for fam, f in wl["families"].items()}
    else:
        scales = {"service": wl["sf"]}
    if os.environ.get("PERFBENCH_SMOKE") == "1":
        scales = dict.fromkeys(scales, SMOKE_SF)
    work = os.environ.get("PERFBENCH_WORKDIR", os.path.join(root, ".perfbench"))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = os.path.join(work, "runs", tag)
    tmp = os.path.join(work, "tmp", str(os.getpid()))
    os.makedirs(run_dir, exist_ok=True)
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    _environment(tmp, event_dir)
    sys.path.insert(0, root)

    data = os.path.join(work, "data")
    sf_dirs = {k: datagen.ensure_dataset(data, sf) for k, sf in scales.items()}
    fps = {k: datagen.fingerprint(d) for k, d in sf_dirs.items()}
    ctx = SimpleNamespace(
        root=root, wl=wl, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        sf=scales, sf_dir=sf_dirs.get("service"), tmp=tmp, run_dir=run_dir, event_dir=event_dir,
        pid=os.getpid(),
        nproc=len(os.sched_getaffinity(0)), tracer=tr.Tracer(bool(args.trace)),
        warm_failures=[], warm_latency={}, warm_workflows=0, expected={},
        io_before=None, io_after=None,
        wall_minus_mono=time.time() - time.monotonic())
    if wl["kind"] == "closed":
        import closed_loop as mod
        from oracle import expected_hashes

        ctx.family, ctx.query_dir = {}, {}
        for fam, f in wl["families"].items():
            ctx.expected.update(expected_hashes(sf_dirs[fam], fps[fam], f["queries"], data))
            for name in f["queries"]:
                ctx.family[name], ctx.query_dir[name] = fam, sf_dirs[fam]
        ctx.queries = list(ctx.family)
    else:
        import service as mod

    ctx.spark = None
    try:
        from ophidia_server_spark.session import get_spark

        t0 = time.monotonic()
        ctx.spark = get_spark("perfbench")
        t1 = time.monotonic()
        mod.load(ctx)
        t2 = time.monotonic()
        ctx.cores = ctx.spark.sparkContext.defaultParallelism
        mod.setup(ctx)
        t3 = time.monotonic()
        if ctx.trace:
            ctx.io_before = tr.tree_io_bytes(ctx.pid), tr.dir_bytes(event_dir)
        ops = mod.measure(ctx)
        if ctx.trace:
            ctx.io_after = tr.tree_io_bytes(ctx.pid), tr.dir_bytes(event_dir)
        record = _record(ctx, args, wl, fps)
    finally:
        if ctx.spark is not None:
            _stop_spark(ctx.spark)
        shutil.rmtree(tmp, ignore_errors=True)

    setup = {"boot": t1 - t0, "load": t2 - t1, "warm": t3 - t2}
    # refused or unfinished workflows have no latency; they count as failed
    lat = [o["latency"] for o in ops if not o.get("rejected") and not o.get("unfinished")]
    if not lat:
        print("perfbench: no op completed", file=sys.stderr)
        return 1
    # ops completed per second of busy time: the time at least one op was
    # in flight. For the closed loops that is the sum of op latencies; for
    # the open loop it leaves out the idle gaps between arrivals, which the
    # generator's rate sets, not the program
    ops_per_s = sum(1 for o in ops if o["ok"]) / tr.union_length(
        (o["start"], o["end"]) for o in ops)
    if wl["kind"] == "closed":
        record["timed_passes"] = len(ops) // len(ctx.queries)
    else:
        record["arrivals"] = len(ops)
        record["rate_per_s"] = wl["rate_per_s"]
        record["latency_limit_s"] = wl["latency_limit_s"]
    label, tail_v, beyond = tr.tail(lat)
    e2e = {
        "setup_s": sum(setup.values()),
        "ops_per_s": ops_per_s,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail_v,
    }
    # reported, not gated: the JVM grows its heap on GC timing, so the peak
    # moves by 10-70% between identical runs. Read after the JVM was waited
    # for, so nothing samples memory inside the timed window.
    peak_rss_mb = tr.peak_rss_bytes() / (1024.0 * 1024.0)
    failed = sum(1 for o in ops if not o["ok"])
    # refused (429/503) or not finished within the drain timeout: failed,
    # but not a wrong answer
    mismatched = [o["name"] for o in ops
                  if not o["ok"] and not o.get("rejected") and not o.get("unfinished")]
    report = {"record": record, "ops": len(ops), "failed": failed,
              "failed_ratio": failed / len(ops),
              "tail": {"percentile": label, "samples": len(lat), "beyond": beyond},
              "setup": setup, "warm_failures": ctx.warm_failures,
              "warm_latency_s": ctx.warm_latency,
              "failed_ops": sorted(set(mismatched)),
              "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
              "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"}}
    if wl["kind"] == "open":
        limit = wl["latency_limit_s"]
        report["slo_ok_ratio"] = sum(1 for o in ops if o["ok"] and o["latency"] <= limit) / len(ops)
    per_op = {}
    for o in ops:
        per_op.setdefault(o["name"], []).append(o["latency"])
    report["per_query_median_s"] = {k: statistics.median(v) for k, v in sorted(per_op.items())}
    if wl["kind"] == "closed":
        # each query family's share of the run, so a change to one family
        # can be told from the other
        report["families"] = {}
        for fam in wl["families"]:
            fo = [o for o in ops if ctx.family[o["name"]] == fam]
            busy = sum(o["latency"] for o in fo)
            report["families"][fam] = {
                "ops": len(fo), "ops_per_s": sum(1 for o in fo if o["ok"]) / busy,
                "latency_p50_s": statistics.median(o["latency"] for o in fo),
                "build_share": sum(o["build"] for o in fo) / busy}
    report["op_order"] = [o["name"] if wl["kind"] == "closed"
                          else [o["name"], round(o["due_offset"], 3)] for o in ops]
    report["run_dir"] = run_dir

    if ctx.trace:
        import ledger

        jobs, per_group = tr.read_event_log(event_dir)
        layer = (ledger.closed if wl["kind"] == "closed" else ledger.service)(
            ctx, ops, jobs, per_group)
        layer.update({
            "session.boot_s": setup["boot"], "session.load_s": setup["load"],
            "session.warmup_s": setup["warm"],
            "trace.setup_s": e2e["setup_s"], "trace.ops_per_s": e2e["ops_per_s"],
            "trace.latency_p50_s": e2e["latency_p50_s"],
            "trace.latency_tail_s": e2e["latency_tail_s"],
            "trace.peak_rss_mb": peak_rss_mb, "trace.spans": len(ctx.tracer.spans),
        })
        for k in ledger.PER_LAYER:
            layer.setdefault(k, 0.0)
        ctx.tracer.dump(os.path.join(run_dir, "spans.json"))
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in ledger.PER_LAYER.items()}
        shutil.rmtree(event_dir, ignore_errors=True)
    else:
        metrics = report["end_to_end"]
    correct = not mismatched and not ctx.warm_failures
    report["correct"] = correct
    with open(os.path.join(run_dir, "report.json"), "w") as fh:
        json.dump({**report, "metrics": metrics}, fh, indent=1)
    print(json.dumps(report))
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
