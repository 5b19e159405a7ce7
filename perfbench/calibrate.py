"""Measure the workflow service's capacity, from which workloads.json's
`rate_per_s` is set (its `calibration` entry says at what share).

    python3 perfbench/calibrate.py [seconds]

Starts the same server as the workflow_service workload, then runs
`connections` closed-loop clients that each POST the three workflow kinds
in turn, in sync mode, back to back, for `seconds` (default 30). Prints
one JSON line with the completed workflows per second and their median
latency."""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import service  # noqa: E402


def main() -> int:
    seconds = float(sys.argv[1]) if len(sys.argv) > 1 else 30.0
    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        wl = json.load(fh)["workflow_service"]
    work = os.path.join(root, ".perfbench")
    tmp = os.path.join(work, "tmp", str(os.getpid()))
    run._environment(tmp, None)
    sys.path.insert(0, root)
    sf_dir = run.datagen.ensure_dataset(os.path.join(work, "data"), wl["sf"])
    from ophidia_server_spark.session import get_spark

    ctx = run.SimpleNamespace(wl=wl, sf_dir=sf_dir, tmp=tmp, trace=False,
                              warm_failures=[], spark=get_spark("perfbench-calibrate"))
    service.load(ctx)
    service.setup(ctx)
    lat: list[float] = []
    fails = [0]
    stop_at = time.monotonic() + seconds
    lock = threading.Lock()

    def client(k: int) -> None:
        rng = random.Random(k)
        i = 0
        while time.monotonic() < stop_at:
            kind = service.KINDS[(k + i) % len(service.KINDS)]
            wf = service.make_workflow(kind, 1000 * k + i, rng, ctx.wf_input, ctx.wf_out)
            i += 1
            t0 = time.monotonic()
            out = service._post_sync(ctx.port, wf["body"])
            with lock:
                lat.append(time.monotonic() - t0)
                fails[0] += not service.grid_ok(ctx, wf, out)

    t0 = time.monotonic()
    threads = [threading.Thread(target=client, args=(k,)) for k in range(wl["connections"])]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.monotonic() - t0
    ctx.server.stop()
    run._stop_spark(ctx.spark)
    run.shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"clients": wl["connections"], "seconds": wall,
                      "workflows": len(lat), "failed": fails[0],
                      "capacity_per_s": len(lat) / wall,
                      "latency_p50_s": statistics.median(lat)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
