"""The benchmark's own tests, at sf0.001 and minimal length.

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the repository root. Each workload is run once untraced and once
traced (PERFBENCH_SMOKE=1 puts every workload on the sf0.001 tables), plus
one run with a deliberately wrong expected hash; the runs write under
.perfbench/test-* inside the checkout.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import compare  # noqa: E402
import probes  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
_RUNS: dict = {}


def _run(workload: str, seed: int, trace: int, workdir: str = "test-smoke") -> dict:
    key = (workload, seed, trace, workdir)
    if key not in _RUNS:
        env = dict(os.environ, PERFBENCH_SMOKE="1",
                   PERFBENCH_WORKDIR=os.path.join(ROOT, ".perfbench", workdir))
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
        lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
        _RUNS[key] = {"rc": proc.returncode, "report": json.loads(lines[-2]),
                      "final": json.loads(lines[-1]), "stderr": proc.stderr[-2000:]}
    return _RUNS[key]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_emits_every_end_to_end_metric_and_no_failures(workload):
    r = _run(workload, 1, 0)
    assert r["rc"] == 0, r["stderr"]
    final = r["final"]
    assert set(final) == {"correct", "attempted", "failed", "metrics"}
    assert final["correct"] is True and final["failed"] == 0 and final["attempted"] >= 1
    assert r["report"]["failed_ratio"] == 0.0
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in final["metrics"].items()} == want
    assert all(v["value"] > 0 for v in final["metrics"].values())
    if workload == "workflow_service":
        assert 0.0 <= r["report"]["slo_ok_ratio"] <= 1.0
    assert r["report"]["tail"]["percentile"] in ("p99", "p90", "p75", "max")


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_per_layer_metric_and_consistent_spans(workload):
    r = _run(workload, 1, 1)
    assert r["rc"] == 0, r["stderr"]
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in r["final"]["metrics"].items()} == want
    m = {k: v["value"] for k, v in r["final"]["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["spark.tasks"] > 0 and m["trace.spans"] > 0
    if workload == "workflow_service":
        assert m["workflow.tasks"] > 0 and m["server.op_s"] > 0
    else:
        assert m["registry.build_s"] > 0 and m["spark.collect_s"] > 0
    # self times are non-negative and, per op, add up to the op's latency
    with open(os.path.join(r["report"]["run_dir"], "spans.json")) as fh:
        spans = [probes.Span(**s) for s in json.load(fh)]
    selfs = probes.self_times(spans)
    assert min(selfs.values()) >= -1e-6
    assert m["trace.self_residual_s"] <= 0.01


@pytest.mark.parametrize("workload", WORKLOADS)
def test_seed_changes_order_not_metric_set(workload):
    a, b = _run(workload, 1, 0), _run(workload, 2, 0)
    assert a["report"]["op_order"] != b["report"]["op_order"]
    assert set(a["final"]["metrics"]) == set(b["final"]["metrics"])


def test_wrong_expected_hash_is_caught():
    """Corrupt one cached oracle hash: the run must report the op failed,
    print correct=false and exit non-zero."""
    import datagen
    from oracle import expected_hashes

    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", "test-corrupt")
    data = os.path.join(work, "data")
    sf_dir = datagen.ensure_dataset(data, 0.001)
    fp = datagen.fingerprint(sf_dir)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        names = json.load(fh)["olap_corpus"]["families"]["olap"]["queries"]
    expected_hashes(sf_dir, fp, names, data)
    path = os.path.join(data, f"oracle-{fp}.json")
    with open(path) as fh:
        cache = json.load(fh)
    cache[names[0]]["hash"] = "0" * 64
    with open(path, "w") as fh:
        json.dump(cache, fh)
    r = _run("olap_corpus", 1, 0, workdir="test-corrupt")
    assert r["rc"] != 0
    assert r["final"]["correct"] is False
    assert r["final"]["failed"] >= 1
    assert names[0] in r["report"]["failed_ops"] or names[0] in r["report"]["warm_failures"]


def test_tail_ladder_names_the_percentile():
    assert probes.tail([1.0] * 9 + [5.0])[0] == "max"
    label, value, beyond = probes.tail([float(i) for i in range(40)])
    assert (label, beyond) == ("p75", 10) and value == pytest.approx(29.25)
    assert probes.tail([float(i) for i in range(100)])[0] == "p90"
    assert probes.tail([float(i) for i in range(1000)])[0] == "p99"


def test_compare_verdicts():
    base = [1.0, 1.01, 0.99, 1.02, 0.98, 1.0, 1.01, 0.99, 1.0, 1.0]
    faster = [x * 0.8 for x in base]
    slower = [x * 1.3 for x in base]
    pair = lambda a, b: list(zip(a, b))  # noqa: E731
    assert compare.verdict(base, faster, True, 0.1, pair(base, faster))[0] == "improved"
    assert compare.verdict(base, slower, True, 0.1, pair(base, slower))[0] == "worse"
    assert compare.verdict(base, base, True, 0.1, pair(base, base))[0] == "unchanged"
    noisy = [0.5, 1.5, 0.7, 1.3, 1.0, 0.6, 1.4, 0.8, 1.2, 1.0]
    assert compare.verdict(base, noisy, True, 0.1, pair(base, noisy))[0] == "unresolved"
    assert compare.verdict(base, slower, True, None, pair(base, slower))[0] == "delta"
