"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py <runs A> <runs B>

Each side is a directory (searched recursively) or a list of files, each
either a captured stdout of perfbench/run.py or a run's report.json.
Runs are grouped by workload and by traced/untraced. For every metric the
tool prints each side's median and quartiles, B's pairwise win share over A
(runs paired by seed when both sides have the same seeds, else in order;
ties count for neither) and a verdict:

  improved    B wins at least 90% of the pairs and the medians differ by
              more than A's interquartile range, or every B run beats every
              A run;
  unresolved  the spread of either side exceeds the metric's bound;
  worse       B's median is worse than A's by more than the bound;
  unchanged   otherwise.

Bounds come from BENCHMARK.json's end_to_end list; per-layer metrics (the
traced runs) have none and get the verdict "delta" with their change.
Where one side holds both traced and untraced runs of a workload, the
tracing overhead on each end-to-end metric is printed as well.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(paths: list[str]) -> list[dict]:
    files = []
    for p in paths:
        if os.path.isdir(p):
            for dp, _, fs in os.walk(p):
                files += [os.path.join(dp, f) for f in fs
                          if f.endswith((".json", ".txt", ".out"))]
        else:
            files.append(p)
    runs = []
    for f in sorted(files):
        run = _parse(f)
        if run is not None:
            runs.append(run)
    return runs


def _parse(path: str) -> dict | None:
    with open(path) as fh:
        text = fh.read()
    try:
        doc = json.loads(text)
        if isinstance(doc, dict) and "record" in doc and "metrics" in doc:
            return doc
    except json.JSONDecodeError:
        pass
    objs = []
    for line in text.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                objs.append(json.loads(line))
            except json.JSONDecodeError:
                continue
    if len(objs) >= 2 and "record" in objs[-2] and "metrics" in objs[-1]:
        return {**objs[-2], "metrics": objs[-1]["metrics"]}
    return None


def _quart(v: list[float]) -> tuple[float, float, float]:
    if len(v) == 1:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def _better(a: float, b: float, lower: bool) -> bool:
    return b < a if lower else b > a


def verdict(a: list[float], b: list[float], lower: bool, bound: float | None,
            pairs: list[tuple[float, float]]) -> tuple[str, float]:
    wins = sum(1 for x, y in pairs if _better(x, y, lower))
    share = wins / len(pairs) if pairs else 0.0
    qa, ma, qa3 = _quart(a)
    qb, mb, qb3 = _quart(b)
    if bound is None:
        return "delta", share
    if (share >= 0.9 and abs(mb - ma) > qa3 - qa) or (
            all(_better(x, y, lower) for x in a for y in b)):
        return "improved", share
    spread = max((qa3 - qa) / abs(ma) if ma else 0.0, (qb3 - qb) / abs(mb) if mb else 0.0)
    if spread > bound:
        return "unresolved", share
    worse = ((mb - ma) if lower else (ma - mb)) / abs(ma) if ma else 0.0
    return ("worse" if worse > bound else "unchanged"), share


def _pairs(ra: list[dict], rb: list[dict], name: str) -> list[tuple[float, float]]:
    sa = {r["record"]["seed"]: r["metrics"][name]["value"] for r in ra if name in r["metrics"]}
    sb = {r["record"]["seed"]: r["metrics"][name]["value"] for r in rb if name in r["metrics"]}
    if set(sa) == set(sb) and len(sa) == len(ra) == len(rb):
        return [(sa[k], sb[k]) for k in sorted(sa)]
    va = [r["metrics"][name]["value"] for r in ra if name in r["metrics"]]
    vb = [r["metrics"][name]["value"] for r in rb if name in r["metrics"]]
    return list(zip(va, vb))


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer = {m["name"]: m for m in bench["per_layer"]}
    sides = [load_runs([p]) for p in argv]
    keys = sorted({(r["record"]["workload"], r["record"]["traced"]) for s in sides for r in s})
    for wl, traced in keys:
        ra = [r for r in sides[0] if (r["record"]["workload"], r["record"]["traced"]) == (wl, traced)]
        rb = [r for r in sides[1] if (r["record"]["workload"], r["record"]["traced"]) == (wl, traced)]
        print(f"\n== {wl} ({'traced' if traced else 'untraced'}): A {len(ra)} runs, B {len(rb)} runs")
        if not ra or not rb:
            continue
        print(f"{'metric':32s} {'A q1/median/q3':>32s} {'B q1/median/q3':>32s} {'B wins':>7s}  verdict")
        names = [n for n in (layer if traced else e2e) if n in ra[0]["metrics"]]
        for name in names:
            va = [r["metrics"][name]["value"] for r in ra if name in r["metrics"]]
            vb = [r["metrics"][name]["value"] for r in rb if name in r["metrics"]]
            meta = (layer if traced else e2e)[name]
            lower = meta["better"] == "lower"
            v, share = verdict(va, vb, lower, meta.get("bound"), _pairs(ra, rb, name))
            qa, qb = _quart(va), _quart(vb)
            if v == "delta":
                d = qb[1] - qa[1]
                v = f"delta {d:+.4g}" + (f" ({d / qa[1]:+.1%})" if qa[1] else "")
            print(f"{name:32s} {'%.4g/%.4g/%.4g' % qa:>32s} {'%.4g/%.4g/%.4g' % qb:>32s} "
                  f"{share:7.0%}  {v}")
    for label, side in zip("AB", sides):
        for wl in sorted({r["record"]["workload"] for r in side}):
            plain = [r for r in side if r["record"]["workload"] == wl and not r["record"]["traced"]]
            traced = [r for r in side if r["record"]["workload"] == wl and r["record"]["traced"]]
            if not plain or not traced:
                continue
            parts = []
            for name in e2e:
                tname = f"trace.{name}"
                if name in plain[0]["metrics"] and tname in traced[0]["metrics"]:
                    m0 = statistics.median(r["metrics"][name]["value"] for r in plain)
                    m1 = statistics.median(r["metrics"][tname]["value"] for r in traced)
                    parts.append(f"{name} {(m1 - m0) / m0:+.1%}" if m0 else f"{name} n/a")
            print(f"\ntracing overhead, side {label}, {wl}: " + ", ".join(parts))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
