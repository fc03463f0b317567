"""Compare two sets of benchmark runs, a parent and a change.

    python3 perfbench/compare.py <parent_results_dir> <change_results_dir>

Each directory holds the ``<workload>-seed<n>-trace0.json`` records that
``run.py --out <dir>`` writes. For every workload and end-to-end metric
of ``BENCHMARK.json`` this prints each side's median and quartiles, the
pairs the change won (runs paired by seed) and a verdict:

- ``improved``: the change wins at least 9 of 10 pairs (ties count for
  neither side) and the medians differ by more than the parent's own
  spread (the distance between its quartiles);
- ``worse``: the change's median is worse than the parent's by more than
  the metric's bound, and the parent's spread is within the bound (or
  every change run is worse than every parent run);
- ``unresolved``: the parent's spread is wider than the bound, so a
  regression within the spread cannot be told from noise;
- ``no_regression``: none of the above.

Runs with a failed operation are left out of the statistics and counted;
more failed runs on the change side make every verdict of that workload
``worse``.

Exits 1 when any verdict is ``worse``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WIN_SHARE = 0.9


def load(results_dir: str) -> tuple[dict[str, dict[int, dict]], dict[str, int]]:
    """workload -> seed -> end-to-end metrics of the untraced runs whose
    operations all passed, and workload -> number of runs with failures."""
    out: dict[str, dict[int, dict]] = {}
    failed: dict[str, int] = {}
    for path in glob.glob(os.path.join(results_dir, "*-trace0.json")):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("failures"):
            failed[rec["workload"]] = failed.get(rec["workload"], 0) + 1
            continue
        out.setdefault(rec["workload"], {})[rec["seed"]] = rec["e2e"]
    return out, failed


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], pairs: list[tuple[float, float]], better: str, bound: float) -> dict:
    sign = 1.0 if better == "higher" else -1.0
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    spread = p3 - p1
    worse_by = sign * (pm - cm) / pm if pm else 0.0
    if pairs and wins >= WIN_SHARE * len(pairs) and abs(cm - pm) > spread:
        v = "improved"
    elif worse_by > bound and (spread / pm <= bound or all(sign * (c - p) < 0 for c in change for p in parent)):
        v = "worse"
    elif spread / pm > bound if pm else False:
        v = "unresolved"
    else:
        v = "no_regression"
    return {
        "parent": {"q1": p1, "median": pm, "q3": p3, "n": len(parent)},
        "change": {"q1": c1, "median": cm, "q3": c3, "n": len(change)},
        "wins": wins,
        "pairs": len(pairs),
        "worse_by": worse_by,
        "verdict": v,
    }


def compare(parent_dir: str, change_dir: str, bench: dict) -> dict:
    (parent, parent_failed), (change, change_failed) = load(parent_dir), load(change_dir)
    report: dict = {}
    for w in (x["name"] for x in bench["workloads"]):
        ps, cs = parent.get(w, {}), change.get(w, {})
        more_failures = change_failed.get(w, 0) > parent_failed.get(w, 0)
        for m in bench["end_to_end"]:
            name = m["name"]
            pv = [ps[s][name]["value"] for s in sorted(ps)]
            cv = [cs[s][name]["value"] for s in sorted(cs)]
            if not pv or not cv:
                report.setdefault(w, {})[name] = {"verdict": "unresolved", "reason": "no runs"}
                continue
            pairs = [(ps[s][name]["value"], cs[s][name]["value"]) for s in sorted(set(ps) & set(cs))]
            r = verdict(pv, cv, pairs, m["better"], m["bound"])
            if more_failures:
                r["verdict"] = "worse"
            r["failed_runs"] = {"parent": parent_failed.get(w, 0), "change": change_failed.get(w, 0)}
            report.setdefault(w, {})[name] = r
    return report


def main(argv) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    report = compare(argv[0], argv[1], bench)
    for w, metrics in report.items():
        for name, r in metrics.items():
            if "parent" not in r:
                print(f"{w:16s} {name:14s} {r['verdict']} ({r['reason']})")
                continue
            p, c = r["parent"], r["change"]
            print(
                f"{w:16s} {name:14s} parent {p['median']:.4g} [{p['q1']:.4g}, {p['q3']:.4g}] n={p['n']}  "
                f"change {c['median']:.4g} [{c['q1']:.4g}, {c['q3']:.4g}] n={c['n']}  "
                f"wins {r['wins']}/{r['pairs']}  {r['verdict']}"
            )
    return 1 if any(r["verdict"] == "worse" for m in report.values() for r in m.values()) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
