"""Compares two steadiness artifacts (steady.py --out) of the benchmark.

    python3 perfbench/compare.py BASE.json NEW.json

Refuses artifacts whose cpus, heap, run length, trace mode or workload
config differ: their numbers are not comparable. Otherwise prints, per
workload and metric, both medians, the change, and whether NEW is worse than
BASE by more than the metric's bound; exits 1 if any metric is.
"""
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(base_path, new_path):
    base, new = json.load(open(base_path)), json.load(open(new_path))
    for key in ("cpus", "heap", "seconds", "trace"):
        if base[key] != new[key]:
            sys.exit(f"refused: {key} differs ({base[key]} vs {new[key]})")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    worse = False
    for w in sorted(set(base["workloads"]) & set(new["workloads"])):
        b, n = base["workloads"][w], new["workloads"][w]
        if b["config"] != n["config"]:
            sys.exit(f"refused: workload config of {w} differs")
        for name in sorted(set(b["metrics"]) & set(n["metrics"])):
            mb, mn = b["metrics"][name]["median"], n["metrics"][name]["median"]
            m = metrics.get(name, {})
            change = (mn - mb) / mb if mb else 0.0
            regress = m.get("bound") is not None and (
                change > m["bound"] if m["better"] == "lower" else -change > m["bound"])
            worse |= regress
            print(f"{w:18s} {name:26s} {mb:10.4g} -> {mn:10.4g}  {change:+7.1%}"
                  + ("  WORSE than bound" if regress else ""))
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main(*sys.argv[1:3])
