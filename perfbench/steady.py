"""Steadiness self-check: runs workloads repeatedly, one seed per run, and
prints each metric's median, quartiles and spread against its bound.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--seed0 1]
                                [--seconds S] [--trace 0|1] [--out FILE]

The spread is the distance between the first and third quartile
(statistics.quantiles, n=4) as a share of the median. A metric is steady
when its spread is within a third of its bound; the check fails (exit 1)
when any spread exceeds its bound. The artifact (--out, default under
.bench_build/results/) records cpus, heap, seeds, workload config, code
version, run count and every value, and is what compare.py reads.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cfg = json.load(open(os.path.join(HERE, "config.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    kind = "per_layer" if a.trace else "end_to_end"
    bounds = {m["name"]: m.get("bound") for m in bench[kind]}

    record = {"cpus": cfg["cpus"], "heap": cfg["heap"], "seconds": a.seconds,
              "trace": a.trace, "source_digest": build.digest(), "workloads": {}}
    ok = True
    for w in a.workloads.split(","):
        seeds = list(range(a.seed0, a.seed0 + a.runs))
        lines = []
        for seed in seeds:
            out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                  "--seed", str(seed), "--seconds", str(a.seconds),
                                  "--trace", str(a.trace)],
                                 capture_output=True, text=True, cwd=ROOT)
            if out.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{out.stderr[-3000:]}")
            lines.append(json.loads(out.stdout.strip().splitlines()[-1]))
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in lines[-1]["metrics"].items()), flush=True)
        stats = {}
        for name in lines[0]["metrics"]:
            values = [ln["metrics"][name]["value"] for ln in lines]
            med, q1, q3, sp = spread(values)
            bound = bounds.get(name)
            verdict = "" if bound is None else (
                "steady" if sp <= bound / 3 else "within bound" if sp <= bound else "TOO WIDE")
            if bound is not None and sp > bound:
                ok = False
            stats[name] = {"values": values, "median": med, "q1": q1, "q3": q3,
                           "spread": sp, "bound": bound}
            print(f"  {w:18s} {name:26s} median {med:10.4g}  q1 {q1:10.4g}  q3 {q3:10.4g}"
                  f"  spread {sp:6.1%}" + (f"  bound {bound:.0%}  {verdict}" if bound else ""))
        record["workloads"][w] = {
            "config": cfg["workloads"][w], "runs": len(lines), "seeds": seeds,
            "correct": all(ln["correct"] for ln in lines),
            "failed": sum(ln["failed"] for ln in lines),
            "attempted": sum(ln["attempted"] for ln in lines), "metrics": stats}
    out = a.out or os.path.join(build.OUT, "results", f"steady-{int(time.time())}.json")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1)
    print(f"artifact: {out}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
