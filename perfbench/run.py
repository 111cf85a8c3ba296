"""Runs one benchmark workload and prints its result.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the library and the benchmark JVM program if needed (build.py), makes the
workload's inputs from the seed, times SETUP_JVMS cold set-up-only JVMs
(perfbench.Setup), runs the benchmark JVM (perfbench.Main) at the core count
and heap of config.json, checks outputs, and prints one line per
headline metric followed by the result as one JSON line: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. The full record of the run, with cpus, heap, seed, workload
config and code version, is written under .bench_build/results/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_tables  # noqa: E402
import oracle  # noqa: E402

JVM_TIMEOUT_S = 170
# Set-up-only JVMs per run: setup_s is the median of their cold set-ups and
# the workload JVM's own.
SETUP_JVMS = 1
# Spark on JDK 17 outside spark-submit needs these (as the library's own
# build passes them to forked runs).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def load(name):
    with open(name) as fh:
        return json.load(fh)


def commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def run_jvm(cmd, work):
    """Runs a JVM to its end, passing it its launch time for set-up timing."""
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd + ["--launched-ns", str(time.time_ns())], stdout=log,
                                stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        sys.exit(f"perfbench: benchmark JVM failed ({code})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench = load(os.path.join(ROOT, "BENCHMARK.json"))
    cfg = load(os.path.join(HERE, "config.json"))
    if a.workload not in cfg["workloads"]:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    wcfg = cfg["workloads"][a.workload]
    build.build()

    work = os.path.join(build.OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jargs = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--work", work, "--cpus", str(cfg["cpus"]),
             "--out", os.path.join(work, "result.json")]
    data = os.path.join(work, "data")
    for k, v in wcfg.items():
        if k == "sf":
            gen_tables.main(data, a.seed, v)
            jargs += ["--data", data]
        elif k == "queries":
            jargs += ["--queries", ",".join(v)]
        else:
            jargs += ["--" + k, str(v)]
    java = ["java", *ADD_OPENS, "-Xmx" + cfg["heap"], "-Xss16m",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-cp", build.classpath()]
    setups = []
    for i in range(SETUP_JVMS):
        out = os.path.join(work, f"setup{i}.json")
        run_jvm(java + ["perfbench.Setup", "--cpus", str(cfg["cpus"]),
                        "--work", os.path.join(work, f"setup{i}"), "--out", out], work)
        setups.append(load(out))
    run_jvm(java + ["perfbench.Main", *jargs], work)
    res = load(os.path.join(work, "result.json"))
    setups.append(res["setup"])
    setup = {k: statistics.median(s[k] for s in setups) for k in setups[0]}

    failed = res["failed"]
    verdicts = {}
    if "queries" in wcfg:
        verdicts = oracle.check(data, os.path.join(work, "plain"), wcfg["queries"])
        thrown = set(res["detail"]["failed_queries"])
        failed += sum(1 for q, v in verdicts.items() if v and q not in thrown)
        for q, v in sorted(verdicts.items()):
            if v:
                print(f"check failed: {a.workload} {q}: {v}")

    for name, value in sorted(res["headline"].items()):
        print(f"{a.workload} {name} {value:.4f} {'MB/s' if name.endswith('_mb_per_s') else 's'}")
    if a.trace:
        layer = {**res["layer"], **setup}
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        e2e = {**res["metrics"], **setup}
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    for name, m in metrics.items():
        print(f"{a.workload} {name} {m['value']:.4f} {m['unit']}")
    line = {"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
            "metrics": metrics}

    results = os.path.join(build.OUT, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "trace": a.trace, "cpus": res["cpus"], "heap_mb": res["heap_mb"],
                   "config": wcfg, "commit": commit(), "source_digest": build.digest(),
                   "checks": verdicts, "setup_samples": setups, "result": res,
                   "line": line}, fh, indent=1)
    if a.trace:
        shutil.copy(os.path.join(work, "spans.json"), stem + "-spans.json")
    print(json.dumps(line))


if __name__ == "__main__":
    main()
