"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark from
source (perfbench/build.py), runs one workload in one JVM with Spark at
local[nproc], checks its outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones from a traced run.
The full record of the run (workload metrics with sample counts, noise record,
setup steps, spans of a traced run) goes to .bench_build/perfbench/results/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = os.getcwd()
BENCH_JSON = os.path.join(ROOT, "BENCHMARK.json")
JVM_TIMEOUT_S = 170


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def cpu_ticks():
    """(all, steal) jiffies of the machine from /proc/stat: steal is time
    the hypervisor gave this machine's CPUs to other guests."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return sum(f), f[7]
    except (OSError, ValueError, IndexError):
        return None


def archive_mapped(cds_log):
    """Whether the JVM that wrote `cds_log` mapped the dynamic archive."""
    try:
        with open(cds_log) as fh:
            text = fh.read()
    except OSError:
        return False
    return "Mapped dynamic region" in text and "top archive failed" not in text


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.load(open(BENCH_JSON))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit("unknown workload " + a.workload)
    classpath = build.build()

    name = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    results = os.path.join(build.OUT, "results")
    work = os.path.join(build.OUT, "work", "%s-%d" % (name, os.getpid()))
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(results, name + ".json")
    if os.path.exists(out):
        os.remove(out)

    os.sync()  # the previous run's writes must not be flushed during this one
    load_before = loadavg()
    ticks_before = cpu_ticks()
    launched = int(time.time() * 1000)
    # the JVM runs in `work`; its class-data-sharing log says whether it
    # mapped the archive
    flags = ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-XX:SharedArchiveFile=" + build.ARCHIVE,
             "-Xlog:cds=info:file=cds.log"]
    cmd = build.java(classpath, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--launched", str(launched), "--out", out], flags)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)
    try:
        log, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        log, _ = proc.communicate()
    finally:
        cds = archive_mapped(os.path.join(work, "cds.log"))
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(results, name + ".log"), "w") as fh:
        fh.write(log or "")
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write((log or "")[-3000:])
        sys.exit("benchmark JVM failed with code %s" % proc.returncode)

    res = json.load(open(out))
    res["noise"]["loadavg_before"] = load_before
    res["noise"]["loadavg_after"] = loadavg()
    ticks_after = cpu_ticks()
    if ticks_before and ticks_after and ticks_after[0] > ticks_before[0]:
        res["noise"]["cpu_steal_share"] = ((ticks_after[1] - ticks_before[1])
                                           / (ticks_after[0] - ticks_before[0]))
    res["noise"]["cds_archive"] = cds
    if not cds:
        # set-up time without the archive is not comparable with set-up
        # time with it
        res["failed"] += 1
        res["correct"] = False
        res["failures"].append("the JVM did not map the class-data-sharing archive")
    traced = os.path.join(results, "%s-seed%d-trace0.json" % (a.workload, a.seed))
    if a.trace == 1 and os.path.exists(traced):
        # tracing overhead: traced minus untraced end-to-end, same seed
        base = json.load(open(traced))["e2e"]
        res["trace_overhead"] = {
            k: res["e2e"][k]["value"] - base[k]["value"]
            for k in base if base[k]["value"] is not None
            and res["e2e"][k]["value"] is not None}
    with open(out, "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)

    if a.trace == 1:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        source = res["layer"]
        metrics = {n: {"value": source.get(n, 0.0), "unit": u} for n, u in names}
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        source = res["e2e"]
        metrics = {n: {"value": source[n]["value"], "unit": u} for n, u in names}
    bad = [n for n, m in metrics.items() if not isinstance(m["value"], (int, float))]
    correct = res["correct"] and not bad
    failed = res["failed"] + (1 if bad else 0)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except build.BuildError as e:
        sys.exit(str(e))
