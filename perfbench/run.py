"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n>   # every workload, all figures

Run from the repository root. Builds the program and the harness (first run
only, see build.py), runs one workload in one JVM with one SparkSession at
local[nproc], checks every output, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
per-layer ones, from a traced run. Exits non-zero when an operation fails
or a result is wrong.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("etl_warehouse", "lake_dml", "lake_read")
DEADLINE_S = 170  # a run must end within 180 s, its build excepted
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
CORE_SITE = """<?xml version="1.0"?>
<configuration>
  <property><name>fs.file.impl</name><value>perfbench.CountingFs</value></property>
</configuration>
"""


def cpu_steal():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classpath, workload, seed, seconds, trace, work, budget_s):
    """Run the harness; return its raw record, or raise on failure."""
    os.makedirs(work)
    cp = list(classpath)
    if trace:
        conf = os.path.join(work, "conf")
        os.makedirs(conf)
        with open(os.path.join(conf, "core-site.xml"), "w") as f:
            f.write(CORE_SITE)
        cp.insert(0, conf)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "raw.json")
    cmd = (["java", "-Xms2g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] + JVM_OPENS +
           ["-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--out", out,
            "--cores", str(os.cpu_count())])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()

        # the JVM runs in its own process group; take it down with us
        signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
        signal.signal(signal.SIGINT, lambda *a: (stop(), sys.exit(130)))
        try:
            p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            stop()
            raise RuntimeError(f"harness exceeded {budget_s:.0f} s")
    if not os.path.exists(out):
        with open(log_path) as f:
            raise RuntimeError(f"harness exited {p.returncode} without a result:\n"
                               + f.read()[-3000:])
    with open(out) as f:
        raw = json.load(f)
    raw["exit_code"] = p.returncode
    return raw


def one(workload, seed, seconds, trace):
    classpath = build.build()
    started = time.time()  # the first run's build has a budget of its own
    tel = {"nproc": os.cpu_count(), "local": f"local[{os.cpu_count()}]",
           "loadavg_start": loadavg(), "git_commit": git_commit(),
           "source_digest": build.source_digest()}
    steal0 = cpu_steal()
    runs = os.path.join(ROOT, ".bench_build", "perfbench", "runs")
    work = os.path.join(runs, f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        raw = run_jvm(classpath, workload, seed, seconds, trace, work,
                      DEADLINE_S - (time.time() - started))
    finally:
        tel["steal_jiffies"] = cpu_steal() - steal0
        tel["loadavg_end"] = loadavg()
        if os.path.isdir(work):
            keep = os.path.join(runs, "last-" + workload + ("-trace" if trace else ""))
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            for name in ("raw.json", "jvm.log"):
                if os.path.exists(os.path.join(work, name)):
                    shutil.copy(os.path.join(work, name), keep)
            shutil.rmtree(work, ignore_errors=True)
    tel["jvm_max_heap_bytes"] = raw["max_heap_bytes"]
    raw["telemetry"] = tel
    return raw


def declared(key):
    """Names BENCHMARK.json declares under `key`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[key]]


def summary(raw, trace):
    attempted, failed = metrics.fail_counts(raw)
    correct = failed == 0 and raw.get("exit_code") == 0 and bool(raw.get("checks"))
    if trace:
        vals = {k: (v, metrics.unit(k)) for k, v in metrics.per_layer(raw).items()}
    else:
        vals = metrics.end_to_end(raw)
    # a gated workload reports exactly the declared metrics; lake_read,
    # which the benchmark does not gate, reports all it has
    if raw["workload"] in declared("workloads"):
        vals = {k: vals[k] for k in declared("per_layer" if trace else "end_to_end")}
    return correct, attempted, failed, vals


def print_human(raw):
    print("telemetry: " + json.dumps(raw["telemetry"]))
    for c in raw.get("checks", []):
        if not c["ok"]:
            print(f"check FAILED {c['name']}: {c['detail']}")
    for o in raw.get("ops", []):
        if not o["ok"]:
            print(f"op FAILED {o['kind']} (round {o['round']}): {o['error']}")
    sizes = {k: v for k, v in raw.get("report", {}).items() if isinstance(v, (int, float, dict))}
    print(f"sizes: {json.dumps(sizes)}")
    for name, (v, unit) in metrics.report(raw).items():
        shown = "n/a" if v is None else f"{v:.6g}"
        print(f"{raw['workload']}.{name} = {shown} {unit}")


def save_counts(raw, seed):
    """Keep the traced run's counts for countdiff.py."""
    d = os.path.join(ROOT, ".bench_build", "perfbench", "counts")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{raw['workload']}-seed{seed}-{int(time.time() * 1000)}.json")
    with open(path, "w") as f:
        json.dump({"workload": raw["workload"], "seed": seed,
                   "counts": metrics.counts(raw)}, f, indent=1, sort_keys=True)
    print(f"counts saved: {os.path.relpath(path, ROOT)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        if a.workload == "all":
            ok = True
            for w in WORKLOADS:
                raw = one(w, a.seed, a.seconds, False)
                print_human(raw)
                ok &= summary(raw, False)[0]
            return 0 if ok else 1
        raw = one(a.workload, a.seed, a.seconds, bool(a.trace))
    except (build.BuildError, RuntimeError, OSError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 2
    print_human(raw)
    correct, attempted, failed, vals = summary(raw, bool(a.trace))
    if a.trace:
        save_counts(raw, a.seed)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
