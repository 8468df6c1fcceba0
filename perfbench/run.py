"""The repository's benchmark: reconcile→repair jobs and near-duplicate
clustering, timed end to end in one Spark process.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source on first use (see build.py), generates
the workload's corpus from the seed, runs warm-up jobs, then a closed
loop of one job at a time for S seconds, checking every job's outputs
against the generator's ground truth. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. The line before it is the run's record:
what ran, on what host and how loaded, so runs can be compared.

`--selftest` runs the benchmark's own checks instead (test_perfbench.py).
`--scale F` multiplies every workload size (tests use small values).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = build.ROOT
BENCH_DIR = build.BENCH_DIR
SPEC = os.path.join(ROOT, "BENCHMARK.json")
# Whole-run limit: the JVM is killed past it, leaving room to clean up.
JVM_LIMIT_S = 170
# Spark on JDK 17 outside spark-submit needs these module opens.
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpu_probe():
    """Seconds for a fixed amount of hashing: the same work on every run,
    so a slow or contended host shows in the record."""
    block = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(256):
        h.update(block)
    return time.perf_counter() - t0


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times():
    """Host-wide CPU jiffies from /proc/stat: (steal, total)."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[7], sum(t)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_jvm(classpath, work, args):
    """Run the benchmark JVM; return its result file's JSON."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    # the parallel collector runs no GC threads beside the tasks
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"] +
           [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "graft.perfbench.Main",
            "--work", work, "--bench-dir", BENCH_DIR, "--out", out] + args)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            rc = proc.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")
    with open(out) as f:
        return json.load(f)


def declared_metrics(declared, measured, idle):
    """The declared metrics' values. A metric of a layer the workload
    never calls (its name starts with an `idle` prefix) reads 0; any
    other declared metric that was not measured, and any measured metric
    that was not declared, is an error."""
    got = dict(measured)
    got.update({m["name"]: 0.0 for m in declared
                if m["name"] not in got and m["name"].startswith(tuple(idle))})
    missing = [m["name"] for m in declared if m["name"] not in got]
    extra = sorted(set(got) - {m["name"] for m in declared})
    if missing or extra:
        raise SystemExit(f"perfbench: metrics missing {missing}, "
                         f"undeclared {extra}")
    return got


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    with open(SPEC) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if not a.selftest and a.workload not in names:
        ap.error(f"--workload must be one of {names}")

    classpath, source_digest = build.build()
    tag = "selftest" if a.selftest else a.workload
    work = os.path.join(build.BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            checks = run_jvm(classpath, work, ["--selftest"])["checks"]
            print(json.dumps(checks))
            sys.exit(0 if all(c["ok"] for c in checks) else 1)

        start = {"loadavg": loadavg(), "cpu_probe_s": cpu_probe()}
        steal0, total0 = cpu_times()
        out = run_jvm(classpath, work, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scale", str(a.scale)])
        steal1, total1 = cpu_times()
        end = {"loadavg": loadavg(), "cpu_probe_s": cpu_probe()}

        declared = spec["per_layer" if a.trace else "end_to_end"]
        if out["failed"]:
            sys.stderr.write("perfbench: failed jobs:\n" +
                             "\n".join(out["record"]["failures"]) + "\n")
        got = declared_metrics(declared, out["metrics"],
                               out["idle_layers"] if a.trace else [])
        record = dict(out["record"], trace=a.trace, seconds=a.seconds,
                      git_commit=git_commit(), source_sha256=source_digest,
                      context_start=start, context_end=end,
                      # CPU time the hypervisor gave to other guests while
                      # the JVM ran: the hot-host signal
                      steal_frac=(steal1 - steal0) / max(1, total1 - total0))
        records = os.path.join(build.BUILD, "records")
        os.makedirs(records, exist_ok=True)
        with open(os.path.join(records, f"{a.workload}-s{a.seed}-t{a.trace}-"
                               f"{int(time.time())}-{os.getpid()}.json"),
                  "w") as f:
            json.dump(record, f, indent=1)
        failed = out["failed"]
        print(json.dumps({"record": record}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": out["attempted"],
            "failed": failed,
            "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                        for m in declared},
        }))
        sys.exit(0 if failed == 0 else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
