#!/usr/bin/env python3
"""Repo benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program from source on first
use (perfbench/build.py), runs the workload in a single JVM on
local[nproc], checks its outputs, and prints one JSON line last on stdout:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. A provenance record
(commit, seed, nproc, cores, heap, load average, CPU time) goes to stderr
and, with the spans of a traced run, to .bench_build/runs/<run>/.

`--pin` (batch_analytics only) records the current results as the pinned
expectations in perfbench/expected_batch.tsv instead of checking them.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("batch_analytics", "gun_session", "gun_ingest")
EXPECTED = os.path.join(HERE, "expected_batch.tsv")
HEAP = "3g"
RUN_LIMIT_S = 175      # a run must finish within 180 s
BUILD_LIMIT_S = 890    # ... or 900 s when it builds first
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    def bounded(lo, hi):
        def conv(s):
            n = int(s)
            if not lo <= n <= hi:
                raise argparse.ArgumentTypeError(f"{n} is outside {lo}..{hi}")
            return n
        return conv

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=bounded(0, 2**62))
    p.add_argument("--seconds", required=True, type=bounded(1, 120))
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--pin", action="store_true")
    a = p.parse_args(argv)
    if a.pin and a.workload != "batch_analytics":
        p.error("--pin applies to batch_analytics only")
    return a


def jvm_command(classpath, args, tmp):
    opens = [x for m in JDK_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.sql.warehouse.dir={tmp}/warehouse", "-Dspark.ui.enabled=false"]
            + opens + ["-cp", classpath, "perfbench.Main"] + args)


def run_jvm(cmd, cwd, log_path, timeout_s):
    """Run the JVM in its own process group; kill the group on timeout."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(cwd, "tmp"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            return proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def commit():
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        try:
            return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                  text=True, check=True).stdout.strip()
        except (OSError, subprocess.CalledProcessError):
            pass
    return "tree-" + build.source_hash(ROOT)[:16]


def steal_s():
    """Host CPU time stolen from this VM so far (all CPUs), in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def main(argv):
    t_start = time.monotonic()
    a = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        print(f"perfbench: no program sources under {ROOT}/src/main/scala", file=sys.stderr)
        return 1
    load_start, steal_start = os.getloadavg()[0], steal_s()
    build_dir = os.path.join(ROOT, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath, built = build.ensure_built(ROOT)
    limit = BUILD_LIMIT_S if built else RUN_LIMIT_S

    run_dir = os.path.join(build_dir, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    raw_path = os.path.join(run_dir, "raw.json")
    jargs = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--out", raw_path]
    if a.workload == "batch_analytics":
        jargs += ["--data", gen.write_tables(os.path.join(build_dir, "inputs", "tables"))]
        if not a.pin:
            jargs += ["--expected", EXPECTED]
    try:
        status = run_jvm(jvm_command(classpath, jargs, tmp), run_dir,
                         os.path.join(run_dir, "jvm.log"), limit - (time.monotonic() - t_start))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if status != 0 or not os.path.exists(raw_path):
        print(f"perfbench: JVM exited with {status}; see {run_dir}/jvm.log", file=sys.stderr)
        return 1
    with open(raw_path) as f:
        raw = json.load(f)

    if a.pin:
        with open(EXPECTED, "w") as f:
            f.write("# query\trows\thash (pinned with perfbench/run.py --pin)\n")
            for q, (n, h) in raw["observed"].items():
                f.write(f"{q}\t{n}\t{h}\n")

    o = raw["outcome"]
    provenance = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "commit": commit(),
        "nproc": os.cpu_count(), "cores_used": raw["cores"], "heap_max_mb": raw["heap_max_mb"],
        "loadavg_1m_start": load_start, "loadavg_1m_end": os.getloadavg()[0],
        "host_steal_s": steal_s() - steal_start,
        "window_steal_s": raw.get("window_steal_s"),
        "peak_rss_mb": raw["peak_rss_mb"],
        "window_s": raw["window_s"], "process_cpu_s": raw["process_cpu_s"],
        "executor_cpu_s": sum(j["cpu_ns"] for j in raw["jobs"]) / 1e9 if a.trace else None,
        "setup_samples_s": raw["setup_s"], "failures": o["failures"],
    }
    result = {
        "correct": o["failed"] == 0,
        "attempted": o["attempted"],
        "failed": o["failed"],
        "metrics": metrics.per_layer(raw) if a.trace else metrics.end_to_end(raw),
    }
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump({"provenance": provenance, **result}, f, indent=1)
    if a.trace:
        with open(os.path.join(run_dir, "spans.jsonl"), "w") as f:
            for s in raw["spans"]:
                f.write(json.dumps(s) + "\n")
    print(json.dumps({"provenance": provenance}), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
