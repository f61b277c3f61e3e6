#!/usr/bin/env python3
"""Benchmark entry point: builds the engine plus the benchmark from source
(see build.py), runs one workload in one JVM on local[nproc], and relays its
output; the last stdout line is the result JSON.

    python3 perfbench/run.py --workload raster_pipeline --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --all            # every workload, seed 1, end-to-end metrics
    python3 perfbench/run.py --selfcheck      # determinism self-check, small size

Workloads: raster_pipeline, dedup_index. --trace 1 reports the
per-layer metrics instead of the end-to-end ones; --spans FILE also writes
every span as one JSON line. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["raster_pipeline", "dedup_index"]
TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these module opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(cp, args, work):
    """Runs one benchmark JVM; returns (exit code, stdout lines)."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # compiler threads stay alive, so the JIT CPU summed over them never
    # loses a thread that exited
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--work", work] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.stderr.write(f"benchmark JVM exceeded {TIMEOUT_S} s and was stopped\n")
        return 124, []
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out.splitlines()


def selfcheck(cp, root):
    """Same seed twice must give identical digests and identical job,
    stage and byte counts; another seed must give different digests."""
    count_keys = ["spark.scheduler.jobs", "spark.scheduler.stages",
                  "spark.shuffle.write_mb", "llm.store_write_mb_per_update"]
    ok = True
    for wl in WORKLOADS:
        seen = []
        for seed in (1, 1, 2):
            code, lines = run_jvm(cp, ["--workload", wl, "--seed", str(seed), "--seconds", "1",
                                       "--trace", "1", "--size", "small"],
                                  os.path.join(root, ".bench_build", "run-selfcheck"))
            if code != 0 or not lines:
                print(f"{wl} seed {seed}: run failed ({code})")
                return False
            res = json.loads(next(l for l in lines if l.startswith('{"correct"')))
            dig = next(l for l in lines if l.strip().startswith("digests"))
            counts = {k: res["metrics"][k]["value"] for k in count_keys}
            seen.append((res["correct"], dig, counts))
        (c1, d1, n1), (c2, d2, n2), (c3, d3, _) = seen
        row = (c1 and c2 and c3, d1 == d2, n1 == n2, d1 != d3)
        print(f"{wl}: correct {row[0]}, same-seed digests equal {row[1]}, "
              f"same-seed counts equal {row[2]} {n1 if n1 != n2 else ''}{n2 if n1 != n2 else ''}, "
              f"other-seed digests differ {row[3]}")
        ok = ok and all(row)
    print("selfcheck " + ("passed" if ok else "FAILED"))
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "small"], default="full")
    ap.add_argument("--spans", help="write the traced spans here, one JSON line each")
    ap.add_argument("--all", action="store_true", help="run every workload in turn")
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    try:
        _, cp = build.build()
    except build.BuildError as e:
        sys.stderr.write(f"build failed: {e}\n")
        return 1
    root = build.ROOT
    if a.selfcheck:
        return 0 if selfcheck(cp, root) else 1
    if not a.workload and not a.all:
        ap.error("--workload or --all is required")
    ok = True
    for wl in WORKLOADS if a.all else [a.workload]:
        args = ["--workload", wl, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--size", a.size]
        if a.spans:
            args += ["--spans", os.path.abspath(a.spans)]
        code, lines = run_jvm(cp, args, os.path.join(root, ".bench_build", f"run-{os.getpid()}"))
        results = [l for l in lines if l.startswith('{"correct"')]
        for line in lines:
            if line not in results:
                print(line)
        if code != 0 or len(results) != 1:
            sys.stderr.write(f"benchmark JVM exited with {code} and {len(results)} result lines\n")
            return 1
        print(results[0])
        res = json.loads(results[0])
        ok = ok and res["correct"]
    return 0 if ok or not a.all else 1


if __name__ == "__main__":
    sys.exit(main())
