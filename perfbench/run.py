#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark from
source with sbt (once per source state; later runs reuse the build),
runs one workload in a fresh JVM, and prints as its last stdout line one
JSON object: correct, attempted, failed and the metrics BENCHMARK.json
lists (end-to-end ones untraced, per-layer ones traced). The line before
it carries the run's detail: input size and digest, host-noise record,
sample counts. Exits non-zero, printing no result, when the build or the
run fails.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = "perfbench"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", f"{BENCH}/build.sbt",
            f"{BENCH}/project", f"{BENCH}/src/main"]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(path)
            if "target" not in d.split(os.sep) for f in fs)
        for f in files:
            if "/target/" in f or "/project/project/" in f:
                continue
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out_dir):
    """Compile engine + benchmark; return the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(out_dir, "classpath.txt")
    stamp_file = os.path.join(out_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        # resolve from the local cache through the user's configured
        # repositories, as the engine's own build does
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(out_dir, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(root, BENCH), env=env, stdout=subprocess.PIPE,
            stderr=log, stdin=subprocess.DEVNULL, text=True,
            start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log_path})")
        log.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ":" not in lines[-1]:
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_jvm(cp, args, work, out_path, log_path):
    """Run one workload; return (exit code, peak RSS in MB)."""
    cmd = ["java"] + [x for p in ADD_OPENS
                      for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed-size heap under the throughput collector: the resident
        # set then tracks what the run keeps, not how far G1 chose to grow
        f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work-dir", work, "--out", out_path]
    os.makedirs(os.path.join(work, "jvm-tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        deadline = time.monotonic() + RUN_TIMEOUT_S
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                proc.returncode = os.waitstatus_to_exitcode(status)
                # ru_maxrss is in KiB on Linux
                return proc.returncode, usage.ru_maxrss / 1024.0
            if time.monotonic() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                os.wait4(proc.pid, 0)
                proc.returncode = -9
                fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log_path})")
            time.sleep(0.05)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the repository root (BENCHMARK.json not found)", 2)
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}", 2)
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("engine sources (build.sbt, src/main/scala) not found", 2)

    out_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out_dir, exist_ok=True)
    cp = build(root, out_dir)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(out_dir, "runs", tag)
    out_path = os.path.join(work, "result.json")
    log_dir = os.path.join(out_dir, "logs")
    os.makedirs(log_dir, exist_ok=True)
    log_path = os.path.join(log_dir, f"{tag}.log")
    shutil.rmtree(work, ignore_errors=True)
    try:
        code, rss_mb = run_jvm(cp, args, work, out_path, log_path)
        if code != 0 or not os.path.isfile(out_path):
            fail(f"run failed (exit {code}); see {log_path}")
        with open(out_path) as fh:
            res = json.load(fh)
        if args.trace:
            spans = os.path.join(work, "spans.json")
            if os.path.isfile(spans):
                os.makedirs(os.path.join(out_dir, "traces"), exist_ok=True)
                shutil.copy(spans, os.path.join(out_dir, "traces", f"{tag}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = dict(res["metrics"])
    got["peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        name, unit = m["name"], m["unit"]
        if name in got:
            if got[name]["unit"] != unit:
                fail(f"metric {name}: unit {got[name]['unit']} != {unit}")
            metrics[name] = {"value": got[name]["value"], "unit": unit}
        elif args.trace:
            # a layer this workload never calls did no work
            metrics[name] = {"value": 0.0, "unit": unit}
        else:
            fail(f"end-to-end metric {name} not measured")
    detail = dict(res["detail"])
    detail["peak_rss_mb"] = rss_mb
    detail["all_metrics"] = got
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
