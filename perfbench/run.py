#!/usr/bin/env python3
"""Run one benchmark workload against the engine sources of this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first call builds the engine and the benchmark with sbt (offline) and
stages the runtime classpath under perfbench/target/stage; later calls
reuse it until a source file is newer than the stage. Each run then starts
one JVM (perfbench.Main), whose last stdout line is the result object; this
script checks its shape and prints it as its own last line. All files the
run writes go under perfbench/.work.

--record writes the digests of a workload's ops into
perfbench/expected/<sf>.tsv instead of checking them. A traced run also
writes its spans and per-op records to
perfbench/.work/run-<workload>/trace-<workload>-seed<n>.json.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
STAGE = BENCH / "target" / "stage"
WORK = BENCH / ".work"
WORKLOADS = ("interactive", "corpus_heavy", "streaming", "nightly_etl")
RUN_TIMEOUT_S = 170
RECORD_TIMEOUT_S = 900
BUILD_TIMEOUT_S = 700


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for root in (REPO / "src" / "main", BENCH / "src" / "main"):
        for p in root.rglob("*"):
            if p.is_file():
                newest = max(newest, p.stat().st_mtime)
    for p in (REPO / "build.sbt", BENCH / "build.sbt"):
        newest = max(newest, p.stat().st_mtime)
    return newest


def build():
    stamp = STAGE / "classpath.txt"
    if stamp.exists() and stamp.stat().st_mtime >= newest_source_mtime():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    offline = ["-Dsbt.offline=true", "-Xmx2g"]
    if repos.exists():
        offline += ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(offline)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "stageClasspath"]
    log = WORK / "build.log"
    with open(log, "w") as out:
        code = run_bounded(cmd, BENCH, env, out, out, BUILD_TIMEOUT_S)
    if code != 0 or not stamp.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {code}), log in {log}")


def run_bounded(cmd, cwd, env, stdout, stderr, timeout_s):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            stderr=stderr, start_new_session=True)
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """A quarter of the machine's memory, between 2 and 6 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{max(2, min(6, kb // (4 * 1024 * 1024)))}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    for need in (REPO / "build.sbt", REPO / "src" / "main" / "scala" / "graft",
                 BENCH / "data"):
        if not need.exists():
            fail(f"{need} is missing: run from a full checkout of the repo")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    WORK.mkdir(exist_ok=True)
    build()
    run_dir = WORK / f"run-{args.workload}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    expected = BENCH / "expected"

    java_opts = (STAGE / "java-options.txt").read_text().split()
    cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
           + java_opts
           + ["-cp", (STAGE / "classpath.txt").read_text().strip(),
              "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores()), "--data", str(BENCH / "data"),
              "--work", str(run_dir), "--expected", str(expected)]
           + (["--record", "1"] if args.record else []))
    out_path, err_path = run_dir / "stdout.txt", run_dir / "stderr.txt"
    # spark.local.dir (set by Main) must win, so shuffle files stay in the run
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    t0 = time.time()
    with open(out_path, "w") as out, open(err_path, "w") as err:
        code = run_bounded(cmd, run_dir, env, out, err,
                           RECORD_TIMEOUT_S if args.record else RUN_TIMEOUT_S)
    lines = [l for l in err_path.read_text().splitlines()
             if l.startswith("[perfbench]")]
    for l in lines[-40:]:
        print(l, file=sys.stderr)
    print(f"perfbench: JVM exited {code} after {time.time() - t0:.1f} s",
          file=sys.stderr)
    if code != 0:
        sys.stderr.write(err_path.read_text()[-3000:])
        fail(f"run failed (exit {code}), stderr in {err_path}")
    if args.record:
        print(f"perfbench: wrote {expected}", file=sys.stderr)
        return

    last = out_path.read_text().strip().splitlines()[-1]
    result = json.loads(last)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {last}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
