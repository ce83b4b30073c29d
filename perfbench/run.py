#!/usr/bin/env python3
"""Runs one benchmark workload against the engine, built from source.

    python3 perfbench/run.py --workload batch_sf01 --seed 42 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --size smoke --seconds 1   # every workload, tiny

Workloads: batch_sf01, batch_dupheavy, stream_ingest (or `all`, in one
driver process). `--trace 1` runs the traced variant and writes the
per-layer and span files to .perfbench_out/. The last stdout line is the
result object; the lines before it are `metric <name> <value> <unit>`.

Run state (Spark scratch, checkpoint and stream-store directories) lives
in .perfbench_state/run-<pid>/ and is removed when the run ends. A run
refuses to start while another run's state directory belongs to a live
process; directories left by dead runs are removed first.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the checkout stays as git would have it
import build  # noqa: E402

STATE_ROOT = os.path.join(ROOT, ".perfbench_state")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
RUN_LIMIT_S = 170  # one workload's run, build excluded, must end within this

# Same JVM flags as the repository's sbt `run`/`test` forks (build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pid_alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def claim_state_dir():
    """Creates this run's state directory, after reaping dead runs' ones."""
    os.makedirs(STATE_ROOT, exist_ok=True)
    for name in sorted(os.listdir(STATE_ROOT)):
        path = os.path.join(STATE_ROOT, name)
        pid = name[len("run-"):] if name.startswith("run-") else ""
        if pid.isdigit() and pid_alive(int(pid)) and int(pid) != os.getpid():
            raise SystemExit(f"[perfbench] refusing to start: run {pid} is still active ({path})")
        log(f"removing state left by an earlier run: {path}")
        shutil.rmtree(path, ignore_errors=True)
    mine = os.path.join(STATE_ROOT, f"run-{os.getpid()}")
    if os.path.exists(mine):
        raise SystemExit(f"[perfbench] refusing to start: {mine} still exists")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(mine, sub))
    return mine


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    p.add_argument("--fault", action="store_true",
                   help="hide the detected pairs from the correctness gate (it must fail)")
    a = p.parse_args()

    spawn_ms = int(time.time() * 1000)
    try:
        classes, cp = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    spawn_ms = int(time.time() * 1000)  # set-up time starts after the build

    state = claim_state_dir()
    mem = os.environ.get("SPARK_DRIVER_MEM", "2g")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(state, "spark-local"),
               SPARK_DRIVER_MEM=mem)
    cmd = ["java", f"-Xms{mem}", f"-Xmx{mem}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(state, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.sql.streaming.forceDeleteTempCheckpointLocation=true"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--size", a.size, "--state", state, "--out", OUT_DIR,
            "--spawn-ms", str(spawn_ms)] + (["--fault"] if a.fault else [])
    proc = subprocess.Popen(cmd, env=env, cwd=state, start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
    try:
        limit = RUN_LIMIT_S * (3 if a.workload == "all" else 1)
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {limit} s; stopped")
        return 1
    finally:
        stop()
        shutil.rmtree(state, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
