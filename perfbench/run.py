"""Pipeline benchmark launcher.

    python3 perfbench/run.py --workload chain_small_batches --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --smoke        # tiny inputs, every workload, traced

Run from the root of a checkout. Pins the host settings the program
reads (echoed on stdout), starts ``worker.py`` in its own session,
stops and waits for every process of that session (the JVM and its
Python workers included), removes the run's scratch files and prints
the result object as the last stdout line. Exits non-zero without a
result when the run fails or the package under test is missing.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "m4i_flink_tasks_spark")
SCRATCH = os.path.join(ROOT, ".perfbench")
LIMIT_S = 175


def host_env(run_dir: str) -> dict[str, str]:
    """``local[nproc]``, a driver heap that fits this host, and every
    scratch path inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) // (1024 * 1024)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{max(1, min(4, mem_gb // 4))}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONDONTWRITEBYTECODE": "1",
    }


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(f[3]) == sid and f[0] != "Z":
            out.append(int(pid))
    return out


def stop_session(sid: int, grace_s: float = 10.0) -> None:
    """Wait for the session to drain; then TERM, then KILL what is left,
    returning only once no process of it remains."""
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            for pid in session_pids(sid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.time() + wait_s
        while session_pids(sid):
            if time.time() > deadline:
                break
            time.sleep(0.05)
        else:
            return
    raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, all workloads, traced")
    a = ap.parse_args()
    if not os.path.isdir(PACKAGE):
        print(f"package under test not found at {PACKAGE}", file=sys.stderr)
        return 2
    if a.smoke:
        workload, seconds, trace = "smoke", 2.0, 1
    elif a.workload:
        workload, seconds, trace = a.workload, a.seconds, a.trace
    else:
        ap.error("--workload or --smoke is required")

    run_dir = os.path.join(SCRATCH, "runs", f"{workload}-s{a.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    env = host_env(run_dir)
    print(" ".join(f"{k}={v}" for k, v in env.items()), "spark.ui.showConsoleProgress=false")
    sys.stdout.flush()
    result = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--seed", str(a.seed), "--seconds", str(seconds),
        "--trace", str(trace), "--run-dir", run_dir, "--result", result,
    ]
    proc = subprocess.Popen(cmd, cwd=run_dir, env={**os.environ, **env}, start_new_session=True)
    try:
        code = proc.wait(timeout=LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {LIMIT_S} s", file=sys.stderr)
        code = None
    finally:
        stop_session(proc.pid, grace_s=0 if proc.poll() is None else 10.0)
        proc.wait()
    try:
        if code != 0 or not os.path.exists(result):
            print(f"worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(result, encoding="utf-8") as fh:
            line = fh.read().strip()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
