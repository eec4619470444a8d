"""Run one perfbench workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload runs in a child process whose
stdout/stderr (Spark and JVM logs included) go to a side log under
``.perfbench_work/logs``; every file the run writes stays under
``.perfbench_work``. Exit code 0 and one JSON line
``{"correct", "attempted", "failed", "metrics"}`` on success; a non-zero
exit and no result line otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("interactive_sql", "kb_curation")
# a run must end within 180 s; leave room for teardown
CHILD_TIMEOUT_S = 170


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, process group) of every live process, from /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            out[int(d)] = (int(fields[1]), int(fields[2]))
    return out


def _kill_group(pgid: int) -> None:
    """SIGKILL a process group and every process below its members, and
    wait until none of them is left. Spark's Python worker daemons are
    children of the JVM in sessions of their own, so the group alone
    misses them."""
    procs = _procs()
    doomed = {p for p, (_pp, g) in procs.items() if g == pgid}
    todo = list(doomed)
    while todo:
        parent = todo.pop()
        for p, (pp, _g) in procs.items():
            if pp == parent and p not in doomed:
                doomed.add(p)
                todo.append(p)
    for p in doomed:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for _ in range(200):
        if not doomed & _procs().keys():
            return
        time.sleep(0.05)


def _run(cmd: list[str], env: dict, cwd: str, log, deadline: float) -> int:
    """Run one worker process in its own process group; on exit, timeout
    or a signal to this process, kill the whole group (the JVM and Spark's
    Python workers are in it) and wait for it."""
    proc = subprocess.Popen(
        cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
        start_new_session=True,
    )

    def _stop(signum, _frame):
        _kill_group(proc.pid)
        proc.wait()
        shutil.rmtree(cwd, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        return -1
    finally:
        _kill_group(proc.pid)
        proc.wait()


def main() -> int:
    deadline = time.monotonic() + CHILD_TIMEOUT_S
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="override the workload's data scale (smoke tests)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "mindsdb_spark")):
        print("perfbench: mindsdb_spark package not found next to perfbench/",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    tag = f"{args.workload}_s{args.seed}_t{args.trace}_{os.getpid()}"
    tmp = os.path.join(work, "tmp", tag)
    logs = os.path.join(work, "logs")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    out = os.path.join(tmp, "result.json")
    env = dict(os.environ)
    env.update({
        # Spark's Python workers (pandas UDFs) import mindsdb_spark and
        # perfbench from the checkout, whatever the caller's cwd
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        # every JVM, spark-submit's launcher included: temp files in the
        # run's temp dir, no hsperfdata file under the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    base = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work,
    ] + (["--scale", str(args.scale)] if args.scale else [])
    with open(os.path.join(logs, tag + ".log"), "w") as log:
        # --t0: set-up time counts from the worker process's start
        code = _run(base + ["--out", out, "--t0", repr(time.time())], env, tmp, log, deadline)
    result = None
    if code == 0 and os.path.exists(out):
        with open(out) as f:
            result = json.load(f)
    shutil.rmtree(tmp, ignore_errors=True)
    if result is None:
        print(f"perfbench: workload failed (exit {code}); see {logs}/{tag}.log",
              file=sys.stderr)
        return 1
    errors = result.pop("errors")
    if errors:
        print(f"perfbench: failing statements: {errors}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
