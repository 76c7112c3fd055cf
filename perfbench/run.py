"""Benchmark launcher: one workload, one seed, one fresh process.

Usage, from the repository root:

    python3 perfbench/run.py --workload selective --seed 1 --seconds 10 --trace 0

Sets the run environment (repository on PYTHONPATH for Spark's Python
workers, a driver memory that fits the host, Spark local and temp
directories inside a per-run work directory under ``perfbench/out``),
starts ``workload.py`` in its own process group, relays its output and
exit code, and on exit stops every process of that group (the JVM and
its Python workers included) and removes the work directory.
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
TIMEOUT_S = 170
DRIVER_MEM = "2g"


def group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_group(pgid: int) -> None:
    """Kill the process group and wait until it is empty."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    t0 = time.time()
    while group_alive(pgid) and time.time() - t0 < 10.0:
        time.sleep(0.02)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)  # workload.py checks the name
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "fugu_spark", "__init__.py")):
        print("perfbench: no fugu_spark package next to perfbench/", file=sys.stderr)
        return 2

    work = os.path.join(HERE, "out", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
        # the same str hashes (dict and set layouts) in every run and worker
        PYTHONHASHSEED="0",
        FUGU_SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", ROOT, "--work", work,
    ]
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, start_new_session=True)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S}s", file=sys.stderr)
        code = 3
    finally:
        # the session is stopped and the result printed: what is left of the
        # group (the JVM's own exit, idle Python workers) is killed
        stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
