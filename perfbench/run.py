"""Benchmark launcher.

    python3 perfbench/run.py --workload <star_batch|lakehouse> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It starts ``perfbench.worker`` in a child
process with the sources of process-to-process variance pinned: a fixed
``PYTHONHASHSEED``, a fixed-size 1g JVM heap, two malloc arenas,
``local[min(2, cpus)]``, and Spark's local dirs inside ``.perfbench/``.
Spark's stderr goes to ``.perfbench/<workload>.log`` so the last line of
standard output is the result: one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The exit code is 0 only when
every output check passed.

It reads the sf0.1 star-schema tables (``perfbench.harness.sf_dir``) and
writes nothing outside the repository. Every process the run starts has
ended when it exits.
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
TIMEOUT_S = 170
DRIVER_MEM = "1g"
# Two task threads on a 4-vCPU virtual machine leave the other vCPUs to
# the JIT, GC and Python threads, and let the scheduler route around a
# vCPU the hypervisor is stealing; with one thread per vCPU every stage
# waits for its slowest task.
MAX_CPUS = 2


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _end_group(pgid: int) -> None:
    """Stop whatever is left of the child's process group (the JVM leaves
    on its own once the child's pipe closes) and wait until it is gone."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        deadline = time.monotonic() + grace
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not _group_alive(pgid):
            return
        os.killpg(pgid, sig)
    deadline = time.monotonic() + 10.0
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "konohadataplatform_spark")):
        print("perfbench: konohadataplatform_spark/ not found beside perfbench/",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "local"), exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_SHUFFLE", None)
    env.update(
        PYTHONHASHSEED="0",
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(min(MAX_CPUS, len(os.sched_getaffinity(0)))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # glibc's per-thread malloc arenas make the JVM's native memory,
        # and so its peak RSS, depend on thread scheduling
        MALLOC_ARENA_MAX="2",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir,
    ]
    log_path = os.path.join(work, f"{args.workload}.log")
    try:
        with open(log_path, "w", encoding="utf-8") as log:
            proc = subprocess.Popen(
                cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log,
                stdin=subprocess.DEVNULL, start_new_session=True,
            )
            try:
                out, _ = proc.communicate(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.communicate()
                print(f"perfbench: timed out after {TIMEOUT_S}s; see {log_path}",
                      file=sys.stderr)
                return 3
            finally:
                _end_group(proc.pid)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    result = None
    for line in reversed(out.decode("utf-8", "replace").splitlines()):
        try:
            result = json.loads(line)
            break
        except ValueError:
            continue
    if not isinstance(result, dict) or "metrics" not in result:
        print(f"perfbench: no result (exit {proc.returncode}); see {log_path}",
              file=sys.stderr)
        return proc.returncode or 1
    print(json.dumps(result))
    if proc.returncode:
        print(f"perfbench: output check failed; see {log_path}", file=sys.stderr)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
