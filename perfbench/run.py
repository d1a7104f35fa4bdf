#!/usr/bin/env python3
"""Steady-state benchmark of the Spark engine in this repository.

    python3 perfbench/run.py --workload {bulk_etl,query_mix} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. Each invocation is one run, isolated from
every other: a fresh child process (``harness.py``) on
``local[$(nproc)]``, with its own ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and
``java.io.tmpdir`` under ``perfbench/work/`` in the checkout, deleted when the
run ends, and ``PYTHONPATH`` pointing at the checkout so Python workers
import the package from any working directory. Every process the run
started is stopped and waited for before this exits.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``, with the end-to-end metrics under ``--trace 0`` and the
per-layer ones under ``--trace 1``. The line before it is the run context
(versions, cores, heap, load average at start and end). Progress, the
warm-up curve and a readable summary go to stderr. The exit code is 0 only
if every output was correct.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cassandra_analytics_example_spark"
DRIVER_MEM = "3g"  # the heap; fits a 15 GiB host with room for the workers
CHILD_TIMEOUT_S = 170


def _session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _stop_session(sid: int) -> None:
    """Terminate every process of the child's session and wait until none
    is left (the JVM and the Python workers it forked)."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while _session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2

    t0 = time.time()
    nproc = len(os.sched_getaffinity(0))
    loadavg_start = os.getloadavg()[0]
    # not a dot-directory: the package's file listing skips tables whose
    # path has a hidden ancestor
    base = os.path.join(HERE, "work")
    run_dir = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local, os.path.join(base, "traces")):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    env.pop("SPARK_MASTER", None)
    result_path = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "harness.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work-dir", run_dir, "--result", result_path, "--t0", repr(t0),
        "--trace-out", os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"),
    ]
    code = out = None
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
        if code == 0:
            with open(result_path) as f:
                out = json.load(f)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
    finally:
        _stop_session(child.pid)
        child.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if out is None:
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        return 1
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc,
        "driver_mem": DRIVER_MEM,
        **out["context"],
        "loadavg_start": loadavg_start,
        "loadavg_end": os.getloadavg()[0],
    }
    print(json.dumps({"context": context}))
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through main's cleanup


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    sys.exit(main())
