#!/usr/bin/env python3
"""The repository benchmark: one workload run in a fresh Spark JVM.

    python3 perfbench/run.py --workload extract --seed 0 --seconds 10 --trace 0

Run from the root of a checkout. The workload runs in its own worker
process (perfbench/worker.py), which starts a fresh ``local[$(nproc)]``
JVM; this process only isolates it, enforces the time limit, stops every
process the run started and relays the result. Everything the run writes
stays under ``.perfbench_work/`` in the checkout.

Output: progress and host lines, then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics (the traced run also writes its spans to
``.perfbench_work/<run>/spans.json``). Exit code 0 only when every output
check passed.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("extract", "curate")
RUN_TIMEOUT_S = 170
# the driver JVM's heap: well below this host's 15 GB, which other
# processes share (the package's own 16g default exceeds physical memory)
DRIVER_MEM = "3g"
# steal time above which a run's timings say more about the host than the code
STEAL_WARN = 0.05


def child_env(work: Path) -> dict[str, str]:
    """Environment for the worker, its JVM and Spark's Python workers:
    the package importable from any directory, and every scratch path
    inside the run's work directory."""
    env = dict(os.environ)
    tmp = work / "tmp"
    local = work / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    env.update(
        PYTHONPATH=str(ROOT),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_LOCAL_DIR=str(local),
        SPARK_LOCAL_DIRS=str(local),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        TMPDIR=str(tmp),
    )
    return env


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_group(pgid: int) -> None:
    """SIGKILL whatever is left of the worker's process group (the JVM and
    Spark's Python workers belong to it) and wait until it is gone. Call
    after reaping the leader: a zombie still counts as a member."""
    deadline = time.monotonic() + 10
    while _group_alive(pgid) and time.monotonic() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "llm_document_parser_spark" / "__init__.py").is_file():
        print(f"no llm_document_parser_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    result_path = work / "result.json"
    log_path = work / "worker.log"
    cmd = [
        sys.executable, str(HERE / "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work), "--out", str(result_path),
    ]
    print(f"perfbench: {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} log={log_path.relative_to(ROOT)}", flush=True)
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=child_env(work), stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            stop_group(proc.pid)
    if rc != 0 or not result_path.is_file():
        why = "timed out" if rc is None else f"exited with {rc}"
        print(f"perfbench: worker {why}; last log lines:", file=sys.stderr)
        lines = log_path.read_text(errors="replace").splitlines()
        print("\n".join(lines[-40:]), file=sys.stderr)
        return 3
    report = json.loads(result_path.read_text())
    if report["run"]["other_jvms"]:
        print(f"perfbench: WARNING: other live JVMs {report['run']['other_jvms']} "
              "share the cores this run measured", flush=True)
    if report["run"]["timed_steal_frac"] > STEAL_WARN:
        print(f"perfbench: WARNING: the hypervisor took "
              f"{report['run']['timed_steal_frac']:.0%} of the CPU time during the "
              "timed passes", flush=True)
    for problem in report["problems"]:
        print(f"perfbench: CHECK FAILED: {problem}", flush=True)
    # the run record, then the result: always the last two lines
    print(json.dumps({"run": report["run"]}), flush=True)
    print(json.dumps(report["result"]), flush=True)
    return 0 if report["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
