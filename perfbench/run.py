#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: etl_daily, analytics
(see perfbench/README.md). The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.

This launcher prepares the environment and runs bench_main.py in a child
process group that it always stops:
  * the repository root goes on PYTHONPATH, so Spark's Python workers can
    import the program (pandas-UDF entries fail without it);
  * every scratch file (inputs, warehouse, Spark local and temp dirs) lives
    under .perfbench_work/ in the checkout and is removed afterwards; trace
    spans are kept under .perfbench_out/.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

import resources

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_daily", "analytics")
#: The child is stopped after this long; the run then fails without a result.
HARD_LIMIT_S = 170
#: Spark driver heap per workload. G1 sizes the heap from GC timings, which
#: the host's steal moves, so peak RSS follows the cap more than the program.
#: Over ten seeds of analytics the quartile spread of peak RSS was 0.39 of
#: the median with the session factory's 16 GB default, 0.27 with 3 GB and
#: 0.10 with 1 GB, at the same CPU per operation. etl_daily is steady at
#: 3 GB (0.06), and 1 GB costs it about a tenth more CPU per day in GC.
DRIVER_MEM = {"etl_daily": "3g", "analytics": "1g"}


def group_members(pgid: int) -> list[int]:
    """Live (not zombie) processes of a process group."""
    return [
        pid for pid, f in resources.processes().items() if int(f[2]) == pgid and f[0] != "Z"
    ]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "currency_etl_spark", "pipeline.py")):
        print("perfbench: program sources (currency_etl_spark/) not found", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out = os.path.join(ROOT, ".perfbench_out")
    tmp = os.path.join(work, "tmp")
    for d in (tmp, out):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM[args.workload],
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "spark-warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # no hsperfdata file in the system temp dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "bench_main.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out,
    ]
    # a SIGTERM to this launcher still stops the child group (via finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(4))
    child = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True)
    try:
        code = child.wait(timeout=HARD_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: stopped after {HARD_LIMIT_S} s", file=sys.stderr)
        code = 3
    finally:
        # the child's group holds the JVM and Spark's Python workers
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        child.wait()
        deadline = time.monotonic() + 20
        while group_members(child.pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
