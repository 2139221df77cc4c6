"""Search benchmark for xltsearch_spark: query and update workloads.

    python3 perfbench/run.py --workload query|update --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke                 # both workloads, tiny corpus
    python3 perfbench/run.py --self-test             # the checker rejects wrong answers
    python3 perfbench/run.py --rebuild-oracle-cache  # drop the cache, recompute the oracles

Run from anywhere: the launcher starts ``bench.py`` from the repo root with
PYTHONPATH set to it (Spark's Python workers import ``xltsearch_spark``
through their working directory), the console progress bar off, a per-run
scratch directory for Spark's local dir, Java's temp dir and the
warehouses, and a driver memory that fits the host. In a traced run
(``--trace 1``) Spark writes an uncompressed, unrolled event log there.
The launcher stops every process the run started and removes the scratch
directory. The last line of standard output is the run's JSON result.
"""

from __future__ import annotations

import argparse
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 175
SMOKE_TIMEOUT_S = 600


def driver_memory() -> str:
    """1 GiB, or a quarter of physical memory if that is less. The corpora
    here need far less heap. The heap is also fixed at that size and touched
    at start (``child_env``): a heap the collector grows when it chooses
    makes the high-water RSS jump between runs."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(1024, total_kb // 4096)}m"


def child_env(tmp: str, trace: bool) -> dict[str, str]:
    java_tmp = os.path.join(tmp, "java")
    os.makedirs(java_tmp)
    mem = driver_memory()
    submit = ["--conf", "spark.ui.showConsoleProgress=false",
              "--driver-java-options", f"-Djava.io.tmpdir={java_tmp} -XX:-UsePerfData "
                                       f"-Xms{mem} -XX:+AlwaysPreTouch"]
    if trace:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{log_dir}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    env = dict(os.environ)
    env.update(PYTHONPATH=ROOT, TMPDIR=java_tmp,
               SPARK_LOCAL_DIR=os.path.join(tmp, "spark-local"),
               SPARK_DRIVER_MEM=mem,
               PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]))
    return env


def stop_group(pgid: int, wait_s: float = 10) -> None:
    """Kill every process left in the run's process group (the run has
    already stopped Spark, or has timed out) and wait until they are gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + wait_s
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    print(f"processes of group {pgid} still alive after {wait_s} s", file=sys.stderr)


def launch(args: list[str], trace: bool, timeout_s: float) -> int:
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    try:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "bench.py"), *args, "--tmp", tmp],
            cwd=ROOT, env=child_env(tmp, trace), start_new_session=True)
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            print(f"run exceeded {timeout_s} s", file=sys.stderr)
            code = 1
        stop_group(proc.pid)
        proc.wait()
        return code
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("query", "update"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--rebuild-oracle-cache", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "xltsearch_spark")):
        print(f"no xltsearch_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.self_test or args.rebuild_oracle_cache:
        sys.path[:0] = [HERE, ROOT]     # this bench.py, not the repo root's
        if args.self_test:
            from check import self_test
            failures = self_test()
            print("\n".join(failures) or "checker self-test: all wrong answers rejected")
            return 1 if failures else 0
        from bench import rebuild_oracle_cache
        rebuild_oracle_cache()
        return 0
    if args.smoke:
        return launch(["--workload", "smoke", "--seed", str(args.seed), "--seconds", "1",
                       "--trace", "1"], True, SMOKE_TIMEOUT_S)
    if args.workload is None or args.seconds is None:
        ap.error("--workload and --seconds are required")
    return launch(["--workload", args.workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)],
                  bool(args.trace), RUN_TIMEOUT_S)


if __name__ == "__main__":
    sys.exit(main())
