"""User-path benchmark for the RAG engine.

    python3 perfbench/run.py --workload chat_large --seed 1 --seconds 14 --trace 0

Runs one workload (see ``workloads.WORKLOADS``; ``all`` runs each in
turn) against the engine's public API from the root of a checkout, and
prints one JSON object as the last line of stdout: ``correct``,
``attempted``, ``failed`` and ``metrics``, each metric with its unit.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` a traced pass yields the per-layer ones. Exits 1 when an
output check failed.

Everything the run writes goes under ``.bench_build/perfbench`` in the
checkout: a per-checkout cache of prebuilt indexes (``cache/``) and a
per-run scratch directory (removed at exit) that also holds Spark's
local dirs, the JVM's temp dir and the warehouse. Before it exits, a
run stops the Spark JVM it launched and waits until that JVM and every
Python worker under it have ended. Exits 2 without a result when the
engine package is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import ctypes
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark"


def _environment(scratch: str) -> None:
    """Spark settings that must be in place before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    # every JVM, spark-submit's launcher too, keeps its files in scratch
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
    # UDF workers import the engine: put the checkout on their path
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={scratch}/warehouse",
            f"--conf spark.executorEnv.PYTHONPATH={ROOT}",
            "pyspark-shell",
        ]
    )


def _adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so a
    Python worker whose parent JVM ended is re-parented here and can be
    waited for (Linux ``prctl(PR_SET_CHILD_SUBREAPER)``)."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(entry))
    return kids


def _stop_processes(grace: float = 60.0) -> None:
    """Stop the Spark JVM this process launched and wait until it and
    every process under it have ended: the JVM exits when its stdin
    closes; what is left after ``grace`` seconds is killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            try:
                if proc.stdin is not None:
                    proc.stdin.close()
                proc.wait(timeout=grace)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + grace
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for kid in _children():
                try:
                    os.kill(kid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: engine package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, Context

    if args.workload == "all":
        # one process per workload, as a user of the engine would run it
        codes = [
            subprocess.call([sys.executable, __file__, "--workload", name,
                             "--seed", str(args.seed), "--seconds", str(args.seconds),
                             "--trace", str(args.trace)])
            for name in WORKLOADS
        ]
        return max(codes)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    _adopt_orphans()
    # a terminated run still stops its JVM and workers (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    scratch = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    _environment(scratch)
    ctx = Context(
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        cache=os.path.join(work, "cache"),
        scratch=scratch,
    )
    try:
        result = WORKLOADS[args.workload](ctx)
    finally:
        try:
            ctx.close()
        finally:
            _stop_processes()
            shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
