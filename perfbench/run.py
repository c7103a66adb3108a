"""Production-shape benchmark for karanta_ocr_spark.

Run from the repository root::

    python3 perfbench/run.py --workload web_crawl --seed 1 --seconds 10 --trace 0

``--trace 0`` times the end-to-end metrics with no tracing; ``--trace
1`` makes a traced run that times calls into each layer and reports
the per-layer metrics (see ``BENCHMARK.json``). Every run checks the
program's outputs; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. The full record
(host, session, every job, spans) goes to
``.perfbench/results/<workload>-seed<n>-trace<k>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

CORES = 4
#: Fits a 15 GB host with room for the Python workers.
DRIVER_MEMORY = "4g"


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


def make_session(root: str, work: str):
    """local[4] session with the engine conf exactly as shipped."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={local}"

    from pyspark.sql import SparkSession

    from karanta_ocr_spark.plans.partitioning import ENGINE_CONF

    b = (SparkSession.builder.master(f"local[{CORES}]").appName("perfbench")
         .config("spark.driver.memory", DRIVER_MEMORY)
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", str(2 * CORES))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.local.dir", local)
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse")))
    for k, v in ENGINE_CONF.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers) to exit: it leaves when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def become_subreaper() -> None:
    """Adopt the orphans of this run (Linux ``PR_SET_CHILD_SUBREAPER``):
    a Python worker, or the launcher shell the driver JVM leaves as a
    zombie, whose parent exits is re-parented here rather than to init,
    so ``reap_children`` can wait for it."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap_children(grace_s: float = 30.0) -> None:
    """Return once this process has no child left. The multiprocessing
    resource tracker is stopped first (it ignores SIGTERM and would
    outlive the run); a descendant still alive after *grace_s* gets
    SIGTERM, then SIGKILL every 10 s."""
    import probes
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()
    deadline, sig = time.monotonic() + grace_s, signal.SIGTERM
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in probes.descendants():
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            deadline, sig = time.monotonic() + 10, signal.SIGKILL
        time.sleep(0.05)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "karanta_ocr_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: karanta_ocr_spark/ and __spark_entry__.py not found; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    become_subreaper()
    from harness import Run
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    results = os.path.join(root, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    spark = None
    try:
        log(f"{args.workload} seed={args.seed} trace={args.trace}")
        spark = make_session(root, work)
        log("session up")
        run = Run(spark, root, work, args, WORKLOADS[args.workload], T_START)
        line, record = run.execute()
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        with open(os.path.join(results, tag + ".json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
        if run.tracer is not None:
            run.tracer.dump(os.path.join(results, tag + ".spans.jsonl"))
    finally:
        if "pyspark" in sys.modules:
            stop_session(spark)
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
