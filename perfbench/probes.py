"""Read-only probes around a timed job: process CPU and memory from
``/proc``, stage and task counters from Spark's status store, and the
host/session description every result carries."""

from __future__ import annotations

import os
import platform
import statistics
import subprocess

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited while listing
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        # fields[1]=ppid; [11..14]=utime, stime, cutime, cstime
        cpu = sum(int(x) for x in fields[11:15]) / _TICK
        out[int(name)] = (int(fields[1]), comm, cpu)
    return out


def descendants() -> dict[int, tuple[str, float]]:
    """Live descendants of this process: the driver JVM, the pyspark
    daemon and its forked Python workers."""
    table = _proc_table()
    root = os.getpid()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = {}, list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        out[pid] = (table[pid][1], table[pid][2])
        stack.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> tuple[float, float]:
    """(JVM, Python) user+sys CPU of every live descendant plus the
    children each has reaped. Every CPU second is counted once: a
    worker that exits moves into its parent's cutime/cstime."""
    jvm = py = 0.0
    for comm, cpu in descendants().values():
        if comm.startswith("python"):
            py += cpu
        else:
            jvm += cpu
    return jvm, py


def _python_workers() -> list[int]:
    return [pid for pid, (comm, _) in descendants().items() if comm.startswith("python")]


def reset_worker_peaks() -> None:
    """Reset VmHWM of each Python worker (``clear_refs`` value 5), so
    the next read is the peak over the coming job only."""
    for pid in _python_workers():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # the read below then reports the lifetime peak


def worker_peak_rss_mb() -> float:
    """Highest VmHWM of any live Python worker, in MB."""
    peak = 0
    for pid in _python_workers():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
                        break
        except OSError:
            continue
    return peak / 1024.0


class StageCounters:
    """Deltas of the status store's stage list around a job.

    ``mark()`` remembers the highest stage id seen; ``since()`` sums
    every stage created after it and measures task skew on the stage
    with the most executor run time."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = spark._jvm
        self._store = self._sc._jsc.sc().statusStore()
        self._last = -1

    def _stages(self):
        jvm, gw = self._jvm, self._sc._gateway
        seq = self._store.stageList(
            jvm.java.util.ArrayList(), False, False, gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        return [seq.apply(i) for i in range(seq.size())]

    def _drain(self) -> None:
        try:
            self._sc._jsc.sc().listenerBus().waitUntilEmpty(10000)
        except Exception:  # noqa: BLE001 - private API; counters may lag a little
            pass

    def mark(self) -> None:
        self._drain()
        self._last = max((s.stageId() for s in self._stages()), default=-1)

    def since(self) -> dict[str, float]:
        self._drain()
        new = [s for s in self._stages() if s.stageId() > self._last]
        mb = 1024.0 * 1024.0
        out = {
            "stages": float(len(new)),
            "tasks": float(sum(s.numTasks() for s in new)),
            "input_records": float(sum(s.inputRecords() for s in new)),
            "executor_run_s": sum(s.executorRunTime() for s in new) / 1000.0,
            "executor_cpu_s": sum(s.executorCpuTime() for s in new) / 1e9,
            "gc_s": sum(s.jvmGcTime() for s in new) / 1000.0,
            "shuffle_read_mb": sum(s.shuffleReadBytes() for s in new) / mb,
            "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in new) / mb,
            "spill_mb": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in new) / mb,
            "task_skew": 1.0,
        }
        if new:
            top = max(new, key=lambda s: s.executorRunTime())
            tasks = self._store.taskList(top.stageId(), top.attemptId(), 1 << 20)
            runs = []
            for i in range(tasks.size()):
                m = tasks.apply(i).taskMetrics()
                if m.isDefined():
                    runs.append(m.get().executorRunTime())
            if runs and statistics.median(runs) > 0:
                out["task_skew"] = max(runs) / statistics.median(runs)
        self._last = max([self._last] + [s.stageId() for s in new])
        return out


def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def source_digest(root: str) -> str:
    """sha256 of the program's Python sources: names the code under
    test where no git commit is at hand."""
    import hashlib

    h = hashlib.sha256()
    paths = [os.path.join(root, "__spark_entry__.py")]
    for d, _, files in sorted(os.walk(os.path.join(root, "karanta_ocr_spark"))):
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def host_record(spark, root: str) -> dict:
    """Host and session facts: cores, versions, commit, the effective
    Spark conf and the driver JVM's flags as shipped."""
    import pyarrow
    import pyspark

    jvm = spark._jvm
    runtime = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = runtime.getInputArguments()
    return {
        "cpus": os.cpu_count(),
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "jvm": jvm.java.lang.System.getProperty("java.version"),
        "git_commit": _git_commit(root),
        "source_sha256": source_digest(root),
        "spark_conf": dict(sorted((k, v) for k, v in spark.sparkContext.getConf().getAll())),
        "jvm_flags": [args.get(i) for i in range(args.size())],
    }
