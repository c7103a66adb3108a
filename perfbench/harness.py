"""One benchmark run: set up, time jobs for the requested seconds,
gate every output, and (traced run) time each layer."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

import corpus
import layers
import probes
import workloads
from tracing import Tracer

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def canary_digests() -> dict[str, str]:
    """Small fixed-seed corpora: they pin the generators (and the
    fixture PDF writer they use) for every seed."""
    return {
        "html": corpus.digest(corpus.html_pages(0, 40), ["url", "html", "lang", "warc_ts"]),
        "pdf": corpus.digest(corpus.pdf_docs(0, 12), ["url", "html", "lang", "warc_ts"]),
        "operators": corpus.digest(corpus.operator_tables(0, 50, 20)["documents"],
                                   ["doc_id", "text", "lang", "source"]),
    }


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


class Run:
    def __init__(self, spark, root, work, args, wl_cls, t_start):
        self.spark, self.root, self.args, self.t_start = spark, root, args, t_start
        self.wl = wl_cls(spark, work, args.seed)
        self.tracer = Tracer() if args.trace else None
        self.errors: list[str] = []
        self.jobs: list[dict] = []

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.perf_counter() - self.t_start:7.1f}s] {msg}",
              file=sys.stderr, flush=True)

    def verify_inputs(self) -> dict:
        """Generated inputs must match the pinned digests."""
        with open(DIGESTS) as f:
            pinned = json.load(f)
        got = {"canary": canary_digests(), "corpus": self.wl.corpus_digest()}
        for k, v in got["canary"].items():
            if pinned["canary"].get(k) != v:
                self.errors.append(f"canary corpus {k} digest {v[:12]} != pinned; "
                                   "the input generators changed")
        want = pinned["corpus"].get(self.wl.name, {}).get(str(self.args.seed))
        if want is not None and want != got["corpus"]:
            self.errors.append(f"{self.wl.name} seed {self.args.seed} corpus digest "
                               f"{got['corpus'][:12]} != pinned {want[:12]}")
        got["corpus_pinned"] = want is not None
        return got

    def timed_job(self, counters) -> dict:
        wl = self.wl
        wl.reset()
        counters.mark()
        probes.reset_worker_peaks()
        cpu0 = probes.tree_cpu_s()
        t0 = time.perf_counter()
        error = None
        try:
            wl.job()
        except Exception as exc:  # noqa: BLE001 - a failed job is counted, not retried
            error = f"{type(exc).__name__}: {str(exc)[:300]}"
            traceback.print_exc(file=sys.stderr)
        wall = time.perf_counter() - t0
        cpu1 = probes.tree_cpu_s()
        job = {"wall_s": wall, "cpu_s": sum(cpu1) - sum(cpu0),
               "cpu_jvm_s": cpu1[0] - cpu0[0], "cpu_python_s": cpu1[1] - cpu0[1],
               "worker_peak_rss_mb": probes.worker_peak_rss_mb(), "error": error}
        try:
            job["plans"] = counters.since()
        except Exception as exc:  # noqa: BLE001 - counters are diagnostics only
            job["plans"] = {"error": repr(exc)[:200]}
        attempted = wl.attempted()
        errs, wrong, resolved = [error], attempted, 0
        if error is None:
            try:
                errs, wrong, resolved = wl.check(job["plans"])
            except Exception as exc:  # noqa: BLE001 - unreadable output fails the gate
                errs = [f"output unreadable: {type(exc).__name__}: {str(exc)[:300]}"]
        job.update(attempted=attempted, failed=wrong, resolved=resolved, gate_errors=errs)
        self.errors.extend(errs)
        return job

    def execute(self) -> tuple[dict, dict]:
        wl, args = self.wl, self.args
        wl.prepare()
        inputs = self.verify_inputs()
        self.log(f"inputs ready ({wl.corpus_digest()[:12]})")
        warm_errors = wl.warm()
        self.errors.extend(warm_errors)
        setup_s = time.perf_counter() - self.t_start
        self.log(f"setup done in {setup_s:.1f}s")

        counters = probes.StageCounters(self.spark)
        t_loop = time.perf_counter()
        while len(self.jobs) < wl.min_jobs or time.perf_counter() - t_loop < args.seconds:
            job = self.timed_job(counters)
            self.jobs.append(job)
            self.log(f"job {len(self.jobs)}: {job['wall_s']:.3f}s cpu {job['cpu_s']:.1f}s "
                     f"(jvm {job['cpu_jvm_s']:.1f}s) failed {job['failed']}")
        ok = [j for j in self.jobs if j["error"] is None] or self.jobs
        walls = [j["wall_s"] for j in ok]
        metrics = {
            "setup_s": (setup_s, "s"),
            "job_wall_s": (median(walls), "s"),
            "docs_per_s": (median([j["resolved"] / j["wall_s"] for j in ok]), "docs/s"),
            "cpu_s": (median([j["cpu_s"] for j in ok]), "s"),
            "worker_peak_rss_mb": (median([j["worker_peak_rss_mb"] for j in ok]), "MB"),
        }
        if self.tracer is not None:
            metrics = layers.traced(self, median(walls))
        attempted = sum(j["attempted"] for j in self.jobs)
        failed = sum(j["failed"] for j in self.jobs)
        if isinstance(wl, workloads.OperatorSuite):
            attempted += len(workloads.OPERATOR_QUERIES)  # the oracle pass
            failed += len(warm_errors)
        line = {
            "correct": not self.errors,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        record = {
            "workload": wl.name, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "host": probes.host_record(self.spark, self.root),
            "inputs": inputs, "setup_s": setup_s, "jobs": self.jobs,
            "errors": self.errors, "result": line,
        }
        if isinstance(wl, workloads.OperatorSuite):
            record["query_walls"] = wl.query_walls
        if self.tracer is not None:
            record["self_s_by_span"] = self.tracer.layer_self_s()
        for e in self.errors[:10]:
            self.log(f"GATE: {e}")
        return line, record
