"""The traced run: one traced job, then a timed call into each layer's
public functions. Spans come from these calls only; the program is not
instrumented.

Every traced run reports every per-layer metric. Each workload's own
inputs drive the layers it exercises; the extraction layers of
``operator_suite`` run over a small mixed crawl of the same seed, and
the operator layer of ``web_crawl`` runs the operator
queries once over the operator tables of the same seed."""

from __future__ import annotations

import os
import shutil
import statistics
import time

import probes
import workloads

MB = 1024.0 * 1024.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer, name, fn):
    with tracer.span(name) as s:
        result = fn()
    return s.duration, result


def kernel_phases(rows: list[dict]) -> tuple[dict, list[str]]:
    """Single-thread, in-process kernel over *rows*, phase by phase.

    Returns (ms-per-doc phase means and counts, urls whose composed
    HTML phases differ from ``extract_main_text``)."""
    from karanta_ocr_spark.kernel.assemble import assemble_document
    from karanta_ocr_spark.kernel.boilerplate import extract_main_text, score_blocks
    from karanta_ocr_spark.kernel.charset import decode_html
    from karanta_ocr_spark.kernel.extract import (
        ANCHOR_BUDGET,
        extract_document,
        sniff_content_type,
    )
    from karanta_ocr_spark.kernel.html_flatten import flatten_html
    from karanta_ocr_spark.kernel.linearize import (
        linearize_page_report,
        page_natural_text,
        seed_from_key,
    )
    from karanta_ocr_spark.kernel.pdf_mini import parse_pdf
    from karanta_ocr_spark.kernel.textnorm import normalize_block_text

    pc = time.perf_counter
    acc = dict.fromkeys(["charset", "flatten", "boilerplate", "textnorm", "html_extract",
                         "pdf_parse", "pdf_text", "linearize", "assemble"], 0.0)
    doc_ms: list[float] = []
    n_html = n_pdf = pages = blocks = 0
    mismatched: list[str] = []
    for r in rows:
        url, payload = r["url"], r["html"]
        t0 = pc()
        extracted = extract_document(url, payload)
        t1 = pc()
        assemble_document(url, extracted)
        t2 = pc()
        doc_ms.append((t2 - t0) * 1e3)
        acc["assemble"] += t2 - t1
        pages += len(extracted)
        if sniff_content_type(payload) == "html":
            n_html += 1
            a = pc()
            html = decode_html(payload)
            b = pc()
            bl = flatten_html(html)
            c = pc()
            score_blocks(bl)
            d = pc()
            kept = [normalize_block_text(x.text) for x in bl if x.label == "good"]
            e = pc()
            acc["charset"] += b - a
            acc["flatten"] += c - b
            acc["boilerplate"] += d - c
            acc["textnorm"] += e - d
            acc["html_extract"] += (t1 - t0) - (e - a)
            blocks += len(bl)
            if "\n".join(t for t in kept if t) != extract_main_text(html):
                mismatched.append(url)
            continue
        n_pdf += 1
        seed = seed_from_key(url)
        a = pc()
        try:
            reports = parse_pdf(payload)
        except Exception:  # noqa: BLE001 - a bad PDF is a timed failure path
            reports = []
        acc["pdf_parse"] += pc() - a
        for i, rep in enumerate(reports, start=1):
            c = pc()
            try:
                page_natural_text(rep)
                d = pc()
                linearize_page_report(rep, max_length=ANCHOR_BUDGET, shuffle_seed=seed + i)
            except Exception:  # noqa: BLE001 - per-page isolation, as in the kernel
                d = pc()
            e = pc()
            acc["pdf_text"] += d - c
            acc["linearize"] += e - d
    doc_ms.sort()
    per_html, per_pdf = 1e3 / max(n_html, 1), 1e3 / max(n_pdf, 1)
    out = {
        "kernel.doc_ms_p50": (statistics.median(doc_ms), "ms"),
        "kernel.doc_ms_p99": (doc_ms[min(len(doc_ms) - 1, int(0.99 * len(doc_ms)))], "ms"),
        "kernel.charset_ms": (acc["charset"] * per_html, "ms"),
        "kernel.flatten_ms": (acc["flatten"] * per_html, "ms"),
        "kernel.boilerplate_ms": (acc["boilerplate"] * per_html, "ms"),
        "kernel.textnorm_ms": (acc["textnorm"] * per_html, "ms"),
        "kernel.html_other_ms": (acc["html_extract"] * per_html, "ms"),
        "kernel.pdf_parse_ms": (acc["pdf_parse"] * per_pdf, "ms"),
        "kernel.pdf_text_ms": (acc["pdf_text"] * per_pdf, "ms"),
        "kernel.linearize_ms": (acc["linearize"] * per_pdf, "ms"),
        "kernel.assemble_ms": (acc["assemble"] * 1e3 / max(len(rows), 1), "ms"),
        "kernel.pages": (float(pages), "count"),
        "kernel.blocks": (float(blocks), "count"),
        "kernel.total_s": (sum(doc_ms) / 1e3, "s"),
    }
    return out, mismatched


def extraction_layers(run, ex, tracer) -> dict:
    """Layer calls over the state *ex*'s last job committed."""
    from pyspark.sql import functions as F

    from karanta_ocr_spark import pipeline
    from karanta_ocr_spark.metrics import failures_path, write_lineage
    from karanta_ocr_spark.resume import filter_already_committed, filter_known_failures
    from karanta_ocr_spark.sources.table_io import read_table, write_table
    from karanta_ocr_spark.sources.web_pages import read_web_pages

    spark = run.spark
    layer_dir = os.path.join(ex.work, "layers")
    out: dict = {}
    run.errors.extend(ex.check_resume())

    def web():
        return read_web_pages(spark, ex.input).select("url", "lang", "html")

    scan_s, _ = _timed(tracer, "sources", lambda: _noop(web()))
    out["sources.scan_s"] = (scan_s, "s")
    out["sources.scan_mb"] = (workloads.dir_bytes(ex.input)[1] / MB, "MB")

    with tracer.span("pipeline"):
        extract_s, _ = _timed(tracer, "pipeline.extract",
                              lambda: _noop(pipeline.extract_documents_fused(web())))

        def identity(batches):
            yield from batches

        round_trip_s, _ = _timed(tracer, "pipeline.transit", lambda: _noop(
            web().mapInArrow(identity, "url string, lang string, html binary")))

    docs = read_table(spark, ex.output).cache()
    docs.count()
    dest = os.path.join(layer_dir, "table_io")
    write_s, _ = _timed(tracer, "sources.table_io.write",
                        lambda: write_table(docs, dest, mode="append"))
    text_bytes = docs.select(F.sum(F.octet_length("text"))).first()[0] or 1
    docs.unpersist()
    n_files, n_bytes = workloads.dir_bytes(dest)
    read_s, _ = _timed(tracer, "sources.table_io.read",
                       lambda: read_table(spark, ex.output).select("url").count())
    out.update({
        "sources.table_io.write_s": (write_s, "s"),
        "sources.table_io.read_s": (read_s, "s"),
        "sources.table_io.files_written": (float(n_files), "count"),
        "sources.table_io.bytes_per_text_byte": (n_bytes / text_bytes, "ratio"),
    })

    # Prior state: the failing urls failed in two earlier runs too, so
    # with this job's failures they reach the 3-attempt quarantine.
    fpath = failures_path(ex.metrics)
    prior = spark.read.parquet(fpath).toPandas()
    for k in range(2):
        spark.createDataFrame(prior.assign(run_id=f"prior-{k}")).write.mode(
            "append").parquet(fpath)

    def committed():
        return filter_already_committed(spark, read_web_pages(spark, ex.input), ex.output)

    with tracer.span("resume"):
        committed_s, n_after = _timed(tracer, "resume.committed_filter",
                                      lambda: committed().count())
        quarantine_s, _ = _timed(tracer, "resume.quarantine_filter", lambda: (
            filter_known_failures(spark, read_web_pages(spark, ex.input), ex.metrics,
                                  max_attempts=3).count()))
    n_out = filter_known_failures(spark, committed(), ex.metrics, max_attempts=3).count()
    out.update({
        "resume.committed_filter_s": (committed_s, "s"),
        "resume.quarantine_filter_s": (quarantine_s, "s"),
        "resume.rows_in": (float(len(ex.rows)), "count"),
        "resume.rows_out": (float(n_out), "count"),
    })
    run.log(f"resume: {len(ex.rows)} in, {n_after} after committed filter, {n_out} out")

    raw = pipeline.extract_documents_fused(read_web_pages(spark, ex.input)).persist()
    raw.count()
    mpath = os.path.join(layer_dir, "lineage")
    lineage_s, _ = _timed(tracer, "metrics.write_lineage", lambda: write_lineage(
        spark, raw, mpath, run_id="traced", config_hash="traced"))
    raw.unpersist()
    out.update({
        "metrics.write_lineage_s": (lineage_s, "s"),
        "metrics.lineage_rows": (float(spark.read.parquet(mpath).count()), "count"),
        "metrics.failure_rows": (float(spark.read.parquet(failures_path(mpath)).count()),
                                 "count"),
    })

    with tracer.span("kernel"):
        kernel, mismatched = kernel_phases(ex.rows)
    if mismatched:
        run.errors.append(f"kernel phase split differs from extract_main_text on "
                          f"{len(mismatched)} docs, e.g. {mismatched[0]}")
    kernel_s = kernel.pop("kernel.total_s")[0]
    out.update(kernel)
    out["pipeline.extract_s"] = (extract_s, "s")
    out["pipeline.transit_s"] = (round_trip_s - scan_s, "s")
    cores = spark.sparkContext.defaultParallelism
    out["pipeline.overhead_s"] = (extract_s - round_trip_s - kernel_s / cores, "s")
    shutil.rmtree(layer_dir, ignore_errors=True)
    return out


def operator_layer(walls: dict[str, list[float]]) -> dict:
    return {f"operators.{q}.wall_s": (statistics.median(w), "s") for q, w in walls.items()}


def plans_metrics(plans: dict) -> dict:
    units = {"stages": "count", "tasks": "count", "task_skew": "ratio",
             "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
             "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB"}
    return {f"plans.{k}": (float(plans[k]), u) for k, u in units.items()}


def traced(run, untraced_wall: float) -> dict:
    """Per-layer metrics for this workload (see module docstring)."""
    tracer, wl, spark = run.tracer, run.wl, run.spark
    out: dict = {}
    counters = probes.StageCounters(spark)
    with tracer.span("trace"):
        wl.reset()
        counters.mark()
        t0 = time.perf_counter()
        with tracer.span("job"):
            if isinstance(wl, workloads.WebCrawl):
                docs = _timed(tracer, "job.run_extraction", wl.run_extraction)[1]
                _timed(tracer, "job.count", docs.count)
            else:
                wl.job(tracer)
        traced_wall = time.perf_counter() - t0
        out.update(plans_metrics(counters.since()))
        out["trace.overhead_frac"] = (traced_wall / untraced_wall - 1.0, "ratio")

        if isinstance(wl, workloads.WebCrawl):
            out.update(extraction_layers(run, wl, tracer))
            ops = workloads.OperatorSuite(spark, os.path.join(wl.work, "ops"), run.args.seed)
            ops.prepare()
            with tracer.span("operators"):
                ops.job(tracer)
            out.update(operator_layer(ops.query_walls))
        else:
            out.update(operator_layer(wl.query_walls))
            crawl = workloads.WebCrawl(spark, os.path.join(wl.work, "crawl"), run.args.seed)
            crawl.n_docs = 600
            crawl.prepare()
            crawl.reset()
            crawl.job()
            out.update(extraction_layers(run, crawl, tracer))
    selfs = tracer.layer_self_s()
    run.log("self time by span: " + ", ".join(f"{k}={v:.2f}s" for k, v in selfs.items()))
    return out

