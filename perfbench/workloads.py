"""The benchmark's workloads: how each is set up, what one timed job
is, how its outputs are checked and which layer calls its traced run
times.

``web_crawl`` calls ``run_extraction`` the way
``karanta_ocr_spark/jobs/extract_job.py`` runs it by default: parquet
input through ``read_web_pages``, ``mode="fused"``, ``resume=True``,
``repartition_input=False``, output and metrics paths set, ended by a
``count()`` of the committed output.
"""

from __future__ import annotations

import os
import shutil
import time

import corpus
import gate

#: The operator queries timed by ``operator_suite``: one per family of
#: bench.py's headline list (dedup, similarity, graph, LM scoring,
#: curation). All 64 do not fit the benchmark's time budget.
OPERATOR_QUERIES = [
    "minhash_dedup", "ann_lsh_topk", "duplicate_clusters", "lm_perplexity",
    "curation_funnel",
]
OPERATOR_DOCS, OPERATOR_VECS = 1000, 1000
#: Untimed extraction jobs before the first timed one.
WARM_JOBS = 3


def _rm(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) of a parquet directory."""
    files = [f for f in os.listdir(path) if not f.startswith((".", "_"))]
    return len(files), sum(os.path.getsize(os.path.join(path, f)) for f in files)


def write_web_pages(rows: list[dict], path: str) -> None:
    """The crawl table as the program reads it: 8 parquet files with
    the ``input_hint`` schema and row groups of 256 rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    os.makedirs(path, exist_ok=True)
    n, n_files = len(rows), 8
    for f in range(n_files):
        part = rows[f * n // n_files : (f + 1) * n // n_files]
        table = pa.Table.from_pylist(
            [{k: r[k] for k in schema.names} for r in part], schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"),
                       row_group_size=256)


def write_operator_tables(tables: dict[str, list[dict]], sf_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schemas = {
        "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                                ("lang", pa.string()), ("source", pa.string()),
                                ("n_chars", pa.int64())]),
        "embeddings": pa.schema([("vec_id", pa.int64()),
                                 ("embedding", pa.list_(pa.float32())),
                                 ("label", pa.int32())]),
    }
    os.makedirs(sf_dir, exist_ok=True)
    for name, schema in schemas.items():
        pq.write_table(pa.Table.from_pylist(tables[name], schema=schema),
                       os.path.join(sf_dir, f"{name}.parquet"))


class Workload:
    """Common shape. ``load`` makes the inputs in memory and
    ``prepare`` also writes them where the program reads them;
    ``warm`` runs untimed work so caches fill and returns gate errors;
    ``reset`` restores the pre-job state (untimed); ``job`` is the
    timed unit; ``check`` gates the last job's output, given the job's
    status-store counters, and returns (errors, items wrong, docs
    resolved)."""

    name = ""
    #: Timed jobs per run at least, whatever ``--seconds`` says.
    min_jobs = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed

    def load(self) -> None:
        raise NotImplementedError

    def corpus_digest(self) -> str:
        raise NotImplementedError

    def attempted(self) -> int:
        """Items (documents or queries) one job attempts."""
        raise NotImplementedError


class WebCrawl(Workload):
    """The production extraction path over a seeded web crawl."""

    name = "web_crawl"
    min_jobs = 4
    n_docs = 5000
    #: Every tenth row is a PDF, the mix of the repository's fixture
    #: corpus (``karanta_ocr_spark/fixtures/gen.py``).
    pdf_every = 10

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        self.input = os.path.join(work, "web_pages")
        self.output = os.path.join(work, "extracted")
        self.metrics = os.path.join(work, "extraction_metrics")
        self.rows: list[dict] = []
        self.expected: dict | None = None

    def generate(self) -> list[dict]:
        n_pdf = self.n_docs // self.pdf_every
        html = iter(corpus.html_pages(self.seed, self.n_docs - n_pdf))
        pdfs = iter(corpus.pdf_docs(self.seed + 7919, n_pdf))
        return [next(pdfs) if i % self.pdf_every == self.pdf_every - 1 else next(html)
                for i in range(self.n_docs)]

    def corpus_digest(self) -> str:
        return corpus.digest(self.rows, ["url", "html", "lang", "warc_ts"])

    def load(self) -> None:
        self.rows = self.generate()

    def prepare(self) -> None:
        self.load()
        write_web_pages(self.rows, self.input)

    def attempted(self) -> int:
        return len(self.rows)

    def warm(self) -> list[str]:
        """Untimed full jobs: Python workers start, codegen and the JVM
        JIT warm, the parquet writers load. The first is gated, which
        computes the in-process reference results. The JIT keeps
        compiling through the second job (its threads take CPU from
        the workers), so timed jobs start after the third."""
        errors: list[str] = []
        for k in range(WARM_JOBS):
            self.reset()
            self.job()
            if k == 0:
                errors = self.check()[0]
        self.reset()
        return errors

    def check_resume(self) -> list[str]:
        """Re-run against the committed state of the last job: nothing
        committed twice, nothing lost."""
        before = len(self.read_state()[0])
        self.job()
        errors = self.check()[0]
        if len(self.read_state()[0]) != before:
            errors.append("resume re-run changed the committed row count")
        return errors

    def reset(self) -> None:
        from karanta_ocr_spark.metrics import failures_path

        _rm(self.output, self.metrics, failures_path(self.metrics))

    def run_extraction(self):
        from karanta_ocr_spark.pipeline import run_extraction
        from karanta_ocr_spark.sources.web_pages import read_web_pages

        web = read_web_pages(self.spark, self.input)
        return run_extraction(
            self.spark, web, output_path=self.output, metrics_path=self.metrics,
            resume=True, mode="fused", repartition_input=False,
        )

    def job(self) -> None:
        self.run_extraction().count()

    def read_state(self) -> tuple[list[dict], set[str]]:
        """Committed rows and failed urls, read with pyarrow straight
        from the files the job committed."""
        import pyarrow.parquet as pq

        from karanta_ocr_spark.metrics import failures_path

        cols = ["url", "doc_id", "text", "spans", "n_pages", "n_failed"]
        committed = pq.read_table(self.output, columns=cols).to_pylist()
        fpath = failures_path(self.metrics)
        failed = pq.read_table(fpath, columns=["url"]).column("url").to_pylist() \
            if os.path.isdir(fpath) else []
        return committed, set(failed)

    def check(self, plans=None) -> tuple[list[str], int, int]:
        """(errors, docs wrong, docs resolved) for the state the last
        job left."""
        if self.expected is None:
            self.expected = gate.expected_docs(self.rows)
        committed, failed_urls = self.read_state()
        errors, wrong = gate.check_extraction(committed, self.expected, self.rows, failed_urls)
        return errors, wrong, len(self.rows) - wrong


class OperatorSuite(Workload):
    name = "operator_suite"

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        self.sf_dir = os.path.join(work, "sf")
        self.tables: dict[str, list[dict]] = {}
        self.query_walls: dict[str, list[float]] = {q: [] for q in OPERATOR_QUERIES}

    def corpus_digest(self) -> str:
        return corpus.digest(self.tables["documents"], ["doc_id", "text", "lang", "source"]) \
            + corpus.digest(self.tables["embeddings"], ["vec_id", "embedding", "label"])[:16]

    def load(self) -> None:
        self.tables = corpus.operator_tables(self.seed, OPERATOR_DOCS, OPERATOR_VECS)

    def prepare(self) -> None:
        self.load()
        write_operator_tables(self.tables, self.sf_dir)

    def attempted(self) -> int:
        return len(OPERATOR_QUERIES)

    def warm(self) -> list[str]:
        """The untimed oracle pass doubles as the warm-up: every query
        runs once, collected, and is compared with DuckDB. Returns the
        mismatches."""
        import duckdb

        import __spark_entry__ as entry

        qs, oracles = entry.queries(), entry.oracle_sql()
        errors: list[str] = []
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.sf_dir, t)}.parquet'")
        for q in OPERATOR_QUERIES:
            try:
                sdf = qs[q](self.spark, self.sf_dir)
                srows, scols = sdf.collect(), sdf.columns
            except Exception as exc:  # noqa: BLE001 - recorded as a failed query
                errors.append(f"{q}: raised {type(exc).__name__}: {str(exc)[:200]}")
                continue
            finally:
                self.spark.catalog.clearCache()
            orows = con.execute(oracles[q]).fetchall()
            ocols = [d[0] for d in con.description]
            msg = gate.compare_oracle(srows, scols, orows, ocols)
            if msg:
                errors.append(f"{q}: {msg}")
        con.close()
        return errors

    def reset(self) -> None:
        self.spark.catalog.clearCache()

    def job(self, tracer=None) -> None:
        import contextlib

        import __spark_entry__ as entry

        qs = entry.queries()
        for q in OPERATOR_QUERIES:
            span = tracer.span(f"operators.{q}") if tracer else contextlib.nullcontext()
            t0 = time.perf_counter()
            with span:
                qs[q](self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            self.query_walls[q].append(time.perf_counter() - t0)
            self.spark.catalog.clearCache()

    def check(self, plans):
        """Queries are gated against DuckDB in the warm-up pass. A job's
        docs resolved are the table rows its scans read, as the status
        store counts them."""
        return [], 0, int(plans.get("input_records", 0))


WORKLOADS = {w.name: w for w in (WebCrawl, OperatorSuite)}
