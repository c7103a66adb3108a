"""Correctness gate: a fast wrong answer fails the benchmark.

Extraction: every committed row must equal the in-process kernel
result for its url (``extract_document`` + ``assemble_document``), with
``doc_id == sha1(text)``, spans contiguous from 0 to ``len(text)``,
each url committed exactly once, must-be-present strings in the text,
no boilerplate marker, and each expected failure recorded in the
failures table. Operators: Spark rows equal the DuckDB oracle's under
the oracle checker's canonicalization."""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import multiprocessing
import os
import sys

MAX_ERRORS = 20


def expect_one(item: tuple[str, bytes]):
    """In-process reference result for one document, or None when the
    document is dropped (error-rate gate or empty text)."""
    from karanta_ocr_spark.kernel import assemble_document, extract_document

    url, payload = item
    doc = assemble_document(url, extract_document(url, payload))
    if doc is None:
        return None
    return (doc.doc_id, doc.text, [tuple(s) for s in doc.spans], doc.n_pages, doc.n_failed)


def expected_docs(rows: list[dict]) -> dict[str, tuple | None]:
    """Reference results for every row, in a pool of 4 processes."""
    items = [(r["url"], r["html"]) for r in rows]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(4) as pool:
        results = pool.map(expect_one, items, chunksize=32)
    return {url: res for (url, _), res in zip(items, results)}


def check_extraction(
    committed: list[dict],
    expected: dict[str, tuple | None],
    rows: list[dict],
    failed_urls: set[str],
) -> tuple[list[str], int]:
    """Returns (errors, number of input docs whose outcome is wrong).

    *committed*: output rows with url, doc_id, text, spans (list of
    {start, end, page}), n_pages, n_failed. *rows*: the generated
    input rows with ``expect``, ``present`` and ``absent``.
    *failed_urls*: urls in the failures table."""
    errors: list[str] = []
    bad: set[str] = set()

    def err(url: str, msg: str) -> None:
        bad.add(url)
        if len(errors) < MAX_ERRORS:
            errors.append(f"{url}: {msg}")

    seen: dict[str, dict] = {}
    for r in committed:
        url = r["url"]
        if url in seen:
            err(url, "committed more than once")
            continue
        seen[url] = r
        text = r["text"] or ""
        if r["doc_id"] != hashlib.sha1(text.encode()).hexdigest():
            err(url, "doc_id != sha1(text)")
        spans = [(s["start"], s["end"], s["page"]) for s in r["spans"]]
        pos = 0
        for s, e, _ in spans:
            if s != pos or e < s:
                err(url, f"span [{s},{e}) does not continue at {pos}")
                break
            pos = e
        if pos != len(text):
            err(url, f"spans end at {pos}, text has {len(text)} chars")
        want = expected.get(url, "missing")
        got = (r["doc_id"], text, spans, r["n_pages"], r["n_failed"])
        if want == "missing" or want is None:
            err(url, "committed but the kernel drops it")
        elif got != want:
            err(url, "differs from the in-process kernel result")
    for row in rows:
        url = row["url"]
        want = expected.get(url)
        if want is not None and url not in seen:
            err(url, "not committed")
        if row["expect"] == "fail":
            if url in seen:
                err(url, "expected to fail but committed")
            if url not in failed_urls:
                err(url, "expected failure missing from the failures table")
        elif url in seen:
            text = seen[url]["text"] or ""
            for s in row["present"]:
                if s not in text:
                    err(url, f"must-be-present text missing: {s[:40]!r}")
                    break
            for s in row["absent"]:
                if s in text:
                    err(url, f"boilerplate kept: {s!r}")
                    break
    return errors, len(bad)


@functools.lru_cache(maxsize=None)
def _oracle_checker():
    """``scripts/check_oracles.py``, whose canonicalization the operator
    gate shares. Importing it runs no query."""
    path = os.path.join(os.getcwd(), "scripts", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("check_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved  # it puts its own checkout first on the path
    return mod


def compare_oracle(srows, scols, orows, ocols) -> str | None:
    """The oracle checker's verdict on one query: row count, column
    names, then the canonical (order-insensitive) values."""
    canon = _oracle_checker().canon
    if len(srows) != len(orows):
        return f"row count spark={len(srows)} duckdb={len(orows)}"
    if sorted(scols) != sorted(ocols):
        return f"columns spark={sorted(scols)} duckdb={sorted(ocols)}"
    a, b = canon([tuple(r) for r in srows], scols), canon(orows, ocols)
    if a != b:
        return f"{sum(x != y for x, y in zip(a, b))}/{len(a)} rows differ"
    return None
