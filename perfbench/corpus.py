"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed
gives byte-identical inputs on any host, so a corpus digest can be
pinned (``digests.json``) and re-checked at every set-up. The program
under test only ever sees the parquet these rows are written to.

* :func:`html_pages` — the pages of the repository's fixture generator
  (``karanta_ocr_spark.fixtures.gen``: multilingual text, Zipf
  domains, nav/header/aside/footer boilerplate, NFD diacritics,
  mojibake, entities and mis-nested markup), grown to a heavy-tailed
  length, with a seeded share declared and encoded in a legacy charset.
* :func:`pdf_docs` — multi-page PDFs with a heavy-tailed page count,
  one- and two-column layouts, image placements, FlateDecode on half,
  RC4/AES encryption with an empty user password on ~10% and
  truncation on ~2%.
* :func:`operator_tables` — ``documents`` and ``embeddings`` tables
  with the schema of the repository's sf test tables, for the operator
  queries.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import random

from karanta_ocr_spark.fixtures import gen
from karanta_ocr_spark.fixtures.pdf_gen import ImageSpec, PageSpec, TextRun, build_pdfs

EPOCH = gen.EPOCH
#: Legacy charsets a crawler meets, per language that fits them:
#: (declared label, codec). WHATWG decodes an iso-8859-1 label as
#: windows-1252, so that is what such pages are written in.
LEGACY = {"eng": ("iso-8859-1", "cp1252"), "fra": ("windows-1252", "cp1252"),
          "ara": ("windows-1256", "cp1256")}
#: Seeded share of those languages' pages written in the legacy
#: charset (when the page's text fits it). A stress share that keeps
#: the charset fallback busy in every task, not a measured web mix.
LEGACY_SHARE = 0.08


def stratified_pareto(rng: random.Random, n: int, alpha: float, scale: float,
                      cap: int) -> list[int]:
    """*n* heavy-tailed sizes, one per quantile stratum of a Pareto
    (alpha, scale) capped at *cap*, in seeded order: the tail is in
    every corpus, and the total work barely moves between seeds."""
    sizes = [min(cap, max(1, int(scale * (1.0 - (i + rng.random()) / n) ** (-1.0 / alpha))))
             for i in range(n)]
    rng.shuffle(sizes)
    return sizes


def _html_page(rng: random.Random, domain: str, lang: str, n_extra: int):
    """One page from the repository's fixture generator, grown by
    *n_extra* article paragraphs and, for a seeded share, declared and
    encoded in a legacy charset: (payload, must-be-present strings,
    must-be-absent strings)."""
    html, _, present, absent = gen._build_html(rng, domain, lang, big=False)
    extra = "".join(f"<p>{gen._paragraph(rng, lang)}</p>\n" for _ in range(n_extra))
    html = html.replace("</article>", extra + "</article>", 1)
    if lang in LEGACY and rng.random() < LEGACY_SHARE:
        label, codec = LEGACY[lang]
        try:
            return (html.replace("<head>", f'<head><meta charset="{label}">', 1)
                    .encode(codec), present, absent)
        except UnicodeEncodeError:
            pass  # NFD or mojibake text the codec cannot carry: stays UTF-8
    return html.encode("utf-8"), present, absent


def html_pages(seed: int, n: int) -> list[dict]:
    """*n* crawl rows of the fixture generator's pages, heavy-tailed in
    length up to ~75 KB."""
    rng = random.Random(seed)
    n_extra = stratified_pareto(rng, n, 1.4, 1.5, 200)
    rows = []
    for i in range(n):
        domain = rng.choices(gen.DOMAINS, weights=gen.ZIPF_W)[0]
        lang = rng.choice(gen.LANGS)
        payload, present, absent = _html_page(rng, domain, lang, n_extra[i] - 1)
        rows.append(dict(url=f"https://{domain}/{lang}/{seed}-{i:06d}.html", html=payload,
                         lang=lang, text="", expect="ok", present=present, absent=absent,
                         warc_ts=EPOCH + dt.timedelta(seconds=37 * i)))
    return rows


def _pdf_pages(rng: random.Random, lang: str, n_pages: int):
    pages = []
    for _ in range(n_pages):
        runs = []
        if rng.random() < 0.35:  # two columns
            for x in (60.0, 330.0):
                for k in range(rng.randint(8, 22)):
                    runs.append(TextRun(gen._sentence(rng, lang, rng.randint(4, 7)), x,
                                        720.0 - 24.0 * k, 10.0))
        else:
            for k in range(rng.randint(10, 30)):
                runs.append(TextRun(gen._sentence(rng, lang, rng.randint(6, 12)), 72.0,
                                    730.0 - 22.0 * k, 11.0))
        images = []
        if rng.random() < 0.25:
            images = [ImageSpec(rng.uniform(50, 400), rng.uniform(50, 600),
                                rng.uniform(40, 160), rng.uniform(30, 120))
                      for _ in range(rng.randint(1, 4))]
        pages.append(PageSpec(runs=runs, images=images))
    return pages


def truncated(pdf: bytes) -> bytes:
    """A PDF cut off before its second object: it must fail."""
    return pdf[: pdf.index(b"2 0 obj")]


def pdf_docs(seed: int, n: int) -> list[dict]:
    """*n* PDF rows. Truncated ones carry ``expect='fail'``."""
    rng = random.Random(seed)
    metas, specs = [], {True: [], False: []}
    # Heavy-tailed page count, 1..24 (mean ~3.9).
    page_counts = stratified_pareto(rng, n, 1.6, 1.9, 24)
    for i in range(n):
        lang = rng.choice(gen.LANGS)
        domain = rng.choices(gen.DOMAINS, weights=gen.ZIPF_W)[0]
        n_pages = page_counts[i]
        enc = None
        u = rng.random()
        if u < 0.05:
            enc = "rc4"
        elif u < 0.10:
            enc = "aes"
        compress = rng.random() < 0.5
        truncate = rng.random() < 0.02
        pages = _pdf_pages(rng, lang, n_pages)
        metas.append((i, domain, lang, compress, truncate, len(specs[compress])))
        specs[compress].append((pages, enc))
    built = {c: build_pdfs(specs[c], compress=c) if specs[c] else [] for c in (True, False)}
    rows = []
    for i, domain, lang, compress, truncate, k in metas:
        payload = built[compress][k]
        if truncate:
            payload = truncated(payload)
        rows.append(dict(
            url=f"https://{domain}/{lang}/{seed}-{i:06d}.pdf", html=payload, lang=lang,
            text="", expect="fail" if truncate else "ok", present=[], absent=[],
            warc_ts=EPOCH + dt.timedelta(seconds=61 * i)))
    return rows


#: The sf test tables' documents vocabulary (31 words) and languages.
DOC_VOCAB = ("spark window merge table column vector stream value data small join "
             "filter big group hash customer sort order slow line part fast row the "
             "agg key query a scan batch").split()
DOC_LANGS = ["en", "en", "en", "zh", "de", "es", "fr"]


def operator_tables(seed: int, n_docs: int, n_vecs: int) -> dict[str, list[dict]]:
    """``documents`` (doc_id, text, lang, source, n_chars) with ~4%
    near-duplicates, and unit-norm clustered 64-d ``embeddings``."""
    rng = random.Random(seed)
    docs = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.04:
            words = docs[rng.randrange(i)]["text"].split()
            words[rng.randrange(len(words))] = "dup"
        else:
            words = [rng.choice(DOC_VOCAB) for _ in range(rng.randint(8, 90))]
        text = " ".join(words)
        docs.append(dict(doc_id=i, text=text, lang=rng.choice(DOC_LANGS),
                         source=f"src{rng.randrange(20)}", n_chars=len(text)))
    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    vecs = []
    for i in range(n_vecs):
        label = rng.randrange(10)
        v = [c + rng.gauss(0, 0.9) for c in centers[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append(dict(vec_id=i, embedding=[x / norm for x in v], label=label))
    return {"documents": docs, "embeddings": vecs}


def digest(rows: list[dict], cols: list[str]) -> str:
    """sha256 over the given columns of every row, in order."""
    h = hashlib.sha256()
    for r in rows:
        for c in cols:
            v = r[c]
            if isinstance(v, (bytes, bytearray)):
                h.update(v)
            else:
                h.update(repr(v).encode())
            h.update(b"\x1f")
        h.update(b"\x1e")
    return h.hexdigest()
