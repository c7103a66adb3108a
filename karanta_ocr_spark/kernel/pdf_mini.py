"""Minimal pure-stdlib PDF parser producing the reference's
``PageReport`` structure.

The reference uses pypdf's text-extraction visitors to flatten a PDF
page into coordinate-tagged elements (``karanta/prompts/anchor.py:69-128``):
each text-showing operation contributes ``TextElement(text, x, y)``
with ``(x, y) = (mult(tm, cm)[4], mult(tm, cm)[5])`` and each image
``Do`` contributes a bbox from transforming the unit square through
the CTM (``anchor.py:105-120``). pypdf is not available here, so this
module implements exactly that: a sequential object scanner, a small
dict/array tokenizer, FlateDecode support (zlib is stdlib), and a
content-stream interpreter covering the operators our corpus (and
garden-variety generated PDFs) use: ``q Q cm BT ET Tf Td TD T* TL Tm
Tj TJ ' " Do``.

The matrix math mirrors the reference byte-for-byte
(``anchor.py:15-29``): matrices are ``[a b c d e f]`` row-major 3x3
affine with implicit last column.
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass
from typing import List


# ---------------------------------------------------------------- matrices
def _mult(m: List[float], n: List[float]) -> List[float]:
    """Reference ``_mult`` (``karanta/prompts/anchor.py:21-29``)."""
    return [
        m[0] * n[0] + m[1] * n[2],
        m[0] * n[1] + m[1] * n[3],
        m[2] * n[0] + m[3] * n[2],
        m[2] * n[1] + m[3] * n[3],
        m[4] * n[0] + m[5] * n[2] + n[4],
        m[4] * n[1] + m[5] * n[3] + n[5],
    ]


def _transform_point(x: float, y: float, m: List[float]):
    """Reference ``_transform_point`` (``anchor.py:15-18``)."""
    return m[0] * x + m[2] * y + m[4], m[1] * x + m[3] * y + m[5]


_IDENTITY = [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]


# ---------------------------------------------------------------- model
@dataclass(frozen=True)
class BoundingBox:
    x0: float
    y0: float
    x1: float
    y1: float


@dataclass(frozen=True)
class TextElement:
    text: str
    x: float
    y: float


@dataclass(frozen=True)
class ImageElement:
    name: str
    bbox: BoundingBox


@dataclass(frozen=True)
class PageReport:
    mediabox: BoundingBox
    text_elements: List[TextElement]
    image_elements: List[ImageElement]


# ---------------------------------------------------------------- objects
_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)\bendobj", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.S)

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_REF_TAIL_RE = re.compile(rb"\s+(\d+)\s+R\b")
_NAME_HEX_RE = re.compile(rb"#([0-9A-Fa-f]{2})")


class _Lexer:
    """Tokenizer for PDF object syntax (dicts, arrays, names, numbers,
    strings, refs). Operates on bytes."""

    def __init__(self, data: bytes, pos: int = 0):
        self.d = data
        self.i = pos
        self.n = len(data)

    def _skip_ws(self) -> None:
        d, n = self.d, self.n
        while self.i < n:
            c = d[self.i]
            if c in _WS:
                self.i += 1
            elif c == 0x25:  # '%' comment
                j = d.find(b"\n", self.i)
                self.i = n if j < 0 else j + 1
            else:
                break

    def peek(self, k: int = 2) -> bytes:
        return self.d[self.i : self.i + k]

    def value(self):
        """Parse one PDF value at the cursor."""
        self._skip_ws()
        if self.i >= self.n:
            return None
        d, i = self.d, self.i
        c = d[i : i + 1]
        if d[i : i + 2] == b"<<":
            return self._dict()
        if c == b"<":
            return self._hex_string()
        if c == b"(":
            return self._literal_string()
        if c == b"[":
            return self._array()
        if c == b"/":
            return self._name()
        if d[i : i + 4] == b"true":
            self.i += 4
            return True
        if d[i : i + 5] == b"false":
            self.i += 5
            return False
        if d[i : i + 4] == b"null":
            self.i += 4
            return None
        return self._number_or_ref()

    def _name(self) -> str:
        assert self.d[self.i : self.i + 1] == b"/"
        self.i += 1
        start = self.i
        while self.i < self.n and self.d[self.i] not in _WS and self.d[self.i] not in _DELIM:
            self.i += 1
        raw = self.d[start : self.i]
        if b"#" in raw:  # #xx hex escapes in names
            raw = _NAME_HEX_RE.sub(lambda m: bytes([int(m.group(1), 16)]), raw)
        return "/" + raw.decode("latin-1")

    _NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")

    def _number_or_ref(self):
        m = self._NUM_RE.match(self.d, self.i)
        if not m:
            # Unknown token: consume one char to guarantee progress.
            self.i += 1
            return None
        tok = m.group(0)
        end = m.end()
        # Indirect reference lookahead: "<int> <int> R"
        if b"." not in tok:
            m2 = _REF_TAIL_RE.match(self.d, end)
            if m2:
                self.i = m2.end()
                return Ref(int(tok), int(m2.group(1)))
        self.i = end
        return float(tok) if b"." in tok else int(tok)

    def _array(self) -> list:
        assert self.d[self.i : self.i + 1] == b"["
        self.i += 1
        out = []
        while True:
            self._skip_ws()
            if self.i >= self.n or self.d[self.i : self.i + 1] == b"]":
                self.i += 1
                return out
            out.append(self.value())

    def _dict(self) -> dict:
        assert self.d[self.i : self.i + 2] == b"<<"
        self.i += 2
        out: dict = {}
        while True:
            self._skip_ws()
            if self.d[self.i : self.i + 2] == b">>":
                self.i += 2
                return out
            if self.i >= self.n:
                return out
            key = self.value()
            val = self.value()
            if isinstance(key, str):
                out[key] = val

    def _hex_string(self) -> bytes:
        end = self.d.find(b">", self.i)
        if end < 0:
            # Unterminated hex string (truncated/corrupt stream):
            # consume to EOF. Must NOT become end+1 == 0 — that reset
            # the cursor and looped callers forever.
            end = self.n
        raw = re.sub(rb"[^0-9A-Fa-f]", b"", self.d[self.i + 1 : end])
        if len(raw) % 2:
            raw += b"0"
        self.i = min(end + 1, self.n)
        return bytes.fromhex(raw.decode("ascii"))

    def _literal_string(self) -> bytes:
        # ( ... ) with nesting and backslash escapes.
        assert self.d[self.i : self.i + 1] == b"("
        self.i += 1
        out = bytearray()
        depth = 1
        d, n = self.d, self.n
        while self.i < n:
            c = d[self.i]
            if c == 0x5C:  # backslash
                self.i += 1
                if self.i >= n:
                    break
                e = d[self.i]
                self.i += 1
                if e == 0x6E:
                    out += b"\n"
                elif e == 0x72:
                    out += b"\r"
                elif e == 0x74:
                    out += b"\t"
                elif e == 0x62:
                    out += b"\b"
                elif e == 0x66:
                    out += b"\f"
                elif e in b"()\\":
                    out.append(e)
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    oct_digits = [e]
                    while len(oct_digits) < 3 and self.i < n and 0x30 <= d[self.i] <= 0x37:
                        oct_digits.append(d[self.i])
                        self.i += 1
                    out.append(int(bytes(oct_digits), 8) & 0xFF)
                elif e in b"\r\n":  # line continuation
                    if e == 0x0D and self.i < n and d[self.i] == 0x0A:
                        self.i += 1
                else:
                    out.append(e)
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.i += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.i += 1
                    return bytes(out)
                out.append(c)
                self.i += 1
            else:
                out.append(c)
                self.i += 1
        return bytes(out)


@dataclass(frozen=True)
class Ref:
    num: int
    gen: int


def _png_unpredict(buf: bytes, row: int) -> bytes | None:
    """Undo PNG row predictors (each row prefixed by a filter tag;
    bpp=1 — the form xref streams use, predictor 12 = Up being the
    overwhelmingly common case). Returns None on malformed input."""
    if len(buf) % (row + 1):
        return None
    out = bytearray()
    prev = bytes(row)
    for i in range(0, len(buf), row + 1):
        tag = buf[i]
        line = bytearray(buf[i + 1 : i + 1 + row])
        if tag == 0:
            pass
        elif tag == 1:  # Sub
            for j in range(1, row):
                line[j] = (line[j] + line[j - 1]) & 0xFF
        elif tag == 2:  # Up
            for j in range(row):
                line[j] = (line[j] + prev[j]) & 0xFF
        elif tag == 3:  # Average
            for j in range(row):
                left = line[j - 1] if j else 0
                line[j] = (line[j] + ((left + prev[j]) >> 1)) & 0xFF
        elif tag == 4:  # Paeth
            for j in range(row):
                a = line[j - 1] if j else 0
                b = prev[j]
                c = prev[j - 1] if j else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[j] = (line[j] + pr) & 0xFF
        else:
            return None
        out += line
        prev = line
    return bytes(out)


def _stream_spans(data: bytes) -> list[tuple[int, int]]:
    """(start, end) byte ranges of ``stream``…``endstream`` payloads —
    used to ignore structure keywords that merely occur INSIDE stream
    data (an embedded PDF attachment contains its own 'trailer'
    bytes, which are content, not this document's structure)."""
    spans = []
    for sm in re.finditer(rb"(?<!end)stream\r?\n", data):
        em = data.find(b"endstream", sm.end())
        if em != -1:
            spans.append((sm.end(), em))
    return spans


def _find_encryption(data: bytes) -> tuple[dict, bytes] | None:
    """Locate the document's encryption parameters: ``(/Encrypt dict,
    first /ID string)`` from a trailer that declares ``/Encrypt`` —
    classic ``trailer`` dicts and PDF 1.5+ xref-stream trailers
    (``/Type /XRef`` object dicts) both checked; the LAST matching
    trailer wins (incremental updates are appended, so the newest
    state is last). Cheap byte prefilter first: the overwhelming
    majority of documents never contain ``/Encrypt`` at all. Trailer
    tokens that sit inside a ``stream``…``endstream`` payload (e.g.
    an uncompressed embedded-PDF attachment) are CONTENT and must not
    classify the outer document.

    The /Encrypt dict itself is never encrypted (spec §7.6.1), so an
    indirect ``N G R`` value can be resolved with a plain object scan
    before any key exists."""
    if b"/Encrypt" not in data:
        return None
    import bisect

    spans = _stream_spans(data)
    starts = [s for s, _ in spans]

    def inside_stream(pos: int) -> bool:
        i = bisect.bisect_right(starts, pos) - 1
        return i >= 0 and pos < spans[i][1]

    found: dict | None = None
    for m in re.finditer(rb"trailer", data):
        if inside_stream(m.start()):
            continue
        lex = _Lexer(data, m.end())
        try:
            d = lex.value()
        except Exception:
            continue
        if isinstance(d, dict) and "/Encrypt" in d:
            found = d
    for m in _OBJ_RE.finditer(data):
        if inside_stream(m.start(3)):
            continue
        body = m.group(3)
        if b"/XRef" not in body or b"/Encrypt" not in body:
            continue
        try:
            d = _Lexer(body).value()
        except Exception:
            continue
        if isinstance(d, dict) and d.get("/Type") == "/XRef" and "/Encrypt" in d:
            found = d
    if found is None:
        return None
    enc = found["/Encrypt"]
    if isinstance(enc, Ref):
        enc = _scan_for_object(data, enc.num)
    if not isinstance(enc, dict):
        # Declared encrypted but the dict is unreachable: report the
        # classification with empty parameters (handler will reject).
        enc = {}
    fid = b""
    ident = found.get("/ID")
    if isinstance(ident, list) and ident and isinstance(ident[0], (bytes, bytearray)):
        fid = bytes(ident[0])
    return enc, fid


def _scan_for_object(data: bytes, num: int):
    """Parse the body of object *num* with no decryption — only valid
    for objects the spec leaves unencrypted (the /Encrypt dict)."""
    for m in _OBJ_RE.finditer(data):
        if int(m.group(1)) == num:
            try:
                return _Lexer(m.group(3)).value()
            except Exception:
                return None
    return None


def _is_encrypted(data: bytes) -> bool:
    return _find_encryption(data) is not None


class PdfEncryptedError(ValueError):
    """The document declares ``/Encrypt`` AND cannot be transparently
    decrypted — a real (non-empty) user password, or a handler beyond
    RC4-40/128 / AES-128 (``kernel/pdf_crypt.py``). Empty-user-password
    docs no longer raise: they decrypt in place, matching pypdf's
    behavior in the reference (``karanta/pipeline.py:480-505``).
    Surfaced as a TYPED error so the pipeline can mark the row
    ``ok=false, error='encrypted'`` instead of quarantining a
    confusing parse failure."""


class PdfDocument:
    """Xref-seeking PDF parser with a sequential-scan safety net.

    The fast path walks the cross-reference machinery the way a
    seek-capable reader does — ``startxref`` → classic ``xref``
    tables and/or PDF 1.5 xref STREAMS (``/W`` field widths,
    ``/Index`` subsections, PNG-predictor-12 decoding), following
    ``/Prev`` chains newest-first so incremental updates win — and
    parses only the objects the table points at, instead of
    regex-scanning every byte of the file (the difference between
    touching ~#objects positions and streaming 500 MB through a
    regex on a big scanned book). Any inconsistency — bad offsets,
    missing trailer, an xref that doesn't lead to a /Root with pages
    (common in regenerated/appended crawl files) — falls back to the
    exhaustive sequential object scan, which remains the robustness
    baseline for truncated files with no usable tail at all."""

    def __init__(self, data: bytes, use_xref: bool = True):
        if not data.startswith(b"%PDF"):
            raise ValueError("not a PDF (missing %PDF magic)")
        # Empty-user-password documents (owner-locked but freely
        # openable — the common crawled case, which the reference
        # reads transparently through pypdf) decrypt in place; a real
        # password or an unsupported handler stays the typed row.
        self._crypt = None
        enc_info = _find_encryption(data)
        if enc_info is not None:
            from karanta_ocr_spark.kernel.pdf_crypt import StdSecurityHandler

            enc_dict, fid = enc_info
            try:
                self._crypt = StdSecurityHandler(enc_dict, fid)
            except ValueError as exc:
                raise PdfEncryptedError(f"encrypted PDF ({exc})") from None
        self.objects: dict[int, tuple[dict | object, bytes | None]] = {}
        self.loaded_via_xref = False
        if use_xref:
            try:
                self.loaded_via_xref = self._load_via_xref(data)
            except Exception:
                self.loaded_via_xref = False
            if not self.loaded_via_xref:
                self.objects = {}
        if not self.loaded_via_xref:
            self._scan_all_objects(data)
        self._load_object_streams()
        self._page_cache: list[tuple[dict, bytes, BoundingBox]] | None = None
        if self.loaded_via_xref and self._find_root_pages() is None:
            # The xref lied (regenerated file, stale offsets): retry
            # with the exhaustive scan before giving up.
            self.loaded_via_xref = False
            self.objects = {}
            self._scan_all_objects(data)
            self._load_object_streams()

    def _scan_all_objects(self, data: bytes) -> None:
        for m in _OBJ_RE.finditer(data):
            num, val, stream = self._parse_obj_match(m)
            self.objects[num] = (val, stream)

    def _parse_obj_match(self, m) -> tuple[int, object, bytes | None]:
        num = int(m.group(1))
        gen = int(m.group(2))
        body = m.group(3)
        lex = _Lexer(body)
        val = lex.value()
        stream = None
        sm = _STREAM_RE.search(body)
        if sm is not None:
            stream = sm.group(1)
            if isinstance(val, dict):
                filt = self._resolve_later(val.get("/Filter"))
                length = val.get("/Length")
                # Order matters for encrypted docs: /Length counts the
                # FILE bytes (ciphertext), so slice first, then
                # decrypt, then decompress (payload = encrypt(deflate(
                # content))). Xref streams are never encrypted
                # (§7.5.8.2); strings inside ObjStm payloads are
                # covered by the container's encryption, so the
                # embedded objects parsed later need no second pass.
                if isinstance(length, int):
                    # Prefer the declared /Length over the regex
                    # capture when it is consistent with a following
                    # ``endstream``: binary payloads (ciphertext,
                    # compressed data) that happen to END with a 0x0D
                    # byte lose it to the regex's trailing ``\r?\n``
                    # otherwise — a 1-in-256-per-stream truncation
                    # that breaks AES block alignment. The regex
                    # capture stays the fallback for the (common in
                    # the wild) wrong-/Length files.
                    end = sm.start(1) + length
                    if end <= len(body) and body[end : end + 11].lstrip(
                        b"\r\n"
                    ).startswith(b"endstream"):
                        stream = body[sm.start(1) : end]
                    elif length <= len(stream):
                        stream = stream[:length]
                if self._crypt is not None and val.get("/Type") != "/XRef":
                    try:
                        stream = self._crypt.decrypt(stream, num, gen)
                    except Exception:
                        pass  # leave ciphertext; downstream isolates
                if filt == "/FlateDecode" or (
                    isinstance(filt, list) and "/FlateDecode" in filt
                ):
                    try:
                        stream = zlib.decompress(stream)
                    except zlib.error:
                        pass
        return num, val, stream

    # ------------------------------------------------------ xref walk
    def _load_via_xref(self, data: bytes) -> bool:
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", data[-2048:]):
            pass
        if m is None:
            return False
        off = int(m.group(1))
        offsets: dict[int, int] = {}
        dead: set[int] = set()
        seen: set[int] = set()
        found = False
        while 0 <= off < len(data) and off not in seen:
            seen.add(off)
            if data.startswith(b"xref", off):
                trailer = self._parse_xref_table(data, off, offsets, dead)
                if trailer is None:
                    return False
                found = True
                hybrid = trailer.get("/XRefStm")
                if isinstance(hybrid, int):
                    self._parse_xref_stream_at(data, hybrid, offsets, dead)
            else:
                trailer = self._parse_xref_stream_at(data, off, offsets, dead)
                if trailer is None:
                    return False
                found = True
            prev = trailer.get("/Prev")
            if not isinstance(prev, int):
                break
            off = prev
        if not found or not offsets:
            return False
        for num, o in offsets.items():
            if num in self.objects:
                continue
            if not (0 <= o < len(data)):
                return False  # stale table: take the sequential scan
            om = _OBJ_RE.search(data, o)
            # Tolerate a few bytes of slack (whitespace before the
            # header). A far-away or wrong-numbered match means the
            # offset is STALE (regenerated/appended file) — and a
            # stale table must abandon the whole fast path, not skip
            # the entry: a skipped /Contents object would make
            # extraction return silently EMPTY page text while the
            # /Root→/Pages validation still passes (the sequential
            # scan recovers every 'N 0 obj' in the file, which is the
            # recall baseline this fast path must never undercut).
            if om is None or om.start() - o > 8 or int(om.group(1)) != num:
                return False
            n2, val, stream = self._parse_obj_match(om)
            self.objects[n2] = (val, stream)
        return len(self.objects) > 0

    def _parse_xref_table(
        self, data: bytes, off: int, offsets: dict[int, int], dead: set[int]
    ) -> dict | None:
        """Classic ``xref`` section: subsection headers ``start count``
        then 20-byte ``OOOOOOOOOO GGGGG n/f`` entries; returns the
        trailer dict that follows."""
        i = off + 4
        sub_re = re.compile(rb"\s*(\d+)\s+(\d+)\s*")
        ent_re = re.compile(rb"\s*(\d{10})\s+(\d{5})\s+([nf])")
        while True:
            sm = sub_re.match(data, i)
            if sm is None:
                break
            start, count = int(sm.group(1)), int(sm.group(2))
            if count > 1 << 22:
                return None
            i = sm.end()
            for k in range(count):
                em = ent_re.match(data, i)
                if em is None:
                    return None
                num = start + k
                if num not in offsets and num not in dead:
                    if em.group(3) == b"n":
                        offsets[num] = int(em.group(1))
                    else:
                        dead.add(num)
                i = em.end()
        tm = re.compile(rb"\s*trailer\s*").match(data, i)
        if tm is None:
            return None
        trailer = _Lexer(data, tm.end()).value()
        return trailer if isinstance(trailer, dict) else None

    def _parse_xref_stream_at(
        self, data: bytes, off: int, offsets: dict[int, int], dead: set[int]
    ) -> dict | None:
        """PDF 1.5 xref STREAM (``/Type /XRef``): binary entries of
        ``/W``-declared field widths over ``/Index`` subsections,
        FlateDecoded and PNG-predictor-unfiltered. Type 1 → direct
        offset, type 2 → object lives in an ObjStm (the container is
        itself type 1; ``_load_object_streams`` extracts it), type 0
        → free."""
        om = _OBJ_RE.search(data, off)
        if om is None or om.start() - off > 8:
            return None
        num, val, stream = self._parse_obj_match(om)
        if not isinstance(val, dict) or val.get("/Type") != "/XRef" or not stream:
            return None
        self.objects.setdefault(num, (val, stream))
        w = val.get("/W")
        size = val.get("/Size")
        if not (isinstance(w, list) and len(w) == 3 and isinstance(size, int)):
            return None
        w0, w1, w2 = (int(x) for x in w)
        parms = self._resolve_later(val.get("/DecodeParms")) or {}
        if isinstance(parms, list):
            parms = next((p for p in parms if isinstance(p, dict)), {})
        pred = parms.get("/Predictor", 1) if isinstance(parms, dict) else 1
        row = w0 + w1 + w2
        if row <= 0:
            return None
        if isinstance(pred, int) and pred >= 10:
            stream = _png_unpredict(stream, row)
            if stream is None:
                return None
        index = val.get("/Index", [0, size])
        if not isinstance(index, list) or len(index) % 2:
            return None
        pos = 0
        for s_i in range(0, len(index), 2):
            start, count = int(index[s_i]), int(index[s_i + 1])
            for k in range(count):
                if pos + row > len(stream):
                    return val  # truncated tail: keep what we have
                ent = stream[pos : pos + row]
                pos += row
                t = int.from_bytes(ent[:w0], "big") if w0 else 1
                f1 = int.from_bytes(ent[w0 : w0 + w1], "big")
                numk = start + k
                if numk in offsets or numk in dead:
                    continue
                if t == 1:
                    offsets[numk] = f1
                elif t == 0:
                    dead.add(numk)
                # t == 2: lives in ObjStm f1 — the container arrives
                # via its own type-1 entry; nothing to record here.
        return val

    def _load_object_streams(self) -> None:
        """PDF 1.5+ compressed object streams (/Type /ObjStm): page
        dicts of real-world PDFs frequently live inside these, where
        the sequential ``N 0 obj`` scan can't see them. Tolerant
        fallback instead of a full xref-stream reader: the scan already
        found and inflated the ObjStm containers, so parse their
        ``N`` (objnum, offset) header pairs and register each embedded
        object. Directly-scanned objects win on number collisions."""
        embedded: dict[int, tuple] = {}
        for val, stream in list(self.objects.values()):
            if not (isinstance(val, dict) and val.get("/Type") == "/ObjStm"):
                continue
            if not isinstance(stream, (bytes, bytearray)):
                continue
            n = val.get("/N")
            first = val.get("/First")
            if not (isinstance(n, int) and isinstance(first, int) and first <= len(stream)):
                continue
            head = _Lexer(bytes(stream[:first]))
            pairs = []
            try:
                for _ in range(min(n, 10000)):
                    objnum = head.value()
                    off = head.value()
                    if not (isinstance(objnum, int) and isinstance(off, int)):
                        break
                    pairs.append((objnum, off))
            except Exception:
                pass
            body = bytes(stream)
            for objnum, off in pairs:
                pos = first + off
                if objnum in self.objects or objnum in embedded or pos > len(body):
                    continue
                try:
                    embedded[objnum] = (_Lexer(body, pos).value(), None)
                except Exception:
                    continue
        self.objects.update(embedded)

    @staticmethod
    def _resolve_later(v):
        return v

    def resolve(self, v):
        # Hostile/corrupt PDFs can contain reference cycles (A -> B -> A);
        # an unbounded while-loop would hang the executor task forever.
        seen: set[int] = set()
        while isinstance(v, Ref):
            if v.num in seen:
                return None
            seen.add(v.num)
            v = self.objects.get(v.num, (None, None))[0]
        return v

    # -- page tree -------------------------------------------------------
    def _find_root_pages(self) -> dict | None:
        for val, _ in self.objects.values():
            if isinstance(val, dict) and val.get("/Type") == "/Catalog":
                return self.resolve(val.get("/Pages"))
        # Fallback: any /Pages node without a parent.
        for val, _ in self.objects.values():
            if isinstance(val, dict) and val.get("/Type") == "/Pages" and "/Parent" not in val:
                return val
        return None

    def _walk_pages(self, node: dict, inherited: dict, out: list, seen=None, depth: int = 0) -> None:
        # `seen` (node identity) + a depth cap guard against cyclic /Kids
        # trees in corrupt PDFs, which would otherwise recurse forever.
        if not isinstance(node, dict) or depth > 64:
            return
        if seen is None:
            seen = set()
        if id(node) in seen:
            return
        seen.add(id(node))
        inh = dict(inherited)
        for k in ("/MediaBox", "/Resources"):
            if k in node:
                inh[k] = node[k]
        if node.get("/Type") == "/Page":
            out.append((node, inh))
            return
        for kid in self.resolve(node.get("/Kids")) or []:
            self._walk_pages(self.resolve(kid), inh, out, seen, depth + 1)

    def pages(self) -> list[tuple[dict, dict]]:
        """Ordered list of (page dict, inherited attrs)."""
        root = self._find_root_pages()
        out: list[tuple[dict, dict]] = []
        if root is not None:
            self._walk_pages(root, {}, out)
        if not out:
            # Last resort: objects with /Type /Page in object order.
            for num in sorted(self.objects):
                val, _ = self.objects[num]
                if isinstance(val, dict) and val.get("/Type") == "/Page":
                    out.append((val, {}))
        return out

    def num_pages(self) -> int:
        return len(self.pages())

    def page_content(self, page: dict) -> bytes:
        contents = page.get("/Contents")
        parts: list[bytes] = []
        items = contents if isinstance(contents, list) else [contents]
        for it in items:
            if isinstance(it, Ref):
                _, stream = self.objects.get(it.num, (None, None))
                if stream is not None:
                    parts.append(stream)
        return b"\n".join(parts)


_BF_CHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BF_RANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_CMAP_TOKEN_RE = re.compile(rb"<([0-9A-Fa-f]+)>|(\[)|(\])")


def _utf16be(hexs: bytes) -> str:
    try:
        return bytes.fromhex(hexs.decode("ascii")).decode("utf-16-be")
    except (ValueError, UnicodeDecodeError):
        return ""


def parse_tounicode_cmap(data: bytes) -> tuple[int, dict[int, str]]:
    """ToUnicode CMap → (code byte width, code → text map).

    Covers the bfchar and bfrange sections (single-destination and
    array forms) that Type0/CID fonts with multi-byte encodings emit —
    the standard way crawled PDFs carry extractable text for CJK and
    subsetted fonts. Code width inferred from the source hex length
    (Identity-H → 2 bytes)."""
    width = 2
    mapping: dict[int, str] = {}
    for m in _BF_CHAR_RE.finditer(data):
        toks = _CMAP_TOKEN_RE.findall(m.group(1))
        hexes = [t[0] for t in toks if t[0]]
        for j in range(0, len(hexes) - 1, 2):
            src, dst = hexes[j], hexes[j + 1]
            width = max(1, len(src) // 2)
            mapping[int(src, 16)] = _utf16be(dst)
    for m in _BF_RANGE_RE.finditer(data):
        toks = _CMAP_TOKEN_RE.findall(m.group(1))
        j = 0
        while j < len(toks):
            if not (toks[j][0] and j + 2 < len(toks) and toks[j + 1][0]):
                j += 1
                continue
            lo, hi = int(toks[j][0], 16), int(toks[j + 1][0], 16)
            width = max(1, len(toks[j][0]) // 2)
            if toks[j + 2][0]:  # <lo> <hi> <dstStart>
                base_hex = toks[j + 2][0]
                base = int(base_hex, 16)
                nbytes = len(base_hex) // 2
                for code in range(lo, min(hi, lo + 65535) + 1):
                    mapping[code] = _utf16be(
                        b"%0*X" % (nbytes * 2, base + (code - lo))
                    )
                j += 3
            elif toks[j + 2][1]:  # <lo> <hi> [ <d1> <d2> ... ]
                j += 3
                code = lo
                while j < len(toks) and not toks[j][2]:
                    if toks[j][0]:
                        mapping[code] = _utf16be(toks[j][0])
                        code += 1
                    j += 1
                j += 1  # closing ]
            else:
                j += 1
    return width, mapping


def _decode_with_cmap(raw: bytes, cmap: tuple[int, dict[int, str]]) -> str:
    width, mapping = cmap
    out: list[str] = []
    for j in range(0, len(raw) - width + 1, width):
        code = int.from_bytes(raw[j : j + width], "big")
        out.append(mapping.get(code, ""))
    return "".join(out)


# --- simple-font /Encoding /Differences (glyph-name remapping) --------
#: Adobe Glyph List subset: the names older simple-font PDFs actually
#: use. Letters/digits are generated; uniXXXX / uXXXX(XX) forms are
#: parsed, which covers arbitrary Unicode (e.g. edotbelow = uni1EB9 in
#: Yoruba text). Unknown names decode to "" (nothing sane to guess).
_AGL_SUBSET: dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~", "quoteleft": "‘",
    "quoteright": "’", "quotedblleft": "“",
    "quotedblright": "”", "endash": "–", "emdash": "—",
    "bullet": "•", "ellipsis": "…", "fi": "ﬁ",
    "fl": "ﬂ", "degree": "°", "euro": "€",
    "agrave": "à", "aacute": "á", "acircumflex": "â", "atilde": "ã",
    "adieresis": "ä", "ccedilla": "ç", "egrave": "è", "eacute": "é",
    "ecircumflex": "ê", "edieresis": "ë", "igrave": "ì", "iacute": "í",
    "icircumflex": "î", "idieresis": "ï", "ntilde": "ñ", "ograve": "ò",
    "oacute": "ó", "ocircumflex": "ô", "otilde": "õ", "odieresis": "ö",
    "ugrave": "ù", "uacute": "ú", "ucircumflex": "û", "udieresis": "ü",
    "yacute": "ý", "ydieresis": "ÿ", "oe": "œ", "OE": "Œ",
    "ae": "æ", "AE": "Æ", "oslash": "ø", "Oslash": "Ø",
}
for _ch in "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz":
    _AGL_SUBSET[_ch] = _ch
for _i, _nm in enumerate(
    ["zero", "one", "two", "three", "four", "five", "six", "seven",
     "eight", "nine"]
):
    _AGL_SUBSET[_nm] = str(_i)


def _glyph_to_char(name: str) -> str:
    """Glyph name (no leading slash) → character. Handles the AGL
    subset plus the algorithmic uniXXXX / uXXXX..XXXXXX forms."""
    if name in _AGL_SUBSET:
        return _AGL_SUBSET[name]
    if name.startswith("uni") and len(name) >= 7:
        try:
            return chr(int(name[3:7], 16))
        except ValueError:
            return ""
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return ""
    return ""


def parse_differences(diffs: list) -> dict[int, str]:
    """/Encoding /Differences array → code → char map: integers set
    the current code, names assign consecutive codes (PDF 32000
    §9.6.6.1)."""
    mapping: dict[int, str] = {}
    code = 0
    for item in diffs:
        if isinstance(item, (int, float)):
            code = int(item)
        elif isinstance(item, str) and item.startswith("/"):
            mapping[code] = _glyph_to_char(item[1:])
            code += 1
    return mapping


def _decode_with_differences(raw: bytes, mapping: dict[int, str]) -> str:
    """Single-byte decode: remapped codes go through the glyph map;
    untouched codes keep the base (latin-1-ish) meaning — matching how
    readers overlay /Differences on StandardEncoding."""
    return "".join(
        mapping[b] if b in mapping else bytes([b]).decode("latin-1")
        for b in raw
    )


def _decode_pdf_string(raw: bytes) -> str:
    """Decode a PDF string payload. UTF-16BE with BOM per spec; else we
    try UTF-8 (what our generator and most modern producers emit for
    non-Latin scripts), falling back to latin-1 (PDFDocEncoding-ish)."""
    if raw[:2] == b"\xfe\xff":
        try:
            return raw[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            pass
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


#: One content-stream token per match, leading whitespace folded in:
#: an escape-free literal string, a ``#``-free name, or a run of
#: numbers together with the operator that ends it (either part may be
#: absent). An empty match leaves the cursor on a token the ``_Lexer``
#: parses (escaped or nested literal, hex string, dict, array, ``#xx``
#: name), a comment, or a stray byte.
_CONTENT_TOKEN = re.compile(
    rb"""
    [\x00\t\n\x0c\r ]*
    (?:
        \( (?P<lit>[^()\\]*) \)
      | (?P<name>/[^\x00\t\n\x0c\r ()<>\[\]{}/%#]*) (?![^\x00\t\n\x0c\r ()<>\[\]{}/%])
      | (?P<nums>(?:[+-]?(?:\d+\.?\d*|\.\d+)[\x00\t\n\x0c\r ]*)+)?
        (?P<op>[A-Za-z'"][A-Za-z0-9'"*]*)?
    )
    """,
    re.X,
)
#: Operand stack bound: a longer run without an operator is reset.
_MAX_OPERANDS = 4096


def _interpret_content(
    content: bytes,
    xobjects: dict,
    doc: PdfDocument,
    text_elements: list[TextElement],
    image_elements: list[ImageElement],
    fonts: dict | None = None,
) -> None:
    """Execute the content stream, emitting elements exactly as the
    reference visitors do (``anchor.py:87-120``): text position =
    ``mult(tm, cm)`` translation; image bbox = unit square through cm.

    *fonts* maps resource font names (e.g. '/F1') to a parsed
    ToUnicode cmap (or None); while a cmap'd font is selected via
    ``Tf``, show-text strings decode as multi-byte CIDs through it."""
    cm = list(_IDENTITY)
    stack: list[list[float]] = []
    tm = list(_IDENTITY)
    tlm = list(_IDENTITY)
    leading = 0.0
    operands: list = []
    cur_cmap: tuple | None = None

    def emit_text(raw: bytes) -> None:
        txt2user = _mult(tm, cm)
        if cur_cmap is None:
            text = _decode_pdf_string(raw)
        elif cur_cmap[0] == "diff":
            text = _decode_with_differences(raw, cur_cmap[1])
        else:
            text = _decode_with_cmap(raw, cur_cmap)
        text_elements.append(TextElement(text, txt2user[4], txt2user[5]))

    lex = _Lexer(content)
    next_token = _CONTENT_TOKEN.match
    numbers = _Lexer._NUM_RE.findall
    i, n = 0, len(content)
    while i < n:
        if len(operands) > _MAX_OPERANDS:
            # Corrupt stream accumulating operands without operators:
            # bail rather than grow unboundedly.
            operands = []
        m = next_token(content, i)
        i = m.end()
        kind = m.lastgroup
        if kind is None:
            if i >= n:
                break
            c = content[i]
            if c == 0x25:  # comment
                j = content.find(b"\n", i)
                i = n if j < 0 else j + 1
                continue
            lex.i = i
            if c == 0x28:  # (
                operands.append(lex._literal_string())
            elif c == 0x3C:  # <
                if content[i + 1 : i + 2] == b"<":
                    operands.append(lex._dict())
                else:
                    operands.append(lex._hex_string())
            elif c == 0x5B:  # [
                operands.append(lex._array())
            elif c == 0x2F:  # /name
                operands.append(lex._name())
            else:
                i += 1  # stray byte
                continue
            i = max(lex.i, i + 1)  # guarantee progress on corrupt input
            continue
        if kind == "lit":
            operands.append(m.group("lit"))
            continue
        if kind == "name":
            operands.append(m.group("name").decode("latin-1"))
            continue
        run = m.group("nums")
        if run is not None:
            vals = [float(t) if b"." in t else int(t) for t in numbers(run)]
            if len(operands) + len(vals) <= _MAX_OPERANDS:
                operands += vals
            else:
                # The run crosses the cap: replay the reset token by token.
                for v in vals:
                    if len(operands) > _MAX_OPERANDS:
                        operands = []
                    operands.append(v)
                if len(operands) > _MAX_OPERANDS:
                    operands = []
            if kind == "nums":
                continue
        op = m.group("op")

        # ---- operators -------------------------------------------------
        if op == b"ID":
            # Inline image (BI <params> ID <binary> EI): the binary
            # payload is not token syntax — scan past it to the EI
            # delimiter (whitespace-framed, the standard heuristic for
            # payloads that may contain the bytes 'EI'). The reference's
            # pypdf visitors don't emit inline images as image elements
            # (anchor.py:105-120 sees only /XObject Do), so neither do
            # we — the point is that the REST of the stream still
            # parses instead of the page failing.
            j = i
            if j < n and content[j] in _WS:
                j += 1
            while True:
                k = content.find(b"EI", j)
                if k < 0:
                    i = n
                    break
                before_ok = k == 0 or content[k - 1] in _WS
                after_ok = k + 2 >= n or content[k + 2] in _WS
                if before_ok and after_ok:
                    i = k + 2
                    break
                j = k + 2
            operands = []
            continue
        if op == b"q":
            stack.append(list(cm))
        elif op == b"Q":
            if stack:
                cm = stack.pop()
        elif op == b"cm" and len(operands) >= 6:
            mat = [float(v) for v in operands[-6:]]
            cm = _mult(mat, cm)
        elif op == b"BT":
            tm = list(_IDENTITY)
            tlm = list(_IDENTITY)
        elif op == b"ET":
            pass
        elif op == b"Tm" and len(operands) >= 6:
            tlm = [float(v) for v in operands[-6:]]
            tm = list(tlm)
        elif op in (b"Td", b"TD") and len(operands) >= 2:
            tx, ty = float(operands[-2]), float(operands[-1])
            if op == b"TD":
                leading = -ty
            tlm = _mult([1, 0, 0, 1, tx, ty], tlm)
            tm = list(tlm)
        elif op == b"TL" and operands:
            leading = float(operands[-1])
        elif op == b"Tf" and len(operands) >= 2:
            name = operands[-2]
            cur_cmap = (
                fonts.get(name) if (fonts and isinstance(name, str)) else None
            )
        elif op == b"T*":
            tlm = _mult([1, 0, 0, 1, 0, -leading], tlm)
            tm = list(tlm)
        elif op == b"Tj" and operands:
            raw = operands[-1]
            if isinstance(raw, bytes):
                emit_text(raw)
        elif op in (b"'", b'"'):
            tlm = _mult([1, 0, 0, 1, 0, -leading], tlm)
            tm = list(tlm)
            raw = operands[-1] if operands else None
            if isinstance(raw, bytes):
                emit_text(raw)
        elif op == b"TJ" and operands:
            arr = operands[-1]
            if isinstance(arr, list):
                # One element per TJ op, strings concatenated (kerning
                # numbers ignored for position — matches how our
                # generator uses TJ).
                raw = b"".join(x for x in arr if isinstance(x, bytes))
                if raw:
                    emit_text(raw)
        elif op == b"Do" and operands:
            name = operands[-1]
            xobj = doc.resolve(xobjects.get(name)) if isinstance(name, str) else None
            if isinstance(xobj, dict) and xobj.get("/Subtype") == "/Image":
                # Reference anchor.py:109-120: unit square through CTM.
                x0, y0 = _transform_point(0, 0, cm)
                x1, y1 = _transform_point(1, 1, cm)
                image_elements.append(
                    ImageElement(
                        name,
                        BoundingBox(min(x0, x1), min(y0, y1), max(x0, x1), max(y0, y1)),
                    )
                )
        operands = []


def parse_pdf(data: bytes) -> list[PageReport]:
    """Parse PDF bytes → one ``PageReport`` per page (1-indexed order),
    the exact structure of reference ``_pdf_report``
    (``karanta/prompts/anchor.py:69-128``)."""
    doc = PdfDocument(data)
    reports: list[PageReport] = []
    for page, inh in doc.pages():
        mb = doc.resolve(page.get("/MediaBox", inh.get("/MediaBox"))) or [0, 0, 612, 792]
        mediabox = BoundingBox(float(mb[0]), float(mb[1]), float(mb[2]), float(mb[3]))
        resources = doc.resolve(page.get("/Resources", inh.get("/Resources"))) or {}
        xobjects = doc.resolve(resources.get("/XObject")) or {}
        # Fonts with a ToUnicode CMap (Type0/CID multi-byte encodings)
        # decode show-text through the cmap; simple fonts with an
        # /Encoding /Differences array decode through the glyph-name
        # remap overlaid on the latin-1-ish base (ToUnicode wins when
        # both exist — it is the authoritative text mapping).
        fonts: dict = {}
        font_res = doc.resolve(resources.get("/Font")) or {}
        if isinstance(font_res, dict):
            for fname, fref in font_res.items():
                fdict = doc.resolve(fref)
                cmap = None
                if isinstance(fdict, dict) and "/ToUnicode" in fdict:
                    tu = fdict["/ToUnicode"]
                    stream = None
                    if isinstance(tu, Ref):
                        _, stream = doc.objects.get(tu.num, (None, None))
                    if stream:
                        try:
                            cmap = parse_tounicode_cmap(stream)
                        except Exception:
                            cmap = None
                if cmap is None and isinstance(fdict, dict):
                    enc = doc.resolve(fdict.get("/Encoding"))
                    if isinstance(enc, dict):
                        diffs = doc.resolve(enc.get("/Differences"))
                        if isinstance(diffs, list):
                            try:
                                cmap = ("diff", parse_differences(diffs))
                            except Exception:
                                cmap = None
                fonts[fname] = cmap
        text_elements: list[TextElement] = []
        image_elements: list[ImageElement] = []
        content = doc.page_content(page)
        if content:
            _interpret_content(
                content, xobjects, doc, text_elements, image_elements, fonts
            )
        reports.append(PageReport(mediabox, text_elements, image_elements))
    return reports
