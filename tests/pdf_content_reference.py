"""Test-only reference: the byte-at-a-time content-stream interpreter
that ``kernel.pdf_mini._interpret_content`` replaced, kept verbatim as
the spec its one-pass tokenizer is checked against
(``tests/test_pdf_tokenizer_diff.py``). Not imported by the package."""

from __future__ import annotations

import re

from karanta_ocr_spark.kernel.pdf_mini import (
    _IDENTITY,
    _WS,
    BoundingBox,
    ImageElement,
    PdfDocument,
    TextElement,
    _decode_pdf_string,
    _decode_with_cmap,
    _decode_with_differences,
    _Lexer,
    _mult,
    _transform_point,
)

_REF_CONTENT_TOKEN = re.compile(
    rb"""
      (?P<str>\()            # literal string start, handled by lexer
    | (?P<hex><(?!<))        # hex string start
    | (?P<dict><<)           # inline dict (e.g. BDC props)
    | (?P<arr>\[)            # array start
    | (?P<name>/[^\s()<>\[\]{}/%]*)
    | (?P<num>[+-]?(?:\d+\.?\d*|\.\d+))
    | (?P<op>[A-Za-z'"][A-Za-z0-9'"*]*)
    """,
    re.X,
)


def interpret_content_reference(
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

    i, n = 0, len(content)
    while i < n:
        c = content[i]
        if len(operands) > 4096:
            # Corrupt stream accumulating operands without operators:
            # bail rather than grow unboundedly.
            operands = []
        if c in _WS:
            i += 1
            continue
        if c == 0x25:  # comment
            j = content.find(b"\n", i)
            i = n if j < 0 else j + 1
            continue
        lex = _Lexer(content, i)
        if c == 0x28:  # (
            operands.append(lex._literal_string())
            i = max(lex.i, i + 1)  # guarantee progress on corrupt input
            continue
        if content[i : i + 2] == b"<<":
            operands.append(lex._dict())
            i = max(lex.i, i + 1)
            continue
        if c == 0x3C:  # <
            operands.append(lex._hex_string())
            i = max(lex.i, i + 1)
            continue
        if c == 0x5B:  # [
            operands.append(lex._array())
            i = max(lex.i, i + 1)
            continue
        if c == 0x2F:  # /name
            operands.append(lex._name())
            i = max(lex.i, i + 1)
            continue
        m = _REF_CONTENT_TOKEN.match(content, i)
        if m is None:
            i += 1
            continue
        i = m.end()
        if m.lastgroup == "num":
            tok = m.group(0)
            operands.append(float(tok) if b"." in tok else int(tok))
            continue
        op = m.group(0)

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
