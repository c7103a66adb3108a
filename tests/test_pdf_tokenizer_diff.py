"""One-pass content-stream tokenizer vs the byte-at-a-time interpreter
it replaced (``pdf_content_reference.interpret_content_reference``).

``parse_pdf`` must report the same pages, text elements and image
elements — or fail with the same error — whichever interpreter runs,
on generated streams covering every token class the one-pass regex
hands back to ``_Lexer`` (escaped and nested literals, ``#xx`` names,
comments, hex strings, ``TJ`` arrays, ``BDC`` dicts), inline images,
stray delimiters, operand runs across the 4096-operand reset, every
token-boundary truncation, and every PDF of the fixture corpus."""

import zlib

import pytest
from hypothesis import given, settings, strategies as st

from karanta_ocr_spark.fixtures.gen import generate_web_pages
from karanta_ocr_spark.fixtures.pdf_gen import _assemble
from karanta_ocr_spark.kernel import pdf_mini
from pdf_content_reference import interpret_content_reference


def _pdf(content: bytes) -> bytes:
    """One-page PDF around *content* (flate-compressed so any bytes
    survive the stream framing): plain font /F1, /Differences font /F2,
    image XObject /Im0."""
    comp = zlib.compress(content)
    return _assemble(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Resources "
            b"<< /Font << /F1 5 0 R /F2 6 0 R >> /XObject << /Im0 7 0 R >> >> "
            b"/Contents 4 0 R >>",
            b"<< /Filter /FlateDecode /Length " + str(len(comp)).encode()
            + b" >>\nstream\n" + comp + b"\nendstream",
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding << /Differences [65 /bullet /eacute 97 /Aring] >> >>",
            b"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 "
            b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Length 3 >>\n"
            b"stream\n\xff\x00\x00\nendstream",
        ],
        b"",
    )


def _report(data: bytes, interpret) -> str:
    """repr of ``parse_pdf(data)`` (or of its error) with *interpret*
    as the content interpreter; repr so NaN coordinates compare."""
    current = pdf_mini._interpret_content
    pdf_mini._interpret_content = interpret
    try:
        return repr(pdf_mini.parse_pdf(data))
    except Exception as e:  # both sides must fail the same way
        return f"{type(e).__name__}: {e}"
    finally:
        pdf_mini._interpret_content = current


def _assert_same(data: bytes) -> None:
    new = _report(data, pdf_mini._interpret_content)
    assert new == _report(data, interpret_content_reference)


_SEP = st.sampled_from([b" ", b"\n", b"\r\n", b"\t", b"\x00", b"\x0c", b""])
_NUM = st.one_of(
    st.sampled_from([b"0", b"1", b"-2", b"+3", b"72", b"0.5", b"-.25", b"12.",
                     b"1.2.3", b"007", b"-1-2"]),
    st.integers(-1000, 1000).map(lambda v: str(v).encode()),
)
_NAME = st.sampled_from([b"/F1", b"/F2", b"/F#32", b"/F#31", b"/Im0", b"/Im#30",
                         b"/A#zz", b"/#", b"/", b"/Span", b"/MCID"])
_OP = st.sampled_from([b"q", b"Q", b"cm", b"BT", b"ET", b"Tm", b"Td", b"TD", b"TL",
                       b"Tf", b"T*", b"Tj", b"'", b'"', b"TJ", b"Do", b"BDC", b"EMC",
                       b"re", b"f", b"true", b"null", b"Tj5", b"BI", b"ID", b"EI"])
_LIT_PIECE = st.sampled_from([
    b"abc", b" x y ", b"\\(", b"\\)", b"\\\\", b"\\n", b"\\r", b"\\t", b"\\b",
    b"\\f", b"\\053", b"\\7", b"\\1012", b"\\\n", b"\\\r\n", b"\\\r", b"\\q",
    "é".encode(), b"\xfe\xff\x00A", b"AB", b"%",
])
_NESTED = st.recursive(
    _LIT_PIECE,
    lambda inner: st.lists(inner, max_size=4).map(lambda xs: b"(" + b"".join(xs) + b")"),
    max_leaves=8,
)
_LIT = st.lists(_NESTED, max_size=4).map(lambda xs: b"(" + b"".join(xs) + b")")
_HEX = st.sampled_from([b"<48656c6c6f>", b"<4 8 6>", b"<486>", b"<>", b"<zz41>",
                        b"<feff00410042>", b"<41"])
_COMMENT = st.sampled_from([b"% note\n", b"%(Tj) 1 2\r\n", b"%tail"])
_STRAY = st.sampled_from([b")", b"]", b">", b"}", b"{", b"\x0b", b"*", b"\xff", b"-", b"."])
_TJ = st.lists(st.one_of(_LIT, _HEX, _NUM), max_size=5).map(
    lambda xs: b"[" + b" ".join(xs) + b"] TJ"
)
_BDC = st.tuples(_LIT, st.integers(0, 9)).map(
    lambda t: b"/Span <</MCID " + str(t[1]).encode() + b" /ActualText " + t[0]
    + b" /Sub <</A [1 (b) /C]>>>> BDC"
)
_INLINE = st.binary(max_size=8).map(
    lambda payload: b"BI /W 2 /H 2 /BPC 8 /CS /G ID " + payload + b" EI"
)
_PHRASE = st.one_of(
    st.tuples(_NAME, _NUM, _LIT).map(lambda t: t[0] + b" " + t[1] + b" Tf " + t[2] + b" Tj"),
    _NAME.map(lambda s: s + b" Do"),
    st.lists(_NUM, min_size=6, max_size=6).map(lambda xs: b" ".join(xs) + b" Tm"),
    st.lists(_NUM, min_size=6, max_size=6).map(lambda xs: b"q " + b" ".join(xs) + b" cm /Im0 Do Q"),
    st.tuples(_NUM, _NUM, _LIT).map(lambda t: t[0] + b" " + t[1] + b" Td " + t[2] + b" Tj"),
    st.tuples(_NUM, _NUM, _LIT).map(lambda t: t[0] + b" " + t[1] + b" " + t[2] + b' "'),
    _LIT.map(lambda s: s + b" '"),
    _HEX.map(lambda s: s + b" Tj"),
    _NUM.map(lambda v: v + b" TL T*"),
    _TJ,
    _BDC,
    _INLINE,
)
_TOKEN = st.one_of(_PHRASE, _NUM, _NAME, _OP, _LIT, _HEX, _COMMENT, _STRAY)


PINNED = [
    b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (Hello) Tj ET",
    b"BT /F#32 12 Tf (AaB) Tj /F2 1 Tf (AB) Tj ET",
    b"q 10 0 0 10 5 5 cm /Im#30 Do Q q 2 0 0 2 1 1 cm /I#6d0 Do Q",
    b"BT (a\\(b\\)c\\\\) Tj (x(y)z) Tj (o\\101\\60\\7z) Tj (l\\\nm\\\r\nn) Tj ET",
    b"BT <48656c6c6f> Tj <4 8 6> Tj [(A) -120 (B) 3 0 R (C)] TJ ET",
    b"% comment (Tj)\nBT %x\r\n(c) Tj ET %tail",
    b"/Span <</MCID 3 /ActualText (x) /Sub <</A [1 (b)]>>>> BDC BT (m) Tj ET EMC",
    b"BT <</A (x) /B 1>> Tj <</C [(y)] /D <ab>>> ' ET",
    b"BI /W 2 /H 2 /CS /G ID \x00EI\xffEIx EI 3 4 Td BT (after) Tj ET",
    b"BT ) ] > } { \x0b * - . 1.2.3 -1-2 +3 .5 12. (s) Tj ET",
    b"BT 12 TL 5 6 TD (a) ' 1 2 (b) \" T* (c) Tj ET",
    b"BT 0(a)Tj/F1 9Tf[(b)]TJ<41>Tj ET",
]


@pytest.mark.parametrize("stream", PINNED)
def test_pinned_streams(stream):
    for end in range(len(stream) + 1):
        _assert_same(_pdf(stream[:end]))


@st.composite
def _streams(draw):
    """Token list and the stream joined from it with random separators;
    returns (stream, token end offsets)."""
    toks = draw(st.lists(_TOKEN, max_size=24))
    out, ends = b"BT ", []
    for t in toks:
        out += draw(_SEP) + t
        ends.append(len(out))
    return out, ends


@settings(max_examples=300, deadline=None)
@given(_streams())
def test_parse_pdf_matches_reference(stream_ends):
    stream, _ = stream_ends
    _assert_same(_pdf(stream))


@settings(max_examples=60, deadline=None)
@given(_streams())
def test_truncated_at_every_token_boundary(stream_ends):
    stream, ends = stream_ends
    for end in ends:
        _assert_same(_pdf(stream[:end]))
        _assert_same(_pdf(stream[: end - 1]))


@settings(max_examples=15, deadline=None)
@given(
    prefix=st.lists(st.one_of(_NAME, _LIT, _HEX), max_size=3),
    sep=st.sampled_from([b" ", b"\n", b" \r\n "]),
    tail=st.sampled_from([b"2 0 0 2 7 9 cm", b"(x) 5 6 Td", b"1 2", b"/F2 9 Tf"]),
)
def test_operand_reset_past_4096(prefix, sep, tail):
    # Whether the reset lands before, inside or after the tail decides
    # if cm/Td/Tf still see their operands, which moves the text; the
    # run lengths put the 4097th operand on every tail position.
    for run in range(4084, 4098):
        body = sep.join(prefix + [b"1"] * run) + sep + tail
        _assert_same(_pdf(b"BT " + body + b" (Aa) Tj ET q " + body + b" /Im0 Do Q"))


def test_fixture_corpus_pdfs():
    pdfs = [r["html"] for r in generate_web_pages(400, seed=42) if r["html"][:4] == b"%PDF"]
    assert len(pdfs) == 40
    for data in pdfs:
        _assert_same(data)
