"""Kernel tests for the pure-python PDF text writer/extractor
(sources/pdftext.py) — the dependency-free stand-in for the reference's
pdfminer leg (/root/reference/scripts/ai/summarize_bills_federal.py:136-150).

The roundtrip tests pin the writer→extractor contract the registered
``llm_pdf_extract`` op relies on; the handwritten-PDF tests pin extractor
generality on stream shapes our writer never emits (uncompressed streams,
TJ arrays with kerning, hex strings, octal escapes, ' operator,
CR-terminated stream data guarded by /Length)."""

import zlib

import pytest

from repcheck_data_integration_spark.sources.pdftext import (
    extract_pdf_text,
    pdf_from_text,
)


def _wrap_expect(text: str, wrap: int = 80) -> str:
    """What the writer+extractor roundtrip should produce: latin-1
    projection, hard-wrapped, empty lines dropped."""
    proj = text.encode("latin-1", errors="ignore").decode("latin-1")
    lines = []
    for ln in proj.split("\n"):
        for off in range(0, max(len(ln), 1), wrap):
            lines.append(ln[off : off + wrap])
    return "\n".join(ln for ln in lines if ln)


@pytest.mark.parametrize(
    "text",
    [
        "Hello world, this is a bill.\nSection 2: (a) appropriations.",
        "backslash \\ and parens (nested (deep)) and ) stray",
        "x" * 500,
        "tabs\tand\x0cform feeds",
        "unicode café naïve — emdash dropped",
        "",
        "a\n\n\nb",
    ],
)
def test_roundtrip(text):
    assert extract_pdf_text(pdf_from_text(text)) == _wrap_expect(text)


def test_roundtrip_unwrapped_token_exact():
    text = "word " * 200
    got = extract_pdf_text(pdf_from_text(text, wrap=10**9))
    assert got == text  # single unwrapped line, trailing space intact


def _mini_pdf(content: bytes, length: int | None = None) -> bytes:
    """Handwritten single-object PDF with an UNCOMPRESSED content stream."""
    n = len(content) if length is None else length
    return (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(n).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream\nendobj\ntrailer\n<< >>\n%%EOF\n"
    )


def test_tj_array_with_kerning():
    content = b"BT [(Hel) -20 (lo) 15 ( wor) (ld)] TJ ET"
    assert extract_pdf_text(_mini_pdf(content)) == "Hello world"


def test_hex_strings_and_quote_op():
    content = b"BT <48 65 6C6C 6F> Tj T* (second) ' ET"
    assert extract_pdf_text(_mini_pdf(content)) == "Hello\nsecond"


def test_octal_and_simple_escapes():
    content = rb"BT (A\102\103 \(ok\) line\nbrk\\) Tj ET"
    # \n escape inside the literal is a real newline byte; layout ops
    # (not string content) drive line breaks, so it stays inside the chunk.
    assert extract_pdf_text(_mini_pdf(content)) == "ABC (ok) line\nbrk\\"


def test_length_guards_cr_terminated_data():
    # Stream data whose last byte is \r: an endstream-scan would eat it.
    content = b"BT (tail\\r preserved) Tj ET\r"
    assert "tail" in extract_pdf_text(_mini_pdf(content, length=len(content)))


def test_non_pdf_and_corrupt_flate():
    assert extract_pdf_text(b"plain text, not a pdf") == ""
    bad = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 8 /Filter /FlateDecode >>\n"
        b"stream\nnotflate\nendstream\nendobj\n%%EOF\n"
    )
    assert extract_pdf_text(bad) == ""


def test_multiline_td_layout():
    content = b"BT 72 720 Td (line one) Tj 0 -12 Td (line two) Tj ET"
    assert extract_pdf_text(_mini_pdf(content)) == "line one\nline two"


def test_escape_projection_is_latin1():
    # latin-1-encodable chars survive; astral/unicode beyond FF dropped.
    text = "café \U0001f600 end"
    assert extract_pdf_text(pdf_from_text(text)) == "café  end"
