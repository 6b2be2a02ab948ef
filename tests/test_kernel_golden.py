"""Tier-1 golden tests for the pure extraction kernel (no Spark).

These handwritten input/expected pairs pin the kernel's behavior — the model
is the reference's golden tests for pure functions
(``/root/reference/tests/unit/test_pdf_converter.py:19-43`` sanitize goldens,
``tests/unit/test_whitelist_service.py:9-47`` accept/reject matrices). The
same kernel generates the table-scale expected outputs in datagen, so these
tests are what anchors the whole equality gate to human-checked values.
"""

from png_from_pdf_extracter_spark.extractor import ExtractorConfig, extract
from png_from_pdf_extracter_spark.extractor.kernel import (
    ERR_CORRUPTED,
    ERR_INTERNAL,
    ERR_PROTECTED,
    ERR_TIMEOUT,
    ERR_TOO_LARGE,
    STATUS_EMPTY,
    STATUS_ERROR,
    STATUS_NO_PAYLOAD,
    STATUS_OK,
)

CFG = ExtractorConfig(max_bytes=1024 * 1024, max_units=64)


# ---------------------------------------------------------------- plain text

def test_plain_passthrough():
    r = extract("Just a plain sentence.", CFG)
    assert r.status == STATUS_OK and r.error_class == ""
    assert r.extracted_text == "Just a plain sentence."
    assert [u.unit_idx for u in r.units] == [1]
    assert r.spans == [(0, 22, "plain")]


def test_empty_and_whitespace_are_no_payload():
    for t in ("", "   \n\t ", None):
        r = extract(t, CFG)
        assert r.status == STATUS_NO_PAYLOAD
        assert r.extracted_text == ""
        assert r.units == []


def test_oversized_payload():
    r = extract("x" * (1024 * 1024 + 1), CFG)
    assert (r.status, r.error_class) == (STATUS_ERROR, ERR_TOO_LARGE)


# ---------------------------------------------------------------- html

BOILERPLATE_DOC = """<!doctype html>
<html><head><title>My Site</title><script>var x=1;</script>
<style>.a{color:red}</style></head>
<body>
<nav><ul><li><a href="/">Home</a></li><li><a href="/b">Blog</a></li></ul></nav>
<header><h1>My Site</h1></header>
<div id="content">
<h2>The Actual Article Title</h2>
<p>This is the first paragraph of the main content, long enough to pass the
minimum block length threshold easily.</p>
<p>Second paragraph with an <a href="x">inline link</a> but mostly prose, so
its link density stays well under the cutoff.</p>
</div>
<aside><p>Related: <a href="1">one</a> <a href="2">two</a> <a href="3">three</a></p></aside>
<footer><p>Copyright 2026 · <a href="/terms">Terms</a> · <a href="/p">Privacy</a></p></footer>
</body></html>"""


def test_html_boilerplate_stripped():
    r = extract(BOILERPLATE_DOC, CFG)
    assert r.status == STATUS_OK
    expected = (
        "The Actual Article Title"
        "\n\nThis is the first paragraph of the main content, long enough to "
        "pass the minimum block length threshold easily."
        "\n\nSecond paragraph with an inline link but mostly prose, so its "
        "link density stays well under the cutoff."
    )
    assert r.extracted_text == expected
    kinds = [s[2] for s in r.spans]
    assert kinds == ["heading", "main", "main"]
    # spans must point into the original string
    for start, end, _ in r.spans:
        assert 0 <= start < end <= len(BOILERPLATE_DOC)
    # first kept span covers the h2 text
    s, e, _ = r.spans[0]
    assert BOILERPLATE_DOC[s:e] == "The Actual Article Title"


def test_html_link_farm_dropped():
    doc = (
        "<html><body><div><a href='1'>one two three four five six seven eight"
        "</a> and</div><p>Real content paragraph that is long enough to be "
        "kept by the scorer.</p></body></html>"
    )
    r = extract(doc, CFG)
    assert r.extracted_text == (
        "Real content paragraph that is long enough to be kept by the scorer."
    )


def test_html_fragment_entities_decoded_once():
    frag = "<p>Tom &amp; Jerry &lt;3 &amp;amp; more</p><ul><li>a</li><li>b</li></ul>"
    r = extract(frag, CFG)
    assert r.status == STATUS_OK
    # entities decoded exactly once: "&amp;amp;" -> "&amp;", not "&"
    assert r.extracted_text == "Tom & Jerry <3 &amp; more\n\na\n\nb"


def test_html_with_no_content_blocks_is_empty():
    doc = "<html><body><nav><a href='/'>Home</a></nav></body></html>"
    r = extract(doc, CFG)
    assert r.status == STATUS_EMPTY
    assert r.extracted_text == ""


# ---------------------------------------------------------------- pdf-like

PDF_3PAGE = (
    "%PDF-1.4\n"
    "1 0 obj << /Type /Page >> stream\n"
    "BT (Page one line one) Tj ET\n"
    "BT (Page one line two) Tj ET\n"
    "endstream endobj\n"
    "2 0 obj << /Type /Page >> stream\n"
    "BT (Page two only line) Tj ET\n"
    "endstream endobj\n"
    "3 0 obj << /Type /Page >> stream\n"
    "BT (Page three with \\(escaped\\) parens) Tj ET\n"
    "endstream endobj\n"
    "trailer << /Root 1 0 R >>\n"
    "%%EOF"
)


def test_pdf_three_pages_ordered():
    r = extract(PDF_3PAGE, CFG)
    assert r.status == STATUS_OK
    assert [u.unit_idx for u in r.units] == [1, 2, 3]
    assert r.units[0].text == "Page one line one\nPage one line two"
    assert r.units[1].text == "Page two only line"
    assert r.units[2].text == "Page three with (escaped) parens"
    assert r.extracted_text == (
        "Page one line one\nPage one line two"
        "\n\nPage two only line"
        "\n\nPage three with (escaped) parens"
    )
    # span of the first segment points at the raw text inside the parens
    s, e, kind = r.units[0].spans[0]
    assert kind == "page"
    assert PDF_3PAGE[s:e] == "Page one line one"


def test_pdf_corrupted():
    r = extract("%PDF-1.4 fake content", CFG)  # ref test_job_processor.py:25
    assert (r.status, r.error_class) == (STATUS_ERROR, ERR_CORRUPTED)


def test_pdf_protected():
    doc = "%PDF-1.7\ntrailer << /Encrypt 5 0 R >>\n%%EOF"
    r = extract(doc, CFG)
    assert (r.status, r.error_class) == (STATUS_ERROR, ERR_PROTECTED)


def test_pdf_zero_pages():
    doc = "%PDF-1.4\ntrailer << /Root 1 0 R >>\n%%EOF"
    r = extract(doc, CFG)
    assert r.status == STATUS_EMPTY and r.units == []


def test_pdf_timeout_cap():
    pages = "".join(
        f"{i} 0 obj << /Type /Page >> stream\nBT (p{i}) Tj ET\nendstream endobj\n"
        for i in range(1, 70)
    )
    doc = f"%PDF-1.4\n{pages}%%EOF"
    r = extract(doc, CFG)  # max_units=64 < 69 pages
    assert (r.status, r.error_class) == (STATUS_ERROR, ERR_TIMEOUT)


# ---------------------------------------------------------------- mixed/tool

def test_mixed_tool_output_embedded_pdf():
    noise_pre = '{"tool": "fetch", "status": 200}\nlog line one\n'
    noise_post = "\nexit code 0\n"
    payload = noise_pre + PDF_3PAGE + noise_post
    r = extract(payload, CFG)
    assert r.status == STATUS_OK
    assert r.units[1].text == "Page two only line"
    # spans offset into the *full* payload, not the blob
    s, e, _ = r.units[0].spans[0]
    assert payload[s:e] == "Page one line one"


def test_mixed_tool_output_embedded_html():
    payload = (
        "[tool] rendering page...\n"
        "<html><body><p>The embedded article body, definitely long enough to "
        "be kept as main content.</p></body></html>\ndone.\n"
    )
    r = extract(payload, CFG)
    assert r.extracted_text == (
        "The embedded article body, definitely long enough to be kept as "
        "main content."
    )
    s, e, _ = r.spans[0]
    assert payload[s:e].startswith("The embedded article body")


def test_pdf_beats_html_when_both_present():
    payload = "<html><body><p>wrapper</p></body></html>\n%PDF-1.4\n%%EOF"
    r = extract(payload, CFG)
    assert r.status == STATUS_EMPTY  # pdf path, zero pages


# ---------------------------------------------------------------- determinism

def test_extraction_is_deterministic():
    for doc in (BOILERPLATE_DOC, PDF_3PAGE, "plain text here"):
        a, b = extract(doc, CFG), extract(doc, CFG)
        assert a.extracted_text == b.extracted_text
        assert a.spans == b.spans
        assert a.status == b.status


# ---------------------------------------------------------------- poison row

def test_batch_classifies_a_raising_row_and_keeps_the_rest(monkeypatch):
    """A row whose parser raises becomes error/internal; the other rows of
    the batch come out exactly as they would without it."""
    from png_from_pdf_extracter_spark.extractor import extract_batch_lists, kernel

    texts = [BOILERPLATE_DOC, "<html><body><p>poison</p></body></html>", PDF_3PAGE]
    want = extract_batch_lists(texts, CFG)
    parse = kernel.htmldoc.extract_blocks

    def flaky(blob, **kw):
        if "poison" in blob:
            raise RecursionError("parser defect")
        return parse(blob, **kw)

    monkeypatch.setattr(kernel.htmldoc, "extract_blocks", flaky)
    got = extract_batch_lists(texts, CFG)
    assert [col[1] for col in got] == [STATUS_ERROR, ERR_INTERNAL, "", []]
    for i in (0, 2):
        assert [col[i] for col in got] == [col[i] for col in want]
