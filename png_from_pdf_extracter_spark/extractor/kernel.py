"""Extraction kernel: sniff -> parse -> classify -> emit ordered units.

Shape mirrors the reference kernel (``/root/reference/src/services/
pdf_converter.py:50-160``: existence check -> argv build -> run -> stderr
classification -> sorted glob -> 1-indexed ordinals) but is a pure function:
bytes in, ``ExtractResult`` out. No subprocess, no filesystem, no Spark.

Status / error-class contract (mirrors ``pdf_converter.py:100-139`` and the
validation predicates in ``src/models/*.py``):

- ``status='no_payload'``  empty / whitespace-only text
  (ref ``job_processor.py:96-101, 207-209``)
- ``status='error', error_class='too_large'``  payload over the byte cap
  (ref ``pdf_attachment.py:30`` 100 MB cap)
- ``status='error', error_class='protected'``  encrypted-document marker
  (ref ``pdf_converter.py:104-108``)
- ``status='error', error_class='corrupted'``  document header present but
  structure unparseable (ref ``pdf_converter.py:111-116``)
- ``status='error', error_class='timeout'``  per-payload work cap exceeded
  (ref ``pdf_converter.py:92-98,124-127`` subprocess timeout)
- ``status='error', error_class='internal'``  the kernel itself raised on
  this payload (a defect, not a property of the input); the row is
  classified so one poison payload never fails its task
- ``status='empty'``  valid document, zero extractable units
  (ref ``pdf_converter.py:133-139``)
- ``status='ok'``  1..N ordered units, 1-indexed ``unit_idx``
  (ref ``pdf_converter.py:141-158`` sequential page numbers)

Determinism contract: for the same input text and config the kernel emits
byte-identical ``extracted_text`` and spans. Whitespace collapse and HTML
entity decoding happen exactly once; unit ordering is positional (document
order), never hash order.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List, Optional, Tuple

from . import htmldoc, pdfdoc

STATUS_OK = "ok"
STATUS_NO_PAYLOAD = "no_payload"
STATUS_EMPTY = "empty"
STATUS_ERROR = "error"

ERR_NONE = ""
ERR_CORRUPTED = "corrupted"
ERR_PROTECTED = "protected"
ERR_TOO_LARGE = "too_large"
ERR_TIMEOUT = "timeout"
ERR_INTERNAL = "internal"

# How adjacent units are joined into the per-turn extracted_text. Part of the
# determinism contract — also used by the Spark-side window reassembly, which
# must reproduce kernel output byte-for-byte.
UNIT_SEP = "\n\n"


@dataclass(frozen=True)
class ExtractorConfig:
    """Immutable job parameters (analog of ref ``src/config.py:8-117``).

    Validated once at construction, mirroring ``config.py:54-112`` range
    checks; passed to executors via task closure, never per-row.
    """

    max_bytes: int = 100 * 1024 * 1024  # ref pdf_attachment.py:30 (100 MB)
    min_block_chars: int = 25  # Arc90-style minimum text run for a content block
    min_heading_chars: int = 8
    max_link_density: float = 0.33
    max_units: int = 256  # per-payload work cap (the "timeout" analog)
    version: str = "0.1.0"

    def __post_init__(self) -> None:
        if self.max_bytes <= 0:
            raise ValueError("max_bytes must be positive")
        if not (0.0 < self.max_link_density <= 1.0):
            raise ValueError("max_link_density must be in (0, 1]")
        if self.max_units <= 0:
            raise ValueError("max_units must be positive")


# span kinds
KIND_PLAIN = "plain"
KIND_MAIN = "main"
KIND_HEADING = "heading"
KIND_PAGE = "page"

Span = Tuple[int, int, str]  # (start, end, kind) — char offsets into raw text


@dataclass
class Unit:
    """One extraction unit: a page of a PDF-like payload, a content block of
    an HTML payload, or the whole of a plain payload. ``unit_idx`` is
    1-indexed in document order (ref ``pdf_converter.py:141-158``)."""

    unit_idx: int
    text: str
    spans: List[Span] = field(default_factory=list)


@dataclass
class ExtractResult:
    status: str
    error_class: str
    units: List[Unit] = field(default_factory=list)

    @property
    def extracted_text(self) -> str:
        return UNIT_SEP.join(u.text for u in self.units)

    @property
    def spans(self) -> List[Span]:
        out: List[Span] = []
        for u in self.units:
            out.extend(u.spans)
        return out


_PDF_MAGIC = "%PDF-"
_HTML_MAGICS = ("<html", "<!doctype")


def _find_embedded(text: str) -> Tuple[str, int, str]:
    """Sniff the payload kind and locate an embedded document blob.

    Returns ``(kind, offset, blob)`` where kind is one of
    ``pdf|html|fragment|plain``. This is the analog of the MIME-part walk
    (ref ``job_processor.py:186-221``): a turn's text may be pure prose, a
    full document, or tool noise *around* an embedded document — only the
    embedded document is extracted (ref spec.md:79 mixed-attachment edge
    case). PDF beats HTML when both markers appear (first marker of the
    winning kind is used).
    """
    pdf_at = text.find(_PDF_MAGIC)
    if pdf_at != -1:
        end = text.find("%%EOF", pdf_at)
        blob = text[pdf_at : end + 5] if end != -1 else text[pdf_at:]
        return "pdf", pdf_at, blob

    lower = text.lower()
    html_at = -1
    for magic in _HTML_MAGICS:
        at = lower.find(magic)
        if at != -1 and (html_at == -1 or at < html_at):
            html_at = at
    if html_at != -1:
        close = lower.find("</html>", html_at)
        blob = text[html_at : close + 7] if close != -1 else text[html_at:]
        return "html", html_at, blob

    if htmldoc.looks_like_markup(text):
        return "fragment", 0, text

    return "plain", 0, text


def extract(text: Optional[str], cfg: ExtractorConfig) -> ExtractResult:
    """Extract main content from one turn's text payload."""
    if text is None or not text.strip():
        return ExtractResult(STATUS_NO_PAYLOAD, ERR_NONE)

    # byte cap first, before any parsing work (ref pdf_attachment.py:28-31)
    if len(text.encode("utf-8", "surrogatepass")) > cfg.max_bytes:
        return ExtractResult(STATUS_ERROR, ERR_TOO_LARGE)

    kind, offset, blob = _find_embedded(text)

    if kind == "pdf":
        return _extract_pdf(blob, offset, cfg)
    if kind in ("html", "fragment"):
        return _extract_html(blob, offset, cfg, fragment=(kind == "fragment"))

    # plain prose: pass-through, one unit, one span covering all
    return ExtractResult(
        STATUS_OK, ERR_NONE, [Unit(1, text, [(0, len(text), KIND_PLAIN)])]
    )


def _extract_pdf(blob: str, offset: int, cfg: ExtractorConfig) -> ExtractResult:
    parsed = pdfdoc.parse(blob)
    if parsed.error == pdfdoc.ERR_PROTECTED:
        return ExtractResult(STATUS_ERROR, ERR_PROTECTED)
    if parsed.error == pdfdoc.ERR_CORRUPTED:
        return ExtractResult(STATUS_ERROR, ERR_CORRUPTED)
    if not parsed.pages:
        # valid document, zero pages (ref pdf_converter.py:133-139)
        return ExtractResult(STATUS_EMPTY, ERR_NONE)
    if len(parsed.pages) > cfg.max_units:
        # work cap: the timeout analog (ref pdf_converter.py:92-98)
        return ExtractResult(STATUS_ERROR, ERR_TIMEOUT)
    units = [
        Unit(
            i + 1,
            page.text,
            [(offset + s, offset + e, KIND_PAGE) for (s, e) in page.spans],
        )
        for i, page in enumerate(parsed.pages)
    ]
    return ExtractResult(STATUS_OK, ERR_NONE, units)


def _extract_html(
    blob: str, offset: int, cfg: ExtractorConfig, fragment: bool
) -> ExtractResult:
    blocks = htmldoc.extract_blocks(
        blob,
        min_block_chars=1 if fragment else cfg.min_block_chars,
        min_heading_chars=1 if fragment else cfg.min_heading_chars,
        max_link_density=cfg.max_link_density,
        keep_all=fragment,
    )
    if len(blocks) > cfg.max_units:
        return ExtractResult(STATUS_ERROR, ERR_TIMEOUT)
    if not blocks:
        return ExtractResult(STATUS_EMPTY, ERR_NONE)
    units = [
        Unit(
            i + 1,
            b.text,
            [(offset + b.raw_start, offset + b.raw_end,
              KIND_HEADING if b.is_heading else KIND_MAIN)],
        )
        for i, b in enumerate(blocks)
    ]
    return ExtractResult(STATUS_OK, ERR_NONE, units)


def extract_batch_lists(texts, cfg: ExtractorConfig):
    """Batch driver for Arrow/pandas integration: list of texts in, parallel
    lists out ``(status, error_class, extracted_text, units)`` where units is
    a list of ``(unit_idx, text, spans)`` tuples with spans as
    ``(start, end, kind)``. Kept Spark-free so the Spark layer owns only the
    schema mapping. A row whose extraction raises becomes
    ``error/internal`` and the rest of the batch goes on."""
    statuses, errors, texts_out, units_out = [], [], [], []
    for t in texts:
        try:
            r = extract(t, cfg)
        except Exception:
            r = ExtractResult(STATUS_ERROR, ERR_INTERNAL)
        statuses.append(r.status)
        errors.append(r.error_class)
        texts_out.append(r.extracted_text)
        units_out.append(
            [(u.unit_idx, u.text, [(s, e, k) for (s, e, k) in u.spans]) for u in r.units]
        )
    return statuses, errors, texts_out, units_out
