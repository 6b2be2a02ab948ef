"""Synthetic multi-turn transcripts + golden expected outputs.

Schema per FIXTURES.md §1 / BASELINE.json input_hint:
``(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp)``. Payload classes per FIXTURES.md §2 mirror the reference's
test fixtures (synthetic MIME mails with fake ``%PDF-1.4`` payloads,
``/root/reference/tests/unit/test_job_processor.py:16-28``; 1-page/3-page
contract documents, ``tests/contract/test_imagemagick.py:25-143``).

Determinism: every conversation is generated by ``random.Random(f"{seed}:{i}")``
— independent of generation order, partition layout, or process count, so the
driver-side pandas path and the distributed ``spark.range -> mapInPandas``
path produce byte-identical tables.
"""

from __future__ import annotations

import datetime as _dt
import random
from dataclasses import dataclass, field
from typing import Dict, Iterable, List

from ..extractor import ExtractorConfig, extract
from ..extractor.pdfdoc import escape_text

# Pipeline config paired with this generator: small caps so the edge classes
# (oversized, timeout) are cheap to synthesize at test scale. The reference's
# production caps are 100 MB / unbounded pages (pdf_attachment.py:30).
SYNTH_EXTRACTOR_CFG = ExtractorConfig(max_bytes=16 * 1024, max_units=32)

# Role whitelist (the sender-whitelist analog, ref whitelist_service.py:26-38):
# system turns are dropped silently, like non-whitelisted senders (FR-014).
ROLE_WHITELIST = r"^(user|assistant|tool)$"

ROLES = ("user", "assistant", "tool", "system")
TOOLS = ("fetch", "search", "render", "exec", "read")

BASE_TS = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)

_VOCAB = (
    "data spark table turn query plan batch arrow column row shuffle join "
    "filter window page text block link density score content extract parse "
    "token stream object node tree fan out sink source commit retry lineage "
    "resume partition salt skew hash digest metric error class guard cap "
    "order stable index span byte payload document html pdf tool noise log "
    "main body head nav footer aside article section title entity decode "
    "whitespace collapse threshold keep drop emit unit ordinal sequence"
).split()

# payload-class mix per FIXTURES.md §2 (cumulative weights)
_CLASS_WEIGHTS = [
    ("plain", 0.40),
    ("html_boilerplate", 0.15),
    ("html_fragment", 0.10),
    ("pdf_textlayer", 0.15),
    ("mixed_tool_output", 0.10),
    ("empty", 0.02),
    ("corrupted", 0.02),
    ("protected", 0.02),
    ("zero_pages", 0.02),
    ("oversized", 0.01),
    ("timeout", 0.01),
]
assert abs(sum(w for _, w in _CLASS_WEIGHTS) - 1.0) < 1e-9


@dataclass(frozen=True)
class GenConfig:
    seed: int = 42
    n_convs: int = 200
    avg_turns: int = 10
    # share of all turns concentrated in conv 0 (skew-test knob); 0 disables
    hot_conv_share: float = 0.0
    # multiplies payload body sizes (paragraph counts / PDF pages) for
    # benchmark realism; 1 leaves the rng draw sequence untouched so all
    # golden fixtures stay byte-identical
    payload_scale: int = 1
    extractor: ExtractorConfig = field(default_factory=lambda: SYNTH_EXTRACTOR_CFG)


def _sentence(rng: random.Random) -> str:
    n = rng.randint(5, 14)
    words = [rng.choice(_VOCAB) for _ in range(n)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _paragraph(rng: random.Random, lo: int = 2, hi: int = 5) -> str:
    return " ".join(_sentence(rng) for _ in range(rng.randint(lo, hi)))


def _html_boilerplate(rng: random.Random, scale: int = 1) -> str:
    nav = "".join(
        f'<li><a href="/{w}">{w}</a></li>'
        for w in rng.sample(_VOCAB, rng.randint(3, 6))
    )
    title = _sentence(rng)[:-1]
    paras = "".join(f"<p>{_paragraph(rng)}</p>" for _ in range(rng.randint(2, 5 * scale)))
    side = " ".join(
        f'<a href="/{w}">{w}</a>' for w in rng.sample(_VOCAB, rng.randint(3, 6))
    )
    return (
        f"<!doctype html>\n<html><head><title>{title}</title>"
        f"<script>track({rng.randint(1, 99)});</script></head>\n<body>\n"
        f"<nav><ul>{nav}</ul></nav>\n"
        f"<header><h1>{title}</h1></header>\n"
        f'<div id="content">\n<h2>{title}</h2>\n{paras}\n</div>\n'
        f"<aside><p>{side}</p></aside>\n"
        f'<footer><p>&copy; 2026 <a href="/t">Terms</a></p></footer>\n'
        f"</body></html>"
    )


def _html_fragment(rng: random.Random, scale: int = 1) -> str:
    items = "".join(f"<li>{_sentence(rng)}</li>" for _ in range(rng.randint(2, 4 * scale)))
    return (
        f"<p>{_paragraph(rng, 1, 2 * scale)} Tom &amp; Jerry &lt;3.</p>"
        f"<ul>{items}</ul><p>{_sentence(rng)}</p>"
    )


def _pdf(rng: random.Random, n_pages: int, encrypt: bool = False, scale: int = 1) -> str:
    parts = ["%PDF-1.4\n"]
    if encrypt:
        parts.append("trailer << /Encrypt 5 0 R >>\n")
    for p in range(1, n_pages + 1):
        segs = "".join(
            f"BT ({escape_text(_sentence(rng))}) Tj ET\n"
            for _ in range(rng.randint(1, 4 * scale))
        )
        parts.append(
            f"{p} 0 obj << /Type /Page >> stream\n{segs}endstream endobj\n"
        )
    parts.append("trailer << /Root 1 0 R >>\n%%EOF")
    return "".join(parts)


def _payload(rng: random.Random, cls: str, cfg: ExtractorConfig, scale: int = 1) -> str:
    if cls == "plain":
        return _paragraph(rng, scale, 4 * scale)
    if cls == "html_boilerplate":
        return _html_boilerplate(rng, scale)
    if cls == "html_fragment":
        return _html_fragment(rng, scale)
    if cls == "pdf_textlayer":
        return _pdf(rng, rng.randint(1, 5 * scale), scale=scale)
    if cls == "mixed_tool_output":
        noise = f'{{"tool": "{rng.choice(TOOLS)}", "status": {rng.choice([200, 500])}}}\n'
        blob = (
            _pdf(rng, rng.randint(1, 3 * scale), scale=scale)
            if rng.random() < 0.5
            else "<html><body><p>" + _paragraph(rng, 2, 5 * scale) + "</p></body></html>"
        )
        return noise + blob + "\nexit code 0\n"
    if cls == "empty":
        return rng.choice(["", "   ", "\n\t  \n"])
    if cls == "corrupted":
        return "%PDF-1.4 " + _sentence(rng)  # header, no %%EOF
    if cls == "protected":
        return _pdf(rng, rng.randint(1, 2), encrypt=True, scale=scale)
    if cls == "zero_pages":
        return "%PDF-1.4\ntrailer << /Root 1 0 R >>\n%%EOF"
    if cls == "oversized":
        page = _paragraph(rng, 4, 6) + " "
        reps = cfg.max_bytes // len(page.encode()) + 2
        return page * reps
    if cls == "timeout":
        return _pdf(rng, cfg.max_units + rng.randint(1, 8))
    raise ValueError(cls)


def _pick_class(rng: random.Random) -> str:
    x = rng.random()
    acc = 0.0
    for name, w in _CLASS_WEIGHTS:
        acc += w
        if x < acc:
            return name
    return _CLASS_WEIGHTS[-1][0]


def conv_rows(conv_idx: int, gcfg: GenConfig) -> List[Dict]:
    """All transcript rows of one conversation. Pure function of
    ``(gcfg.seed, conv_idx)`` — safe to evaluate on any executor."""
    rng = random.Random(f"{gcfg.seed}:{conv_idx}")
    if gcfg.hot_conv_share > 0 and conv_idx == 0:
        total = gcfg.n_convs * gcfg.avg_turns
        n_turns = max(1, int(total * gcfg.hot_conv_share))
    else:
        # lognormal-ish spread around avg_turns, min 2
        n_turns = max(2, int(rng.lognormvariate(0, 0.6) * gcfg.avg_turns))
    conv_id = f"conv-{conv_idx:08d}"
    rows: List[Dict] = []
    for t in range(n_turns):
        role = ROLES[0] if t == 0 else rng.choices(ROLES, weights=(30, 40, 20, 10))[0]
        cls = _pick_class(rng)
        rows.append(
            {
                "conv_id": conv_id,
                "turn_idx": t,
                "role": role,
                "text": _payload(rng, cls, gcfg.extractor, gcfg.payload_scale),
                "tool": rng.choice(TOOLS) if role == "tool" else "",
                "ts": BASE_TS
                + _dt.timedelta(seconds=conv_idx * 3600 + t * 60),
            }
        )
    return rows


def expected_for_rows(
    rows: Iterable[Dict], cfg: ExtractorConfig, whitelist_roles=("user", "assistant", "tool")
) -> List[Dict]:
    """Golden per-turn expected outputs (FIXTURES.md §3) — the oracle the
    tier-2 equality gate joins against. Runs the same kernel the pipeline
    runs; the kernel itself is pinned by handwritten goldens."""
    out: List[Dict] = []
    for r in rows:
        if r["role"] not in whitelist_roles:
            continue
        res = extract(r["text"], cfg)
        out.append(
            {
                "conv_id": r["conv_id"],
                "turn_idx": r["turn_idx"],
                "extracted_text": res.extracted_text,
                "spans": [
                    {"start": s, "end": e, "kind": k} for (s, e, k) in res.spans
                ],
                "status": res.status,
                "error_class": res.error_class,
            }
        )
    return out


def gen_pandas(gcfg: GenConfig):
    """Driver-side generation for tests: returns
    ``(transcripts_df, expected_df)`` as pandas DataFrames."""
    import pandas as pd

    rows: List[Dict] = []
    for i in range(gcfg.n_convs):
        rows.extend(conv_rows(i, gcfg))
    expected = expected_for_rows(rows, gcfg.extractor)
    tdf = pd.DataFrame(rows)
    tdf["turn_idx"] = tdf["turn_idx"].astype("int32")
    edf = pd.DataFrame(expected)
    edf["turn_idx"] = edf["turn_idx"].astype("int32")
    return tdf, edf
