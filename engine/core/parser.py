"""Structural parser — the engine's hot path.

Everything here operates on pandas batches inside the Spark Arrow UDF
boundary (``engine/spark/parse_udf.py``): kind dispatch is mask-based,
string transforms are ``Series.str`` regex passes, and tool JSON is
re-serialised per row, as the reference's pretty-print semantics
require (mistralocr_app.py:393-400).

Block segmentation is one pass over each turn's lines.  pandas
object-string methods call Python once per element, so exploding the
lines into Series buys nothing: on the extracted markdown of the
48,000-turn ``mixed`` benchmark corpus (seed 5, one thread of a 4-CPU
host, best of 3) the exploded NumPy form took 1.38 CPU-s and the
per-turn pass takes 0.75 CPU-s.

Replaces the reference's remote OCR call (mistralocr_app.py:241-245)
with a local structural parse; implements the same spec as the
sequential oracle (`engine/oracle.py`) — parity is enforced by
tests/test_parser_parity.py.
"""

from __future__ import annotations

import json
import re

import pandas as pd

from engine.core import spec

# Pre-compiled spec patterns (compile once per executor process).
_HTML_DETECT = re.compile(spec.HTML_DETECT_RE, re.I)
_STRIP_CONTENT = re.compile(spec.HTML_STRIP_CONTENT_RE, re.S | re.I)
_PRE = re.compile(spec.HTML_PRE_RE, re.S | re.I)
_HEADING = re.compile(spec.HTML_HEADING_RE, re.S | re.I)
_OL = re.compile(spec.HTML_OL_RE, re.S | re.I)
_UL = re.compile(spec.HTML_UL_RE, re.S | re.I)
_LI = re.compile(spec.HTML_LI_RE, re.S | re.I)
_TABLE = re.compile(spec.HTML_TABLE_RE, re.S | re.I)
_TR = re.compile(spec.HTML_TR_RE, re.S | re.I)
_CELL = re.compile(spec.HTML_CELL_RE, re.S | re.I)
_BLOCKQUOTE = re.compile(spec.HTML_BLOCKQUOTE_RE, re.S | re.I)
_P = re.compile(spec.HTML_P_RE, re.S | re.I)
_INLINE = re.compile(spec.HTML_INLINE_RE, re.S | re.I)
_ANY_TAG = re.compile(spec.HTML_ANY_TAG_RE, re.S)
_TRAILING_WS = re.compile(spec.TRAILING_WS_RE)
_MULTI_BLANK = re.compile(spec.MULTI_BLANK_RE)
_HEADING_LINE = re.compile(r"(#{1,6}) ")
_LIST_NUM = re.compile(r"\d+\. ")


# ------------------------------------------------------------- normalisation
def _normalize(s: pd.Series) -> pd.Series:
    return (
        s.str.replace(_TRAILING_WS, "\n", regex=True)
        .str.replace(_MULTI_BLANK, "\n\n", regex=True)
        .str.strip()
    )


# ----------------------------------------------------------------- detection
def detect_kinds(texts: pd.Series) -> pd.Series:
    """Vectorized payload-kind classification (same rules as
    engine/oracle.py::detect_kind)."""
    texts = texts.fillna("")
    stripped = texts.str.strip()
    kinds = pd.Series(spec.KIND_MARKDOWN, index=texts.index, dtype=object)
    html = texts.str.contains(_HTML_DETECT, regex=True)
    first = stripped.str.slice(0, 1)
    jsonish = stripped.str.startswith(spec.FENCE_PREFIX) | first.isin(["{", "["])
    kinds[jsonish & ~html] = spec.KIND_TOOL_JSON
    kinds[html] = spec.KIND_HTML
    kinds[stripped.eq("")] = spec.KIND_EMPTY
    return kinds


# ---------------------------------------------------------------------- HTML
def _heading_repl(m: re.Match) -> str:
    """Vectorized-side heading replacement (independent of the oracle's —
    parity between the two is a real two-implementation test)."""
    return f"\n\n{'#' * int(m.group('n'))} {m.group('body')}\n\n"


def _inline_repl(m: re.Match) -> str:
    """Inline-branch dispatch on m.lastgroup (final group of the branch)."""
    g = m.lastgroup
    if g == "br":
        return "\n"
    if g == "bsc":
        return f"**{m.group('bsc')}**"
    if g == "iec":
        return f"*{m.group('iec')}*"
    if g == "cc":
        return f"`{m.group('cc')}`"
    if g == "ialt":
        return f"![{m.group('ialt')}]({m.group('isrc')})"
    return f"[{m.group('atext')}]({m.group('ahref')})"


def _convert_ol(m: re.Match) -> str:
    items = _LI.findall(m.group(1))
    return "\n\n" + "\n".join(f"{i + 1}. {it}" for i, it in enumerate(items)) + "\n\n"


def _convert_ul(m: re.Match) -> str:
    items = _LI.findall(m.group(1))
    return "\n\n" + "\n".join(f"- {it}" for it in items) + "\n\n"


def _convert_table(m: re.Match) -> str:
    rows = _TR.findall(m.group(1))
    out = []
    for r_i, row in enumerate(rows):
        cells = _CELL.findall(row)
        out.append("| " + " | ".join(cells) + " |")
        if r_i == 0:
            out.append("| " + " | ".join(["---"] * len(cells)) + " |")
    return "\n\n" + "\n".join(out) + "\n\n"


def extract_html_series(s: pd.Series) -> pd.Series:
    """Sequential rewrite chain — ORDER IS SEMANTICS.

    Round-4 profile (3000-conv batch, single thread): this chain is 59%
    of parse CPU, dominated by re.Pattern.sub scan time across the ~10
    passes.  Two tempting optimizations measured/analyzed and REJECTED:
    (1) merging passes into one alternation breaks byte parity on
    nested HTML — a later pass reprocesses earlier passes' replacement
    text (e.g. <blockquote><p>…) which a single alternation pass cannot,
    and the oracle (reference semantics) is sequential; (2) plain-list
    comprehensions over compiled patterns lose to the pandas chain by
    ~1.2× (measured round 3).  The JSON branch's pretty-printer is
    pure-Python because CPython's C encoder doesn't support indent —
    but json.dumps(indent=2) IS the output byte spec, so it stays."""
    s = s.str.replace(_STRIP_CONTENT, "", regex=True)
    s = s.str.replace(_PRE, r"\n\n```\n\1\n```\n\n", regex=True)
    s = s.str.replace(_HEADING, _heading_repl, regex=True)
    s = s.str.replace(_OL, _convert_ol, regex=True)
    s = s.str.replace(_UL, _convert_ul, regex=True)
    s = s.str.replace(_TABLE, _convert_table, regex=True)
    s = s.str.replace(_BLOCKQUOTE, r"\n\n> \1\n\n", regex=True)
    s = s.str.replace(_P, r"\n\n\1\n\n", regex=True)
    s = s.str.replace(_INLINE, _inline_repl, regex=True)
    s = s.str.replace(_ANY_TAG, "", regex=True)
    for ent, ch in spec.HTML_ENTITIES:
        s = s.str.replace(ent, ch, regex=False)
    return _normalize(s)


# ----------------------------------------------------------------- tool JSON
# a JSON string (an unterminated one runs to the end, so the scan never
# backtracks) or one bracket
_JSON_TOKEN = re.compile(r'"(?:[^"\\]|\\.)*"?|[\[\]{}]', re.DOTALL)


def _json_too_deep(raw: str) -> bool:
    """Nesting deeper than spec.JSON_MAX_DEPTH, in one linear scan; the
    bracket count keeps an ordinary payload at two C-level scans."""
    if raw.count("[") + raw.count("{") <= spec.JSON_MAX_DEPTH:
        return False
    depth = 0
    for tok in _JSON_TOKEN.findall(raw):
        if tok in "[{":
            depth += 1
            if depth > spec.JSON_MAX_DEPTH:
                return True
        elif tok in "]}":
            depth -= 1
    return False


def _pretty_json(raw: str) -> str:
    try:
        if _json_too_deep(raw):
            raise RecursionError(f"nested deeper than {spec.JSON_MAX_DEPTH}")
        pretty = json.dumps(json.loads(raw), indent=2, ensure_ascii=False)
    except (json.JSONDecodeError, RecursionError):
        pretty = json.dumps(
            {"error": spec.JSON_WRAP_ERROR, "raw_output": raw},
            indent=2,
            ensure_ascii=False,
        )
    return f"```json\n{pretty}\n```"


def extract_tool_json_series(s: pd.Series) -> pd.Series:
    raw = s.str.strip()
    fenced = raw.str.startswith("```json")
    raw = raw.mask(fenced, raw.str.slice(7))
    closing = raw.str.endswith("```")
    raw = raw.mask(closing, raw.str.slice(0, -3))
    raw = raw.str.strip()
    # json round-trip — the documented per-row boundary (small subset).
    return raw.map(_pretty_json)


# ------------------------------------------------------------------ dispatch
def extract_markdown_series(texts: pd.Series) -> pd.Series:
    """Payload text → extracted markdown, vectorized with mask dispatch."""
    texts = texts.fillna("").astype(object)
    kinds = detect_kinds(texts)
    out = pd.Series("", index=texts.index, dtype=object)

    m_html = kinds.eq(spec.KIND_HTML)
    if m_html.any():
        out[m_html] = extract_html_series(texts[m_html])
    m_json = kinds.eq(spec.KIND_TOOL_JSON)
    if m_json.any():
        out[m_json] = extract_tool_json_series(texts[m_json])
    m_md = kinds.eq(spec.KIND_MARKDOWN)
    if m_md.any():
        out[m_md] = _normalize(texts[m_md])
    return out


# -------------------------------------------------------------------- blocks
_BLOCK_COLUMNS = ["block_idx", "block_type", "level", "start", "end", "text"]


def _blocks(md: str):
    """(start, end, first line) of each block of one markdown string.
    Blocks are split by lines that ``str.strip`` empties outside a
    ```` ``` ```` fence; a block's text is ``md[start:end]``."""
    start = None
    in_fence = False
    pos = 0
    for line in md.split("\n"):
        end = pos + len(line)
        if in_fence or line.strip():
            if start is None:
                start, first = pos, line
            last_end = end
            if line.startswith("```"):
                in_fence = not in_fence
        elif start is not None:
            yield start, last_end, first
            start = None
        pos = end + 1
    if start is not None:
        yield start, last_end, first


def _block_type(first: str) -> tuple[str, int]:
    """(block_type, level) of a block from its first line."""
    h = _HEADING_LINE.match(first)
    if h:
        return spec.BLOCK_HEADING, len(h.group(1))
    if first.startswith("```"):
        return spec.BLOCK_CODE, 0
    if first.startswith("|"):
        return spec.BLOCK_TABLE, 0
    if first.startswith("- ") or _LIST_NUM.match(first):
        return spec.BLOCK_LIST, 0
    if first.startswith("> "):
        return spec.BLOCK_QUOTE, 0
    if first.startswith("!["):
        return spec.BLOCK_IMAGE, 0
    return spec.BLOCK_PARA, 0


def segment_blocks_frame(md: pd.Series, keys: pd.DataFrame) -> pd.DataFrame:
    """Markdown series → exploded span rows (one row per block).

    ``keys`` carries the identifying columns (e.g. conv_id, turn_idx)
    aligned with ``md``; the result repeats them per block and appends
    block_idx / block_type / level / start / end / text.  A row whose
    markdown is not a string has no blocks.
    """
    rows = [
        (*key, i, *_block_type(first), start, end, text[start:end])
        for key, text in zip(keys.itertuples(index=False), md)
        if isinstance(text, str)
        for i, (start, end, first) in enumerate(_blocks(text))
    ]
    out = pd.DataFrame(rows, columns=[*keys.columns, *_BLOCK_COLUMNS])
    return out.astype(
        {**keys.dtypes, "block_idx": "int32", "level": "int32",
         "start": "int32", "end": "int32"}
    )
