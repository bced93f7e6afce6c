"""Vectorized structural parser — the engine's hot path.

Everything here operates on ``pd.Series`` / ``pd.DataFrame`` batches
(this is what runs inside the Spark Arrow UDF boundary, see
``engine/spark/parse_udf.py``).  No per-row Python loops: kind dispatch
is mask-based, string transforms are ``Series.str`` regex passes, block
segmentation is explode + NumPy cumulative ops.  The one documented
exception is JSON re-serialisation (``json.loads``/``dumps`` on the
tool-JSON subset only) — forced by the reference's pretty-print
semantics (/root/reference/mistralocr_app.py:393-400), amortised by
Arrow batching.

Replaces the reference's remote OCR call (mistralocr_app.py:241-245)
with a local structural parse; implements the same spec as the
sequential oracle (`engine/oracle.py`) — parity is enforced by
tests/test_parser_parity.py.
"""

from __future__ import annotations

import json
import re

import numpy as np
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


def segment_blocks_frame(md: pd.Series, keys: pd.DataFrame) -> pd.DataFrame:
    """Markdown series → exploded span rows (one row per block).

    ``keys`` carries the identifying columns (e.g. conv_id, turn_idx)
    aligned with ``md``; the result repeats them per block and appends
    block_idx / block_type / level / start / end / text.  Implemented
    as explode + NumPy cumulative ops — no per-row Python.
    """
    md = md.fillna("").astype(object).reset_index(drop=True)
    keys = keys.reset_index(drop=True)
    nonempty = md.str.len() > 0
    if not nonempty.any():
        empty = {c: keys[c].iloc[:0] for c in keys.columns}
        for c in ("block_idx", "level", "start", "end"):
            empty[c] = pd.Series(dtype="int32")
        for c in ("block_type", "text"):
            empty[c] = pd.Series(dtype=object)
        return pd.DataFrame(empty)[list(keys.columns) + _BLOCK_COLUMNS]

    lines = md[nonempty].str.split("\n")
    ex = lines.explode()
    row = ex.index.to_numpy()                       # original row id per line
    line = ex.to_numpy(dtype=object)
    line_s = pd.Series(line)
    llen = line_s.str.len().to_numpy()

    new_row = np.empty(len(row), dtype=bool)
    new_row[0] = True
    new_row[1:] = row[1:] != row[:-1]

    # char offset of each line within its row's markdown:
    # prev_cum = global chars (incl. '\n') before this line; row_base =
    # prev_cum at the row's first line, propagated forward.
    step = llen + 1                                  # + '\n'
    cum = np.cumsum(step)
    prev_cum = np.concatenate(([0], cum[:-1]))
    row_base = np.where(new_row, prev_cum, 0)
    row_base = np.maximum.accumulate(row_base)
    start = prev_cum - row_base

    is_fence = line_s.str.startswith("```").to_numpy()
    fence_cum = np.cumsum(is_fence)
    fence_base = np.zeros(len(row), dtype=np.int64)
    fence_base[new_row] = np.concatenate(([0], fence_cum[:-1][new_row[1:]]))
    fence_base = np.maximum.accumulate(fence_base)
    fence_before = fence_cum - is_fence - fence_base  # delims strictly before

    blank = line_s.str.strip().eq("").to_numpy()
    is_sep = blank & (fence_before % 2 == 0)

    # block grouping: separators close blocks; block ordinal = cumsum of
    # separators within row
    sep_cum = np.cumsum(is_sep)
    sep_base = np.zeros(len(row), dtype=np.int64)
    sep_base[new_row] = np.concatenate(([0], sep_cum[:-1][new_row[1:]]))
    sep_base = np.maximum.accumulate(sep_base)
    block_in_row = sep_cum - sep_base - is_sep.astype(np.int64)

    # drop separator lines; block boundaries then fall out of (row, block)
    # change points — pure index arithmetic, no groupby
    keep = ~is_sep
    row_k = row[keep]
    block_k = block_in_row[keep]
    start_k = start[keep]
    end_k = (start + llen)[keep]
    line_k = line[keep]
    if len(row_k) == 0:
        return segment_blocks_frame(pd.Series([], dtype=object), keys.iloc[:0])

    newb = np.empty(len(row_k), dtype=bool)
    newb[0] = True
    newb[1:] = (row_k[1:] != row_k[:-1]) | (block_k[1:] != block_k[:-1])
    idx_first = np.flatnonzero(newb)
    idx_last = np.append(idx_first[1:] - 1, len(row_k) - 1)

    b_row = row_k[idx_first]
    b_start = start_k[idx_first]
    b_end = end_k[idx_last]

    # dense per-row block ordinal
    ar = np.arange(len(idx_first))
    newrow_b = np.empty(len(idx_first), dtype=bool)
    newrow_b[0] = True
    newrow_b[1:] = b_row[1:] != b_row[:-1]
    base = np.where(newrow_b, ar, 0)
    base = np.maximum.accumulate(base)
    b_idx = ar - base

    # block text = exact slice of the source markdown (spans invariant
    # text == markdown[start:end] holds by construction)
    mdv = md.to_numpy(dtype=object)
    texts = [mdv[r][s:e] for r, s, e in zip(b_row, b_start, b_end)]

    first_line = pd.Series(line_k[idx_first], dtype=object)
    btype = pd.Series(spec.BLOCK_PARA, index=first_line.index, dtype=object)
    level = pd.Series(0, index=first_line.index, dtype="int32")
    h = first_line.str.extract(_HEADING_LINE, expand=False)
    is_h = h.notna() & first_line.str.match(_HEADING_LINE)
    btype[is_h] = spec.BLOCK_HEADING
    level[is_h] = h[is_h].str.len().astype("int32")
    btype[first_line.str.startswith("```") & ~is_h] = spec.BLOCK_CODE
    btype[first_line.str.startswith("|") & ~is_h] = spec.BLOCK_TABLE
    is_list = first_line.str.startswith("- ") | first_line.str.match(_LIST_NUM)
    btype[is_list & ~is_h] = spec.BLOCK_LIST
    btype[first_line.str.startswith("> ") & ~is_h] = spec.BLOCK_QUOTE
    btype[first_line.str.startswith("![") & ~is_h] = spec.BLOCK_IMAGE

    out = keys.iloc[b_row].reset_index(drop=True)
    out["block_idx"] = b_idx.astype("int32")
    out["block_type"] = btype.to_numpy()
    out["level"] = level.to_numpy()
    out["start"] = b_start.astype("int32")
    out["end"] = b_end.astype("int32")
    out["text"] = texts
    return out
