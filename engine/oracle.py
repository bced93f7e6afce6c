"""Sequential pure-Python oracle — golden generator for the Spark engine.

Implements the extraction spec (`engine/core/spec.py`) the way the
reference does: one row at a time, plain ``re``/``str`` calls, no pandas,
no Spark.  The assembly functions are verbatim re-expressions of the
reference's pure functions:

  * ``replace_images_in_markdown``  /root/reference/mistralocr_app.py:76-82
  * ``insert_ocr_below_images``     /root/reference/mistralocr_app.py:92-99
  * link rewrite inside ``save_images_and_replace_links``
                                    /root/reference/mistralocr_app.py:101-122
  * page join "\\n\\n" (display)    /root/reference/mistralocr_app.py:90
  * document join "\\n\\n---\\n\\n" /root/reference/mistralocr_app.py:716-717
  * fence strip + validate-or-wrap  /root/reference/mistralocr_app.py:386-400

Tests assert that the distributed engine's output is byte-equal to this
oracle per turn, ordered by (conv_id, turn_idx).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

from engine.core import spec

_HTML_DETECT = re.compile(spec.HTML_DETECT_RE, re.I)
_IMG_PLACEHOLDER = re.compile(spec.IMG_PLACEHOLDER_RE)


# --------------------------------------------------------------------- kinds
def detect_kind(text: str) -> str:
    stripped = text.strip() if text is not None else ""
    if not stripped:
        return spec.KIND_EMPTY
    if _HTML_DETECT.search(text):
        return spec.KIND_HTML
    if stripped.startswith(spec.FENCE_PREFIX) or stripped[0] in "{[":
        return spec.KIND_TOOL_JSON
    return spec.KIND_MARKDOWN


# ------------------------------------------------------------- normalisation
def normalize(text: str) -> str:
    text = re.sub(spec.TRAILING_WS_RE, "\n", text)
    text = re.sub(spec.MULTI_BLANK_RE, "\n\n", text)
    return text.strip()


# ----------------------------------------------------------------- tool JSON
def _nesting_depth(raw: str) -> int:
    """Deepest bracket nesting outside JSON strings (a character scan —
    written apart from the parser's regex version on purpose)."""
    depth = deepest = 0
    in_string = escaped = False
    for ch in raw:
        if in_string:
            if escaped:
                escaped = False
            elif ch == "\\":
                escaped = True
            elif ch == '"':
                in_string = False
        elif ch == '"':
            in_string = True
        elif ch in "[{":
            depth += 1
            deepest = max(deepest, depth)
        elif ch in "]}":
            depth -= 1
    return deepest


def extract_tool_json(text: str) -> str:
    raw = text.strip()
    # Exact fence-strip semantics of mistralocr_app.py:386-390.
    if raw.startswith("```json"):
        raw = raw[7:]
    if raw.endswith("```"):
        raw = raw[:-3]
    raw = raw.strip()
    # Validate-or-wrap, mistralocr_app.py:393-400.
    # Nesting deeper than spec.JSON_MAX_DEPTH gets the same wrap; a payload
    # with fewer brackets than that cannot nest deeper, so skip the scan.
    try:
        if (
            raw.count("[") + raw.count("{") > spec.JSON_MAX_DEPTH
            and _nesting_depth(raw) > spec.JSON_MAX_DEPTH
        ):
            raise RecursionError(f"nested deeper than {spec.JSON_MAX_DEPTH}")
        parsed = json.loads(raw)
        pretty = json.dumps(parsed, indent=2, ensure_ascii=False)
    except (json.JSONDecodeError, RecursionError):
        pretty = json.dumps(
            {"error": spec.JSON_WRAP_ERROR, "raw_output": raw},
            indent=2,
            ensure_ascii=False,
        )
    return f"```json\n{pretty}\n```"


# ---------------------------------------------------------------------- HTML
def _heading_repl(m: re.Match) -> str:
    """Sequential-side heading replacement — deliberately written
    differently from the vectorized parser's (string building vs
    f-string) so the golden parity test compares two implementations."""
    level = int(m.group("n"))
    return "\n\n" + "#" * level + " " + m.group("body") + "\n\n"


def _inline_repl(m: re.Match) -> str:
    """Sequential-side inline dispatch — checks each branch's tag group
    for None instead of reading m.lastgroup."""
    if m.group("br") is not None:
        return "\n"
    if m.group("bs") is not None:
        return "**" + m.group("bsc") + "**"
    if m.group("ie") is not None:
        return "*" + m.group("iec") + "*"
    if m.group("cc") is not None:
        return "`" + m.group("cc") + "`"
    if m.group("isrc") is not None:
        return "![" + m.group("ialt") + "](" + m.group("isrc") + ")"
    return "[" + m.group("atext") + "](" + m.group("ahref") + ")"


def _convert_ol(m: re.Match) -> str:
    items = re.findall(spec.HTML_LI_RE, m.group(1), re.S | re.I)
    lines = [f"{i + 1}. {item}" for i, item in enumerate(items)]
    return "\n\n" + "\n".join(lines) + "\n\n"


def _convert_ul(m: re.Match) -> str:
    items = re.findall(spec.HTML_LI_RE, m.group(1), re.S | re.I)
    lines = [f"- {item}" for item in items]
    return "\n\n" + "\n".join(lines) + "\n\n"


def _convert_table(m: re.Match) -> str:
    rows = re.findall(spec.HTML_TR_RE, m.group(1), re.S | re.I)
    out = []
    for r_i, row in enumerate(rows):
        cells = re.findall(spec.HTML_CELL_RE, row, re.S | re.I)
        out.append("| " + " | ".join(cells) + " |")
        if r_i == 0:
            out.append("| " + " | ".join(["---"] * len(cells)) + " |")
    return "\n\n" + "\n".join(out) + "\n\n"


def extract_html(text: str) -> str:
    # Phase A — boilerplate strip (DOM heuristics), single alternation.
    text = re.sub(spec.HTML_STRIP_CONTENT_RE, "", text, flags=re.S | re.I)
    # Phase B — block conversion.
    text = re.sub(spec.HTML_PRE_RE, r"\n\n```\n\1\n```\n\n", text, flags=re.S | re.I)
    text = re.sub(spec.HTML_HEADING_RE, _heading_repl, text, flags=re.S | re.I)
    text = re.sub(spec.HTML_OL_RE, _convert_ol, text, flags=re.S | re.I)
    text = re.sub(spec.HTML_UL_RE, _convert_ul, text, flags=re.S | re.I)
    text = re.sub(spec.HTML_TABLE_RE, _convert_table, text, flags=re.S | re.I)
    text = re.sub(spec.HTML_BLOCKQUOTE_RE, r"\n\n> \1\n\n", text, flags=re.S | re.I)
    text = re.sub(spec.HTML_P_RE, r"\n\n\1\n\n", text, flags=re.S | re.I)
    # Phase C — inline conversion (single alternation pass).
    text = re.sub(spec.HTML_INLINE_RE, _inline_repl, text, flags=re.S | re.I)
    # Phase D — cleanup.
    text = re.sub(spec.HTML_ANY_TAG_RE, "", text, flags=re.S)
    for ent, ch in spec.HTML_ENTITIES:
        text = text.replace(ent, ch)
    return normalize(text)


# -------------------------------------------------------------- per-turn core
def extract_markdown(text: str) -> str:
    kind = detect_kind(text)
    if kind == spec.KIND_EMPTY:
        return ""
    if kind == spec.KIND_HTML:
        return extract_html(text)
    if kind == spec.KIND_TOOL_JSON:
        return extract_tool_json(text)
    return normalize(text)


def find_images(markdown: str) -> list[str]:
    """Unique image ids in first-appearance order (dict semantics of
    mistralocr_app.py:640-641 — last-write-wins value, first-seen position)."""
    seen: dict[str, None] = {}
    for m in _IMG_PLACEHOLDER.finditer(markdown):
        seen.setdefault(m.group(1))
    return list(seen)


def replace_images_in_markdown(markdown: str, images_dict: dict[str, str]) -> str:
    """Verbatim re-expression of mistralocr_app.py:76-82 (P1)."""
    for img_name, payload in images_dict.items():
        markdown = markdown.replace(
            f"![{img_name}]({img_name})", f"![{img_name}]({payload})"
        )
    return markdown


def insert_ocr_below_images(markdown: str, ocr_map: dict[str, str]) -> str:
    """Verbatim re-expression of mistralocr_app.py:92-99 (P2)."""
    for img_id, ocr_text in ocr_map.items():
        markdown = markdown.replace(
            f"![{img_id}]({img_id})",
            f"![{img_id}]({img_id})\n\n> \U0001F4C4 Image OCR Result:\n\n```json\n{ocr_text}\n```",
        )
    return markdown


def replace_links(markdown: str, image_ids: list[str], stem: str, turn_idx: int) -> str:
    """Verbatim re-expression of the link rewrite in
    mistralocr_app.py:106-120 (P3): enumerate in insertion order,
    target ``images_{stem}/page_{p+1}_img_{i+1}.png``."""
    id_to_path = {}
    for i, img_id in enumerate(image_ids):
        id_to_path[img_id] = f"images_{stem}/page_{turn_idx + 1}_img_{i + 1}.png"
    for img_id, path in id_to_path.items():
        markdown = markdown.replace(f"![{img_id}]({img_id})", f"![{img_id}]({path})")
    return markdown


# ------------------------------------------------------------------- blocks
def segment_blocks(markdown: str) -> list[dict]:
    """Fence-aware block segmentation with char-offset spans."""
    if not markdown:
        return []
    blocks: list[dict] = []
    lines = markdown.split("\n")
    pos = 0
    cur_start = None
    cur_lines: list[str] = []
    in_fence = False

    def flush(end_pos: int) -> None:
        nonlocal cur_start, cur_lines
        if cur_lines and any(line.strip() for line in cur_lines):
            text = "\n".join(cur_lines)
            blocks.append({"start": cur_start, "end": end_pos, "text": text})
        cur_start, cur_lines = None, []

    for line in lines:
        line_start = pos
        pos += len(line) + 1  # + '\n'; harmless overshoot on last line
        if line.strip() == "" and not in_fence:
            flush(line_start - 1 if cur_lines else line_start)
            continue
        if cur_start is None:
            cur_start = line_start
        cur_lines.append(line)
        if line.startswith("```"):
            in_fence = not in_fence
    flush(min(pos - 1, len(markdown)))

    for b in blocks:
        first = b["text"].split("\n", 1)[0]
        m = re.match(r"(#{1,6}) ", first)
        if m:
            b["block_type"], b["level"] = spec.BLOCK_HEADING, len(m.group(1))
        elif first.startswith("```"):
            b["block_type"], b["level"] = spec.BLOCK_CODE, 0
        elif first.startswith("|"):
            b["block_type"], b["level"] = spec.BLOCK_TABLE, 0
        elif first.startswith("- ") or re.match(r"\d+\. ", first):
            b["block_type"], b["level"] = spec.BLOCK_LIST, 0
        elif first.startswith("> "):
            b["block_type"], b["level"] = spec.BLOCK_QUOTE, 0
        elif first.startswith("!["):
            b["block_type"], b["level"] = spec.BLOCK_IMAGE, 0
        else:
            b["block_type"], b["level"] = spec.BLOCK_PARA, 0
    return blocks


# ---------------------------------------------------------------- full turn
@dataclass
class TurnResult:
    conv_id: str
    turn_idx: int
    markdown: str
    image_ids: list[str]
    image_paths: list[str]
    blocks: list[dict]


def process_turn(conv_id: str, turn_idx: int, text: str) -> TurnResult:
    """Full per-turn pipeline: extract → P2 (OCR insert) → P3 (link
    rewrite) → block segmentation.  Stage order P2-before-P3 per
    mistralocr_app.py:657-684."""
    md = extract_markdown(text)
    image_ids = find_images(md)
    ocr_map = {
        img_id: spec.ocr_json_text(conv_id, turn_idx, img_id)
        for img_id in image_ids
    }
    md = insert_ocr_below_images(md, ocr_map)
    stem = spec.sanitize_stem(conv_id)
    md = replace_links(md, image_ids, stem, turn_idx)
    paths = [
        spec.image_rel_path(stem, turn_idx, i + 1) for i in range(len(image_ids))
    ]
    return TurnResult(conv_id, turn_idx, md, image_ids, paths, segment_blocks(md))


def process_table(rows: list[tuple[str, int, str]]) -> list[TurnResult]:
    """rows = [(conv_id, turn_idx, text)] in any order; output sorted by
    (conv_id, turn_idx) — the stable-ordering invariant."""
    out = [process_turn(c, t, x) for c, t, x in rows]
    out.sort(key=lambda r: (r.conv_id, r.turn_idx))
    return out


def assemble_docs(results: list[TurnResult]) -> dict[str, str]:
    """Per-conversation document: turns joined with "\\n\\n---\\n\\n"
    ordered by turn_idx (mistralocr_app.py:716-717)."""
    by_conv: dict[str, list[TurnResult]] = {}
    for r in results:
        by_conv.setdefault(r.conv_id, []).append(r)
    docs = {}
    for conv_id, rs in by_conv.items():
        rs.sort(key=lambda r: r.turn_idx)
        docs[conv_id] = spec.DOC_JOIN.join(r.markdown for r in rs)
    return docs
