"""Extraction spec — the single source of truth for payload grammar.

Every regex / template / separator that BOTH the sequential oracle
(`engine/oracle.py`) and the vectorized engine (`engine/core/parser.py`,
`engine/spark/*`) must honour lives here.  The two sides implement the
spec independently (per-row Python vs pandas/Arrow vs Catalyst column
expressions); sharing only these constants keeps byte-equality a real
test rather than a tautology.

Reference semantics preserved (cited file:line in /root/reference):
  * image placeholder grammar ``![id](id)``        mistralocr_app.py:76-82
  * OCR block insertion template (ASCII colon)     mistralocr_app.py:92-99
  * link rewrite ``images_{stem}/page_{p+1}_img_{i+1}.png``
                                                   mistralocr_app.py:101-122
  * page/document join separators                  mistralocr_app.py:90,716-717
  * markdown fence strip (```json prefix / ``` suffix)
                                                   mistralocr_app.py:386-390
  * JSON validate-or-wrap fallback                 mistralocr_app.py:393-400
  * unstructured fallback shape                    mistralocr_app.py:498-501
  * filename-stem sanitisation ``replace(' ', '_')``
                                                   mistralocr_app.py:569,838
"""

from __future__ import annotations

# ---------------------------------------------------------------- separators
PAGE_JOIN_DISPLAY = "\n\n"          # mistralocr_app.py:90  (display path)
DOC_JOIN = "\n\n---\n\n"            # mistralocr_app.py:716-717 (file path)

# ------------------------------------------------------------- placeholders
# ``![img-3.jpeg](img-3.jpeg)`` — id doubles as the link target.
IMG_PLACEHOLDER_RE = r"!\[([^\]\[()]+)\]\(\1\)"   # group 1 = image id


def img_placeholder(img_id: str) -> str:
    return f"![{img_id}]({img_id})"


# OCR block appended below an image placeholder — ASCII colon variant
# (app, mistralocr_app.py:97), NOT the notebook's full-width colon.
OCR_BLOCK_PREFIX = "\n\n> \U0001F4C4 Image OCR Result:\n\n```json\n"
OCR_BLOCK_SUFFIX = "\n```"


def ocr_block(img_id: str, ocr_json: str) -> str:
    """P2 replacement text for one placeholder (mistralocr_app.py:95-98)."""
    ph = img_placeholder(img_id)
    return f"{ph}{OCR_BLOCK_PREFIX}{ocr_json}{OCR_BLOCK_SUFFIX}"


# Deterministic stand-in for the remote per-image OCR+structuring call
# (mistralocr_app.py:250-519).  Shape mirrors the reference's fallback
# ``{"unstructured_ocr": ...}`` (mistralocr_app.py:501), pretty-printed
# with json.dumps(indent=2, ensure_ascii=False) (mistralocr_app.py:305).
def ocr_json_text(conv_id: str, turn_idx: int, img_id: str) -> str:
    return (
        '{\n  "unstructured_ocr": "deterministic OCR for '
        f"{img_id} at turn {turn_idx} of {conv_id}" + '"\n}'
    )


def image_rel_path(stem: str, turn_idx: int, img_ordinal: int) -> str:
    """P3 rewritten link target (mistralocr_app.py:109-112).

    ``img_ordinal`` is 1-based appearance order of the (unique) image id
    within the page — python-dict insertion order in the reference
    (mistralocr_app.py:106, 640-641).
    """
    return f"images_{stem}/page_{turn_idx + 1}_img_{img_ordinal}.png"


def sanitize_stem(name: str) -> str:
    return name.replace(" ", "_")   # mistralocr_app.py:569, 838


# -------------------------------------------------------------- tool JSON
FENCE_PREFIX = "```json"            # strip semantics: mistralocr_app.py:386-390
JSON_WRAP_ERROR = "Failed to parse tool JSON output"  # adapted from :400
# Tool JSON nested deeper than this (brackets inside strings excluded) is
# wrapped like unparseable JSON.  The json module recurses once per level,
# so without a fixed bound the cut-off would follow each process's
# recursion limit and stack depth: a parse worker wraps 980 levels while a
# Spark session's own process, whose limit an import raised to 3000,
# pretty-prints them.
JSON_MAX_DEPTH = 500


# ------------------------------------------------------------ kind detection
KIND_EMPTY = "empty"
KIND_HTML = "html"
KIND_TOOL_JSON = "tool_json"
KIND_MARKDOWN = "markdown"

HTML_DETECT_RE = (
    r"</?(?:html|body|article|section|main|div|nav|header|footer|aside|"
    r"p|h[1-6]|ul|ol|li|table|thead|tbody|tr|th|td|pre|blockquote|span|"
    r"a|b|i|em|strong|code|img|br|script|style)\b"
)

# ------------------------------------------------------------- HTML grammar
# Strip-with-content targets (DOM-heuristic boilerplate): one alternation
# pass, case-insensitive, dotall.  Leftmost match wins, which equals
# sequential removal for non-pathological nesting.
HTML_STRIP_CONTENT_RE = (
    r"<(?P<t>script|style|nav|header|footer|aside)\b[^>]*>.*?</(?P=t)>"
    r"|<div\b[^>]*class=\"[^\"]*(?:cookie|consent|banner|linkfarm|advert|"
    r"sidebar|promo|related-links)[^\"]*\"[^>]*>.*?</div>"
    r"|<!--.*?-->"
)

HTML_PRE_RE = r"<pre\b[^>]*>\n?(?:<code\b[^>]*>)?(.*?)(?:</code>)?\n?</pre>"
# single pass over all heading levels; group 'n' = level digit.
# NOTE: the *replacement callables* for this and HTML_INLINE_RE live
# separately in engine/core/parser.py (vectorized side) and
# engine/oracle.py (sequential side) — two independent implementations,
# so the parity tests compare real re-implementations, not one shared
# function (they briefly shared callables in round 1; reverted).
HTML_HEADING_RE = r"<h(?P<n>[1-6])\b[^>]*>(?P<body>.*?)</h(?P=n)>"
HTML_OL_RE = r"<ol\b[^>]*>(.*?)</ol>"
HTML_UL_RE = r"<ul\b[^>]*>(.*?)</ul>"
HTML_LI_RE = r"<li\b[^>]*>(.*?)</li>"
HTML_TABLE_RE = r"<table\b[^>]*>(.*?)</table>"
HTML_TR_RE = r"<tr\b[^>]*>(.*?)</tr>"
HTML_CELL_RE = r"<t[hd]\b[^>]*>(.*?)</t[hd]>"
HTML_BLOCKQUOTE_RE = r"<blockquote\b[^>]*>(.*?)</blockquote>"
HTML_P_RE = r"<p\b[^>]*>(.*?)</p>"

# Inline conversions: one alternation pass, dispatched on the matched
# branch (single-pass semantics — nested inline tags inside a converted
# span are NOT re-scanned; remaining tags fall through to the any-tag
# strip).  Replacement callables: see note above HTML_OL_RE.
HTML_INLINE_RE = (
    r"(?P<br><br\s*/?>)"
    r"|<(?P<bs>b|strong)\b[^>]*>(?P<bsc>.*?)</(?P=bs)>"
    r"|<(?P<ie>i|em)\b[^>]*>(?P<iec>.*?)</(?P=ie)>"
    r"|<code\b[^>]*>(?P<cc>.*?)</code>"
    r"|<img\s+src=\"(?P<isrc>[^\"]*)\"\s+alt=\"(?P<ialt>[^\"]*)\"\s*/?>"
    r"|<a\s+href=\"(?P<ahref>[^\"]*)\"[^>]*>(?P<atext>.*?)</a>"
)

HTML_ANY_TAG_RE = r"<[^>]+>"

# Entity unescape order matters: &amp; must come last.
HTML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]

# ------------------------------------------------------------ normalisation
TRAILING_WS_RE = r"[ \t]+\n"         # per-line trailing whitespace
MULTI_BLANK_RE = r"\n{3,}"           # 3+ newlines → exactly one blank line

# ------------------------------------------------------------- block model
BLOCK_HEADING = "heading"
BLOCK_PARA = "para"
BLOCK_LIST = "list"
BLOCK_TABLE = "table"
BLOCK_CODE = "code"
BLOCK_QUOTE = "blockquote"
BLOCK_IMAGE = "image"
