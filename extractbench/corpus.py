"""Seeded input corpora for the extraction benchmark.

Every corpus has an exact turn count, split into equal-row parquet
shards, so two seeds differ in content but not in size: Spark packs the
same number of equal tasks whichever seed is drawn, and turns/s compares
across seeds.  The same seed gives the same bytes.

  * ``mixed``       — the ``engine.fixtures`` payload mix (pdf 30, html 30,
                      plain 20, tool-JSON 15, degenerate 5 %; ~0.5 KB per
                      turn; ~1 % long conversations).
  * ``html_heavy``  — >= 90 % HTML turns of 1-40 KB with varying tag
                      inventories, plus a fixed share of moderately sized
                      unclosed ``<script``/``<b`` openers; no images.
  * ``incremental`` — the ``mixed`` payloads, smaller, for the write path,
                      under one conversation layout for every seed.
"""

from __future__ import annotations

import math
import os
import zlib

import numpy as np
import pandas as pd

from engine import fixtures

# name → (turns, shards); sized so one steady pass takes ~1-2 s at local[4]
SIZES = {"mixed": (48_000, 16), "html_heavy": (3_200, 16), "incremental": (12_000, 8)}

_WORDS = (
    "arrow batch column shuffle partition query vector parse render "
    "table list quote heading cell link token stream merge window scan "
    "lineage bucket resume snapshot engine worker executor driver"
).split()


def _crc(*parts) -> int:
    return zlib.crc32("|".join(str(p) for p in parts).encode("utf-8"))


def _rng_seed(*parts) -> int:
    """A numpy seed (0 <= s < 2**32) for any ``--seed``, negative or
    larger than 32 bits included."""
    return _crc("rng", *parts)


def _text(k: int, n: int) -> str:
    return " ".join(_WORDS[(k + 11 * i + i * i) % len(_WORDS)] for i in range(n))


# ----------------------------------------------------------------- mixed
def _mixed_frame(seed: int, n_turns: int) -> pd.DataFrame:
    """``fixtures.make_transcripts`` chunks under seed-scoped conv ids
    (payloads hash the conv id, so the prefix changes every payload),
    concatenated and cut at exactly ``n_turns``."""
    frames, have, chunk = [], 0, 0
    while have < n_turns:
        df = fixtures.make_transcripts(
            n_convs=400, seed=_rng_seed("mixed", seed, chunk), skew_giant=False
        )
        df["conv_id"] = df["conv_id"].str.replace(
            "conv-", f"s{seed}-c{chunk:03d}-", regex=False
        )
        frames.append(df)
        have += len(df)
        chunk += 1
    return pd.concat(frames, ignore_index=True).iloc[:n_turns]


# ------------------------------------------------------------ html_heavy
def _html_block(k: int) -> str:
    """One body block; the block type and its inline tags vary with k,
    so fragments differ in which tags (and so which passes) they carry."""
    kind = k % 9
    words = _text(k, 8 + k % 24)
    inline = (k >> 4) % 6
    if inline == 1:
        words = f"{words} <b>{_text(k + 1, 2)}</b> and <em>{_text(k + 2, 1)}</em>"
    elif inline == 2:
        words = f'{words} <a href="https://example.org/{k % 97}">{_text(k + 3, 2)}</a>'
    elif inline == 3:
        words = f"{words} <code>{_text(k + 4, 1)}</code> &amp; <i>{_text(k + 5, 1)}</i>"
    elif inline == 4:
        words = f"{words}<br/>{_text(k + 6, 3)} &lt;x&gt;"
    if kind <= 2:
        return f"<p>{words}</p>"
    if kind == 3:
        return f"<h{1 + k % 6}>{_text(k, 3 + k % 4)}</h{1 + k % 6}>"
    if kind == 4:
        tag = "ol" if k & 1 else "ul"
        items = "".join(f"<li>{_text(k + i, 3 + i % 5)}</li>" for i in range(2 + k % 5))
        return f"<{tag}>{items}</{tag}>"
    if kind == 5:
        cells = 2 + k % 3
        rows = "".join(
            "<tr>" + "".join(f"<td>{_text(k + r * 7 + c, 2)}</td>" for c in range(cells)) + "</tr>"
            for r in range(1 + k % 4)
        )
        head = "".join(f"<th>h{c}</th>" for c in range(cells))
        return f"<table><tr>{head}</tr>{rows}</table>"
    if kind == 6:
        return f"<pre><code>{_text(k, 6)}\n{_text(k + 1, 6)}</code></pre>"
    if kind == 7:
        return f"<blockquote>{words}</blockquote>"
    return f"<div><span>{words}</span></div>"


_BOILERPLATE = (
    "<nav><ul><li><a href=\"/a\">home</a></li><li><a href=\"/b\">docs</a></li></ul></nav>",
    "<header><h1>Site header</h1></header>",
    "<script>var cfg = {a: 1};</script>",
    "<style>p { margin: 0 }</style>",
    "<aside>related reading</aside>",
    '<div class="cookie-banner">We use cookies. <a href="/ok">OK</a></div>',
    "<!-- generated page -->",
    "<footer><p>footer text</p></footer>",
)


def _html_page(k: int, target: int, pool: list[str], picks: np.ndarray) -> str:
    parts = ["<html><body>"]
    parts += [b for i, b in enumerate(_BOILERPLATE) if (k >> i) % 3 == 0]
    parts.append("<article>")
    size = 0
    for j in picks:
        if size >= target:
            break
        parts.append(pool[j])
        size += len(pool[j])
    parts.append("</article></body></html>")
    return "".join(parts)


def _unclosed(k: int, target: int) -> str:
    """Moderately sized run of unclosed ``<script``/``<b`` openers: every
    opener's lazy ``.*?</tag>`` scans to the end of the turn, so these
    turns cost more than linear time under the current spec."""
    tag = "script" if k & 1 else "b"
    parts, size, i = ["<p>"], 0, 0
    while size < target:
        s = f"<{tag}>{_text(k + i, 6)} "
        parts.append(s)
        size += len(s)
        i += 1
    return "".join(parts)


_UNCLOSED_EVERY = 50       # 2 % of turns, evenly spaced by row index
_NON_HTML = 16             # 1/16 of turns are not HTML (6.25 %)


def _html_frame(seed: int, n_turns: int) -> pd.DataFrame:
    rng = np.random.RandomState(_rng_seed("html", seed))
    # 1-40 KB log-uniform page sizes; unclosed-opener turns 2-5 KB
    sizes = np.exp(rng.uniform(math.log(1024), math.log(40 * 1024), n_turns)).astype(int)
    small = rng.randint(2048, 5 * 1024, n_turns)
    conv_len = 2 + rng.randint(0, 15, n_turns)
    pool = [_html_block(_crc("blk", seed, j)) for j in range(4096)]
    # enough block picks for a 40 KB page (blocks average ~170 chars)
    picks = rng.randint(0, len(pool), (n_turns, 400))
    conv, turn, texts = [], [], []
    c, t = 0, 0
    for i in range(n_turns):
        k = _crc("h", seed, i)
        if i % _UNCLOSED_EVERY == _UNCLOSED_EVERY // 2:
            text = _unclosed(k, int(small[i]))
        elif k % _NON_HTML == 0:
            which = (k >> 8) % 3
            text = (
                _text(k, 40) + ".\n\n" + _text(k + 1, 30) + "."
                if which == 0
                else f'{{"status": "ok", "n": {k % 100}, "q": "{_text(k, 3)}"}}'
                if which == 1
                else "  \n "
            )
        else:
            text = _html_page(k, int(sizes[i]), pool, picks[i])
        conv.append(f"h{seed}-{c:06d}")
        turn.append(t)
        texts.append(text)
        t += 1
        if t >= conv_len[c % n_turns]:
            c, t = c + 1, 0
    return pd.DataFrame(
        {
            "conv_id": pd.Series(conv, dtype="string"),
            "turn_idx": pd.Series(turn, dtype="int32"),
            "role": pd.Series(["tool"] * n_turns, dtype="string"),
            "text": pd.Series(texts, dtype="string"),
            "tool": pd.Series(["browser"] * n_turns, dtype="string"),
            "ts": pd.Series(
                pd.Timestamp("2026-01-01", tz="UTC") + pd.to_timedelta(np.arange(n_turns), "s")
            ).astype("datetime64[us, UTC]"),
        }
    )


# ---------------------------------------------------------- incremental
# Conversation layout of every incremental corpus: the conv ids, turn
# numbers and timestamps of this one mixed draw.
_LAYOUT_SEED = 0


def _incremental_frame(seed: int, n_turns: int) -> pd.DataFrame:
    """The seed's ``mixed`` payloads, in order, under a fixed conversation
    layout.  In 12,000 turns the ~1 % long conversations (100-1000 turns)
    carry 30-60 % of the turns, and how many there are and which of the 8
    buckets they hash to changed with the seed: the doc-assembly shuffle
    and the partitioned writes, which the jobs time, then took ±25 % from
    seed to seed.  With one layout every seed has the same long
    conversations in the same buckets, and only the payloads differ."""
    df = _mixed_frame(seed, n_turns)
    layout = _mixed_frame(_LAYOUT_SEED, n_turns)
    for col in ("conv_id", "turn_idx", "ts"):
        df[col] = layout[col]  # both frames are indexed 0..n-1
    return df


def make(workload: str, seed: int, scale: float = 1.0) -> pd.DataFrame:
    n_turns, _ = SIZES[workload]
    n = max(64, int(n_turns * scale))
    if workload == "html_heavy":
        return _html_frame(seed, n)
    if workload == "incremental":
        return _incremental_frame(seed, n)
    return _mixed_frame(seed, n)


def write(df: pd.DataFrame, path: str, shards: int) -> None:
    """Equal-row parquet shards, in (conv_id, turn_idx) order."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(df), shards + 1).astype(int)
    for s in range(shards):
        df.iloc[bounds[s]:bounds[s + 1]].to_parquet(
            os.path.join(path, f"part-{s:04d}.parquet"), index=False
        )
