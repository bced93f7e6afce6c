"""Block segmentation edge inputs: ``parser.segment_blocks_frame`` vs
``oracle.segment_blocks`` on the characters and line shapes the fixture
corpus and the hypothesis alphabet do not hold — no Spark needed."""

import pandas as pd
import pytest

from engine import oracle
from engine.core import parser

_INT_COLS = ["block_idx", "level", "start", "end"]


def _keys(n: int) -> pd.DataFrame:
    return pd.DataFrame(
        {"conv_id": [f"c{i}" for i in range(n)],
         "turn_idx": pd.Series(range(n), dtype="int32")}
    )


@pytest.mark.parametrize(
    "md",
    [
        # separator lines of Python whitespace beyond space and tab
        *(f"para one\n{ws}\npara two" for ws in
          ("\u00a0", "\x1c", "\u2028", "\u3000", "\r", " \u00a0\t\r")),
        "\u0663. x",  # Unicode \d: a list item
        "####### x",  # seven hashes: a paragraph
        "###### x\n\n####### y",
        "```py\ncode\n\n\nmore\n\n",  # unterminated fence, blank lines
        "text\n\n```\na\n\nb\n```\n\nafter",
        "\n\n  \nfirst\n\nsecond\n \n\n",  # leading and trailing blanks
    ],
)
def test_segment_blocks_frame_matches_oracle(md):
    got = parser.segment_blocks_frame(pd.Series([md], dtype=object), _keys(1))
    want = [
        (b["block_type"], b["level"], b["start"], b["end"], b["text"])
        for b in oracle.segment_blocks(md)
    ]
    assert list(got["block_idx"]) == list(range(len(want)))
    cols = ["block_type", "level", "start", "end", "text"]
    assert [tuple(r) for r in got[cols].itertuples(index=False)] == want
    assert all(md[s:e] == t for s, e, t in zip(got["start"], got["end"],
                                               got["text"]))


def test_list_type_follows_unicode_digits():
    got = parser.segment_blocks_frame(
        pd.Series(["\u0663. x", "####### x"], dtype=object), _keys(2)
    )
    assert list(got["block_type"]) == ["list", "para"]


def test_batch_without_blocks_keeps_dtypes():
    keys = _keys(4)
    md = pd.Series([None, "", "  \n\u00a0\n", "\n"], dtype=object)
    got = parser.segment_blocks_frame(md, keys)
    assert got.empty
    assert list(got.columns) == [*keys.columns, "block_idx", "block_type",
                                 "level", "start", "end", "text"]
    assert got["conv_id"].dtype == keys["conv_id"].dtype
    assert got["turn_idx"].dtype == "int32"
    assert all(got[c].dtype == "int32" for c in _INT_COLS)
