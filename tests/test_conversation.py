"""Unit tests for conversation-level analytics (engine.spark.conversation):
per-conversation rollups, role-alternation validation, chat-template
rendering, SFT context-window assembly, gap sessionization, and tool
usage.  Hand-computed expectations — independent of both engines."""

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from engine.spark import conversation as conv
from engine.spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, app="engine-tests-conv")
    yield s
    s.stop()


def _ts(s):
    return datetime(2026, 1, 1, tzinfo=timezone.utc).replace(second=0) \
        .fromtimestamp(1767225600 + s, tz=timezone.utc)


def _turns(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id: string, turn_idx: int, role: string, text: string, "
        "tool: string, ts: timestamp",
    )


_BASE = [
    ("c1", 0, "user", "hello", "", _ts(0)),
    ("c1", 1, "assistant", "hi there", "", _ts(10)),
    ("c1", 2, "assistant", "hi there", "", _ts(20)),  # violation
    ("c1", 3, "tool", '{"ok": 1}', "browser", _ts(30)),
    ("c1", 4, "tool", "done", "pdf_reader", _ts(45)),  # violation
    ("c2", 0, "user", "solo", "", _ts(100)),
]


def test_conv_stats(spark):
    out = {r["conv_id"]: r for r in
           conv.conv_stats(_turns(spark, _BASE)).collect()}
    c1 = out["c1"]
    assert c1["n_turns"] == 5
    assert (c1["n_user"], c1["n_assistant"], c1["n_tool"]) == (1, 2, 2)
    assert c1["n_tool_calls"] == 2
    assert c1["n_tools"] == 2
    assert c1["total_chars"] == sum(
        len(t[3]) for t in _BASE if t[0] == "c1")
    assert c1["max_turn_chars"] == len('{"ok": 1}')
    assert c1["duration_s"] == 45
    c2 = out["c2"]
    assert (c2["n_turns"], c2["n_tools"], c2["duration_s"]) == (1, 0, 0)


def test_role_violations(spark):
    out = conv.role_violations(_turns(spark, _BASE)).collect()
    assert {(r["conv_id"], r["turn_idx"]) for r in out} == {
        ("c1", 2), ("c1", 4)}
    assert all(r["role"] == r["prev_role"] for r in out)


def test_chat_render_template_and_order(spark):
    out = {r["conv_id"]: r["chat"] for r in
           conv.chat_render(_turns(spark, _BASE)).collect()}
    assert out["c2"] == "<|user|>\nsolo\n<|end|>"
    expected_c1 = "\n".join([
        "<|user|>\nhello\n<|end|>",
        "<|assistant|>\nhi there\n<|end|>",
        "<|assistant|>\nhi there\n<|end|>",
        '<|tool:browser|>\n{"ok": 1}\n<|end|>',
        "<|tool:pdf_reader|>\ndone\n<|end|>",
    ])
    assert out["c1"] == expected_c1


def test_chat_render_chunked_matches_unchunked(spark):
    # 50-turn conversation; chunk=8 (two-phase) must equal chunk=1024.
    rows = [("cc", i, "user" if i % 2 == 0 else "assistant",
             f"turn {i}", "", _ts(i)) for i in range(50)]
    t = _turns(spark, rows)
    a = conv.chat_render(t, chunk=8).collect()[0]["chat"]
    b = conv.chat_render(t, chunk=1024).collect()[0]["chat"]
    assert a == b
    assert a.count("<|end|>") == 50


def test_sft_examples(spark):
    out = {(r["conv_id"], r["turn_idx"]): r for r in
           conv.sft_examples(_turns(spark, _BASE), k=2).collect()}
    # assistant turns with >=1 ctx: c1 turns 1 and 2 only.
    assert set(out) == {("c1", 1), ("c1", 2)}
    e1 = out[("c1", 1)]
    assert e1["prompt"] == "<|user|>\nhello\n<|end|>"
    assert e1["completion"] == "hi there"
    assert e1["n_ctx_turns"] == 1
    e2 = out[("c1", 2)]
    # k=2: turns 0 and 1 in order
    assert e2["prompt"] == (
        "<|user|>\nhello\n<|end|>\n<|assistant|>\nhi there\n<|end|>")
    assert e2["n_ctx_turns"] == 2


def test_sft_frame_is_bounded(spark):
    rows = [("cb", i, "assistant", f"t{i}", "", _ts(i)) for i in range(10)]
    out = conv.sft_examples(_turns(spark, rows), k=3).collect()
    assert max(r["n_ctx_turns"] for r in out) == 3
    # turn 9's prompt holds exactly turns 6,7,8
    p9 = next(r for r in out if r["turn_idx"] == 9)["prompt"]
    assert [l for l in p9.splitlines() if l.startswith("t")] == [
        "t6", "t7", "t8"]


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id: long, user_id: long, value: double, ts: timestamp")


def test_sessionize(spark):
    rows = [
        (1, 7, 1.0, _ts(0)),
        (2, 7, 2.0, _ts(600)),     # gap 600 <= 1800 → same session
        (3, 7, 3.0, _ts(3000)),    # gap 2400 > 1800 → new session
        (4, 7, 4.0, _ts(3100)),
        (5, 9, 5.0, _ts(50)),
    ]
    out = conv.sessionize(_events(spark, rows), gap_s=1800).collect()
    by_key = {(r["user_id"], r["session_idx"]): r for r in out}
    assert set(by_key) == {(7, 1), (7, 2), (9, 1)}
    s1 = by_key[(7, 1)]
    assert (s1["n_events"], s1["total_value"], s1["duration_s"]) == (
        2, 3.0, 600)
    s2 = by_key[(7, 2)]
    assert (s2["n_events"], s2["duration_s"]) == (2, 100)
    assert by_key[(9, 1)]["n_events"] == 1


def test_sessionize_boundary_gap_exact(spark):
    # gap exactly == gap_s stays in the same session (strict >)
    rows = [(1, 1, 1.0, _ts(0)), (2, 1, 1.0, _ts(1800))]
    out = conv.sessionize(_events(spark, rows), gap_s=1800).collect()
    assert len(out) == 1 and out[0]["n_events"] == 2


def test_tool_usage(spark):
    out = {r["tool"]: r for r in
           conv.tool_usage(_turns(spark, _BASE)).collect()}
    assert set(out) == {"browser", "pdf_reader"}
    assert out["browser"]["n_calls"] == 1
    assert out["browser"]["n_convs"] == 1
    assert out["browser"]["total_chars"] == len('{"ok": 1}')


# ------------------------------------------------ stream_sft_examples


def test_stream_sft_split_invariance_and_batch_parity(spark, tmp_path):
    """The streaming SFT assembler must (a) be invariant to micro-batch
    splits that cut through context windows and (b) reproduce the batch
    sft_examples output byte-for-byte."""
    import os

    import pandas as pd

    from engine.spark import streaming

    rows = []
    for c in range(4):
        cid = f"s{c:02d}"
        for i in range(6):
            role = ["user", "assistant", "tool"][i % 3]
            tool = "browser" if role == "tool" else ""
            rows.append((cid, i, role, f"text {c}-{i}", tool))
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")

    one = str(tmp_path / "one")
    os.makedirs(one, exist_ok=True)
    pdf.to_parquet(os.path.join(one, "all.parquet"), index=False)
    got_one = streaming.stream_sft_examples(
        spark, one, str(tmp_path / "ck1"), sink_table="ssft_one"
    ).toPandas()

    # split files cut every context window across a batch edge
    split = str(tmp_path / "split")
    os.makedirs(split, exist_ok=True)
    for i, (lo, hi) in enumerate([(0, 1), (2, 3), (4, 5)]):
        part = pdf[(pdf.turn_idx >= lo) & (pdf.turn_idx <= hi)]
        part.to_parquet(os.path.join(split, f"part-{i}.parquet"),
                        index=False)
    got_split = streaming.stream_sft_examples(
        spark, split, str(tmp_path / "ck2"), sink_table="ssft_split",
        max_files_per_trigger=1,
    ).toPandas()

    key = ["conv_id", "turn_idx"]
    a = got_one.sort_values(key).reset_index(drop=True)
    b = got_split.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)

    # byte parity with the batch operator (k=3 matches _SFT_K)
    sdf = spark.createDataFrame(pdf).withColumn(
        "ts", F.current_timestamp())
    batch = conv.sft_examples(sdf, k=3).toPandas()
    c = batch.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a[c.columns].astype(c.dtypes.to_dict()), c)
    # spot-check one prompt's exact rendering
    p = a[(a.conv_id == "s01") & (a.turn_idx == 4)]["prompt"].iloc[0]
    assert p == ("<|assistant|>\ntext 1-1\n<|end|>\n"
                 "<|tool:browser|>\ntext 1-2\n<|end|>\n"
                 "<|user|>\ntext 1-3\n<|end|>")


# ---------------------------------------------- transcript_curation


def test_transcript_curation_reasons_and_precedence(spark):
    rows = [
        # healthy conversation
        ("ok", 0, "user", "q", "", _ts(0)),
        ("ok", 1, "assistant", "a", "", _ts(1)),
        # 1 turn -> too_short (even though it also lacks an assistant)
        ("short", 0, "user", "hi", "", _ts(0)),
        # no assistant
        ("noasst", 0, "user", "a", "", _ts(0)),
        ("noasst", 1, "tool", "b", "browser", _ts(1)),
        # 1 distinct run of 5 identical + 1 user = 2 runs / 6 turns
        ("rep", 0, "user", "q", "", _ts(0)),
        *[("rep", i, "assistant", "same", "", _ts(i)) for i in range(1, 6)],
    ]
    out = {r["conv_id"]: r for r in conv.transcript_curation(
        _turns(spark, rows), min_turns=2, max_repeat_ratio=0.5
    ).collect()}
    assert out["ok"]["keep"] and out["ok"]["drop_reason"] is None
    assert out["short"]["drop_reason"] == "too_short"
    assert out["noasst"]["drop_reason"] == "no_assistant"
    r = out["rep"]
    assert r["drop_reason"] == "repetitive"
    assert (r["n_turns"], r["n_runs"]) == (6, 2)
    assert abs(r["repeat_ratio"] - (1 - 2 / 6)) < 1e-6
    assert r["n_violations"] == 4


def test_agent_loops_detects_planted_failure_modes(spark):
    from engine.spark import conversation

    rows = []
    # healthy: 4 distinct steps
    for i, txt in enumerate(["a", "b", "c", "d"]):
        rows.append(("ok", i, "assistant", txt, ""))
    # stuck: same step 5 times
    for i in range(5):
        rows.append(("stuck", i, "assistant", "retry", "browser"))
    # ping-pong: A B A B A B
    for i in range(6):
        rows.append(("pp", i, "assistant", "ab"[i % 2], ""))
    turns = spark.createDataFrame(
        rows,
        "conv_id: string, turn_idx: int, role: string, text: string,"
        " tool: string",
    )
    out = {
        r["conv_id"]: r
        for r in conversation.agent_loops(
            turns, min_run=3, min_alt=6
        ).collect()
    }
    ok, stuck, pp = out["ok"], out["stuck"], out["pp"]
    assert (ok["max_run"], ok["period2_run"], ok["loop_flag"]) == (1, 2, False)
    assert (stuck["max_run"], stuck["loop_flag"]) == (5, True)
    # identical runs match period 2 as well, capped at n_turns
    assert stuck["period2_run"] == 5
    assert (pp["max_run"], pp["period2_run"], pp["loop_flag"]) == (1, 6, True)


# ------------------------------------------------ stream_agent_loops


def test_stream_agent_loops_split_invariance_and_batch_parity(
    spark, tmp_path
):
    """The streaming loop detector must (a) be invariant to micro-batch
    splits that cut straight through a loop run / a period-2 cycle and
    (b) reproduce the batch agent_loops output exactly (thresholds
    min_run=4 / min_alt=6 match the streaming module constants)."""
    import os

    import pandas as pd

    from engine.spark import streaming

    rows = []
    # stuck conv: one step repeated 7 times
    for i in range(7):
        rows.append(("stuck", i, "assistant", "retry", "browser"))
    # ping-pong: A B A B A B A B
    for i in range(8):
        rows.append(("pp", i, "assistant", "ab"[i % 2], ""))
    # healthy conv with a short 2-run
    for i, t in enumerate(["x", "x", "y", "z"]):
        rows.append(("ok", i, "assistant", t, ""))
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")

    one = str(tmp_path / "one")
    os.makedirs(one, exist_ok=True)
    pdf.to_parquet(os.path.join(one, "all.parquet"), index=False)
    got_one = streaming.stream_agent_loops(
        spark, one, str(tmp_path / "ck1"), sink_table="sloops_one"
    ).toPandas()

    # split files cut the stuck run at 3|4 and the cycle mid-period
    split = str(tmp_path / "split")
    os.makedirs(split, exist_ok=True)
    for i, (lo, hi) in enumerate([(0, 2), (3, 4), (5, 7)]):
        part = pdf[(pdf.turn_idx >= lo) & (pdf.turn_idx <= hi)]
        part.to_parquet(os.path.join(split, f"part-{i}.parquet"),
                        index=False)
    got_split = streaming.stream_agent_loops(
        spark, split, str(tmp_path / "ck2"), sink_table="sloops_split",
        max_files_per_trigger=1,
    ).toPandas()

    key = ["conv_id"]
    a = got_one.sort_values(key).reset_index(drop=True)
    b = got_split.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)

    # exact parity with the batch operator at the same thresholds
    sdf = spark.createDataFrame(pdf)
    batch = (
        conv.agent_loops(sdf, min_run=4, min_alt=6)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        a[batch.columns].astype(batch.dtypes.to_dict()), batch)

    r = a.set_index("conv_id")
    assert bool(r.loc["stuck", "loop_flag"]) is True
    assert int(r.loc["stuck", "max_run"]) == 7
    assert bool(r.loc["pp", "loop_flag"]) is True
    assert int(r.loc["pp", "period2_run"]) == 8
    assert bool(r.loc["ok", "loop_flag"]) is False
