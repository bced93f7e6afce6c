"""Spark pipeline vs sequential oracle — the BASELINE.json invariant:
per-turn text equality under stable ordering by (conv_id, turn_idx).
"""

import os
import shutil

import pandas as pd
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrameReader, DataFrameWriter
from pyspark.sql import functions as F

from engine import fixtures, oracle
from engine.core import parser, spec
from engine.spark import lineage, pipeline
from engine.spark.session import get_spark

N_CONVS = 40


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, shuffle_partitions=8, app="engine-tests")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def transcripts_pdf() -> pd.DataFrame:
    # skew_giant off: keeps unit tests fast; dedicated test covers it
    return fixtures.make_transcripts(n_convs=N_CONVS, seed=42, skew_giant=False)


@pytest.fixture(scope="module")
def transcripts_path(tmp_path_factory, transcripts_pdf) -> str:
    p = str(tmp_path_factory.mktemp("data") / "transcripts.parquet")
    transcripts_pdf.to_parquet(p, index=False)
    return p


@pytest.fixture(scope="module")
def golden(transcripts_pdf):
    rows = list(
        zip(transcripts_pdf["conv_id"], transcripts_pdf["turn_idx"],
            transcripts_pdf["text"])
    )
    return oracle.process_table([(c, int(t), str(x)) for c, t, x in rows])


def _spark_turns(spark, transcripts_path):
    df = spark.read.parquet(transcripts_path)
    return pipeline.extract_turns(df)


def test_per_turn_byte_equality(spark, transcripts_path, golden):
    got = (
        _spark_turns(spark, transcripts_path)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "markdown")
        .toPandas()
    )
    assert len(got) == len(golden)
    for (_, row), g in zip(got.iterrows(), golden):
        assert row["conv_id"] == g.conv_id and row["turn_idx"] == g.turn_idx
        if row["markdown"] != g.markdown:
            raise AssertionError(
                f"turn ({g.conv_id},{g.turn_idx}) mismatch:\n"
                f"SPARK:\n{row['markdown']!r}\nORACLE:\n{g.markdown!r}"
            )


def test_images_parity(spark, transcripts_path, golden):
    got = (
        pipeline.extract_images(_spark_turns(spark, transcripts_path))
        .orderBy("conv_id", "turn_idx", "img_idx")
        .toPandas()
    )
    want = []
    for g in golden:
        for i, (img_id, path) in enumerate(zip(g.image_ids, g.image_paths)):
            want.append((g.conv_id, g.turn_idx, i + 1, img_id, path))
    assert [tuple(r) for r in got.itertuples(index=False)] == want


def test_docs_parity(spark, transcripts_path, golden):
    got = (
        pipeline.extract_docs(_spark_turns(spark, transcripts_path))
        .orderBy("conv_id")
        .toPandas()
    )
    want = oracle.assemble_docs(golden)
    assert list(got["conv_id"]) == sorted(want)
    for _, row in got.iterrows():
        assert row["markdown"] == want[row["conv_id"]]


def test_docs_chunk_invariance(spark, transcripts_path):
    """output independent of the salting chunk size (2-phase concat)."""
    turns = _spark_turns(spark, transcripts_path)
    a = pipeline.extract_docs(turns, chunk=3).orderBy("conv_id").toPandas()
    b = pipeline.extract_docs(turns, chunk=1024).orderBy("conv_id").toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_spans_parity(spark, transcripts_path, golden):
    got = (
        pipeline.extract_spans(_spark_turns(spark, transcripts_path))
        .orderBy("conv_id", "turn_idx", "block_idx")
        .toPandas()
    )
    want = []
    for g in golden:
        for bi, b in enumerate(g.blocks):
            want.append(
                (g.conv_id, g.turn_idx, bi, b["block_type"], b["level"],
                 b["start"], b["end"], b["text"])
            )
    assert len(got) == len(want)
    got_t = [tuple(r) for r in got.itertuples(index=False)]
    assert got_t == want


def test_permutation_invariance(spark, transcripts_pdf, tmp_path):
    """shuffled input rows → identical ordered output."""
    shuf = transcripts_pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)
    p = str(tmp_path / "shuf.parquet")
    shuf.to_parquet(p, index=False)
    a = (
        _spark_turns(spark, p)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "markdown")
        .toPandas()
    )
    rows = [(c, int(t), str(x)) for c, t, x in
            zip(transcripts_pdf["conv_id"], transcripts_pdf["turn_idx"],
                transcripts_pdf["text"])]
    want = oracle.process_table(rows)
    assert list(a["markdown"]) == [g.markdown for g in want]


def test_resume_idempotency(spark, transcripts_path, tmp_path):
    """run-twice == run-once; second run processes 0 buckets."""
    out = str(tmp_path / "out")
    df = spark.read.parquet(transcripts_path)
    r1 = lineage.run_with_resume(spark, df, out, snapshot_id="snap-1",
                                 n_buckets=8)
    assert r1["buckets_processed"] > 0
    first = (
        spark.read.parquet(os.path.join(out, "turns"))
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "markdown")
        .toPandas()
    )
    r2 = lineage.run_with_resume(spark, df, out, snapshot_id="snap-1",
                                 n_buckets=8)
    assert r2["buckets_processed"] == 0
    second = (
        spark.read.parquet(os.path.join(out, "turns"))
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "markdown")
        .toPandas()
    )
    pd.testing.assert_frame_equal(first, second)
    assert r1["turns_total"] == r2["turns_total"]

    # docs survive and are complete
    docs = spark.read.parquet(os.path.join(out, "docs"))
    assert docs.select("conv_id").distinct().count() == N_CONVS


def test_resume_partial(spark, transcripts_path, tmp_path):
    """half the buckets pre-done → only the rest get processed, outputs
    complete afterwards."""
    out = str(tmp_path / "out2")
    df = spark.read.parquet(transcripts_path)
    half = lineage.with_part_hash(df, 8).filter("part_hash < 4")
    lineage.run_with_resume(spark, half.drop("part_hash"), out,
                            snapshot_id="snap-2", n_buckets=8)
    r = lineage.run_with_resume(spark, df, out, snapshot_id="snap-2",
                                n_buckets=8)
    assert 0 < r["buckets_processed"] <= 4
    got = spark.read.parquet(os.path.join(out, "turns")).count()
    assert got == df.count()


def test_resume_vanilla_session_and_spans(spark, transcripts_path, tmp_path):
    """run_with_resume must be self-contained: even if the session has
    the static partitionOverwriteMode default (a vanilla SparkSession),
    a partial-then-resume sequence must preserve previously committed
    buckets (it forces dynamic itself).  Also: the span table is written
    under the same lineage mechanism, partitioned by part_hash."""
    out = str(tmp_path / "out3")
    df = spark.read.parquet(transcripts_path)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        half = lineage.with_part_hash(df, 8).filter("part_hash < 4")
        lineage.run_with_resume(spark, half.drop("part_hash"), out,
                                snapshot_id="snap-3", n_buckets=8, spans=True)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
        r = lineage.run_with_resume(spark, df, out, snapshot_id="snap-3",
                                    n_buckets=8, spans=True)
        assert 0 < r["buckets_processed"] <= 4
        turns = spark.read.parquet(os.path.join(out, "turns"))
        assert turns.count() == df.count()
        assert r["turns_total"] == df.count()
        spans = spark.read.parquet(os.path.join(out, "spans"))
        assert "part_hash" in spans.columns
        # every non-empty-markdown turn contributes ≥1 block
        nonempty = turns.filter(F.length("markdown") > 0).count()
        assert spans.select("conv_id", "turn_idx").distinct().count() == nonempty
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_doc_join_separator(spark, transcripts_path):
    docs = pipeline.extract_docs(_spark_turns(spark, transcripts_path))
    row = docs.filter("conv_id = 'conv-00000001'").collect()[0]
    assert spec.DOC_JOIN in row["markdown"] or "\n" in row["markdown"]


def test_spans_backfill_on_completed_resume(spark, transcripts_path, tmp_path):
    """Re-running a COMPLETED extraction with spans=True must backfill the
    span table for already-done buckets (ADVICE r2: spans derived only
    from this run's delta came out empty on resume)."""
    out = str(tmp_path / "out4")
    df = spark.read.parquet(transcripts_path)
    lineage.run_with_resume(spark, df, out, snapshot_id="snap-4", n_buckets=8)
    # everything done; now ask for spans
    r = lineage.run_with_resume(spark, df, out, snapshot_id="snap-4",
                                n_buckets=8, spans=True)
    assert r["buckets_processed"] == 0
    turns = spark.read.parquet(os.path.join(out, "turns"))
    spans = spark.read.parquet(os.path.join(out, "spans"))
    nonempty = turns.filter(F.length("markdown") > 0).count()
    assert spans.select("conv_id", "turn_idx").distinct().count() == nonempty
    assert r["turns_total"] == df.count()


def test_resume_empty_input(spark, tmp_path):
    """Fresh run over an empty input: no lineage yet → must return zeros,
    not raise (ADVICE r2: read_lineage None → AttributeError)."""
    out = str(tmp_path / "out5")
    schema = "conv_id string, turn_idx int, text string"
    empty = spark.createDataFrame([], schema=schema)
    r = lineage.run_with_resume(spark, empty, out, snapshot_id="snap-5",
                                n_buckets=8)
    assert r == {"buckets_processed": 0, "turns_total": 0}


def test_resume_does_not_mutate_session_conf(spark, transcripts_path, tmp_path):
    """The overwrite mode is a per-write option, not a session mutation
    (ADVICE r2: later callers' partitioned overwrites silently became
    partial)."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        df = spark.read.parquet(transcripts_path)
        lineage.run_with_resume(spark, df, str(tmp_path / "out6"),
                                snapshot_id="snap-6", n_buckets=8)
        assert (
            spark.conf.get("spark.sql.sources.partitionOverwriteMode")
            == "static"
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_concurrent_lineage_double_mark_exact(spark, transcripts_path, tmp_path):
    """Two drivers racing on the same snapshot (simulated: two force=True
    runs both append lineage for every bucket) must keep turns_total
    exact — max(turn_count) per bucket, never a double count."""
    out = str(tmp_path / "out7")
    df = spark.read.parquet(transcripts_path)
    r1 = lineage.run_with_resume(spark, df, out, snapshot_id="snap-7",
                                 n_buckets=8, force=True, run_id="driver-a")
    r2 = lineage.run_with_resume(spark, df, out, snapshot_id="snap-7",
                                 n_buckets=8, force=True, run_id="driver-b")
    n = df.count()
    assert r1["turns_total"] == n and r2["turns_total"] == n
    lin = spark.read.parquet(os.path.join(out, "_lineage"))
    # both runs recorded per-bucket rows under their own run_id
    assert lin.select("run_id").distinct().count() == 2
    per_bucket = lin.groupBy("part_hash").count()
    assert per_bucket.filter("count <> 2").count() == 0


def test_stale_snapshot_buckets_not_folded_in(spark, transcripts_path, tmp_path):
    """An output dir reused across snapshots: buckets left by an older
    snapshot (absent from the new input) must not inflate the new
    snapshot's lineage or docs (ADVICE r2)."""
    out = str(tmp_path / "out8")
    df = spark.read.parquet(transcripts_path)
    lineage.run_with_resume(spark, df, out, snapshot_id="snap-8a", n_buckets=8)
    # new snapshot = only half the buckets' conversations
    half = lineage.with_part_hash(df, 8).filter("part_hash < 4").drop("part_hash")
    r = lineage.run_with_resume(spark, half, out, snapshot_id="snap-8b",
                                n_buckets=8)
    assert r["turns_total"] == half.count()
    lin = spark.read.parquet(os.path.join(out, "_lineage"))
    snap_b = lin.filter("input_snapshot_id = 'snap-8b'")
    assert snap_b.filter("part_hash >= 4").count() == 0


def test_translate_stage_under_lineage(spark, transcripts_path, tmp_path):
    """--translate writes per-conversation translated docs under the same
    backfill-aware lineage coverage as spans: present after a fresh run,
    and backfilled when requested on an already-completed extraction."""
    out = str(tmp_path / "out9")
    df = spark.read.parquet(transcripts_path)
    lineage.run_with_resume(spark, df, out, snapshot_id="snap-9", n_buckets=8)
    # completed run; now ask for translated docs (backfill path)
    r = lineage.run_with_resume(spark, df, out, snapshot_id="snap-9",
                                n_buckets=8, translate=True)
    assert r["buckets_processed"] == 0
    td = spark.read.parquet(os.path.join(out, "docs_translated"))
    assert td.select("conv_id").distinct().count() == N_CONVS
    row = td.orderBy("conv_id").first()
    assert "> [translated zh-TW]" in row["markdown"]


def test_detect_changes_incremental(spark, transcripts_pdf, tmp_path):
    """Content-addressed resume: identical content under a NEW snapshot
    id reprocesses nothing; editing one conversation reprocesses exactly
    that conversation's bucket, and the committed output reflects the
    edit."""
    out = str(tmp_path / "outA")
    p1 = str(tmp_path / "in1.parquet")
    transcripts_pdf.to_parquet(p1, index=False)
    df1 = spark.read.parquet(p1)
    r1 = lineage.run_with_resume(spark, df1, out, snapshot_id="s1",
                                 n_buckets=8, detect_changes=True)
    assert r1["buckets_processed"] > 0
    assert r1["turns_total"] == len(transcripts_pdf)

    # same content, different snapshot id → nothing to do
    r2 = lineage.run_with_resume(spark, df1, out, snapshot_id="s2",
                                 n_buckets=8, detect_changes=True)
    assert r2["buckets_processed"] == 0
    assert r2["turns_total"] == len(transcripts_pdf)

    # edit ONE conversation
    edited = transcripts_pdf.copy()
    victim = edited["conv_id"].iloc[0]
    mask = (edited["conv_id"] == victim) & (edited["turn_idx"] == 0)
    edited.loc[mask, "text"] = "# EDITED HEADLINE\n\nnew body text here"
    p2 = str(tmp_path / "in2.parquet")
    edited.to_parquet(p2, index=False)
    df2 = spark.read.parquet(p2)

    victim_bucket = (
        lineage.with_part_hash(df2.filter(F.col("conv_id") == victim), 8)
        .select("part_hash").first()["part_hash"]
    )
    n_victim_bucket = (
        lineage.with_part_hash(df2, 8)
        .filter(F.col("part_hash") == victim_bucket).count()
    )
    r3 = lineage.run_with_resume(spark, df2, out, snapshot_id="s3",
                                 n_buckets=8, detect_changes=True)
    assert r3["buckets_processed"] == 1
    assert r3["turns_total"] == len(transcripts_pdf)

    turns = spark.read.parquet(os.path.join(out, "turns"))
    got = turns.filter(
        (F.col("conv_id") == victim) & (F.col("turn_idx") == 0)
    ).first()
    assert got["markdown"].startswith("# EDITED HEADLINE")
    # untouched buckets were not rewritten; total row count intact
    assert turns.count() == len(transcripts_pdf)
    # lineage recorded the victim bucket's new signature
    lin = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "_lineage"))
    sigs = (lin.filter(F.col("part_hash") == victim_bucket)
            .select("bucket_sig").distinct().count())
    assert sigs == 2  # old content sig + new content sig
    _ = n_victim_bucket  # bucket size sanity (≥ 1 victim conv)


def test_cdc_read_and_compaction(spark, transcripts_pdf, tmp_path):
    """Incremental-consumption surface: changed_buckets_since returns
    exactly the buckets a later run rewrote (partition-pruned read),
    and compact_turns collapses multi-file bucket partitions to one
    file each without changing a byte of content."""
    import time as _time

    out = str(tmp_path / "outC")
    # multi-partition input → the extraction write leaves several files
    # per bucket partition (one per task per bucket)
    df = spark.read.parquet(
        transcripts_pdf.pipe(_write_parts, tmp_path)
    )
    lineage.run_with_resume(spark, df, out, snapshot_id="c1", n_buckets=4,
                            detect_changes=True)
    cursor = _time.time()

    # no change → no CDC output
    assert lineage.changed_buckets_since(spark, out, cursor) == []
    assert lineage.read_turns_since(spark, out, cursor).count() == 0

    # edit one conversation → its bucket (only) shows up after the cursor
    edited = transcripts_pdf.copy()
    victim = edited["conv_id"].iloc[0]
    mask = (edited["conv_id"] == victim) & (edited["turn_idx"] == 0)
    edited.loc[mask, "text"] = "changed body"
    p2 = str(tmp_path / "cdc2.parquet")
    edited.to_parquet(p2, index=False)
    lineage.run_with_resume(spark, spark.read.parquet(p2), out,
                            snapshot_id="c2", n_buckets=4,
                            detect_changes=True)
    changed = lineage.changed_buckets_since(spark, out, cursor)
    vb = (
        lineage.with_part_hash(
            spark.read.parquet(p2).filter(F.col("conv_id") == victim), 4)
        .select("part_hash").first()["part_hash"]
    )
    assert changed == [vb]
    delta = lineage.read_turns_since(spark, out, cursor)
    assert delta.select("part_hash").distinct().collect()[0][0] == vb

    # compaction: byte-identical content, fewer (or equal) files, ≤ 1
    # file per bucket after
    pre = (
        spark.read.parquet(os.path.join(out, "turns"))
        .orderBy("conv_id", "turn_idx").toPandas()
    )
    r = lineage.compact_turns(spark, out)
    assert r["files_after"] <= r["files_before"]
    assert r["files_after"] == _n_partitions(out, "turns")
    post = (
        spark.read.parquet(os.path.join(out, "turns"))
        .orderBy("conv_id", "turn_idx").toPandas()
    )
    pd.testing.assert_frame_equal(pre, post)


def _write_parts(pdf, tmp_path):
    """Write the fixture as 4 separate parquet files (4 input tasks)."""
    d = str(tmp_path / "multi_in")
    os.makedirs(d, exist_ok=True)
    n = len(pdf) // 4 + 1
    for i in range(4):
        chunk = pdf.iloc[i * n:(i + 1) * n]
        if len(chunk):
            chunk.to_parquet(os.path.join(d, f"part-{i}.parquet"), index=False)
    return d


def test_input_robustness_nulls_and_schema_drift(spark):
    """Real transcript tables drift: null text rows must flow through as
    empty markdown (not crash the Arrow batch), and extra columns /
    missing optional columns (role/tool/ts) must be ignored — the
    pipeline contracts only on (conv_id, turn_idx, text)."""
    rows = [
        ("c1", 0, "# Title\n\nbody", "user", "extra"),
        ("c1", 1, None, "assistant", "extra"),
        ("c2", 0, "", None, "x"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, role string, "
              "unexpected_col string"
    )
    out = pipeline.extract_turns(df).orderBy("conv_id", "turn_idx").collect()
    assert len(out) == 3
    assert out[0]["markdown"].startswith("# Title")
    assert out[1]["markdown"] == ""   # null text → empty markdown
    assert out[2]["markdown"] == ""
    # docs still assemble (empty turns contribute empty segments)
    docs = pipeline.extract_docs(pipeline.extract_turns(df))
    assert docs.count() == 2


def test_lineage_summary(spark, transcripts_path, tmp_path):
    """One row per bucket with its LATEST completed run; n_runs counts
    history."""
    out = str(tmp_path / "outS")
    df = spark.read.parquet(transcripts_path)
    lineage.run_with_resume(spark, df, out, snapshot_id="sA", n_buckets=8)
    lineage.run_with_resume(spark, df, out, snapshot_id="sB", n_buckets=8,
                            force=True)
    s = lineage.lineage_summary(spark, out).toPandas()
    assert (s["snapshot_id"] == "sB").all()      # latest wins
    assert (s["n_runs"] == 2).all()
    assert s["turn_count"].sum() == df.count()
    assert s["bucket_sig"].notna().all()


def test_dedup_and_quarantine_stages(spark, transcripts_pdf, tmp_path):
    """--dedup / --quarantine stages: incremental fingerprints + global
    exact-dup clusters, and the diverted-rows error channel — both under
    the same lineage coverage as spans."""
    # plant: an exact duplicate of one conversation under a new conv_id,
    # and a conversation with quarantine-able turns
    src = transcripts_pdf.copy()
    dup_conv = src["conv_id"].iloc[0]
    dup = src[src["conv_id"] == dup_conv].copy()
    dup["conv_id"] = "zz-dup-conv"
    bad = pd.DataFrame(
        {
            "conv_id": ["zz-bad", "zz-bad"],
            "turn_idx": [0, 1],
            "role": ["user", "user"],
            "text": ["   ", "<div>  </div>"],
            "tool": ["", ""],
            "ts": [src["ts"].iloc[0]] * 2,
        }
    )
    full = pd.concat([src, dup, bad], ignore_index=True)
    full["ts"] = full["ts"].dt.as_unit("us")  # concat upcasts to ns
    p = str(tmp_path / "t.parquet")
    full.to_parquet(p, index=False)
    df = spark.read.parquet(p)
    out = str(tmp_path / "out")

    r1 = lineage.run_with_resume(
        spark, df, out, snapshot_id="snap-dq", n_buckets=8,
        dedup=True, quarantine=True,
    )
    assert r1["buckets_processed"] > 0

    qr = spark.read.parquet(os.path.join(out, "quarantine"))
    got = {
        (r["conv_id"], r["turn_idx"]): r["reason"] for r in qr.collect()
    }
    assert got[("zz-bad", 0)] == "empty_payload"
    assert got[("zz-bad", 1)] == "empty_extraction"
    # every other quarantined row must be a genuinely blank payload in
    # the input (the fixture corpus plants some naturally)
    blanks = {
        (r.conv_id, int(r.turn_idx))
        for r in full.itertuples()
        if r.text is None or not str(r.text).strip()
    }
    extras = {k for k in got if k != ("zz-bad", 1)}
    assert extras == blanks
    assert all(got[k] == "empty_payload" for k in extras)

    clusters = spark.read.parquet(os.path.join(out, "dup_clusters"))
    rows = clusters.collect()
    assert len(rows) >= 1
    planted = [r for r in rows if r["n_members"] >= 2]
    assert any(
        r["keep_conv_id"] in (dup_conv, "zz-dup-conv") for r in planted
    )
    fps = spark.read.parquet(os.path.join(out, "fingerprints"))
    n_docs_total = df.select("conv_id").distinct().count()
    assert fps.count() == n_docs_total

    # resume: second run reprocesses nothing, derived tables unchanged
    r2 = lineage.run_with_resume(
        spark, df, out, snapshot_id="snap-dq", n_buckets=8,
        dedup=True, quarantine=True,
    )
    assert r2["buckets_processed"] == 0
    assert spark.read.parquet(os.path.join(out, "fingerprints")).count() == n_docs_total
    assert (
        spark.read.parquet(os.path.join(out, "quarantine")).count() == len(got)
    )


def test_dedup_quarantine_backfill_on_completed_run(spark, transcripts_pdf, tmp_path):
    """A completed extraction re-run with the flags newly enabled must
    backfill fingerprints/quarantine for already-done buckets (same rule
    as spans backfill)."""
    p = str(tmp_path / "t.parquet")
    transcripts_pdf.to_parquet(p, index=False)
    df = spark.read.parquet(p)
    out = str(tmp_path / "out")
    lineage.run_with_resume(spark, df, out, snapshot_id="s", n_buckets=8)
    r = lineage.run_with_resume(
        spark, df, out, snapshot_id="s", n_buckets=8,
        dedup=True, quarantine=True,
    )
    assert r["buckets_processed"] == 0  # extraction already done
    assert os.path.exists(os.path.join(out, "fingerprints"))
    fps = spark.read.parquet(os.path.join(out, "fingerprints"))
    assert fps.count() == df.select("conv_id").distinct().count()
    # backfilled quarantine covers exactly the corpus's natural blanks
    n_blanks = int(
        (
            transcripts_pdf["text"].isna()
            | (transcripts_pdf["text"].astype(str).str.strip() == "")
        ).sum()
    )
    qr = spark.read.parquet(os.path.join(out, "quarantine"))
    assert qr.count() == n_blanks
    assert qr.where(F.col("reason") != "empty_payload").count() == 0


def _hostile_corpus(transcripts_pdf) -> pd.DataFrame:
    """The fixture corpus plus q_quarantine's hostile payloads: null,
    empty, spaces, tab/newline, NBSP and tag-only HTML, next to a kept
    HTML row."""
    texts = [None, "", "   ", "\t\n", "\u00a0", "<div>  </div>", "<p>kept</p>"]
    bad = pd.DataFrame(
        {
            "conv_id": [f"zz-bad-{i % 3}" for i in range(len(texts))],
            "turn_idx": list(range(len(texts))),
            "role": ["user"] * len(texts),
            "text": texts,
            "tool": [""] * len(texts),
            "ts": [transcripts_pdf["ts"].iloc[0]] * len(texts),
        }
    )
    full = pd.concat([transcripts_pdf, bad], ignore_index=True)
    full["ts"] = full["ts"].dt.as_unit("us")  # concat upcasts to ns
    return full


def _quarantine_rows(df) -> list:
    return sorted(
        tuple(r) for r in df.select("conv_id", "turn_idx", "reason").collect()
    )


def test_quarantine_stage_equals_pipeline_quarantine(
    spark, transcripts_pdf, tmp_path
):
    """The single-parse quarantine stage writes exactly
    pipeline.quarantine(input) on the fresh, backfill and one-bucket
    detect_changes paths."""
    full = _hostile_corpus(transcripts_pdf)
    p1 = str(tmp_path / "in1.parquet")
    full.to_parquet(p1, index=False)
    df1 = spark.read.parquet(p1)
    want1 = _quarantine_rows(pipeline.quarantine(df1))
    assert {r[2] for r in want1} == {"empty_payload", "empty_extraction"}

    def got(out):
        return _quarantine_rows(
            spark.read.parquet(os.path.join(out, "quarantine"))
        )

    fresh = str(tmp_path / "fresh")
    r = lineage.run_with_resume(spark, df1, fresh, snapshot_id="s",
                                n_buckets=8, quarantine=True)
    assert r["buckets_processed"] > 0
    assert got(fresh) == want1

    backfill = str(tmp_path / "backfill")
    lineage.run_with_resume(spark, df1, backfill, snapshot_id="s", n_buckets=8)
    r = lineage.run_with_resume(spark, df1, backfill, snapshot_id="s",
                                n_buckets=8, quarantine=True)
    assert r["buckets_processed"] == 0
    assert got(backfill) == want1

    out = str(tmp_path / "detect")
    lineage.run_with_resume(spark, df1, out, snapshot_id="d1", n_buckets=8,
                            quarantine=True, detect_changes=True)
    # one bucket's edit: the kept row turns tag-only, a blank row gets text
    edited = full.copy()
    kept = (edited["conv_id"] == "zz-bad-0") & (edited["turn_idx"] == 6)
    blank = (edited["conv_id"] == "zz-bad-0") & (edited["turn_idx"] == 3)
    edited.loc[kept, "text"] = "<span></span>"
    edited.loc[blank, "text"] = "now has text"
    p2 = str(tmp_path / "in2.parquet")
    edited.to_parquet(p2, index=False)
    df2 = spark.read.parquet(p2)
    r = lineage.run_with_resume(spark, df2, out, snapshot_id="d2",
                                n_buckets=8, quarantine=True,
                                detect_changes=True)
    assert r["buckets_processed"] == 1
    want2 = _quarantine_rows(pipeline.quarantine(df2))
    assert want2 != want1
    assert got(out) == want2


@pytest.mark.parametrize("detect_changes", [False, True])
def test_input_stage_on_half_input_leaves_other_half_stale(
    spark, transcripts_pdf, tmp_path, detect_changes
):
    """A stage built from the input, run over half the input, records
    only the buckets that half holds: the next full-input run still
    builds the other half, so quarantine ends equal to
    pipeline.quarantine over the full input."""
    p = str(tmp_path / "in.parquet")
    _hostile_corpus(transcripts_pdf).to_parquet(p, index=False)
    df = spark.read.parquet(p)
    odd = "part_hash % 2 = 1"
    half = lineage.with_part_hash(df, 8).filter(odd).drop("part_hash")
    want = pipeline.quarantine(df)
    assert lineage.with_part_hash(want, 8).filter(f"NOT ({odd})").count() > 0
    out = str(tmp_path / "out")
    kw = dict(n_buckets=8, detect_changes=detect_changes)
    lineage.run_with_resume(spark, df, out, snapshot_id="s1", **kw)
    snap = "s1" if not detect_changes else "s2"
    r = lineage.run_with_resume(spark, half, out, snapshot_id=snap,
                                quarantine=True, **kw)
    assert r["buckets_processed"] == 0
    snap = "s1" if not detect_changes else "s3"
    r = lineage.run_with_resume(spark, df, out, snapshot_id=snap,
                                quarantine=True, **kw)
    assert r["buckets_processed"] == 0
    got = spark.read.parquet(os.path.join(out, "quarantine"))
    assert _quarantine_rows(got) == _quarantine_rows(want)


def test_quarantine_stage_runs_no_python_udf(spark, transcripts_path, tmp_path):
    """The quarantine stage's executed plan has no Python-UDF node: the
    payloads are parsed once, by the turns write."""
    out = str(tmp_path / "out")
    df = spark.read.parquet(transcripts_path)
    lineage.run_with_resume(spark, df, out, snapshot_id="s", n_buckets=8)
    committed = spark.read.parquet(os.path.join(out, "turns"))

    def executed_plan(q):
        q.collect()
        return q._jdf.queryExecution().executedPlan().toString()

    stage = executed_plan(lineage.quarantine_from_turns(df, committed))
    assert "Join" in stage, stage
    for node in ("ArrowEvalPython", "BatchEvalPython"):
        assert node not in stage, stage
    # the check sees the node where a parse does run
    assert "ArrowEvalPython" in executed_plan(pipeline.quarantine(df))


def test_lineage_counts_equal_committed_turns(spark, transcripts_path, tmp_path):
    """Lineage turn/conv/image counts equal a groupBy over the committed
    turns, and each bucket's signature equals that of its input rows."""
    out = str(tmp_path / "out")
    df = spark.read.parquet(transcripts_path)
    lineage.run_with_resume(spark, df, out, snapshot_id="s", n_buckets=8)
    counts = (
        spark.read.parquet(os.path.join(out, "turns"))
        .groupBy("part_hash")
        .agg(
            F.count("*").alias("turn_count"),
            F.countDistinct("conv_id").alias("conv_count"),
            F.sum(F.size("images")).alias("image_count"),
        )
    )
    sigs = (
        lineage.with_part_hash(df, 8)
        .groupBy("part_hash")
        .agg(F.bit_xor(F.xxhash64("conv_id", "turn_idx", "text")).alias("sig"))
    )
    want = sorted(tuple(r) for r in counts.join(sigs, "part_hash").collect())
    assert len(want) > 1 and sum(r[3] for r in want) > 0
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, "_lineage"))
        .select("part_hash", "turn_count", "conv_count", "image_count",
                "bucket_sig")
        .collect()
    )
    assert got == want


def test_lineage_one_file_per_run(spark, transcripts_path, tmp_path):
    """Each run appends its lineage rows as one parquet file."""
    out = str(tmp_path / "out")
    lin = os.path.join(out, "_lineage")
    df = spark.read.parquet(transcripts_path)

    def n_files():
        return sum(f.endswith(".parquet") for f in os.listdir(lin))

    for i in (1, 2):
        r = lineage.run_with_resume(spark, df, out, snapshot_id="s",
                                    n_buckets=8, force=True)
        assert r["buckets_processed"] > 1
        assert n_files() == i


def _table_rows(spark, path, drop=()):
    df = spark.read.parquet(path).drop(*drop)
    return sorted(repr(tuple(r)) for r in df.collect())


def test_read_lineage_once_per_job(spark, transcripts_path, tmp_path,
                                   monkeypatch):
    """Every resume mode reads the lineage table at most once: the state
    at job start decides the skipped buckets and, with this run's rows,
    the turn total."""
    out = str(tmp_path / "out")
    df = spark.read.parquet(transcripts_path)
    real = lineage.read_lineage
    calls = []

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(lineage, "read_lineage", counting)
    edited = lineage.with_part_hash(df, 8).withColumn(
        "text",
        F.when(F.col("part_hash") == 0, F.concat("text", F.lit(" edit")))
        .otherwise(F.col("text")),
    ).drop("part_hash")
    n = df.count()
    for kw, processed in (
        (dict(), 8),                                   # fresh
        (dict(), 0),                                   # no-op resume
        (dict(force=True), 8),                         # force
        (dict(detect_changes=True, snapshot_id="e"), 1),  # one-bucket edit
    ):
        calls.clear()
        src = edited if kw.get("detect_changes") else df
        r = lineage.run_with_resume(
            spark, src, out, **{"snapshot_id": "s", "n_buckets": 8, **kw}
        )
        assert r == {"buckets_processed": processed, "turns_total": n}
        assert len(calls) <= 1, kw


def test_force_subset_keeps_snapshot_total(spark, transcripts_path, tmp_path):
    """A forced re-run over half the input under the same snapshot still
    reports every bucket the snapshot has completed."""
    out = str(tmp_path / "out")
    df = spark.read.parquet(transcripts_path)
    full = lineage.run_with_resume(spark, df, out, snapshot_id="s", n_buckets=8)
    half = lineage.with_part_hash(df, 8).filter("part_hash < 4").drop("part_hash")
    r = lineage.run_with_resume(spark, half, out, snapshot_id="s", n_buckets=8,
                                force=True)
    assert 0 < r["buckets_processed"] < full["buckets_processed"]
    assert r["turns_total"] == full["turns_total"] == df.count()


def test_unknown_stage_flag_raises(spark, transcripts_path, tmp_path):
    """A keyword that names no stage flag is refused before anything is
    written."""
    out = str(tmp_path / "out")
    with pytest.raises(TypeError, match="spanz"):
        lineage.run_with_resume(
            spark, spark.read.parquet(transcripts_path), out, snapshot_id="s",
            n_buckets=8, spanz=True,
        )
    assert not os.path.exists(out)


def test_lineage_files_without_sig_or_ts(spark, transcripts_path, tmp_path):
    """Lineage files written before bucket_sig/ts existed still mark their
    buckets done for their snapshot, and never count as the latest run of
    a bucket for detect_changes."""
    out = str(tmp_path / "out")
    df = spark.read.parquet(transcripts_path)
    r1 = lineage.run_with_resume(spark, df, out, snapshot_id="s", n_buckets=8)
    lin = os.path.join(out, "_lineage")
    old = lineage.read_lineage(spark, out).toPandas()
    for f in os.listdir(lin):
        os.remove(os.path.join(lin, f))
    old.drop(columns=["bucket_sig", "ts"]).to_parquet(
        os.path.join(lin, "old.parquet"), index=False
    )
    assert "bucket_sig" not in lineage.read_lineage(spark, out).columns
    assert lineage.run_with_resume(spark, df, out, snapshot_id="s",
                                   n_buckets=8) == {
        "buckets_processed": 0, "turns_total": r1["turns_total"]}
    r = lineage.run_with_resume(spark, df, out, snapshot_id="t", n_buckets=8,
                                detect_changes=True)
    assert r == {"buckets_processed": 8, "turns_total": r1["turns_total"]}
    merged = lineage.read_lineage(spark, out)
    assert merged.filter(F.col("bucket_sig").isNull()).count() == 8


def test_read_lineage_without_files(spark, tmp_path):
    """An output dir whose _lineage holds no parquet file has no lineage."""
    out = str(tmp_path / "out")
    assert lineage.read_lineage(spark, out) is None
    os.makedirs(os.path.join(out, "_lineage"))
    open(os.path.join(out, "_lineage", "_SUCCESS"), "w").close()
    assert lineage.read_lineage(spark, out) is None


def test_unreadable_lineage_file_fails_the_job(spark, transcripts_path,
                                               tmp_path):
    """A file in _lineage that is not parquet fails the job before it
    writes anything; it is not read as "no lineage", which would
    reprocess every bucket and append another file on every run."""
    out = str(tmp_path / "out")
    df = spark.read.parquet(transcripts_path)
    lineage.run_with_resume(spark, df, out, snapshot_id="s", n_buckets=8)
    lin = os.path.join(out, "_lineage")
    with open(os.path.join(lin, "copied.parquet"), "w") as f:
        f.write("not a parquet file")
    before = sorted(os.listdir(lin))
    with pytest.raises(Py4JJavaError):
        lineage.run_with_resume(spark, df, out, snapshot_id="s", n_buckets=8)
    assert sorted(os.listdir(lin)) == before


def _n_partitions(out, table):
    path = os.path.join(out, table)
    return sum(d.startswith("part_hash=") for d in os.listdir(path))


def test_stage_rebuilt_after_edit_without_it(spark, transcripts_pdf,
                                             tmp_path):
    """A bucket re-extracted by a run without the spans stage gets its
    spans rebuilt the next time the stage runs: an existing partition
    built from older turns is not current."""
    out = str(tmp_path / "out")
    p1, p2 = str(tmp_path / "in1.parquet"), str(tmp_path / "in2.parquet")
    transcripts_pdf.to_parquet(p1, index=False)
    edited = transcripts_pdf.copy()
    mask = (edited["conv_id"] == edited["conv_id"].iloc[0]) & (
        edited["turn_idx"] == 0
    )
    edited.loc[mask, "text"] = "# EDITED HEADLINE\n\nnew body text here"
    edited.to_parquet(p2, index=False)
    kw = dict(n_buckets=8, detect_changes=True)
    lineage.run_with_resume(spark, spark.read.parquet(p1), out,
                            snapshot_id="s1", spans=True, **kw)
    df2 = spark.read.parquet(p2)
    r = lineage.run_with_resume(spark, df2, out, snapshot_id="s2", **kw)
    assert r["buckets_processed"] == 1
    r = lineage.run_with_resume(spark, df2, out, snapshot_id="s3",
                                spans=True, **kw)
    assert r["buckets_processed"] == 0

    turns = spark.read.parquet(os.path.join(out, "turns"))
    spans = spark.read.parquet(os.path.join(out, "spans")).drop("part_hash")
    want = pipeline.extract_spans(turns).select(*spans.columns)
    assert sorted(map(repr, map(tuple, spans.collect()))) == sorted(
        map(repr, map(tuple, want.collect()))
    )


@pytest.mark.parametrize(
    "stages",
    [
        pytest.param(("spans", "quarantine"), id="spans+quarantine"),
        pytest.param(
            ("spans", "quarantine", "dedup", "near_dup", "line_dedup"),
            id="publishing",
        ),
    ],
)
def test_noop_resume_reads_only_lineage(spark, transcripts_path, tmp_path,
                                        monkeypatch, stages):
    """A no-op resume whose stages are all current opens no table but the
    lineage and appends nothing, also when the quarantine table is sparse
    (buckets without diverted rows have no partition) and when a stage
    publishes a global table."""
    out = str(tmp_path / "out")
    df = spark.read.parquet(transcripts_path)
    kw = dict(snapshot_id="s", n_buckets=64, **dict.fromkeys(stages, True))
    lineage.run_with_resume(spark, df, out, **kw)
    assert 0 < _n_partitions(out, "quarantine") < _n_partitions(out, "turns")
    lin = os.path.join(out, "_lineage")
    files = sorted(os.listdir(lin))

    real = DataFrameReader.parquet
    paths = []

    def recording(self, *p, **k):
        paths.extend(p)
        return real(self, *p, **k)

    monkeypatch.setattr(DataFrameReader, "parquet", recording)
    r = lineage.run_with_resume(spark, df, out, **kw)
    assert r["buckets_processed"] == 0
    assert paths and all(os.path.dirname(p) == lin for p in paths), paths
    assert sorted(os.listdir(lin)) == files


def test_missing_published_table_is_republished(spark, transcripts_path,
                                                tmp_path):
    """A no-op resume rewrites a publishing stage's global table when the
    table is missing, equal to the one it replaces."""
    out = str(tmp_path / "out")
    df = spark.read.parquet(transcripts_path)
    kw = dict(snapshot_id="s", n_buckets=8, dedup=True)
    lineage.run_with_resume(spark, df, out, **kw)
    clusters = os.path.join(out, "dup_clusters")
    ref = _table_rows(spark, clusters)
    shutil.rmtree(clusters)
    assert lineage.run_with_resume(spark, df, out, **kw)["buckets_processed"] == 0
    assert _table_rows(spark, clusters) == ref


def test_dir_without_stage_rows_rebuilds_stages_once(spark, transcripts_path,
                                                     tmp_path):
    """An output dir whose lineage holds only 'done' rows (written before
    stages were recorded) rebuilds an enabled stage for every bucket
    once, records it, and builds it for none on the next run."""
    out = str(tmp_path / "out")
    df = spark.read.parquet(transcripts_path)
    kw = dict(snapshot_id="s", n_buckets=8, spans=True)
    lineage.run_with_resume(spark, df, out, **kw)
    lin = os.path.join(out, "_lineage")
    done = lineage.read_lineage(spark, out).where("status = 'done'").toPandas()
    for f in os.listdir(lin):
        os.remove(os.path.join(lin, f))
    done.to_parquet(os.path.join(lin, "old.parquet"), index=False)
    spans = os.path.join(out, "spans")
    ref = _table_rows(spark, spans)

    def spans_rows():
        return lineage.read_lineage(spark, out).where("status = 'spans'").count()

    assert spans_rows() == 0
    assert lineage.run_with_resume(spark, df, out, **kw)["buckets_processed"] == 0
    assert spans_rows() == len(done) == 8
    assert _table_rows(spark, spans) == ref
    files = sorted(os.listdir(lin))
    lineage.run_with_resume(spark, df, out, **kw)
    assert sorted(os.listdir(lin)) == files


@pytest.mark.parametrize(
    "crash_in", ["extract_docs", "extract_spans", "lineage_append"]
)
def test_crash_then_rerun_equals_clean_run(spark, transcripts_path, tmp_path,
                                           monkeypatch, crash_in):
    """A job that dies after committing turns (and docs) but before its
    lineage append completes — in docs, in a stage, or in the append
    itself, after every table is written — re-run with the same
    arguments, leaves the same tables, result and lineage rows as one
    clean run."""
    df = spark.read.parquet(transcripts_path)
    kw = dict(snapshot_id="s", n_buckets=8, spans=True, quarantine=True)
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    want = lineage.run_with_resume(spark, df, clean, **kw)

    append = crash_in == "lineage_append"
    owner, name = (DataFrameWriter, "parquet") if append else (pipeline, crash_in)
    real = getattr(owner, name)
    calls = []

    def crash_once(*a, **k):
        # the append is the job's one write to the _lineage path
        if not append or str(a[1]).endswith("_lineage"):
            calls.append(1)
            if len(calls) == 1:
                raise RuntimeError("injected crash")
        return real(*a, **k)

    monkeypatch.setattr(owner, name, crash_once)
    with pytest.raises(RuntimeError, match="injected crash"):
        lineage.run_with_resume(spark, df, crashed, **kw)
    assert os.path.isdir(os.path.join(crashed, "turns"))
    assert lineage.read_lineage(spark, crashed) is None

    assert lineage.run_with_resume(spark, df, crashed, **kw) == want
    for table in ("turns", "docs", "spans", "quarantine"):
        assert _table_rows(spark, os.path.join(crashed, table)) == _table_rows(
            spark, os.path.join(clean, table)
        ), table
    lin = [os.path.join(d, "_lineage") for d in (crashed, clean)]
    got, ref = (_table_rows(spark, p, drop=("run_id", "ts")) for p in lin)
    n_done = spark.read.parquet(lin[0]).where("status = 'done'").count()
    assert got == ref and n_done == want["buckets_processed"] == 8


def test_doc_content_strips_what_the_literal_stripped(spark):
    """The OCR-block pattern built from spec.OCR_BLOCK_PREFIX/SUFFIX
    strips exactly what the hard-coded literal it replaced stripped."""
    literal = r"(?s)> 📄 Image OCR Result:\n\n```json\n.*?\n```"
    embed = r"!\[[^\]]*\]\([^)]*\)"
    blocks = [
        spec.ocr_block("img-1", spec.ocr_json_text("c1", 0, "img-1")),
        spec.ocr_block("img-2", '{\n  "a": "``` inside"\n}'),
        spec.ocr_block("x.png", ""),
    ]
    texts = [
        "before" + blocks[0] + "\nafter",
        blocks[0] + blocks[1] + "\n\ntail " + blocks[2],
        "no block here ![alt](p.png) > 📄 Image OCR Result: unfenced",
        "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "md string")
    rows = df.select(
        lineage.doc_content(F.col("md")).alias("got"),
        F.regexp_replace(
            F.regexp_replace("md", literal, ""), embed, ""
        ).alias("want"),
    ).collect()
    assert [r["got"] for r in rows] == [r["want"] for r in rows]
    assert "Image OCR Result" not in rows[0]["got"]
    assert rows[0]["got"].startswith("before") and rows[0]["got"].endswith("after")


@pytest.mark.parametrize("depth", [500, 1_000, 100_000])
def test_deep_json_nesting(spark, depth):
    """Tool JSON nested deeper than spec.JSON_MAX_DEPTH gets the
    reference's error-wrapped JSON, not a RecursionError, from the
    parser, the oracle and extract_turns alike; up to the bound it is
    pretty-printed.  The bound holds in every process, whatever its
    recursion limit (running a UDF raises this process's to 3000)."""
    text = "[" * depth + "]" * depth
    want = oracle.process_turn("c", 0, text).markdown
    wrapped = want.startswith('```json\n{\n  "error": "' + spec.JSON_WRAP_ERROR)
    assert wrapped == (depth > spec.JSON_MAX_DEPTH)
    assert parser.extract_markdown_series(pd.Series([text])).iloc[0] == want
    df = spark.createDataFrame(
        [("c", 0, text)], "conv_id string, turn_idx int, text string"
    )
    assert pipeline.extract_turns(df).first()["markdown"] == want


def test_all_stages_backfill_on_half_completed_resume(
    spark, transcripts_pdf, tmp_path
):
    """VERDICT r3 next #7: resume over a HALF-completed output dir with
    every stage flag enabled at once — the shared lineage coverage rule
    must leave every derived stage covering every turns bucket, whether
    a bucket was extracted in phase 1 (backfill path) or phase 2 (this
    run's delta path)."""
    p = str(tmp_path / "t.parquet")
    transcripts_pdf.to_parquet(p, index=False)
    df = spark.read.parquet(p)
    out = str(tmp_path / "out")

    # phase 1: half the buckets, no derived stages at all
    half = lineage.with_part_hash(df, 8).filter("part_hash < 4")
    r1 = lineage.run_with_resume(
        spark, half.drop("part_hash"), out, snapshot_id="s", n_buckets=8
    )
    assert r1["buckets_processed"] > 0

    # phase 2: full input, ALL stage flags
    r2 = lineage.run_with_resume(
        spark, df, out, snapshot_id="s", n_buckets=8,
        spans=True, translate=True, dedup=True, near_dup=True,
        quarantine=True, curate=True, conv_curate=True, line_dedup=True,
    )
    assert 0 < r2["buckets_processed"] <= 4

    turns = spark.read.parquet(os.path.join(out, "turns"))
    assert turns.count() == df.count()
    n_convs = df.select("conv_id").distinct().count()
    turn_buckets = {
        r["part_hash"] for r in turns.select("part_hash").distinct().collect()
    }

    # bucket-partitioned derived stages must cover every turns bucket
    # (quarantine is sparse — only buckets with diverted rows — so it is
    # asserted by content below instead)
    for stage in (
        "spans", "docs_translated", "fingerprints", "signatures",
        "curation", "conv_curation", "line_counts",
    ):
        t = spark.read.parquet(os.path.join(out, stage))
        got = {
            r["part_hash"]
            for r in t.select("part_hash").distinct().collect()
        }
        missing = turn_buckets - got
        # a bucket may legitimately be absent only if NO row of that
        # stage falls in it (e.g. a bucket whose turns are all
        # empty-markdown produces no spans); every stage here derives
        # ~one row per conv/turn, so require full coverage
        assert not missing, (stage, sorted(missing))

    nonempty = turns.filter(F.length("markdown") > 0).count()
    spans = spark.read.parquet(os.path.join(out, "spans"))
    assert spans.select("conv_id", "turn_idx").distinct().count() == nonempty
    assert spark.read.parquet(
        os.path.join(out, "docs_translated")
    ).select("conv_id").distinct().count() == n_convs
    assert spark.read.parquet(
        os.path.join(out, "fingerprints")
    ).count() == n_convs
    assert spark.read.parquet(
        os.path.join(out, "signatures")
    ).count() == n_convs
    cur = spark.read.parquet(os.path.join(out, "curation"))
    assert cur.count() == n_convs
    # metrics are real numbers computed over the assembled markdown
    assert cur.where(F.col("n_tokens") <= 0).count() == 0
    assert cur.where(
        (F.col("distinct_ratio") <= 0) | (F.col("distinct_ratio") > 1)
    ).count() == 0
    n_blanks = int(
        (
            transcripts_pdf["text"].isna()
            | (transcripts_pdf["text"].astype(str).str.strip() == "")
        ).sum()
    )
    assert spark.read.parquet(
        os.path.join(out, "quarantine")
    ).count() == n_blanks
    ccur = spark.read.parquet(os.path.join(out, "conv_curation"))
    assert ccur.count() == n_convs
    assert ccur.where(
        (F.col("repeat_ratio") < 0) | (F.col("repeat_ratio") >= 1)
    ).count() == 0
    # a dropped conversation always carries its reason, a kept one never
    assert ccur.where(
        F.col("keep") != F.col("drop_reason").isNull()
    ).count() == 0
    # the global reductions exist and are consistent with their inputs
    assert os.path.exists(os.path.join(out, "dup_clusters"))
    assert os.path.exists(os.path.join(out, "near_dup_clusters"))


def test_dedup_stage_refuses_stale_publish(spark, transcripts_pdf, tmp_path):
    """ADVICE r3: --dedup/--near-dup over an output dir whose docs table
    is missing must raise, not silently no-op and then publish clusters
    from a stale fingerprint/signature table."""
    import shutil

    p = str(tmp_path / "t.parquet")
    transcripts_pdf.to_parquet(p, index=False)
    df = spark.read.parquet(p)
    out = str(tmp_path / "out")
    lineage.run_with_resume(spark, df, out, snapshot_id="s", n_buckets=8)
    shutil.rmtree(os.path.join(out, "docs"))
    with pytest.raises(RuntimeError, match="dup_clusters"):
        lineage.run_with_resume(
            spark, df, out, snapshot_id="s", n_buckets=8, dedup=True
        )
    with pytest.raises(RuntimeError, match="near_dup_clusters"):
        lineage.run_with_resume(
            spark, df, out, snapshot_id="s", n_buckets=8, near_dup=True
        )


def test_curate_keeps_empty_content_convs(spark, tmp_path):
    """A conversation whose assembled markdown is ONLY assembly
    artifacts (image embed + OCR stub — normalized content empty) must
    still get a curation row (n_tokens=0, NULL ratios): the code-review
    finding was an inner join silently dropping such convs AND leaving
    their bucket partition unwritten (re-queued forever)."""
    df = spark.createDataFrame(
        [
            ("img-only", 0, "![p](x.png)"),
            ("normal", 0, "# Title\n\nplain body text here"),
        ],
        "conv_id: string, turn_idx: int, text: string",
    )
    out = str(tmp_path / "out")
    lineage.run_with_resume(
        spark, df, out, snapshot_id="s", n_buckets=4, curate=True
    )
    cur = {
        r["conv_id"]: r
        for r in spark.read.parquet(os.path.join(out, "curation")).collect()
    }
    assert set(cur) == {"img-only", "normal"}
    assert cur["img-only"]["n_tokens"] == 0
    assert cur["img-only"]["distinct_ratio"] is None
    assert cur["normal"]["n_tokens"] > 0
    # NULL-metric convs fail the quality gate rather than passing it
    assert cur["img-only"]["keep"] is False
    assert cur["normal"]["keep"] is True


def test_cli_stage_flags_e2e(spark, tmp_path):
    """run_extract.main offers one switch per lineage.STAGES entry (the
    flag with "_" spelled "-"); with every switch on, each stage writes
    its table and its global table.  The curate gate is fixed: it keeps
    the normal doc and drops the repetitive one."""
    import run_extract

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [
            ("normal", 0, "user",
             "# Title\n\nplain body text with enough tokens here"),
            ("spammy", 0, "user", "spam spam spam spam spam spam spam spam"),
        ],
        "conv_id: string, turn_idx: int, role: string, text: string",
    ).write.parquet(p)
    out = str(tmp_path / "out")
    switches = ["--" + st.flag.replace("_", "-") for st in lineage.STAGES]
    assert run_extract.main(
        ["--input", p, "--output", out, "--snapshot-id", "s", "--buckets", "4",
         *switches]
    ) == 0
    for st in lineage.STAGES:
        for table in filter(None, (st.out, st.publish)):
            assert os.path.isdir(os.path.join(out, table)), table
    cur = {
        r["conv_id"]: r
        for r in spark.read.parquet(os.path.join(out, "curation")).collect()
    }
    assert cur["normal"]["keep"] is True
    assert cur["spammy"]["keep"] is False  # dup_bigram_ratio ≈ 1


def test_near_dup_stage(spark, transcripts_pdf, tmp_path):
    """--near-dup: incremental per-bucket MinHash signatures + global
    banded pair-gen + connected components.  A near-identical copy of a
    conversation (one token appended in one turn) under a NEW conv_id
    must land in the same cluster."""
    src = transcripts_pdf.copy()
    c0 = src["conv_id"].iloc[0]
    near = src[src["conv_id"] == c0].copy()
    near["conv_id"] = "zz-near"
    i = near.index[0]
    near.loc[i, "text"] = str(near.loc[i, "text"]) + " extraword"
    full = pd.concat([src, near], ignore_index=True)
    full["ts"] = full["ts"].dt.as_unit("us")
    p = str(tmp_path / "t.parquet")
    full.to_parquet(p, index=False)
    df = spark.read.parquet(p)
    out = str(tmp_path / "out")

    r1 = lineage.run_with_resume(
        spark, df, out, snapshot_id="s", n_buckets=8, near_dup=True
    )
    assert r1["buckets_processed"] > 0
    clusters = {
        r["conv_id"]: r["cluster_conv_id"]
        for r in spark.read.parquet(
            os.path.join(out, "near_dup_clusters")
        ).collect()
    }
    assert clusters.get(c0) == clusters.get("zz-near") is not None
    # the planted pair must not have dragged unrelated convs in
    assert len(clusters) == 2

    # signatures are incremental: resume reprocesses nothing, table intact
    n_sigs = spark.read.parquet(os.path.join(out, "signatures")).count()
    assert n_sigs == df.select("conv_id").distinct().count()
    r2 = lineage.run_with_resume(
        spark, df, out, snapshot_id="s", n_buckets=8, near_dup=True
    )
    assert r2["buckets_processed"] == 0
    assert (
        spark.read.parquet(os.path.join(out, "signatures")).count() == n_sigs
    )


def test_line_dedup_stage_finds_cross_conv_boilerplate(
    spark, transcripts_pdf, tmp_path
):
    """--line-dedup: the per-bucket line-fingerprint counts must sum to
    exact cross-corpus document frequencies (a conv never spans
    buckets), and boilerplate_lines must contain the lines shared by
    >= min_df conversations (the OCR stub header is in nearly every
    assembled doc) while conv-unique content lines stay out."""
    from engine.spark.dedup import portable_hash60

    p = str(tmp_path / "t.parquet")
    transcripts_pdf.to_parquet(p, index=False)
    df = spark.read.parquet(p)
    out = str(tmp_path / "out")
    lineage.run_with_resume(
        spark, df, out, snapshot_id="s", n_buckets=8, line_dedup=True
    )
    bl = spark.read.parquet(os.path.join(out, "boilerplate_lines"))
    assert bl.filter(F.col("line_df") < 3).count() == 0
    # reference df computed in one global pass over the docs table with
    # the same id-blank normalization
    docs = spark.read.parquet(os.path.join(out, "docs"))
    ref = (
        docs.select(
            "conv_id",
            F.explode(
                F.split(F.expr("replace(markdown, conv_id, '<conv>')"), "\n")
            ).alias("line"),
        )
        .groupBy(portable_hash60(F.col("line")).alias("lfp"))
        .agg(F.countDistinct("conv_id").alias("line_df"))
        .filter(F.col("line_df") >= 3)
    )
    got = {(r["lfp"], r["line_df"]) for r in bl.collect()}
    want = {(r["lfp"], r["line_df"]) for r in ref.collect()}
    assert got == want and len(want) > 0
    # the OCR stub header line is cross-conv boilerplate by construction
    stub_fp = docs.sparkSession.range(1).select(
        portable_hash60(F.lit("> 📄 Image OCR Result:")).alias("v")
    ).first()["v"]
    assert any(fp == stub_fp for fp, _ in got)


def test_csv_ingest_quarantine_split(spark, tmp_path):
    """Typed rows land clean, type-mismatch rows land VERBATIM in
    quarantine, and the two splits partition the file exactly."""
    from engine.spark import pipeline as epipeline

    p = tmp_path / "csv"
    p.mkdir()
    (p / "a.csv").write_text("1,10,100\n2,20,200\nbad,row,here\n")
    clean, quar = epipeline.csv_ingest_quarantine(
        spark, str(p), "a BIGINT, b BIGINT, c BIGINT"
    )
    crows = sorted((r.a, r.b, r.c) for r in clean.collect())
    assert crows == [(1, 10, 100), (2, 20, 200)]
    qrows = quar.collect()
    assert len(qrows) == 1
    assert qrows[0]._corrupt_record == "bad,row,here"
