"""Parity tests for the remaining reference operators: P1 inline image
replace, P4 display join, F3 OCR-map regroup, T1 translation error
channel, C1 retry, S4 markdown file export.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine import fixtures, oracle
from engine.core import spec
from engine.core.retry import retry_with_backoff
from engine.spark import assemble, pipeline, translate
from engine.spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, app="engine-tests")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def turns(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("refops") / "t.parquet")
    fixtures.make_transcripts(25, skew_giant=False).to_parquet(p, index=False)
    return pipeline.extract_turns(spark.read.parquet(p))


def test_p1_replace_images_inline(spark):
    schema = T.StructType([
        T.StructField("md", T.StringType()),
        T.StructField("images", T.ArrayType(T.StructType([
            T.StructField("id", T.StringType()),
            T.StructField("payload", T.StringType()),
        ]))),
    ])
    rows = [
        ("x ![a](a) y ![a](a) ![b](b)",
         [{"id": "a", "payload": "data:img;base64,AAA"},
          {"id": "b", "payload": "data:img;base64,BBB"}]),
        ("no images", []),
    ]
    df = spark.createDataFrame(rows, schema)
    got = df.select(
        assemble.replace_images_inline(F.col("md"), F.col("images")).alias("o")
    ).collect()
    want0 = oracle.replace_images_in_markdown(
        rows[0][0], {"a": "data:img;base64,AAA", "b": "data:img;base64,BBB"}
    )
    assert got[0]["o"] == want0
    assert "![a](data:img;base64,AAA) y ![a](data:img;base64,AAA)" in got[0]["o"]
    assert got[1]["o"] == "no images"


def test_f3_ocr_map_regroup(spark, turns):
    m = assemble.ocr_map_table(turns)
    rows = m.filter(F.size(F.map_keys("ocr_map")) >= 2).limit(3).collect()
    assert rows, "expected multi-image turns in fixture"
    for r in rows:
        for img_id, ocr in r["ocr_map"].items():
            assert ocr == spec.ocr_json_text(r["conv_id"], r["turn_idx"], img_id)


def test_t1_error_channel(spark, turns):
    out = translate.translate_turns(
        turns, fail_when=F.col("turn_idx") % 5 == 2
    )
    rows = out.filter("turn_idx = 2").limit(3).collect()
    assert rows
    for r in rows:
        assert r["translated"] == (
            f"--- ERROR: Translation Failed for Page 3 ---\n\n{r['markdown']}"
        )
    ok = out.filter("turn_idx = 0").first()
    assert ok["translated"] == f"> [translated zh-TW]\n\n{ok['markdown']}"


def test_t1_udf_plug_point_parity(spark, turns):
    """The production translator hook (batch pandas-UDF) with the default
    translator must be byte-equal to the Catalyst-expression stand-in."""
    expr = translate.translate_turns(turns).select(
        "conv_id", "turn_idx", "translated"
    ).orderBy("conv_id", "turn_idx").toPandas()
    udf = translate.translate_turns_udf(turns).select(
        "conv_id", "turn_idx", "translated"
    ).orderBy("conv_id", "turn_idx").toPandas()
    assert list(expr["translated"]) == list(udf["translated"])


def test_t1_udf_per_row_failure_isolation(spark, turns):
    """A translator that raises on specific pages must poison ONLY those
    rows (reference's per-page try/except, mistralocr_app.py:211-216)."""
    import pandas as pd

    def flaky(md: pd.Series) -> pd.Series:
        if md.str.contains("FAILME").any():
            raise RuntimeError("boom")
        return "> [translated zh-TW]\n\n" + md

    t = turns.withColumn(
        "markdown",
        F.when(F.col("turn_idx") % 7 == 3,
               F.concat(F.lit("FAILME "), F.col("markdown")))
        .otherwise(F.col("markdown")),
    )
    out = translate.translate_turns_udf(t, translator=flaky)
    bad = out.filter("turn_idx % 7 = 3").limit(5).collect()
    good = out.filter("turn_idx % 7 = 0").limit(5).collect()
    assert bad and good
    for r in bad:
        assert r["translated"] == (
            f"--- ERROR: Translation Failed for Page {r['turn_idx'] + 1} "
            f"---\n\n{r['markdown']}"
        )
    for r in good:
        assert r["translated"] == f"> [translated zh-TW]\n\n{r['markdown']}"


def test_t1_translated_docs_join(spark, turns):
    out = translate.translate_turns(turns)
    docs = translate.translated_docs(out)
    row = docs.orderBy("conv_id").first()
    assert spec.DOC_JOIN in row["markdown"] or row["markdown"].startswith(
        "> [translated zh-TW]"
    )


def test_p4_display_join(spark, turns):
    disp = assemble.assemble_docs(turns, sep=spec.PAGE_JOIN_DISPLAY)
    filed = assemble.assemble_docs(turns, sep=spec.DOC_JOIN)
    a = disp.orderBy("conv_id").first()["markdown"]
    b = filed.orderBy("conv_id").first()["markdown"]
    assert a == b.replace(spec.DOC_JOIN, spec.PAGE_JOIN_DISPLAY)


def test_c1_retry_semantics():
    calls = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("HTTP 429 too many requests")
        return "ok"

    slept = []
    assert retry_with_backoff(flaky, sleep=slept.append) == "ok"
    assert slept == [1.5, 3.0]  # base * 2^attempt

    def fatal():
        raise ValueError("boom")

    with pytest.raises(ValueError):
        retry_with_backoff(fatal, sleep=lambda _: None)


def test_s4_export_markdown_files(spark, turns, tmp_path):
    docs = pipeline.extract_docs(turns)
    paths = pipeline.export_markdown_files(docs, str(tmp_path), limit=3)
    assert len(paths) == 3
    for p in paths:
        assert os.path.basename(p).endswith("_original.md")
        assert open(p, encoding="utf-8").read()


def test_t1_udf_reindexing_translator_aligned(spark, turns):
    """A translator that resets/reindexes its output series must not
    misalign the ok-mask / marker substitution (ADVICE r2): the contract
    is positional, so output row i belongs to input row i regardless of
    the returned index."""
    import pandas as pd

    def reindexer(md: pd.Series) -> pd.Series:
        # correct values positionally, but a fresh RangeIndex — a pandas
        # `.where` against md.index would misalign without normalization
        return ("> [translated zh-TW]\n\n" + md).reset_index(drop=True)

    expr = translate.translate_turns(turns).select(
        "conv_id", "turn_idx", "translated"
    ).orderBy("conv_id", "turn_idx").toPandas()
    udf = translate.translate_turns_udf(turns, translator=reindexer).select(
        "conv_id", "turn_idx", "translated"
    ).orderBy("conv_id", "turn_idx").toPandas()
    assert list(expr["translated"]) == list(udf["translated"])


def test_t1_udf_wrong_length_translator_isolated(spark, turns):
    """A translator that DROPS rows (wrong output length) is a broken
    batch — rows are retried one-by-one, where single-row calls still
    work, so no row is silently lost or misassigned."""
    import pandas as pd

    def dropper(md: pd.Series) -> pd.Series:
        out = "> [translated zh-TW]\n\n" + md
        return out.iloc[1:] if len(md) > 1 else out

    out = translate.translate_turns_udf(turns, translator=dropper).select(
        "conv_id", "turn_idx", "markdown", "translated"
    ).orderBy("conv_id", "turn_idx").collect()
    assert out
    for r in out:
        assert r["translated"] == f"> [translated zh-TW]\n\n{r['markdown']}"
