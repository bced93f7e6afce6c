"""Skew stress: one conversation far longer than the rest plus a ~MB
single turn (the north rule's skewed-long-document case) must not break
correctness — and the chunked assembly must bound reducer state.
"""

import pandas as pd
import pytest

from engine import oracle
from engine.core import spec
from engine.spark import pipeline
from engine.spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, app="engine-tests")
    yield s
    s.stop()


def _skewed_frame() -> pd.DataFrame:
    rows = []
    # 1 long conversation: 2000 turns
    for t in range(2000):
        rows.append(("conv-long", t, f"# H{t}\n\npara {t} text"))
    # a giant single turn (~1 MB)
    rows.append(("conv-giant", 0, "word " * 200_000))
    # small controls
    for c in range(5):
        for t in range(3):
            rows.append((f"conv-small-{c}", t, f"small {c} {t}"))
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"]).astype(
        {"turn_idx": "int32"}
    )


def test_skewed_conversation_byte_parity(spark, tmp_path):
    pdf = _skewed_frame()
    p = str(tmp_path / "skew.parquet")
    pdf.to_parquet(p, index=False)
    df = spark.read.parquet(p)

    turns = pipeline.extract_turns(df)
    docs = pipeline.extract_docs(turns, chunk=128).orderBy("conv_id").toPandas()

    golden = oracle.process_table(
        [(c, int(t), x) for c, t, x in pdf.itertuples(index=False)]
    )
    want = oracle.assemble_docs(golden)
    assert len(docs) == len(want)
    for _, row in docs.iterrows():
        assert row["markdown"] == want[row["conv_id"]], row["conv_id"]

    # the long doc really contains all 2000 turns in order
    long_md = docs.set_index("conv_id").loc["conv-long", "markdown"]
    assert long_md.count(spec.DOC_JOIN) == 1999
    assert long_md.startswith("# H0\n\npara 0 text")
    assert long_md.endswith("# H1999\n\npara 1999 text")

    # giant turn survives intact
    giant = docs.set_index("conv_id").loc["conv-giant", "markdown"]
    assert len(giant) > 900_000


def test_grouped_median_hot_key_spans_partitions(spark):
    """One key holding ~95% of the rows must span many range partitions
    (that is the point of the distributed ranking) and still produce
    the exact median; the small keys around it stay correct."""
    import statistics

    from engine.spark import diagnose

    rows = [("hot", float((i * 7919) % 10007), i) for i in range(20000)]
    rows += [("cold1", float(i), 100000 + i) for i in range(11)]
    rows += [("cold2", float(-i), 200000 + i) for i in range(4)]
    df = spark.createDataFrame(
        rows, "k: string, v: double, id: long"
    ).repartition(16)
    got = {
        r.k: (r.n, r.median)
        for r in diagnose.grouped_median(df, "k", "v", "id").collect()
    }
    assert got["hot"] == (
        20000,
        statistics.median(v for k, v, _ in rows if k == "hot"),
    )
    assert got["cold1"] == (11, 5.0)
    assert got["cold2"] == (4, -1.5)
    # the hot key really was split across range partitions
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert nparts >= 8  # precondition for the claim to mean anything


def test_join_cardinality_exact_and_viral_key(spark):
    """The estimated total equals the ACTUAL inner-join row count, and
    a planted viral key tops the contributor list with the right
    share."""
    from engine.spark import diagnose

    left = spark.createDataFrame(
        [(1, "x")] * 100 + [(2, "x")] * 3 + [(3, "x")] * 2 + [(9, "x")],
        "k: long, pad: string",
    )
    right = spark.createDataFrame(
        [(1, "y")] * 50 + [(2, "y")] * 4 + [(4, "y")] * 7,
        "k: long, pad: string",
    )
    out = diagnose.join_cardinality(left, right, "k", k=5).collect()
    actual = left.join(right, "k").count()
    assert out[0].join_rows == actual == 100 * 50 + 3 * 4
    top = out[0]
    assert (top.key, top.a_n, top.b_n, top.out_rows) == (1, 100, 50, 5000)
    assert top.share == round(5000 / actual, 6)
    # keys present on only one side contribute nothing
    assert all(r.key in (1, 2) for r in out)
