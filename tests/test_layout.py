"""Data-layout writer + skew profiler tests.

write_clustered's whole point is scan pruning: after a range-partitioned
sorted write, each parquet file covers a disjoint slice of the sort key,
so min/max statistics prune files/row-groups.  The test asserts that
property directly from the parquet footers and contrasts it with an
unsorted write of the same rows.
"""

import glob
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from engine.spark import diagnose, pipeline
from engine.spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, app="engine-tests")
    yield s
    s.stop()


def _file_ranges(path, col):
    out = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        if mins:
            out.append((min(mins), max(maxs)))
    return out


def test_write_clustered_disjoint_key_ranges(spark):
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    tmp = tempfile.mkdtemp(prefix="layout_")
    try:
        pipeline.write_clustered(
            events, f"{tmp}/sorted", order_cols=("event_id",), n_files=8
        )
        ranges = sorted(_file_ranges(f"{tmp}/sorted", "event_id"))
        assert len(ranges) >= 4
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 < lo2, f"overlapping file ranges {ranges}"

        # contrast: a hash-partitioned write makes every file span ~the
        # whole key domain — min/max stats can't prune anything
        events.repartition(8).write.parquet(f"{tmp}/hashed")
        hashed = _file_ranges(f"{tmp}/hashed", "event_id")
        overlaps = sum(
            1
            for (lo1, hi1), (lo2, hi2) in zip(sorted(hashed), sorted(hashed)[1:])
            if hi1 >= lo2
        )
        assert overlaps == len(hashed) - 1

        # same rows either way
        a = spark.read.parquet(f"{tmp}/sorted").agg(
            F.count("*"), F.sum("event_id")
        ).first()
        b = events.agg(F.count("*"), F.sum("event_id")).first()
        assert tuple(a) == tuple(b)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_key_profile_planted_hot_key(spark):
    base = spark.range(1000).select(
        (F.col("id") % 100).alias("k")
    )
    hot = spark.range(9000).select(F.lit(777).alias("k"))
    prof = diagnose.key_profile(base.union(hot), "k", k=3).collect()
    assert len(prof) == 3
    assert prof[0]["key"] == 777
    assert prof[0]["n"] == 9000
    assert prof[0]["share"] == 0.9
    assert prof[0]["rank"] == 1
    # remaining keys are uniform (10 rows each); ties break by key asc
    assert (prof[1]["key"], prof[2]["key"]) == (0, 1)
    assert prof[1]["n"] == 10


def _avg_span(path, col):
    """Mean fraction of the column's global domain each file covers —
    the direct proxy for min/max pruning power (lower = more prunable)."""
    ranges = _file_ranges(path, col)
    glo = min(lo for lo, _ in ranges)
    ghi = max(hi for _, hi in ranges)
    dom = max(ghi - glo, 1)
    return sum((hi - lo) / dom for lo, hi in ranges) / len(ranges)


def test_write_zordered_prunes_both_dimensions(spark):
    """Morton layout: every file covers a small rectangle of the 2-D
    key space, so min/max stats prune on EITHER column; a single-key
    sorted write leaves the second column unprunable (its per-file
    spans cover ~the whole domain)."""
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    tmp = tempfile.mkdtemp(prefix="layout_z_")
    try:
        pipeline.write_zordered(
            events, f"{tmp}/z", cols=("user_id", "event_id"), n_files=16
        )
        z_user = _avg_span(f"{tmp}/z", "user_id")
        z_event = _avg_span(f"{tmp}/z", "event_id")
        # both dims bounded: each file covers a fraction of each domain
        assert z_user < 0.6, z_user
        assert z_event < 0.6, z_event

        pipeline.write_clustered(
            events, f"{tmp}/sorted", order_cols=("event_id",), n_files=16
        )
        s_user = _avg_span(f"{tmp}/sorted", "user_id")
        s_event = _avg_span(f"{tmp}/sorted", "event_id")
        # the single-key layout is tighter on ITS key ...
        assert s_event < z_event
        # ... but useless on the other: z-order must beat it decisively
        assert s_user > 0.9, s_user
        assert z_user < s_user / 1.5

        # same rows either way
        a = spark.read.parquet(f"{tmp}/z").agg(
            F.count("*"), F.sum("event_id"), F.sum("user_id")
        ).first()
        b = events.agg(
            F.count("*"), F.sum("event_id"), F.sum("user_id")
        ).first()
        assert tuple(a) == tuple(b)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bucketed_join_and_agg_are_shuffle_free(spark, tmp_path):
    """write_bucketed's contract: two tables bucketed on the same key
    with the same bucket count join with NO shuffle on either side —
    Catalyst treats the bucketing as a pre-existing hash partitioning —
    and a groupBy on the bucket key also plans without an exchange."""
    e = (
        spark.read.parquet(SF_DIR + "/events.parquet")
        .select("event_id", "user_id", "value")
    )
    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
    pipeline.write_bucketed(
        e, "bkt_a", "user_id", 8, sort_col="user_id",
        path=str(tmp_path / "a"),
    )
    pipeline.write_bucketed(
        e, "bkt_b", "user_id", 8, sort_col="user_id",
        path=str(tmp_path / "b"),
    )
    ta, tb = spark.table("bkt_a"), spark.table("bkt_b")

    j = ta.hint("merge").join(tb.withColumnRenamed("value", "v2"),
                              "user_id")
    jplan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in jplan, jplan
    assert "Exchange hashpartitioning" not in jplan, jplan
    assert "BroadcastExchange" not in jplan, jplan
    assert j.count() > 0

    g = ta.groupBy("user_id").agg(F.sum("value").alias("s"))
    gplan = g._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in gplan, gplan
    assert g.count() > 0

    # contrast: the same join over plain (non-bucketed) parquet reads
    # must shuffle both sides
    p = ta.hint("merge").join(
        e.withColumnRenamed("value", "v2"), "user_id"
    )
    pplan = p._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" in pplan, pplan

    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
