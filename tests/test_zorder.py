"""Z-order layout tests.

Three layers of evidence:
1. the Morton key math matches a pure-Python reference bit-for-bit;
2. the plan is pure codegen (no Python UDF) with only the one-row
   min/max broadcast join;
3. the actual 100 TB payoff, measured from real parquet footers: under
   a 2-D box predicate, a z-ordered write lets min/max stats skip most
   files while a linear (insert-order) write of the same rows skips
   none.
"""

import glob
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from engine.spark import pipeline, zorder
from engine.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app="engine-tests")
    yield s


def _py_spread16(v: int) -> int:
    v = (v | (v << 8)) & 0x00FF00FF
    v = (v | (v << 4)) & 0x0F0F0F0F
    v = (v | (v << 2)) & 0x33333333
    v = (v | (v << 1)) & 0x55555555
    return v


def test_morton_key_matches_python_reference(spark):
    rows = [(i, (i * 37) % 65536, (i * 101) % 65536) for i in range(512)]
    df = spark.createDataFrame(rows, "id: long, x: long, y: long")
    got = {
        r["id"]: r["z"]
        for r in df.select(
            "id", zorder.morton_key(F.col("x"), F.col("y")).alias("z")
        ).collect()
    }
    for i, x, y in rows:
        assert got[i] == (_py_spread16(x) | (_py_spread16(y) << 1))


def test_zorder_key_is_pure_codegen(spark):
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 10).cast("double").alias("x"),
        (F.col("id") % 7).cast("double").alias("y"),
    )
    plan = (
        zorder.zorder_key(df, "x", "y")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PythonUDF" not in plan and "EvalPython" not in plan
    # the only join is the single-row min/max literal broadcast
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_zorder_key_bounds_and_monotonicity(spark):
    # corners of the space land on the corners of the key range
    df = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 0.0, 100.0), (2, 100.0, 0.0), (3, 100.0, 100.0)],
        "id: long, x: double, y: double",
    )
    z = {
        r["id"]: r["zkey"]
        for r in zorder.zorder_key(df, "x", "y").collect()
    }
    assert z[0] == 0
    assert z[3] == (1 << 32) - 1  # all 32 bits set
    assert z[2] == _py_spread16(65535)  # x max, y min -> even bits
    assert z[1] == _py_spread16(65535) << 1  # y max -> odd bits


def _file_minmax(path: str, col: str):
    pf = pq.ParquetFile(path)
    idx = pf.schema_arrow.get_field_index(col)
    md = pf.metadata
    mins, maxs = [], []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        mins.append(st.min)
        maxs.append(st.max)
    return min(mins), max(maxs)


def _skippable(files, box):
    (xlo, xhi), (ylo, yhi) = box
    skipped = 0
    for f in files:
        fx = _file_minmax(f, "x")
        fy = _file_minmax(f, "y")
        if fx[1] < xlo or fx[0] > xhi or fy[1] < ylo or fy[0] > yhi:
            skipped += 1
    return skipped


def test_zordered_write_prunes_box_predicates(spark):
    # 256x256 uniform grid; box = the 64x64 top-left corner (1/16 of
    # the space, exactly one level-2 z-quad)
    df = spark.range(256 * 256).select(
        F.col("id"),
        (F.col("id") % 256).cast("double").alias("x"),
        (F.col("id") / 256).cast("long").cast("double").alias("y"),
    )
    tmp = tempfile.mkdtemp(prefix="zorder_")
    try:
        zpath, lpath = f"{tmp}/z", f"{tmp}/linear"
        pipeline.write_zordered(
            df, zpath, cols=("x", "y"), n_files=16, bits=16
        )
        # linear layout: same rows, insert (id) order -> every file
        # strides the full x domain and a slab of y
        df.repartitionByRange(16, "id").sortWithinPartitions(
            "id"
        ).write.parquet(lpath)
        zfiles = glob.glob(f"{zpath}/*.parquet")
        lfiles = glob.glob(f"{lpath}/*.parquet")
        assert len(zfiles) == 16 and len(lfiles) == 16
        box = ((0.0, 63.0), (0.0, 63.0))
        z_skip = _skippable(zfiles, box)
        l_skip = _skippable(lfiles, box)
        # z-order: the box is ~1 z-quad -> at least 12/16 files prune;
        # linear: x spans the whole domain in every file and the box's
        # y-range overlaps the first quarter of files -> <= 12 prune
        # (in practice 12: only the y slab saves it)
        assert z_skip >= 12, f"z-order skipped only {z_skip}/16"
        assert z_skip > l_skip, (z_skip, l_skip)
        # and on a predicate selective ONLY in x (the non-leading
        # dimension of the linear layout): the z-order curve still
        # prunes the other x-columns of the quad grid, while every
        # linear file spans the full x domain -> zero pruning.  This
        # is the case single-key clustering (write_clustered) cannot
        # serve and the whole reason to interleave.
        xonly = ((0.0, 63.0), (0.0, 255.0))
        assert _skippable(zfiles, xonly) >= 8
        assert _skippable(lfiles, xonly) == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
