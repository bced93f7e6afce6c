"""Stratified sampling, tf-idf, and cardinality-sketch tests."""

import math

import pytest
from pyspark.sql import functions as F

from engine.spark import text
from engine.spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, app="engine-tests")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_stratified_sample_fractions_and_determinism(spark):
    n = 20000
    d = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    out = text.stratified_sample(d, "lang", {"en": 0.3, "de": 0.7})
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # each stratum has n/2 rows; hash-gate should land within ~4 sigma
    for lang, frac in (("en", 0.3), ("de", 0.7)):
        exp = frac * n / 2
        sigma = math.sqrt(n / 2 * frac * (1 - frac))
        assert abs(counts[lang] - exp) < 4 * sigma, (lang, counts[lang], exp)
    # deterministic: same rows on a second run
    again = text.stratified_sample(d, "lang", {"en": 0.3, "de": 0.7})
    assert out.exceptAll(again).count() == 0
    assert again.exceptAll(out).count() == 0
    # a different salt draws a (near-)independent sample
    other = text.stratified_sample(d, "lang", {"en": 0.3, "de": 0.7}, salt="s2")
    assert other.exceptAll(out).count() > 0


def test_stratified_sample_default_fraction(spark):
    d = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit("xx").alias("lang")
    )
    none = text.stratified_sample(d, "lang", {"en": 1.0})
    assert none.count() == 0
    some = text.stratified_sample(d, "lang", {"en": 1.0}, default_fraction=0.5)
    assert 0 < some.count() < 1000


def test_tfidf_prefers_rare_terms(spark):
    rows = [
        (1, "apple apple banana common common"),
        (2, "cherry common common"),
        (3, "durian common banana"),
        (4, "elder common"),
    ]
    d = spark.createDataFrame(rows, "doc_id: long, text: string")
    # 'common' appears in all 4 docs -> dropped by the 50% df cap
    out = text.tfidf_top_terms(d, k=2)
    top = {
        r["doc_id"]: r["term"]
        for r in out.where(F.col("rank") == 1).collect()
    }
    assert top == {1: "apple", 2: "cherry", 3: "durian", 4: "elder"}
    assert out.where(F.col("term") == "common").count() == 0
    # tf carries through: apple has tf 2
    apple = out.where((F.col("doc_id") == 1) & (F.col("term") == "apple")).first()
    assert apple["tf"] == 2


def test_approx_count_distinct_within_rsd(spark):
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    rsd = 0.02
    both = (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", rsd).alias("approx"),
        )
        .collect()
    )
    assert both
    for r in both:
        assert abs(r["approx"] - r["exact"]) <= max(5 * rsd * r["exact"], 2), r


def test_approx_quantiles_rank_error_bound(spark):
    """GK sketch guarantee: each returned quantile's TRUE rank within
    its group deviates from the target rank by at most n/accuracy
    (+1 row of slack for the discrete boundary).  Pinned per group
    against the exactly-sorted values at sf0.01 — the bound that lets
    ``value_quantiles_approx`` replace the exact single-reducer
    ``percentile`` at cluster scale."""
    import pandas as pd

    from engine.spark import diagnose

    sf = "/root/testdata/sf0.01"
    accuracy = 10000
    approx = (
        diagnose.approx_quantiles(
            spark.read.parquet(f"{sf}/events.parquet"),
            "value",
            "event_type",
            probs=(0.5, 0.9, 0.99),
            accuracy=accuracy,
        )
        .toPandas()
        .set_index("event_type")
    )
    raw = pd.read_parquet(f"{sf}/events.parquet", columns=["event_type", "value"])
    for etype, grp in raw.groupby("event_type"):
        vals = grp["value"].dropna().sort_values().reset_index(drop=True)
        n = len(vals)
        assert int(approx.loc[etype, "n"]) == len(grp)
        for p, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            v = approx.loc[etype, col]
            # rank range occupied by v among the exact sorted values
            lo = vals.searchsorted(v, side="left")
            hi = vals.searchsorted(v, side="right")
            target = p * (n - 1)
            err = 0.0 if lo <= target <= hi else min(
                abs(lo - target), abs(hi - target)
            )
            assert err <= n / accuracy + 1, (etype, col, v, err, n)


def test_distributed_ntile_matches_window_ntile_with_nulls(spark):
    """diagnose.distributed_ntile must equal the single-reducer
    `ntile().over(partitionBy(part))` reference on every row — including
    a NULL part key (a legitimate ntile partition: the offset join is
    null-safe, code-review r5 finding) and NULL values (ordered last,
    deterministic id tie-break)."""
    import random

    from pyspark.sql import Window as W

    from engine.spark import diagnose

    rng = random.Random(77)
    rows = [
        (
            i,
            rng.choice(["a", "b", None]),
            None if rng.random() < 0.1 else round(rng.uniform(0, 100), 3),
        )
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id: long, part: string, value: double")
    got = {
        r["id"]: r["bucket"]
        for r in diagnose.distributed_ntile(
            df, "part", "value", "id", buckets=7
        ).collect()
    }
    w = W.partitionBy("part").orderBy(
        F.col("value").asc_nulls_last(), F.col("id").asc()
    )
    want = {
        r["id"]: r["bucket"]
        for r in df.select(
            "id", F.ntile(7).over(w).cast("long").alias("bucket")
        ).collect()
    }
    assert len(got) == 500  # NULL-part rows not dropped
    assert got == want


def test_grouped_regression_matches_numpy(spark):
    """Slope/intercept agree with numpy lstsq on a planted line."""
    import numpy as np
    import pandas as pd
    from engine.spark import diagnose
    from pyspark.sql import functions as F

    rows = []
    for key, (m, b) in {1: (2.5, 10.0), 2: (-0.75, 3.25)}.items():
        for x in range(12):
            rows.append((key, float(x), m * x + b + (0.25 if x % 3 == 0 else -0.125)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "x", "y"]))
    got = (
        diagnose.grouped_regression(df, "k", F.col("x"), F.col("y"))
        .toPandas()
        .set_index("k")
    )
    for key in (1, 2):
        sub = [(x, y) for kk, x, y in rows if kk == key]
        xs = np.array([x for x, _ in sub]); ys = np.array([y for _, y in sub])
        slope, intercept = np.polyfit(xs, ys, 1)
        assert abs(got.loc[key, "slope"] - slope) < 1e-6
        assert abs(got.loc[key, "intercept"] - intercept) < 1e-6


# --------------------------------------------- weighted sample (A-ES race)
def test_weighted_sample_heavy_item_always_wins(spark):
    """A weight-10^6 row among 999 weight-1 rows loses the exponential
    race with probability ~exp(-10^6·ε) ≈ 0 — it must be in the sample
    for every seed."""
    from engine.spark import diagnose

    rows = [(i, 1.0 if i else 1e6) for i in range(1000)]
    d = spark.createDataFrame(rows, ["rid", "w"])
    for seed in ("a", "b", "c"):
        got = {
            r["rid"]
            for r in diagnose.weighted_sample(
                d, k=10, id_col="rid", weight_col="w", seed=seed
            ).collect()
        }
        assert 0 in got, seed
        assert len(got) == 10


def test_weighted_sample_inclusion_monotone_in_weight(spark):
    """Across 30 independent seeds, a weight-20 row must be sampled
    strictly more often than a weight-1 row (inclusion probability in
    A-ES is monotone in weight; with k=50 of 500 rows the expected gap
    is huge)."""
    from engine.spark import diagnose

    rows = [(i, 20.0 if i < 25 else 1.0) for i in range(500)]
    d = spark.createDataFrame(rows, ["rid", "w"]).cache()
    heavy = light = 0
    for s in range(30):
        got = {
            r["rid"]
            for r in diagnose.weighted_sample(
                d, k=50, id_col="rid", weight_col="w", seed=f"s{s}"
            ).collect()
        }
        heavy += sum(1 for i in got if i < 25)
        light += sum(1 for i in got if i >= 25)
    d.unpersist()
    # 25 heavy rows (w=20) vs 475 light (w=1): heavy inclusion per draw
    # ≈ 1 − ∏(1 − wᵢ/Σw_remaining) ≈ 0.9; light ≈ 0.05. 30 seeds →
    # heavy_rate/light_rate must exceed 5 with enormous margin.
    heavy_rate = heavy / (30 * 25)
    light_rate = light / (30 * 475)
    assert heavy_rate > 5 * light_rate, (heavy_rate, light_rate)


def test_weighted_sample_plans_take_ordered(spark, docs):
    """The sample must plan as TakeOrderedAndProject (distributed
    top-k merge), never a global Sort+Limit of the corpus."""
    from engine.spark import diagnose

    out = diagnose.weighted_sample(
        docs.select("doc_id", "text"),
        k=60,
        id_col="doc_id",
        weight_col=F.length("text") + F.lit(1),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_grouped_median_matches_definition(spark):
    """Odd n -> exact middle; even n -> mean of the two middles; ties
    broken by id (no effect on the value, only on which rows feed the
    average); per-key independence."""
    import random

    from engine.spark import diagnose

    rng = random.Random(7)
    rows = []
    for key, n in (("a", 101), ("b", 100), ("c", 1)):
        for i in range(n):
            rows.append((key, rng.uniform(-50, 50), i))
    df = spark.createDataFrame(rows, "k: string, v: double, id: long")
    got = {
        r.k: (r.n, r.median)
        for r in diagnose.grouped_median(df, "k", "v", "id").collect()
    }
    import statistics

    by_key = {}
    for k, v, _ in rows:
        by_key.setdefault(k, []).append(v)
    for k, vals in by_key.items():
        assert got[k][0] == len(vals)
        assert got[k][1] == statistics.median(vals), k


def test_grouped_median_weighted_matches_rowlevel(spark):
    """The run-length-compressed ranking must be bit-identical to
    row-level grouped_median on the expanded rows — heavy ties (few
    distinct values, uneven weights), odd and even n, runs spanning
    range-partition boundaries."""
    import random

    from engine.spark import diagnose

    rng = random.Random(13)
    rows = []
    for key in ("a", "b", "c"):
        n = {"a": 101, "b": 100, "c": 1}[key]
        for i in range(n):
            # ~12 distinct values per key → long runs
            rows.append((key, float(rng.randint(0, 11)) / 8.0, i))
    df = spark.createDataFrame(rows, "k: string, v: double, id: long")
    want = {
        (r.k, r.n, r.median)
        for r in diagnose.grouped_median(df, "k", "v", "id").collect()
    }
    counts = df.groupBy("k", "v").agg(F.count("*").alias("c"))
    got = {
        (r.k, r.n, r.median)
        for r in diagnose.grouped_median_weighted(
            counts, "k", "v", "c"
        ).collect()
    }
    assert got == want


def test_mad_flags_hand_computed(spark):
    """Values 1..9 plus one wild outlier: median/MAD by hand, the
    outlier flagged, nothing else."""
    from engine.spark import diagnose

    vals = list(range(1, 10)) + [1000]
    df = spark.createDataFrame(
        [("k", float(v), i) for i, v in enumerate(vals)],
        "k: string, v: double, id: long",
    )
    row = diagnose.mad_flags(df, "k", "v").collect()[0]
    # sorted: 1..9,1000; n=10 -> median = (5+6)/2 = 5.5
    assert row.median == 5.5
    # deviations: 4.5,3.5,2.5,1.5,0.5,0.5,1.5,2.5,3.5,994.5
    # sorted devs: .5 .5 1.5 1.5 2.5 2.5 3.5 3.5 4.5 994.5 -> mad 2.5
    assert row.mad == 2.5
    # threshold 3*2.5=7.5: only |1000-5.5| exceeds it
    assert row.n_outliers == 1 and row.n == 10


def test_cms_overestimates_never_under(spark):
    """CMS guarantee: est >= true count for every key; with a width
    large enough that collisions are impossible for the key set, the
    estimate is exact; the counter table stays bounded."""
    from engine.spark import diagnose

    rows = [(f"k{i % 17}",) for i in range(2000)] + [("hot",)] * 500
    df = spark.createDataFrame(rows, "k: string")
    keys = df.select("k").distinct()
    true = {
        r.k: r.cnt
        for r in df.groupBy("k").agg(F.count("*").alias("cnt")).collect()
    }
    est_narrow = {
        r.key: r.est
        for r in diagnose.cms_estimate(df, keys, "k", 4, 32).collect()
    }
    for k, t in true.items():
        assert est_narrow[k] >= t, (k, est_narrow[k], t)
    est_wide = {
        r.key: r.est
        for r in diagnose.cms_estimate(df, keys, "k", 4, 65536).collect()
    }
    assert est_wide == true
    sk = diagnose.cms_build(df, "k", 4, 32)
    assert sk.count() <= 4 * 32


def test_conversion_attribution_hand_timeline(spark):
    """One user with view -> click -> purchase -> view -> purchase:
    first purchase credits view(first)/click(last); second credits
    view(first)/the later view(last).  A same-second touch attributes.
    A user with no prior touch yields NULL attribution."""
    from datetime import datetime

    from engine.spark import analytics

    def ev(uid, eid, etype, sec):
        return (eid, datetime.fromtimestamp(1700000000 + sec), uid, etype)

    rows = [
        ev(1, 10, "view", 0),
        ev(1, 11, "click", 60),
        ev(1, 12, "purchase", 120),
        ev(1, 13, "view", 180),
        ev(1, 14, "purchase", 240),
        # same-second touch attributes
        ev(2, 20, "click", 500),
        ev(2, 21, "purchase", 500),
        # no prior touch
        ev(3, 30, "purchase", 900),
        ev(3, 31, "view", 950),
    ]
    df = spark.createDataFrame(
        rows, "event_id: long, ts: timestamp, user_id: long, event_type: string"
    )
    got = {
        r.conversion_id: r
        for r in analytics.conversion_attribution(df).collect()
    }
    assert (got[12].first_touch_id, got[12].last_touch_id) == (10, 11)
    assert got[12].last_touch_gap_s == 60
    assert (got[14].first_touch_id, got[14].last_touch_id) == (10, 13)
    assert got[21].last_touch_id == 20 and got[21].last_touch_gap_s == 0
    assert got[30].first_touch_id is None and got[30].last_touch_id is None


def test_cms_depth_five_no_ansi_overflow(spark):
    """Regression: the probe hash must reduce mod 2^31-1 BEFORE the
    per-depth multiply — the raw 60-bit hash times (2d+1) overflows
    int64 under ANSI mode from depth 5 up."""
    from engine.spark import diagnose

    df = spark.createDataFrame([(f"k{i}",) for i in range(50)], "k: string")
    keys = df.select("k").distinct()
    est = {
        r.key: r.est
        for r in diagnose.cms_estimate(df, keys, "k", depth=6, width=64)
        .collect()
    }
    assert len(est) == 50 and all(v >= 1 for v in est.values())


def test_grouped_sample_exact_and_salt_invariant(spark):
    """Two-phase salted per-stratum top-k returns EXACTLY the naive
    per-stratum hash-rank membership, independent of n_salts — including
    a hot stratum holding 90% of the rows."""
    from pyspark.sql import Window

    from engine.spark import diagnose

    n = 5000
    d = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 9, "hot").otherwise("cold").alias("lang"),
    )
    rk = F.md5(F.concat(F.lit("g0:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(rk.asc(), F.col("doc_id").asc())
    naive = (
        d.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= 7)
        .select("doc_id", "lang")
    )
    expect = sorted(tuple(r) for r in naive.collect())
    for n_salts in (1, 4, 32):
        got = diagnose.grouped_sample(
            d, strata_col="lang", k=7, id_col="doc_id", n_salts=n_salts
        )
        assert sorted(tuple(r) for r in got.collect()) == expect
    # exact size: k per stratum when the stratum has >= k rows
    counts = dict(
        diagnose.grouped_sample(d, "lang", 7, "doc_id")
        .groupBy("lang").count().collect()
    )
    assert counts == {"hot": 7, "cold": 7}


def test_grouped_sample_small_stratum_keeps_all(spark):
    from engine.spark import diagnose

    d = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id: long, lang: string"
    )
    got = diagnose.grouped_sample(d, "lang", 5, "doc_id")
    assert got.count() == 3
