"""Behavioral/graph analytics — value tests against independent
pure-Python brute-force implementations, plus the scale-shape plan
assertions (no cartesian, key-local shuffles, bounded top-k)."""

import math
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from engine.spark import analytics
from engine.spark import text as etext
from engine.spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, app="engine-tests")
    yield s
    s.stop()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------------- funnel
T0 = datetime(2024, 3, 1, 12, 0, 0)


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, T0 + timedelta(seconds=s), t) for u, s, t in rows],
        "user_id: long, ts: timestamp, event_type: string",
    )


def test_funnel_ordering_and_strictness(spark):
    rows = [
        (1, 0, "view"), (1, 10, "click"), (1, 20, "purchase"),  # full
        (2, 0, "view"), (2, 10, "click"),                       # stage 2
        (3, 10, "click"), (3, 20, "view"),   # click BEFORE view: stage 1
        (4, 0, "click"), (4, 1, "purchase"),  # never viewed: no stage
        (5, 0, "view"), (5, 0, "click"),      # tie: strict > excludes
        (6, 5, "view"), (6, 4, "purchase"), (6, 9, "click"),
        (6, 11, "purchase"),                  # out-of-order but valid
    ]
    got = {
        r["event_type"]: r["users"]
        for r in analytics.event_funnel(
            _ev(spark, rows), ["view", "click", "purchase"]
        ).collect()
    }
    # brute force: users 1,2,3,5,6 viewed; clicks after first view:
    # 1,2,6 (3 clicked before viewing, 5 tied); purchases after that
    # click: 1,6
    assert got == {"view": 5, "click": 3, "purchase": 2}


def test_funnel_requires_two_stages(spark):
    with pytest.raises(ValueError):
        analytics.event_funnel(_ev(spark, []), ["view"])


def test_funnel_user_keyed_exchanges_only(spark):
    """Every hash exchange in the funnel must key on user_id — the
    fixed-depth agg/join chain never shuffles on anything else, and the
    only single-partition stages are the three one-row counts."""
    ev = spark.read.parquet(SF_DIR + "/events.parquet")
    plan = _plan(analytics.event_funnel(ev, ["view", "click", "purchase"]))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash == plan.count("hashpartitioning(user_id"), plan
    assert plan.count("Exchange SinglePartition") == 3, plan


# ------------------------------------------------------------- cohort
def test_cohort_retention_bruteforce(spark):
    # weeks: 2024-03-01 is a Friday; Monday of that week is 2024-02-26
    rows = [
        (1, 0, "view"),                  # Fri 03-01 → cohort Mon 02-26
        (1, 7 * 86400, "view"),          # Fri 03-08 → week 03-04: off 1
        (2, 3 * 86400, "view"),          # Mon 03-04 → cohort 03-04
        (2, 14 * 86400 + 3600, "click"),  # Fri 03-15 → week 03-11: off 1
        (3, 10 * 86400, "view"),         # Mon 03-11 → cohort 03-11
        (3, 10 * 86400 + 60, "view"),    # same week, dedup
    ]
    got = sorted(
        tuple(r) for r in analytics.cohort_retention(_ev(spark, rows)).collect()
    )
    assert got == [
        ("2024-02-26", 0, 1),
        ("2024-02-26", 1, 1),
        ("2024-03-04", 0, 1),
        ("2024-03-04", 1, 1),
        ("2024-03-11", 0, 1),
    ]


def test_cohort_no_self_join_of_raw_log(spark):
    """Shape: two user-keyed partial aggs + one join of AGGREGATED
    sides — the raw event log is scanned, never fact×fact joined."""
    ev = spark.read.parquet(SF_DIR + "/events.parquet")
    plan = _plan(analytics.cohort_retention(ev))
    assert "CartesianProduct" not in plan, plan
    assert "partial_min" in plan or "partial_count" in plan, plan
    # the only range exchange is the tiny final presentation sort
    assert plan.count("Exchange rangepartitioning") <= 1, plan


# ----------------------------------------------------------- pagerank
def _pr_bruteforce(edges, iters=3, scale=10**6, d=85):
    edges = sorted(set(edges))
    nodes = sorted({u for e in edges for u in e})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    rank = {n: scale for n in nodes}
    base = (100 - d) * scale // 100
    for _ in range(iters):
        inflow = {n: 0 for n in nodes}
        for s, t in edges:
            inflow[t] += rank[s] // out[s]
        rank = {n: base + d * inflow[n] // 100 for n in nodes}
    return rank


def test_pagerank_matches_integer_bruteforce(spark):
    edges = [
        (1, 2), (2, 3), (3, 1),        # cycle
        (1, 3), (4, 1),                # extra edge + feeder
        (3, 5),                        # 5 is dangling (mass leaks)
    ]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {
        r["node"]: r["rank_fp"]
        for r in analytics.pagerank_fixedpoint(df, iters=3).collect()
    }
    assert got == _pr_bruteforce(edges, iters=3)


def test_pagerank_duplicate_edges_collapse(spark):
    df = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 1)], "src: long, dst: long"
    )
    got = {
        r["node"]: r["rank_fp"]
        for r in analytics.pagerank_fixedpoint(df, iters=2).collect()
    }
    assert got == _pr_bruteforce([(1, 2), (2, 1)], iters=2)


def test_pagerank_plan_no_cartesian(spark):
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.q_pagerank(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


# --------------------------------------------------------------- BM25
def _bm25_bruteforce(texts, terms, k1=1.2, b=0.75):
    toks = {i: t.lower().split() for i, t in texts.items()}
    n = len(texts)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {
        t: sum(1 for v in toks.values() if t in v)
        for t in terms
    }
    out = {}
    for i, v in toks.items():
        s = 0.0
        for t in terms:
            tf = v.count(t)
            if tf == 0 or df[t] == 0:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += round(
                idf * tf * (k1 + 1.0)
                / (tf + k1 * (1.0 - b + b * len(v) / avgdl)),
                6,
            )
        if s:
            out[i] = round(s, 6)
    return out


def test_bm25_matches_bruteforce(spark):
    texts = {
        1: "join hash join vector",
        2: "window scan filter",
        3: "vector vector vector join window",
        4: "merge sort batch",          # no query terms: unscored
        5: "join",
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id: long, text: string"
    )
    got = {
        r["doc_id"]: (float(r["score"]), r["rank"])
        for r in etext.bm25_topk(
            df, ["join", "vector", "window"], k=10
        ).collect()
    }
    want = _bm25_bruteforce(texts, ["join", "vector", "window"])
    assert set(got) == set(want)
    for i, s in want.items():
        assert got[i][0] == pytest.approx(s, abs=2e-6)
    # ranking: by score desc, doc_id asc
    order = sorted(got, key=lambda i: (-got[i][0], i))
    assert [got[i][1] for i in order] == list(range(1, len(order) + 1))


def test_bm25_absent_term_contributes_nothing(spark):
    df = spark.createDataFrame(
        [(1, "join scan"), (2, "scan filter")], "doc_id: long, text: string"
    )
    rows = etext.bm25_topk(df, ["join", "zzznotaword"], k=5).collect()
    assert [r["doc_id"] for r in rows] == [1]


def test_bm25_plan_shape(spark):
    """The inverted-index shape: query-term df table BROADCASTS into the
    scoring join (never SMJ), corpus stats ride as one single-row
    broadcast, final top-k is TakeOrdered — no global sort exchange."""
    d = spark.read.parquet(SF_DIR + "/documents.parquet")
    plan = _plan(etext.bm25_topk(d, ["join", "vector", "window"], k=10))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the literal term filter must sit below the tf aggregation: no
    # exchange may carry unfiltered tokens
    assert plan.count("Exchange hashpartitioning") <= 4, plan


# ---------------------------------------------------------- triangles
def _tri_bruteforce(edges):
    edges = set(tuple(sorted(e)) for e in edges)
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    counts = {}
    nodes = sorted(adj)
    for a in nodes:
        for b in adj[a]:
            if b <= a:
                continue
            for c in adj[a] & adj[b]:
                if c <= b:
                    continue
                for x in (a, b, c):
                    counts[x] = counts.get(x, 0) + 1
    return counts


def test_triangle_counts_bruteforce(spark):
    # K4 on 1-4 (each node in 3 triangles), pendant 5, isolated edge 6-7
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (4, 5), (6, 7),
    ]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {
        r["node"]: r["triangles"]
        for r in analytics.triangle_counts(df).collect()
    }
    assert got == _tri_bruteforce(edges)
    assert 5 not in got and 6 not in got


def test_cooccurrence_hot_group_cap(spark):
    rows = [("g1", i) for i in range(5)] + [("g2", 10), ("g2", 11)]
    df = spark.createDataFrame(rows, "grp: string, user_id: long")
    # cap 4 drops the 5-member group entirely; only the g2 pair remains
    got = analytics.cooccurrence_edges(
        df, ["grp"], "user_id", max_group=4
    ).collect()
    assert [(r["src"], r["dst"]) for r in got] == [(10, 11)]


def test_triangle_plan_no_cartesian(spark):
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.q_triangle_counts(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


# ------------------------------------------------------ stream funnel
def test_stream_funnel_split_invariance_and_batch_parity(spark, tmp_path):
    """Per-user funnel advancement over a stream must be identical
    whether events arrive in one micro-batch or one file per batch with
    stage transitions crossing batch edges, and its aggregate must
    equal the batch operator exactly."""
    import os

    import pandas as pd

    from engine.spark import streaming

    rows = []
    eid = 0
    for u in range(10):
        for i, t in enumerate(["view", "click", "purchase", "view"]):
            rows.append((eid, T0 + timedelta(seconds=10 * i + u), u, t))
            eid += 1
    # user 100 clicks before viewing: must stall at stage 1
    rows += [
        (eid, T0 + timedelta(seconds=1), 100, "click"),
        (eid + 1, T0 + timedelta(seconds=2), 100, "view"),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type"])
    # parquet TIMESTAMP(MICROS): pandas defaults to ns, which the
    # file-stream schema (TimestampType = µs) rejects
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)

    one = str(tmp_path / "one")
    os.makedirs(one, exist_ok=True)
    pdf.to_parquet(os.path.join(one, "part-0.parquet"), index=False)
    got_one = streaming.stream_funnel(
        spark, one, str(tmp_path / "ck1"), sink_table="sfun_one"
    ).toPandas()

    split = str(tmp_path / "split")
    os.makedirs(split, exist_ok=True)
    third = len(pdf) // 3
    for i, part in enumerate(
        [pdf.iloc[:third], pdf.iloc[third : 2 * third], pdf.iloc[2 * third :]]
    ):
        part.to_parquet(os.path.join(split, f"part-{i}.parquet"), index=False)
    got_split = streaming.stream_funnel(
        spark, split, str(tmp_path / "ck2"), sink_table="sfun_split",
        max_files_per_trigger=1,
    ).toPandas()

    key = ["user_id", "stage"]
    pd.testing.assert_frame_equal(
        got_one.sort_values(key).reset_index(drop=True),
        got_split.sort_values(key).reset_index(drop=True),
    )

    batch = {
        r["event_type"]: r["users"]
        for r in analytics.event_funnel(
            spark.createDataFrame(pdf), ["view", "click", "purchase"]
        ).collect()
    }
    streamed = (
        got_one.groupby(["stage", "event_type"]).size().reset_index(name="n")
    )
    got = dict(zip(streamed.event_type, streamed.n))
    assert got == {k: v for k, v in batch.items() if v}
    assert batch == {"view": 11, "click": 10, "purchase": 10}


# ------------------------------------------------------- heavy hitters
def test_heavy_hitters_exact_under_adversarial_partitioning(spark):
    """The Misra-Gries candidate pass must never lose a true heavy
    hitter regardless of how rows are partitioned; the verify pass must
    remove every false positive.  Checked against brute force with a
    tiny mg_k to force heavy counter churn."""
    from engine.spark import diagnose

    # 1000 rows: key 1 -> 300, key 2 -> 150, keys 3..13 -> 50 each
    vals = [1] * 300 + [2] * 150 + [k for k in range(3, 14) for _ in range(50)]
    df = spark.createDataFrame(
        [(v,) for v in vals], "user_id: long"
    ).repartition(7)
    got = [
        (r["user_id"], r["n"])
        for r in diagnose.heavy_hitters(df, "user_id", phi=0.1).collect()
    ]
    assert got == [(1, 300), (2, 150)]  # >100 rows, ordered n desc
    # phi low enough that every key qualifies: mg_k >= 1/phi keeps all
    got_all = diagnose.heavy_hitters(df, "user_id", phi=0.04).collect()
    assert len(got_all) == 2 + 11
    assert sum(r["n"] for r in got_all) == 1000


def test_heavy_hitters_plan_shape(spark):
    """Candidates broadcast as a semi-join filter; the exact count is
    ONE partial-agg groupBy on the key; no sort-merge join."""
    from engine.spark import diagnose

    ev = spark.read.parquet(SF_DIR + "/events.parquet")
    plan = _plan(diagnose.heavy_hitters(ev, "user_id", phi=0.0075))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan


# ---------------------------------------------------- histogram / Q10
def test_value_histogram_bruteforce(spark):
    from engine.spark import diagnose

    vals = [0.0, 1.0, 2.5, 9.99, 10.0, 5.0, 5.0, None]
    df = spark.createDataFrame([(v,) for v in vals], "value: double")
    got = {r["bin"]: (r["lo"], r["hi"], r["n"]) for r in
           diagnose.value_histogram(df, "value", n_bins=5).collect()}
    # range [0,10], width 2: bins 0:[0,2)x2 1:[2,4)x1 2:[4,6)x2 4:[8,10]x2
    assert got == {
        0: (0.0, 2.0, 2), 1: (2.0, 4.0, 1), 2: (4.0, 6.0, 2),
        4: (8.0, 10.0, 2),
    }


def test_value_histogram_degenerate_single_value(spark):
    from engine.spark import diagnose

    df = spark.createDataFrame([(3.0,)] * 4, "value: double")
    got = diagnose.value_histogram(df, "value", n_bins=8).collect()
    assert len(got) == 1 and got[0]["bin"] == 0 and got[0]["n"] == 4


def test_q10_plan_pushes_filters_and_broadcasts_nation(spark):
    """The returnflag and orderdate predicates must reach the parquet
    scans as PushedFilters; nation must broadcast; the top-20 must plan
    as TakeOrdered, never a global sort."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.q_q10_returned_items(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_returnflag" in ln and "EqualTo" in ln for ln in pushed), plan
    assert any("o_orderdate" in ln for ln in pushed), plan
    assert "BroadcastHashJoin" in plan, plan


# ----------------------------------------------------- forward as-of
def test_asof_forward_vs_bruteforce(spark):
    """Forward as-of: earliest right at-or-after each left ts; NULLs
    when nothing follows; equal-ts matches; bucketed two-phase path ==
    single-window path on a hot key crossing bucket boundaries."""
    from engine.spark import joins

    lrows = [(1, s) for s in (0, 5, 100, 86400 * 2 + 7)] + [(2, 50)]
    rrows = [(1, 5), (1, 60), (1, 86400 * 3), (3, 1)]
    mk = lambda rows, extra: spark.createDataFrame(
        [(k, datetime(2024, 1, 1) + timedelta(seconds=s), s * 10)
         for k, s in rows],
        f"user_id: long, ts: timestamp, {extra}: long",
    )
    left, right = mk(lrows, "lv"), mk(rrows, "price")

    def brute(l, r):
        out = {}
        for lk, ls in l:
            cand = [rs for rk, rs in r if rk == lk and rs >= ls]
            out[(lk, ls)] = min(cand) if cand else None
        return out

    want = brute(lrows, rrows)
    for bucket in (86400, None):
        got = {
            (r["user_id"], int(r["lv"]) // 10): (
                None
                if r["asof_price"] is None
                else int(r["asof_price"]) // 10
            )
            for r in joins.asof_join(
                left, right, key="user_id", ts_col="ts",
                direction="forward", bucket_seconds=bucket,
            ).collect()
        }
        assert got == want, (bucket, got, want)


def test_asof_forward_dup_tie_is_min_payload(spark):
    from engine.spark import joins

    left = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 0)], "user_id: long, ts: timestamp, lv: long"
    )
    right = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 0, 10), p) for p in (7, 3, 9)],
        "user_id: long, ts: timestamp, price: long",
    )
    got = joins.asof_join(
        left, right, key="user_id", ts_col="ts", direction="forward"
    ).collect()
    assert got[0]["asof_price"] == 3  # min payload de-tie


def test_asof_bad_direction_raises(spark):
    from engine.spark import joins

    df = spark.range(1).selectExpr("id AS user_id", "current_timestamp() AS ts")
    with pytest.raises(ValueError):
        joins.asof_join(df, df, key="user_id", direction="sideways")


# ------------------------------------------------------ token entropy
def test_token_entropy_bruteforce(spark):
    texts = {
        1: "a a a a",           # degenerate: entropy 0
        2: "a b c d",           # uniform over 4: ln(4)
        3: "a a b",             # 2/3, 1/3
        4: "",                  # empty: zeros
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id: long, text: string")
    got = {r["doc_id"]: (r["n_tokens"], r["distinct_tokens"], float(r["entropy"]))
           for r in etext.token_entropy(df).collect()}

    def brute(t):
        toks = t.lower().split()
        if not toks:
            return (0, 0, 0.0)
        from collections import Counter
        cnt = Counter(toks)
        n = len(toks)
        h = sum(round(-(c / n) * math.log(c / n), 6) for c in cnt.values())
        return (n, len(cnt), round(h, 6))

    assert got == {i: brute(t) for i, t in texts.items()}
    assert got[1][2] == 0.0 and got[4] == (0, 0, 0.0)
    assert got[2][2] == pytest.approx(math.log(4), abs=3e-6)


def test_token_entropy_one_token_shuffle(spark):
    """One partial-agg exchange on (doc_id, term) feeds both the totals
    and the entropy sum — no window over the token stream, no sort."""
    d = spark.read.parquet(SF_DIR + "/documents.parquet")
    plan = _plan(etext.token_entropy(d))
    assert "Exchange rangepartitioning" not in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "CartesianProduct" not in plan, plan


# --------------------------------------------------------------- RFM
def test_rfm_multi_ntile_composition_matches_window_ntile(spark):
    """Three distributed_ntile calls composed in ONE DAG (the bounded
    persist cache must keep every range frame materialized) must match
    plain window NTILE with the same tie rule."""
    from pyspark.sql import Window as W

    from engine.spark import diagnose

    rows = [(i, float(i % 7), float((i * 3) % 11), float(i)) for i in range(40)]
    df = spark.createDataFrame(
        rows, "user_id: long, a: double, b: double, c: double"
    ).withColumn("seg", F.lit("all"))
    outs = {}
    for m in ("a", "b", "c"):
        outs[m] = {
            r["user_id"]: r["bucket"]
            for r in diagnose.distributed_ntile(
                df, "seg", m, "user_id", buckets=4
            ).collect()
        }
    for m in ("a", "b", "c"):
        w = W.orderBy(F.col(m).asc(), F.col("user_id").asc())
        want = {
            r["user_id"]: r["nt"]
            for r in df.select(
                "user_id", F.ntile(4).over(w).alias("nt")
            ).collect()
        }
        assert outs[m] == want, m


def test_ntile_same_plan_repeat_still_materialized(spark):
    """Two identical distributed_ntile invocations (same source, same
    args) in one session: CacheManager dedupes the persist by plan
    equality, so the same-plan eviction must fire BEFORE re-persisting
    or the second call would run uncached (the r5 eviction-order fix,
    preserved under the bounded cache)."""
    from engine.spark import diagnose

    e = spark.read.parquet(SF_DIR + "/events.parquet").select(
        "event_id", "event_type", "value"
    )
    a = diagnose.distributed_ntile(e, "event_type", "value", "event_id")
    first = {r["event_id"]: r["bucket"] for r in a.collect()}
    b = diagnose.distributed_ntile(e, "event_type", "value", "event_id")
    second = {r["event_id"]: r["bucket"] for r in b.collect()}
    assert first == second


# --------------------------------------------- interval overlap / SCD2
def test_interval_overlap_vs_bruteforce(spark):
    """Bucketed overlap join == brute-force O(n²) on a fixture with
    touching (non-overlapping half-open), nested, multi-cell-spanning
    and cross-key intervals — each pair exactly once."""
    from engine.spark import joins

    A = [  # (key, start, end, id)
        (1, 0, 10, 1), (1, 10, 20, 2), (1, 5, 100, 3), (2, 0, 50, 4),
    ]
    B = [
        (1, 9, 11, 10), (1, 10, 10, 11), (1, 95, 200, 12), (2, 49, 60, 13),
        (3, 0, 100, 14),
    ]
    a = spark.createDataFrame(A, "k: long, start: long, end: long, aid: long")
    b = spark.createDataFrame(B, "k: long, start: long, end: long, bid: long")
    got = sorted(
        (r["aid_a"], r["bid_b"])
        for r in joins.interval_overlap_join(a, b, key="k", bucket=7).collect()
    )
    want = sorted(
        (aid, bid)
        for (ka, sa, ea, aid) in A
        for (kb, sb, eb, bid) in B
        if ka == kb and sa < eb and sb < ea
    )
    assert got == want
    assert (2, 10) in got    # [10,20) vs [9,11) overlap exactly at 10
    assert (1, 10) in got    # touching via containment [0,10) vs [9,11)
    assert (2, 12) not in want  # [10,20) vs [95,200): disjoint


def test_interval_overlap_plan_equi_join_only(spark):
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.q_interval_overlap(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_scd2_intervals_shape(spark):
    import __spark_entry__ as entry_mod

    rows = entry_mod.q_scd2_intervals(spark, SF_DIR).limit(500).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for u, rs in by_user.items():
        for prev, nxt in zip(rs, rs[1:]):
            assert prev["valid_to"] == nxt["valid_from"]  # contiguous
            assert not prev["is_current"]


def test_semantic_dedup_greedy_keep_rule(spark):
    """Planted twin clusters: three vectors at cosine ~1 of each other
    must keep ONLY the lowest id; an isolated vector is kept."""
    import pandas as pd
    from engine.spark import similarity

    def vec(seed, eps):
        base = [float((seed * 31 + d * 7) % 13 - 6) for d in range(8)]
        return [x + eps for x in base]

    rows = [
        (0, vec(1, 0.0)), (1, vec(1, 0.01)), (2, vec(1, 0.02)),  # triple
        (10, vec(2, 0.0)), (11, vec(2, 0.01)),                    # pair
        (20, vec(3, 0.0)),                                        # isolate
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    out = similarity.semantic_dedup(
        df, dim=8, n_centroids=2, threshold=0.99
    ).toPandas().set_index("id")
    kept = sorted(out[out["keep"]].index)
    dropped = sorted(out[~out["keep"]].index)
    assert 0 in kept and 10 in kept and 20 in kept
    assert 1 in dropped and 2 in dropped and 11 in dropped


def test_label_propagation_two_cliques(spark):
    """Two disjoint triangles converge to their min-id labels; a
    bridge-less pair keeps its own two-node community."""
    import pandas as pd
    from engine.spark import analytics

    edges = spark.createDataFrame(
        pd.DataFrame(
            [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
            columns=["src", "dst"],
        )
    )
    out = (
        analytics.label_propagation(edges, iters=3)
        .toPandas()
        .set_index("node")["label"]
    )
    assert set(out.loc[[1, 2, 3]]) == {1}
    assert set(out.loc[[10, 11, 12]]) == {10}
    assert set(out.loc[[20, 21]]) == {20}


def test_ewma_matches_sequential_fold(spark):
    import datetime as dt

    rows = []
    t0 = dt.datetime(2026, 1, 1)
    vals = {1: [10.0, 20.0, 30.0, 40.0], 2: [5.0], 3: [1.0, 2.0]}
    eid = 0
    for uid, vs in vals.items():
        for i, v in enumerate(vs):
            rows.append((eid, uid, t0 + dt.timedelta(minutes=i), v))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id: long, user_id: long, ts: timestamp, value: double"
    )
    out = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in analytics.ewma(df).collect()
    }
    # replay the exact fold in Python doubles — must be bit-identical
    eid = 0
    for uid, vs in vals.items():
        s = None
        for v in vs:
            s = v if s is None else 0.5 * v + 0.5 * s
            assert out[(uid, eid)] == s, (uid, eid)
            eid += 1
    assert len(out) == 7


def test_k_core_peels_cascade_to_fixpoint(spark):
    # triangle {1,2,3} + path 3-4, 4-5: with k=2 the path peels over
    # TWO cascading rounds (5 first, then 4 whose degree only drops
    # below k after 5 is gone); the triangle is the 2-core.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)], "src: long, dst: long"
    )
    out = {r["node"]: r["core_degree"]
           for r in analytics.k_core(edges, k=2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}
    # k=3: the triangle has degree 2 -> empty core
    assert analytics.k_core(edges, k=3).count() == 0
    # k=1: nothing peels, degrees are the raw degrees
    out1 = {r["node"]: r["core_degree"]
            for r in analytics.k_core(edges, k=1).collect()}
    assert out1 == {1: 2, 2: 2, 3: 3, 4: 2, 5: 1}


def test_item_cooccurrence_cap_and_ratios(spark):
    """The df-cap drops a viral group BEFORE pair generation; counts
    and the single-division ratios stay consistent with the capped
    membership."""
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (2, "c"), (3, "a")]
    # viral group 9: 4 distinct items > max_group=3 -> dropped entirely
    rows += [(9, t) for t in ("a", "b", "c", "d")]
    ev = spark.createDataFrame(rows, "user_id: long, event_type: string")
    got = {
        (r.item_a, r.item_b): r
        for r in analytics.item_cooccurrence(
            ev, "user_id", "event_type", max_group=3
        ).collect()
    }
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = got[("a", "b")]
    # capped universe: groups 1,2,3 -> a_n=3, b_n=2, pair ab in 1,2
    assert (ab.pair_n, ab.a_n, ab.b_n, ab.n_groups) == (2, 3, 2, 3)
    assert ab.confidence == 2.0 / 3.0
    assert ab.lift == (2 * 3) / float(3 * 2)
    assert "d" not in {k for pair in got for k in pair}


def test_contingency_chi2_hand_computed(spark):
    """2x2 hand check: observed/expected/cell_chi2 exact per cell, and
    expected sums back to each row marginal."""
    ev = spark.createDataFrame(
        [("x", 0)] * 30 + [("x", 1)] * 10 + [("y", 0)] * 10
        + [("y", 1)] * 10,
        "k: string, seg: long",
    )
    from engine.spark import diagnose

    cells = {
        (r.k, r.seg): r
        for r in diagnose.contingency_chi2(ev, "k", "seg").collect()
    }
    assert len(cells) == 4
    c = cells[("x", 0)]
    assert (c.observed, c.row_n, c.col_n, c.n_total) == (30, 40, 40, 60)
    exp = 40 * 40 / 60.0
    assert c.expected == exp
    assert c.cell_chi2 == (30.0 - exp) ** 2 / exp
    for k, row_n in (("x", 40), ("y", 20)):
        assert sum(cells[(k, s)].expected for s in (0, 1)) == row_n


def test_grouped_correlation_perfect_and_pairwise_complete(spark):
    """y=2x over shared buckets -> r=1; z=-x -> r=-1; a bucket where
    one series is absent is excluded (pairwise-complete); a
    zero-variance series never emits a pair."""
    rows = []
    for b in range(1, 6):
        rows.append((b, "x", float(b)))
        rows.append((b, "y", 2.0 * b))
        rows.append((b, "z", float(-b)))
        rows.append((b, "flat", 7.0))
    rows.append((99, "x", 100.0))  # bucket 99 lacks y/z -> excluded
    df = spark.createDataFrame(rows, "b: long, s: string, v: double")
    from engine.spark import diagnose

    got = {
        (r.series_a, r.series_b): r
        for r in diagnose.grouped_correlation(df, "b", "s", "v").collect()
    }
    assert got[("x", "y")].corr == 1.0 and got[("x", "y")].n == 5
    assert got[("x", "z")].corr == -1.0
    assert got[("y", "z")].corr == -1.0
    assert not any("flat" in k for k in got)


def test_vocab_growth_invariants(spark):
    """Shard-wise new-token counts partition the vocabulary: they sum
    to the total distinct-token count, the cumulative column is the
    running sum, and the curve is deterministic across runs."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i} w{i % 7} gamma") for i in range(40)],
        "doc_id: long, text: string",
    )
    out = etext.vocab_growth(docs, n_shards=8, seed="t").collect()
    total_vocab = 3 + 40  # alpha/beta/gamma + w0..w39 (w{i%7} repeats)
    assert sum(r.new_tokens for r in out) == total_vocab
    cum = 0
    for r in sorted(out, key=lambda r: r.shard):
        cum += r.new_tokens
        assert r.cum_vocab == cum
    assert cum == total_vocab
    again = etext.vocab_growth(docs, n_shards=8, seed="t").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_centroid_classify_separable_clusters(spark):
    """Two well-separated synthetic clusters -> diagonal confusion
    matrix; a vector planted on the other cluster's centroid ->
    exactly one off-diagonal count."""
    from engine.spark import similarity

    rows = []
    for i in range(20):
        rows.append((i, [10.0 + (i % 3), 0.1, 0.0], "a"))
        rows.append((100 + i, [0.1, 10.0 + (i % 3), 0.0], "b"))
    rows.append((999, [0.1, 10.0, 0.0], "a"))  # labeled a, sits in b
    df = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>, label: string"
    )
    got = {
        (r.true_label, r.pred_label): r.n
        for r in similarity.centroid_classify(df).collect()
    }
    assert got[("a", "a")] == 20
    assert got[("b", "b")] == 20
    assert got[("a", "b")] == 1
    assert ("b", "a") not in got


# ----------------------------------------- pareto frontier (skyline)
def test_pareto_frontier_vs_bruteforce(spark):
    """Random points vs the O(n^2) strict-domination definition,
    including duplicate points (mutually non-dominating — all kept)
    and a dominated duplicate pair (all dropped)."""
    import random

    rng = random.Random(7)
    pts = [(i, rng.randrange(0, 40), rng.randrange(0, 40))
           for i in range(200)]
    pts += [(900, 100, -1), (901, 100, -1)]    # frontier duplicates
    pts += [(902, -1, 100), (903, -1, 100)]    # dominated duplicates
    df = spark.createDataFrame(pts, "id: long, x: long, y: long")
    got = {
        r.id
        for r in analytics.pareto_frontier(df, "x", "y").collect()
    }

    def dominated(p, q):  # q dominates p
        return (
            q[1] >= p[1] and q[2] <= p[2]
            and (q[1] > p[1] or q[2] < p[2])
        )

    want = {
        p[0]
        for p in pts
        if not any(dominated(p, q) for q in pts)
    }
    assert got == want
    assert {900, 901} <= got and not ({902, 903} & got)


def test_pareto_frontier_no_global_sort_window(spark):
    """Every Window in the plan partitions on something (_pf_pid or
    the nparts-row pid histogram) — never an empty partition-by over
    the grouped fact table — and nothing plans as a cartesian."""
    import __spark_entry__ as entry_mod

    df = entry_mod.q_pareto_frontier(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    # the only acceptable empty-partition window input is the pid
    # histogram (one row per shuffle partition); its plan node carries
    # the _pf_pm aggregate, the data-sized windows carry _pf_pid
    for ln in plan.splitlines():
        if "Window [" in ln and "partitionBy" not in ln:
            if "_pf_loc" in ln:
                assert "_pf_pid" in ln, ln


# ------------------------------------------------- bfs hop distances
def test_bfs_distance_hand_graph(spark):
    """Chain 1→2→3→4→5 with a shortcut 1→4 and an unreachable island
    (8→9): min-hop wins, cap honors max_hops, islands absent."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4), (8, 9)],
        "src: long, dst: long",
    )
    seeds = spark.createDataFrame([(1,)], "node: long")
    got = {
        r.node: r.dist
        for r in analytics.bfs_distance(edges, seeds, max_hops=2)
        .collect()
    }
    assert got == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}
    got3 = {
        r.node: r.dist
        for r in analytics.bfs_distance(edges, seeds, max_hops=3)
        .collect()
    }
    assert got3 == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}  # 5 via shortcut


def test_bfs_distance_multi_source_min(spark):
    """Two seeds: every node gets the distance to its NEAREST seed."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 4)], "src: long, dst: long"
    )
    seeds = spark.createDataFrame([(1,), (10,)], "node: long")
    got = {
        r.node: r.dist
        for r in analytics.bfs_distance(edges, seeds, max_hops=3)
        .collect()
    }
    assert got == {1: 0, 10: 0, 2: 1, 4: 1, 3: 2}


# --------------------------------------------------------------- twap
def test_twap_hand_computed(spark):
    """values 10 (held 2s), 20 (held 6s) → twap (10*2+20*6)/8 = 17.5;
    the trailing event contributes no weight; a single-event user
    emits no row."""
    rows = [
        (1, 1, T0, 10.0),
        (2, 1, T0 + timedelta(seconds=2), 20.0),
        (3, 1, T0 + timedelta(seconds=8), 99.0),   # trailing, no weight
        (4, 2, T0, 5.0),                            # lone event
    ]
    df = spark.createDataFrame(
        rows, "event_id: long, user_id: long, ts: timestamp, value: double"
    )
    out = {r.user_id: r for r in analytics.twap(df).collect()}
    assert list(out) == [1]
    assert out[1].n_intervals == 2
    assert out[1].span_us == 8_000_000
    assert out[1].twap == 17.5


# ------------------------------------------- gap-capped window funnel
def test_window_funnel_vs_bruteforce(spark):
    """Random event streams vs the O(n^3) exists-chain definition,
    including the case first-touch anchoring gets wrong (early stage-1
    that times out, later stage-1 that chains) and same-timestamp
    events (strictness: can't chain at equal ts)."""
    import itertools
    import random

    rng = random.Random(11)
    stages = ["a", "b", "c"]
    W = 10_000_000  # 10 s in micros
    rows = []
    for u in range(40):
        n = rng.randrange(3, 12)
        for _ in range(n):
            rows.append(
                (
                    u,
                    T0 + timedelta(seconds=rng.randrange(0, 40)),
                    rng.choice(stages + ["x"]),
                )
            )
    # planted: first-touch trap — a@0 times out (b@20s), but a@15 chains
    rows += [
        (100, T0, "a"),
        (100, T0 + timedelta(seconds=15), "a"),
        (100, T0 + timedelta(seconds=20), "b"),
        (100, T0 + timedelta(seconds=24), "c"),
    ]
    # planted: equal-ts pair must NOT chain
    rows += [
        (101, T0, "a"),
        (101, T0, "b"),
    ]
    df = spark.createDataFrame(
        rows, "user_id: long, ts: timestamp, event_type: string"
    )
    got = {
        (r.level, r.event_type): r.users
        for r in analytics.window_funnel(df, stages, W).collect()
    }

    by_user = {}
    for u, ts, t in rows:
        if t in stages:
            by_user.setdefault(u, []).append((ts, stages.index(t)))
    us = int(W)

    def max_level(evs):
        best = 0
        for k in (1, 2, 3):
            for chain in itertools.permutations(evs, k):
                if [c[1] for c in chain] != list(range(k)):
                    continue
                ts_list = [c[0] for c in chain]
                if all(
                    ts_list[i] < ts_list[i + 1] for i in range(k - 1)
                ) and (
                    (ts_list[-1] - ts_list[0]).total_seconds() * 1e6
                    <= us
                ):
                    best = max(best, k)
                    break
        return best

    levels = [max_level(v) for v in by_user.values()]
    want = {
        (i + 1, s): sum(1 for lv in levels if lv >= i + 1)
        for i, s in enumerate(stages)
    }
    assert got == want
    # the planted first-touch trap reached level 3
    assert max_level(by_user[100]) == 3
    # the equal-ts user stalled at level 1
    assert max_level(by_user[101]) == 1


def test_window_funnel_no_python_no_cartesian(spark):
    """The DP stays JVM-side (no Arrow/Python eval nodes) and the
    stage-tier assembly never plans as a data-sized nested loop."""
    import __spark_entry__ as entry_mod

    df = entry_mod.q_window_funnel(spark, SF_DIR)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan


def test_roc_auc_hand_computed(spark):
    """AUC against sklearn-style hand math: perfect separation -> 1.0,
    anti-separation -> 0.0, all-ties -> 0.5, and a mixed case with a
    tie straddling the classes."""
    from engine.spark import diagnose

    rows = (
        # g=perfect: pos scores {3,4} all above neg {1,2}
        [("perfect", 1.0, 0), ("perfect", 2.0, 0),
         ("perfect", 3.0, 1), ("perfect", 4.0, 1)]
        # g=anti: reversed
        + [("anti", 3.0, 0), ("anti", 4.0, 0),
           ("anti", 1.0, 1), ("anti", 2.0, 1)]
        # g=ties: every score equal
        + [("ties", 5.0, 0), ("ties", 5.0, 1),
           ("ties", 5.0, 0), ("ties", 5.0, 1)]
        # g=mixed: pos {2,3}, neg {1,2}: pairs (2>1)=1, (2=2)=.5,
        # (3>1)=1, (3>2)=1 -> 3.5/4 = 0.875
        + [("mixed", 1.0, 0), ("mixed", 2.0, 0),
           ("mixed", 2.0, 1), ("mixed", 3.0, 1)]
        # g=onesided: only positives -> NULL auc
        + [("onesided", 1.0, 1), ("onesided", 2.0, 1)]
    )
    df = spark.createDataFrame(
        rows, "g: string, score: double, label: int"
    )
    out = {
        r["g"]: r
        for r in diagnose.roc_auc(df, "score", "label", "g").collect()
    }
    assert out["perfect"]["auc"] == 1.0
    assert out["anti"]["auc"] == 0.0
    assert out["ties"]["auc"] == 0.5
    assert out["mixed"]["auc"] == 0.875
    assert out["onesided"]["auc"] is None
    assert (out["mixed"]["n_pos"], out["mixed"]["n_neg"]) == (2, 2)


def test_roc_auc_no_global_row_sort(spark):
    """The only full-data exchange is the (group, score) histogram
    groupBy; the window walks the reduced histogram, so no Sort over
    the raw-row plan node count appears before the aggregation."""
    from engine.spark import diagnose

    df = spark.range(1000).select(
        (F.col("id") % 5).cast("string").alias("g"),
        (F.col("id") % 37).cast("double").alias("score"),
        (F.col("id") % 2).cast("int").alias("label"),
    )
    plan = (
        diagnose.roc_auc(df, "score", "label", "g")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # histogram partial agg must sit below the first exchange
    assert "partial_" in plan, plan
    assert "PythonUDF" not in plan, plan


def test_welch_ttest_matches_reference_math(spark):
    """Welch t and Satterthwaite df against a NumPy hand computation
    on a deterministic two-group sample, plus the degenerate guards."""
    import numpy as np

    from engine.spark import diagnose

    a = [float(x) for x in [1, 2, 3, 4, 5, 6, 7, 8]]
    b = [float(x) for x in [2, 4, 4, 4, 5, 5, 7, 9, 11, 12]]
    rows = [("exp1", "A", v) for v in a] + [("exp1", "B", v) for v in b]
    # exp2: treatment-only -> dropped; exp3: zero variance both sides
    rows += [("exp2", "B", 1.0), ("exp2", "B", 2.0)]
    rows += [("exp3", "A", 5.0), ("exp3", "A", 5.0),
             ("exp3", "B", 5.0), ("exp3", "B", 5.0)]
    df = spark.createDataFrame(rows, "g: string, variant: string, v: double")
    out = {
        r["g"]: r
        for r in diagnose.welch_ttest(df, "g", "variant", "v").collect()
    }
    assert set(out) == {"exp1", "exp3"}  # exp2 lacks a control side

    na, nb = len(a), len(b)
    ma, mb = np.mean(a), np.mean(b)
    va, vb = np.var(a, ddof=1), np.var(b, ddof=1)
    se2 = vb / nb + va / na
    t_ref = (mb - ma) / np.sqrt(se2)
    dof_ref = se2**2 / (
        (vb / nb) ** 2 / (nb - 1) + (va / na) ** 2 / (na - 1)
    )
    r = out["exp1"]
    assert (r["n_c"], r["n_t"]) == (na, nb)
    assert r["mean_c"] == round(ma, 6) and r["mean_t"] == round(mb, 6)
    assert abs(r["t_stat"] - t_ref) < 1e-6
    assert abs(r["dof"] - dof_ref) < 1e-6

    z = out["exp3"]  # zero variance -> t/df NULL, means intact
    assert z["mean_c"] == 5.0 and z["mean_t"] == 5.0
    assert z["t_stat"] is None and z["dof"] is None


def test_calibration_bins_exact_boundaries(spark):
    """Scores sitting EXACTLY on bin boundaries must bin by integer
    arithmetic (0.2 -> bin 2, not a float-dependent 1/2 coin flip);
    score 1.0 clamps into the last bin."""
    from engine.spark import diagnose

    rows = [
        (0.0, 0), (0.05, 1),        # bin 0
        (0.2, 1), (0.25, 1),        # bin 2 (exact boundary)
        (0.999999, 0), (1.0, 1),    # bin 9 (clamp)
    ]
    df = spark.createDataFrame(rows, "score: double, label: int")
    out = {
        r["bin"]: r
        for r in diagnose.calibration_bins(
            df, "score", "label", bins=10
        ).collect()
    }
    assert set(out) == {0, 2, 9}
    assert out[0]["n"] == 2 and out[0]["pos_rate"] == 0.5
    assert out[2]["n"] == 2 and out[2]["mean_score"] == 0.225
    assert out[9]["n"] == 2
    assert abs(out[9]["mean_score"] - 0.9999995) < 1e-6


# ------------------------------------------- weighted shortest paths
def test_sssp_weighted_hand_graph(spark):
    """Cheap long path vs expensive shortcut: the ≤k-edge Bellman-Ford
    invariant — at k=1 the shortcut wins, at k=2 the 2-edge path
    undercuts it; parallel edges keep the cheapest; negative-weight
    edges are dropped by contract."""
    edges = spark.createDataFrame(
        [(1, 2, 1), (1, 2, 5), (2, 3, 1), (1, 3, 10), (3, 4, 1),
         (1, 2, -7)],
        "src: long, dst: long, weight: long",
    )
    seeds = spark.createDataFrame([(1,)], "node: long")

    def run(k):
        return {
            r.node: r.dist
            for r in analytics.sssp_weighted(edges, seeds, max_hops=k)
            .collect()
        }

    assert run(1) == {1: 0, 2: 1, 3: 10}
    assert run(2) == {1: 0, 2: 1, 3: 2, 4: 11}
    assert run(3) == {1: 0, 2: 1, 3: 2, 4: 3}


def test_sssp_weighted_vs_bruteforce(spark):
    """Random sparse digraph vs a pure-Python full-relaxation
    Bellman-Ford capped at the same round count — the delta-frontier
    shortcut must be invisible in the results."""
    import random

    rng = random.Random(11)
    n = 40
    es = {(rng.randrange(n), rng.randrange(n)): rng.randrange(1, 20)
          for _ in range(160)}
    edges = spark.createDataFrame(
        [(s, d, w) for (s, d), w in es.items()],
        "src: long, dst: long, weight: long",
    )
    seeds_py = [0, 7]
    seeds = spark.createDataFrame([(s,) for s in seeds_py], "node: long")
    K = 4
    dist = {s: 0 for s in seeds_py}
    for _ in range(K):
        nxt = dict(dist)
        for (s, d), w in es.items():
            if s in dist and dist[s] + w < nxt.get(d, float("inf")):
                nxt[d] = dist[s] + w
        dist = nxt
    got = {
        r.node: r.dist
        for r in analytics.sssp_weighted(edges, seeds, max_hops=K)
        .collect()
    }
    assert got == dist


# ------------------------------------------------- concurrency sweep
def test_concurrency_peak_hand(spark):
    """Three overlapping intervals peak at 3 exactly when the third
    opens; half-open back-to-back intervals never overlap (peak 1 at
    the first open); empty intervals are dropped."""
    iv = spark.createDataFrame(
        [("A", 0, 10, 1), ("A", 5, 15, 2), ("A", 9, 12, 3),
         ("B", 0, 5, 4), ("B", 5, 10, 5), ("B", 7, 7, 6)],
        "k: string, s: long, e: long, i: long",
    )
    got = {
        r.k: (r.peak, r.at_us)
        for r in analytics.concurrency_peak(iv, "k", "s", "e", "i")
        .collect()
    }
    assert got == {"A": (3, 9), "B": (1, 0)}


def test_concurrency_peak_vs_bruteforce(spark):
    """Random interval soup vs a pure-Python sweep at 32 shuffle
    partitions — block offsets must stitch the distributed prefix sum
    exactly, and peak ties must resolve to the earliest instant."""
    import random

    rng = random.Random(23)
    rows = []
    for i in range(600):
        k = "k%d" % rng.randrange(3)
        s = rng.randrange(0, 500)
        rows.append((k, s, s + rng.randrange(1, 60), i))
    # force a tie: two disjoint twin-peaks of height 2 on key t
    rows += [("t", 100, 110, 9001), ("t", 105, 115, 9002),
             ("t", 300, 310, 9003), ("t", 305, 315, 9004)]
    iv = spark.createDataFrame(rows, "k: string, s: long, e: long, i: long")
    want = {}
    for k in {r[0] for r in rows}:
        deltas = []
        for kk, s, e, i in rows:
            if kk == k and s < e:
                deltas += [(s, 1, i), (e, -1, i)]
        run, peak, at = 0, -1, None
        for t, d, i in sorted(deltas):
            run += d
            if run > peak:
                peak, at = run, t
        want[k] = (peak, at)
    got = {
        r.k: (r.peak, r.at_us)
        for r in analytics.concurrency_peak(iv, "k", "s", "e", "i")
        .collect()
    }
    assert got == want
    assert got["t"] == (2, 105)


def test_concurrency_peak_no_per_key_fact_window(spark):
    """The running sum must never plan as a per-key window over fact
    rows: every data-sized Window partitions on (pid, k) — the bounded
    range-partition blocks — and the only per-key window reads the
    P×|keys| block histogram; offsets ride a BroadcastExchange."""
    import __spark_entry__ as entry_mod

    df = entry_mod.q_concurrency_peak(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    for ln in plan.splitlines():
        if "Window [" in ln and "lcum" in ln:
            assert "pid" in ln, ln


# ----------------------------------------------- CUPED / contribution
def test_cuped_variance_reduction_and_unbiasedness(spark):
    """y strongly tracks x → var_y_cuped shrinks by ≈ r²; identical
    x-distributions in both variants → the A−B adjusted gap equals the
    raw gap (CUPED must not bias the contrast); theta matches the
    pooled cov/var computed independently in Python."""
    from engine.spark import diagnose
    import random

    rng = random.Random(5)
    rows = []
    for v, lift in (("A", 0.0), ("B", 2.0)):
        for i in range(120):
            x = round(rng.uniform(0, 100), 3)
            y = round(x + lift + rng.uniform(-2, 2), 3)
            rows.append((v, x, y))
    df = spark.createDataFrame(rows, "variant: string, x: double, y: double")
    got = {
        r.variant: r
        for r in diagnose.cuped_adjust(df, "variant", "x", "y").collect()
    }
    xs = [r[1] for r in rows]
    ys = [r[2] for r in rows]
    n = len(rows)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert abs(got["A"].theta - theta) < 1e-4
    for v in ("A", "B"):
        assert got[v].var_y_cuped < 0.1 * got[v].var_y  # r² ≈ 0.99
    raw_gap = got["B"].mean_y - got["A"].mean_y
    adj_gap = got["B"].mean_y_cuped - got["A"].mean_y_cuped
    # x-means differ only by sampling noise; the gap shift is θ·Δmx
    assert abs(adj_gap - raw_gap) < abs(theta) * 5.0
    assert 1.6 < adj_gap < 2.4  # the true lift, sharper than raw


def test_cumulative_contribution_hand(spark):
    """values 50/30/15/5 at 80%: the first two cover exactly 80% and
    the third's prior-cum test (80 < 80) is false — exact-rational
    boundary, no float drift; ties rank by id; every non-empty group
    emits at least its top member."""
    rows = [
        ("g1", 1, 50.0), ("g1", 2, 30.0), ("g1", 3, 15.0), ("g1", 4, 5.0),
        ("g2", 7, 10.0), ("g2", 5, 10.0),   # tie → id order
        ("g3", 9, 1.0),
    ]
    df = spark.createDataFrame(rows, "k: string, i: long, v: double")
    got = [
        (r.k, r.i, r.rank, r.cum_share)
        for r in analytics.cumulative_contribution(df, "k", "i", "v")
        .orderBy("k", "rank")
        .collect()
    ]
    assert got == [
        ("g1", 1, 1, 0.5), ("g1", 2, 2, 0.8),
        ("g2", 5, 1, 0.5), ("g2", 7, 2, 1.0),
        ("g3", 9, 1, 1.0),
    ]


# ------------------------------------- autocorrelation / changepoint
def test_autocorrelation_alternating_and_gaps(spark):
    """A perfectly alternating series has lag-1 acf −1; a hole in the
    bucket grid pairs NOTHING across it (bucket arithmetic, not row
    adjacency), which the pair count exposes."""
    from engine.spark import diagnose

    rows = [("A", b, v) for b, v in
            [(1, 1.0), (2, 2.0), (3, 1.0), (4, 2.0), (5, 1.0)]]
    # B has buckets 1,2,3,5,6: the 3→5 jump must not pair
    rows += [("B", b, float(b)) for b in (1, 2, 3, 5, 6)]
    df = spark.createDataFrame(rows, "k: string, b: long, v: double")
    got = {
        r.k: (r.n, r.acf)
        for r in diagnose.autocorrelation(df, "k", "b", "v", lag=1)
        .collect()
    }
    assert got["A"] == (4, -1.0)
    assert got["B"][0] == 3  # (1,2),(2,3),(5,6) — never (3,5)


def test_changepoint_hand_and_tie(spark):
    """A clean level shift 0→10 splits exactly at the boundary; an
    all-equal series scores 0 everywhere and ties to the EARLIEST
    split."""
    from engine.spark import diagnose

    rows = [("A", b, 0.0) for b in (1, 2, 3)]
    rows += [("A", b, 10.0) for b in (4, 5, 6)]
    rows += [("flat", b, 5.0) for b in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, "k: string, b: long, v: double")
    got = {
        r.k: (r.split_bucket, r.n_buckets, r.mean_left, r.mean_right)
        for r in diagnose.changepoint(df, "k", "b", "v").collect()
    }
    assert got["A"] == (3, 6, 0.0, 10.0)
    assert got["flat"] == (1, 4, 5.0, 5.0)


def test_user_streaks_hand(spark):
    """Streaks 3+2+1 → max 3 anchored at the earliest day; equal-length
    streaks resolve to the earliest start; same-day duplicates count
    once."""
    base = 86_400  # one day of epoch seconds
    rows = []
    for d in (0, 1, 2, 5, 6, 10):
        rows.append((1, d * base))
    rows.append((1, 2 * base + 3600))      # duplicate day 2
    for d in (0, 1, 5, 6):
        rows.append((2, d * base))
    df = spark.createDataFrame(
        [(u, s) for u, s in rows], "user_id: long, sec: long"
    ).select("user_id", F.timestamp_seconds(F.col("sec")).alias("ts"))
    got = {
        r.user_id: (r.n_active_days, r.max_streak, r.best_streak_start)
        for r in analytics.user_streaks(df).collect()
    }
    assert got[1] == (6, 3, 0)
    assert got[2] == (4, 2, 0)


def test_changepoint_cross_key_score_collision(spark):
    """Key A's max score (20) equals a NON-max score in key B (whose
    max is 40): the best-score join must stay per-key — the ambiguous-
    self-join footgun (k == k trivially true) would leak A's max into
    B's candidate set and drag B's split to bucket 1."""
    from engine.spark import diagnose

    rows = [("A", 1, 0.0), ("A", 2, 20.0)]
    rows += [("B", 1, 0.0), ("B", 2, 0.0), ("B", 3, 10.0), ("B", 4, 10.0)]
    df = spark.createDataFrame(rows, "k: string, b: long, v: double")
    got = {
        r.k: r.split_bucket
        for r in diagnose.changepoint(df, "k", "b", "v").collect()
    }
    assert got == {"A": 1, "B": 2}


# --------------------------------------------------- survival curve
def test_survival_curve_hand_km(spark):
    """Five users — deaths at t=1,2,3, two censored in the trailing
    window: S = 0.8, 0.6, 0.4 (exact KM by hand); censored users leave
    the risk set without a product factor."""
    base = 86_400
    rows = []
    for u, last in ((1, 1), (2, 2), (3, 3), (4, 10), (5, 9)):
        rows += [(u, 0), (u, last * base)]
    df = spark.createDataFrame(rows, "user_id: long, sec: long").select(
        "user_id", F.timestamp_seconds(F.col("sec")).alias("ts")
    )
    got = [
        (r.t, r.n_risk, r.d, r.c, r.survival)
        for r in analytics.survival_curve(df, censor_days=2)
        .orderBy("t")
        .collect()
    ]
    assert got == [(1, 5, 1, 0, 0.8), (2, 4, 1, 0, 0.6),
                   (3, 3, 1, 0, 0.4)]


def test_survival_curve_extinction_sentinel(spark):
    """Everyone at risk dies at once: q=0 → the −999 sentinel exp-
    underflows to exactly 0.0 survival."""
    base = 86_400
    rows = [(1, 0), (1, base), (2, 0), (2, base)]
    df = spark.createDataFrame(rows, "user_id: long, sec: long").select(
        "user_id", F.timestamp_seconds(F.col("sec")).alias("ts")
    )
    got = analytics.survival_curve(df, censor_days=0).collect()
    assert [(r.t, r.n_risk, r.d, r.survival) for r in got] == [
        (1, 2, 2, 0.0)
    ]


# --------------------------------------- MI / HHI / PMI collocations
def test_mutual_information_independence_and_identity(spark):
    """A product-form table (counts = r·k/N exactly) has MI = 0; a
    diagonal table over m classes has MI = ln m."""
    import math
    from engine.spark import diagnose

    indep = []
    for x, rx in (("a", 1), ("b", 3)):
        for y, ky in ((0, 2), (1, 1)):
            indep += [(x, y)] * (rx * ky)
    df = spark.createDataFrame(indep, "x: string, y: long")
    mi0 = diagnose.mutual_information(df, "x", "y").collect()[0]
    assert mi0.mi == 0.0 and mi0.n_total == 12 and mi0.n_cells == 4
    diag = [(str(i), i) for i in range(3) for _ in range(5)]
    df2 = spark.createDataFrame(diag, "x: string, y: long")
    mi1 = diagnose.mutual_information(df2, "x", "y").collect()[0]
    assert abs(mi1.mi - math.log(3)) < 1e-7


def test_hhi_concentration_hand(spark):
    """Monopoly → 1.0; even split → 1/n; 60/20/20 → 0.44 with
    top_share 0.6."""
    rows = [("m", 1, 100.0),
            ("even", 1, 50.0), ("even", 2, 50.0),
            ("skew", 1, 60.0), ("skew", 2, 20.0), ("skew", 3, 20.0)]
    df = spark.createDataFrame(rows, "k: string, i: long, v: double")
    got = {
        r.k: (r.n_members, r.hhi, r.top_share)
        for r in analytics.hhi_concentration(df, "k", "i", "v").collect()
    }
    assert got == {"m": (1, 1.0, 1.0), "even": (2, 0.5, 0.5),
                   "skew": (3, 0.44, 0.6)}


def test_pmi_collocations_hand(spark):
    """An exclusive pair scores ln 4 and tops pairs sharing a
    marginal (ln 2) and the independent-ish pair (0)."""
    import math
    from engine.spark import text as etext

    rows = [(1, "new york"), (2, "a b"), (3, "a c"), (4, "b c")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = [
        (r.w1, r.w2, r.pmi)
        for r in etext.pmi_collocations(df, "text", k=10, min_count=1)
        .collect()
    ]
    assert got[0][:2] == ("new", "york")
    assert abs(got[0][2] - round(math.log(4), 6)) < 1e-9
    pmis = {(w1, w2): p for w1, w2, p in got}
    assert abs(pmis[("a", "b")] - round(math.log(2), 6)) < 1e-9
    assert pmis[("a", "c")] == 0.0


# -------------------------------- benford / degrees / latency
def test_benford_audit_power_of_ten_binning(spark):
    """Exact powers of ten must bin under digit 1 (the floor(log10)
    IEEE bug this op avoids), sub-1 values are out of scope, and a
    digit-1-only sample pins ratio 1.0 against expected 0.301."""
    from engine.spark import diagnose

    vals = [1000.0, 100.0, 10.0, 1.0, 0.5, -0.9, 199.9, 1.7]
    df = spark.createDataFrame([(v,) for v in vals], "value: double")
    got = {r.digit: r for r in diagnose.benford_audit(df).collect()}
    assert set(got) == {1}
    r = got[1]
    assert r.observed == 6 and r.ratio == 1.0
    assert abs(r.expected_ratio - 0.30103) < 1e-6


def test_degree_stats_hand(spark):
    """Triangle 1→2→3→1 plus the lone reciprocal pair (1↔2 via 2→1):
    n_nodes 3, n_edges 4, reciprocity 2/4; duplicate edges count
    once."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 1), (2, 1)], "src: long, dst: long"
    )
    r = analytics.degree_stats(edges).collect()[0]
    assert (r.n_nodes, r.n_edges) == (3, 4)
    assert r.max_out == 2 and r.max_in == 2
    assert r.reciprocity == 0.5
    assert abs(r.avg_degree - 4 / 3) < 1e-6


def test_degree_stats_self_loop(spark):
    """Self-loop semantics under the unordered-pair formulation: (1,1)
    is ONE edge, reciprocal by definition, contributing out=1 in=1 to
    its node exactly once (not doubled via the hi endpoint)."""
    edges = spark.createDataFrame(
        [(1, 1), (1, 1), (1, 2)], "src: long, dst: long"
    )
    r = analytics.degree_stats(edges).collect()[0]
    assert (r.n_nodes, r.n_edges) == (2, 2)
    assert r.max_out == 2 and r.max_in == 1
    assert r.reciprocity == 0.5


def test_degree_stats_null_endpoints(spark):
    """An edge with a NULL endpoint is no edge: it must not turn into a
    self-loop on its other endpoint."""
    edges = spark.createDataFrame(
        [(1, None), (None, 2), (1, 2)], "src: long, dst: long"
    )
    r = analytics.degree_stats(edges).collect()[0]
    assert (r.n_nodes, r.n_edges) == (2, 1)
    assert r.max_out == 1 and r.max_in == 1
    assert r.reciprocity == 0.0


def test_conversion_latency_first_touch(spark):
    """Latency anchors at the FIRST from-event and takes the first
    to-event strictly after it; conversions before the anchor don't
    count; per-bucket stats are exact."""
    rows = [
        (1, 0, "signup"), (1, 50, "signup"),        # anchor at 0
        (1, 100, "purchase"), (1, 400, "purchase"),  # first after → 100
        (2, 500, "purchase"), (2, 600, "signup"),    # no post-anchor buy
        (3, 0, "signup"), (3, 7200, "purchase"),     # second bucket
    ]
    df = spark.createDataFrame(rows, "user_id: long, sec: long, event_type: string").select(
        "user_id", F.timestamp_seconds(F.col("sec")).alias("ts"), "event_type"
    )
    got = {
        r.bucket: (r.n, r.min_s, r.max_s, r.mean_s)
        for r in analytics.conversion_latency(
            df, "signup", "purchase", bucket_s=3600
        ).collect()
    }
    assert got == {0: (1, 100.0, 100.0, 100.0),
                   2: (1, 7200.0, 7200.0, 7200.0)}


# ------------------------------------ stickiness / gini / seasonality
def test_dau_mau_hand(spark):
    """3-day window: day 2's MAU unions days 0-2 actives; a user
    active twice in the window counts once; stickiness = dau/mau."""
    base = 86_400
    rows = [(1, 0), (2, 0), (1, 1), (1, 2), (3, 2), (1, 0)]
    df = spark.createDataFrame(rows, "user_id: long, sec: long").select(
        "user_id", (F.col("sec") * base).alias("s")
    ).select("user_id", F.timestamp_seconds(F.col("s")).alias("ts"))
    got = {
        r.day: (r.dau, r.mau, r.stickiness)
        for r in analytics.dau_mau(df, window_days=3).collect()
    }
    # day0: dau {1,2}, mau {1,2}; day1: dau {1}, mau {1,2};
    # day2: dau {1,3}, mau {1,2,3}
    assert got == {
        0: (2, 2, 1.0),
        1: (1, 2, 0.5),
        2: (2, 3, round(2 / 3, 6)),
    }


def test_gini_index_hand(spark):
    """Perfect equality → 0; a 0/0/100 split of n=3 → G = 2/3; the
    textbook rank formula checked by hand."""
    rows = [("eq", 1, 10.0), ("eq", 2, 10.0), ("eq", 3, 10.0),
            ("mono", 1, 0.0), ("mono", 2, 0.0), ("mono", 3, 100.0)]
    df = spark.createDataFrame(rows, "k: string, i: long, v: double")
    got = {
        r.k: (r.n_members, r.gini)
        for r in analytics.gini_index(df, "k", "i", "v").collect()
    }
    assert got["eq"] == (3, 0.0)
    assert got["mono"] == (3, round(2 / 3, 6))


def test_seasonality_profile_hand(spark):
    """Two cells with 2× load difference: ratios 4/3 and 2/3 against
    the key mean; epoch-anchored dow (day 0 = Thursday = dow 0)."""
    from engine.spark import diagnose

    rows = [("a", 0, 10.0), ("a", 0, 30.0),     # day0 hour0: mean 20
            ("a", 3600, 10.0)]                  # day0 hour1: mean 10
    df = spark.createDataFrame(rows, "k: string, sec: long, v: double").select(
        "k", F.timestamp_seconds(F.col("sec")).alias("ts"), "v"
    )
    got = {
        (r.dow, r.hour): (r.n, r.mean_value, r.ratio)
        for r in diagnose.seasonality_profile(df, "k", "ts", "v")
        .collect()
    }
    key_mean = 50.0 / 3
    assert got[(0, 0)] == (2, 20.0, round(20.0 / key_mean, 6))
    assert got[(0, 1)] == (1, 10.0, round(10.0 / key_mean, 6))


# ---------------------------- paths / burstiness / overlap / rolling
def test_path_trigrams_order_and_counts(spark):
    """Per-user time order with event_id tie-breaks; triples count
    across users; tail shorter than 3 contributes nothing."""
    rows = [
        (1, 0, 1, "a"), (1, 1, 2, "b"), (1, 2, 3, "c"), (1, 3, 4, "d"),
        (2, 0, 5, "a"), (2, 1, 6, "b"), (2, 1, 7, "c"),  # tie → id order
        (3, 0, 8, "x"), (3, 1, 9, "y"),                   # too short
    ]
    df = spark.createDataFrame(
        rows, "user_id: long, sec: long, event_id: long, event_type: string"
    ).select(
        "user_id", F.timestamp_seconds("sec").alias("ts"),
        "event_id", "event_type",
    )
    got = {(r.t1, r.t2, r.t3): r.n
           for r in analytics.path_trigrams(df, k=10).collect()}
    assert got == {("a", "b", "c"): 2, ("b", "c", "d"): 1}


def test_burstiness_metronome_and_bursty(spark):
    """Equal gaps → exactly −1 (σ=0); a heavy-tailed gap stream scores
    positive; mean gap is exact."""
    rows = [(1, i * 10) for i in range(7)]                 # metronome
    rows += [(2, s) for s in (0, 1, 2, 3, 4, 5, 1000)]     # bursty
    df = spark.createDataFrame(rows, "user_id: long, sec: long").select(
        "user_id", F.timestamp_seconds("sec").alias("ts"),
        F.monotonically_increasing_id().alias("event_id"),
    )
    got = {r.user_id: r for r in analytics.burstiness(df).collect()}
    assert got[1].burstiness == -1.0 and got[1].mean_gap_s == 10.0
    assert got[2].burstiness > 0.3


def test_audience_overlap_hand(spark):
    """u1∈{a,b}, u2∈{a,b}, u3∈{a}: overlap(a,b)=2, |a|=3, |b|=2,
    J=2/3; duplicates in the raw log collapse."""
    rows = [(1, "a"), (1, "b"), (1, "a"),
            (2, "a"), (2, "b"), (3, "a")]
    df = spark.createDataFrame(rows, "user_id: long, event_type: string")
    got = [
        (r.type_a, r.type_b, r.n_both, r.n_a, r.n_b, r.jaccard)
        for r in analytics.audience_overlap(df).collect()
    ]
    assert got == [("a", "b", 2, 3, 2, round(2 / 3, 6))]


def test_rolling_zscore_spike_and_zero_variance(spark):
    """A spike after a mildly-varying window flags with the
    hand-computed z; a spike after a CONSTANT window has var=0 and
    must emit nothing (z undefined, not infinite)."""
    from engine.spark import diagnose

    rows = [("v", i, i, float(10 + (i % 2))) for i in range(6)]
    rows.append(("v", 6, 6, 100.0))                 # spike
    rows += [("c", i, i + 100, 5.0) for i in range(6)]
    rows.append(("c", 6, 106, 100.0))               # spike on constant
    df = spark.createDataFrame(rows, "k: string, sec: long, id: long, value: double").select(
        "k", F.timestamp_seconds("sec").alias("ts"), "id", "value"
    )
    got = diagnose.rolling_zscore(
        df, "k", "ts", "id", "value", window=24, min_n=5, threshold=3.0
    ).collect()
    assert [r.k for r in got] == ["v"]
    r = got[0]
    vals = [10.0, 11.0, 10.0, 11.0, 10.0, 11.0]
    n = len(vals)
    s, q = sum(vals), sum(v * v for v in vals)
    var = (n * q - s * s) / (n * n)
    z = round((100.0 - s / n) / var**0.5, 6)
    assert r.value == 100.0 and r.z == z


def test_stream_rolling_anomaly_split_and_batch_parity(spark, tmp_path):
    """Streamed trailing-window z-scores must be identical whether the
    feed is one micro-batch or three time-ranged files (state carries
    the window across batch edges), and must equal the batch
    rolling_zscore operator bit-for-bit (shared decimal
    quantizations)."""
    import os

    import pandas as pd

    from engine.spark import diagnose, streaming

    rows = []
    eid = 0
    for u in (1, 2):
        for i in range(8):
            rows.append(
                (eid, T0 + timedelta(seconds=60 * i + u), u, "view",
                 10.0 + (i % 2) + u)
            )
            eid += 1
        rows.append(
            (eid, T0 + timedelta(seconds=600 + u), u, "view", 500.0)
        )
        eid += 1
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)

    one = str(tmp_path / "one")
    os.makedirs(one, exist_ok=True)
    pdf.to_parquet(os.path.join(one, "part-0.parquet"), index=False)
    got_one = (
        streaming.stream_rolling_anomaly(
            spark, one, str(tmp_path / "ckA"), sink_table="sanom_one"
        )
        .orderBy("user_id", "event_id")
        .toPandas()
    )

    split = str(tmp_path / "split")
    os.makedirs(split, exist_ok=True)
    third = len(pdf) // 3
    for i, part in enumerate(
        [pdf.iloc[:third], pdf.iloc[third : 2 * third], pdf.iloc[2 * third :]]
    ):
        part.to_parquet(os.path.join(split, f"part-{i}.parquet"), index=False)
    got_split = (
        streaming.stream_rolling_anomaly(
            spark, split, str(tmp_path / "ckB"), sink_table="sanom_split",
            max_files_per_trigger=1,
        )
        .orderBy("user_id", "event_id")
        .toPandas()
    )
    assert got_one.values.tolist() == got_split.values.tolist()
    assert len(got_one) == 2  # one spike per user

    batch = (
        diagnose.rolling_zscore(
            spark.createDataFrame(pdf),
            "user_id", "ts", "event_id", "value",
            window=streaming.ANOM_WINDOW,
            min_n=streaming.ANOM_MIN_N,
            threshold=streaming.ANOM_THRESHOLD,
        )
        .select("user_id", "event_id", "value", "z")
        .orderBy("user_id", "event_id")
        .toPandas()
    )
    assert (
        got_one[["user_id", "event_id", "value", "z"]].values.tolist()
        == batch.values.tolist()
    )


def test_weighted_median_hand_and_bruteforce(spark):
    """Hand case: values 1..4 with weights 1/1/1/5 → median 4 (weight
    mass crosses half only there); lower-median convention at the
    exact-half boundary; random differential vs a pure-Python weighted
    median at 8 shuffle partitions (block offsets must stitch)."""
    from engine.spark import diagnose
    import random

    rows = [("a", 1.0, 1, 1), ("a", 2.0, 2, 1), ("a", 3.0, 3, 1),
            ("a", 4.0, 4, 5),
            # exact half: cum(1.0)=2, W=4 → 2*2 >= 4 → median 1.0
            ("h", 1.0, 5, 2), ("h", 9.0, 6, 2)]
    rng = random.Random(3)
    for j in range(300):
        rows.append(("r", float(rng.randrange(100)), 100 + j,
                     rng.randrange(1, 9)))
    df = spark.createDataFrame(rows, "k: string, v: double, i: long, w: long")
    got = {
        r.k: (r.total_w, r.median)
        for r in diagnose.weighted_median(df, "k", "v", "i", "w")
        .collect()
    }
    assert got["a"] == (8, 4.0)
    assert got["h"] == (4, 1.0)
    rv = sorted((v, i, w) for k, v, i, w in rows if k == "r")
    W = sum(w for _, _, w in rv)
    cum = 0
    for v, _, w in rv:
        cum += w
        if 2 * cum >= W:
            assert got["r"] == (W, v)
            break


# ---------------------------------------- theil-sen / markov chain
def test_theil_sen_robust_to_spike(spark):
    """A clean slope-2 line with one wild spike: OLS would bend, the
    slope MEDIAN stays exactly 2; even-count median averages the two
    middle slopes; the point cap is disclosed via n_points."""
    from engine.spark import diagnose

    rows = [("a", b, 2.0 * b) for b in range(1, 8)]
    rows.append(("a", 8, 1000.0))           # spike
    df = spark.createDataFrame(rows, "k: string, b: long, v: double")
    got = diagnose.theil_sen(df, "k", "b", "v").collect()[0]
    assert got.n_points == 8 and got.n_slopes == 28
    assert got.slope == 2.0                 # median immune to 7 spiked slopes
    capped = diagnose.theil_sen(df, "k", "b", "v", max_points=4).collect()[0]
    assert capped.n_points == 4 and capped.n_slopes == 6
    assert capped.slope == 2.0


def test_markov_stationary_hand_chain(spark):
    """A two-state chain a→b, b→a (period-2 but uniform-start
    symmetric): fixed-point mass stays split 50/50; a sticky state
    accumulates mass — checked against the exact integer recurrence."""
    rows = []
    eid = 0
    # user 1: strict alternation a b a b a b
    for i, t in enumerate(["a", "b"] * 3):
        rows.append((1, i, eid, t)); eid += 1
    df = spark.createDataFrame(
        rows, "user_id: long, sec: long, event_id: long, event_type: string"
    ).select("user_id", F.timestamp_seconds("sec").alias("ts"),
             "event_id", "event_type")
    got = {r.event_type: r.pi_fp
           for r in analytics.markov_stationary(df, iters=4).collect()}
    assert got == {"a": 500000, "b": 500000}
    # sticky: a→a (3x), a→b (1x), b→a (1x)
    rows2 = [(1, i, 100 + i, t) for i, t in
             enumerate(["a", "a", "a", "a", "b", "a"])]
    df2 = spark.createDataFrame(
        rows2, "user_id: long, sec: long, event_id: long, event_type: string"
    ).select("user_id", F.timestamp_seconds("sec").alias("ts"),
             "event_id", "event_type")
    got2 = {r.event_type: r.pi_fp
            for r in analytics.markov_stationary(df2, iters=3).collect()}
    # exact integer recurrence: p(a->a)=750000, p(a->b)=250000, p(b->a)=1e6
    pa, pb = 500000, 500000
    for _ in range(3):
        pa, pb = (pa * 750000 + pb * 1000000) // 1000000, (pa * 250000) // 1000000
    assert got2 == {"a": pa, "b": pb}


def test_dwell_time_hand(spark):
    """Dwell = forward gap to the same user's next event regardless of
    its state; the last event per user counts a visit but no dwell."""
    rows = [(1, 0, 1, "a"), (1, 10, 2, "b"), (1, 40, 3, "a"),
            (2, 0, 4, "a")]
    df = spark.createDataFrame(
        rows, "user_id: long, sec: long, event_id: long, event_type: string"
    ).select("user_id", F.timestamp_seconds("sec").alias("ts"),
             "event_id", "event_type")
    got = {r.state: (r.n_visits, r.n_dwells, r.total_dwell_s, r.mean_dwell_s)
           for r in analytics.dwell_time(df).collect()}
    assert got["a"] == (3, 1, 10.0, 10.0)   # visit at 40 and user2 open
    assert got["b"] == (1, 1, 30.0, 30.0)


def test_holt_linear_python_mirror_and_trend_tracking(spark):
    """The JVM fold must equal the identical Python fold BIT-FOR-BIT,
    and on a clean linear series the trend component approaches the
    true slope (the thing a plain EWMA can never do)."""
    xs = [2.0 * i for i in range(1, 13)]
    rows = [(1, i, i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(
        rows, "user_id: long, sec: long, event_id: long, value: double"
    ).select("user_id", F.timestamp_seconds("sec").alias("ts"),
             "event_id", "value")
    got = analytics.holt_linear(df).collect()[0]
    l, b = xs[0], 0.0
    for x in xs[1:]:
        l2 = 0.5 * x + 0.5 * (l + b)
        b = 0.5 * (l2 - l) + 0.5 * b
        l = l2
    assert (got.level, got.trend, got.forecast) == (l, b, l + b)
    assert abs(got.trend - 2.0) < 0.1
    assert got.n_obs == 12
