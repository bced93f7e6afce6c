"""Unit tests for the training-mix assembly operators (engine.spark.mix):
transcript run-length turn dedup, deterministic shard shuffle,
temperature-0.5 mixture sampling, and bounded-shard JSONL export.
Hand-computed expectations — independent of both engines."""

import glob
import json
import math
import os

import pytest
from pyspark.sql import functions as F

from engine.spark import mix
from engine.spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, app="engine-tests-mix")
    yield s
    s.stop()


# ---------------------------------------------------------- turn_dedup


def _turns(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id: string, turn_idx: int, role: string, text: string"
    )


def test_turn_dedup_collapses_runs(spark):
    t = _turns(
        spark,
        [
            ("c1", 0, "user", "hi"),
            ("c1", 1, "assistant", "retrying tool"),
            ("c1", 2, "assistant", "retrying tool"),
            ("c1", 3, "assistant", "retrying tool"),
            ("c1", 4, "user", "stop"),
            # same text immediately again but different role → NOT a run
            ("c1", 5, "assistant", "stop"),
            ("c2", 0, "user", "solo"),
        ],
    )
    out = {
        (r["conv_id"], r["turn_idx"]): r
        for r in mix.turn_dedup(t).collect()
    }
    assert set(out) == {
        ("c1", 0), ("c1", 1), ("c1", 4), ("c1", 5), ("c2", 0)
    }
    assert out[("c1", 1)]["n_repeats"] == 3
    assert out[("c1", 4)]["n_repeats"] == 1
    assert out[("c1", 5)]["role"] == "assistant"


def test_turn_dedup_invariants(spark):
    # property: survivors have no consecutive (role, text) repeats, and
    # n_repeats sums back to the original turn count
    import pandas as pd

    from engine import fixtures

    pdf = fixtures.make_transcripts(n_convs=40, seed=7, skew_giant=False)
    t = spark.createDataFrame(pdf[["conv_id", "turn_idx", "role", "text"]])
    # plant a run: duplicate turn 0 of every conv as turns 1000-1002
    planted = t.where(F.col("turn_idx") == 0)
    for i in range(3):
        t = t.union(
            planted.withColumn("turn_idx", F.lit(1000 + i).cast("int"))
        )
    out = mix.turn_dedup(t)
    total = out.agg(F.sum("n_repeats")).collect()[0][0]
    assert total == pdf.shape[0] + 3 * pdf["conv_id"].nunique()
    surv = out.orderBy("conv_id", "turn_idx").toPandas()
    for conv, g in surv.groupby("conv_id"):
        pair = list(zip(g["role"], g["text"]))
        assert all(a != b for a, b in zip(pair, pair[1:])), conv
    # the planted run collapsed: each conv's turn-1000 row absorbed the
    # two clones UNLESS turn 1000 continued a run ending at the conv's
    # last original turn (role+text equal) — planted rows equal turn 0,
    # so check convs whose last turn differs from turn 0
    pd0 = pdf[pdf.turn_idx == 0].set_index("conv_id")
    last = pdf.sort_values("turn_idx").groupby("conv_id").tail(1).set_index("conv_id")
    indep = [
        c for c in pd0.index
        if (pd0.loc[c, "role"], pd0.loc[c, "text"])
        != (last.loc[c, "role"], last.loc[c, "text"])
    ]
    got = surv[surv.turn_idx == 1000].set_index("conv_id")["n_repeats"]
    assert all(got[c] == 3 for c in indep)


# -------------------------------------------------------- shard_shuffle


def test_shard_shuffle_deterministic_and_dense(spark):
    d = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = mix.shard_shuffle(d, n_shards=8).orderBy("shard", "pos").collect()
    # same data, different physical layout → identical placement
    b = (
        mix.shard_shuffle(d.repartition(13), n_shards=8)
        .orderBy("shard", "pos")
        .collect()
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # every shard's positions are dense 1..n
    from collections import defaultdict

    by_shard = defaultdict(list)
    for r in a:
        by_shard[r["shard"]].append(r["pos"])
    assert set(by_shard) == set(range(8))
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard
    # md5 is uniform: no shard more than 2x the mean on 500 rows
    sizes = [len(ps) for ps in by_shard.values()]
    assert max(sizes) < 2 * (500 / 8)


def test_shard_shuffle_seed_changes_order(spark):
    d = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: (r["shard"], r["pos"])
         for r in mix.shard_shuffle(d, 8, seed="s1").collect()}
    b = {r["doc_id"]: (r["shard"], r["pos"])
         for r in mix.shard_shuffle(d, 8, seed="s2").collect()}
    assert sum(a[i] != b[i] for i in a) > 150  # almost all move


# ------------------------------------------------------- mixture_sample


def test_mixture_sample_sqrt_proportions(spark):
    # sources with 4:1 count ratio → kept ratio ≈ 2:1 (sqrt flattening)
    rows = [(i, "big") for i in range(4000)] + [
        (i + 10000, "small") for i in range(1000)
    ]
    d = spark.createDataFrame(rows, "doc_id: long, source: string")
    kept = (
        mix.mixture_sample(d)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    n = {r["source"]: r["n"] for r in kept}
    # smallest source keeps everything (rate = 1)
    assert n["small"] == 1000
    # big keeps ~ 4000 * sqrt(1000/4000) = 2000 ± sampling noise
    assert abs(n["big"] - 2000) < 3 * math.sqrt(2000)


def test_mixture_sample_deterministic(spark):
    rows = [(i, "a" if i % 3 else "b") for i in range(900)]
    d = spark.createDataFrame(rows, "doc_id: long, source: string")
    a = sorted(r["doc_id"] for r in mix.mixture_sample(d).collect())
    b = sorted(
        r["doc_id"] for r in mix.mixture_sample(d.repartition(7)).collect()
    )
    assert a == b
    # different seed → different (but overlapping) sample
    c = sorted(
        r["doc_id"] for r in mix.mixture_sample(d, seed="other").collect()
    )
    assert a != c


# -------------------------------------------------------- export_jsonl


def test_export_jsonl_bounded_shards(spark, tmp_path):
    d = (
        spark.range(0, 1000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("text", F.concat(F.lit("doc "), F.col("doc_id")))
    )
    out = str(tmp_path / "export")
    mix.export_jsonl(d, out, max_records_per_file=100)
    files = glob.glob(os.path.join(out, "part-*"))
    assert files
    total = 0
    for f in files:
        with open(f) as fh:
            lines = fh.readlines()
        assert len(lines) <= 100, f
        total += len(lines)
        json.loads(lines[0])  # valid JSONL
    assert total == 1000
    # round-trip
    assert spark.read.json(out).count() == 1000


# --------------------------------------------------- stream_turn_dedup


def test_stream_turn_dedup_split_invariance(spark, tmp_path):
    """Run-length collapse over a stream must be byte-identical whether
    a conversation's turns arrive in one micro-batch or split across
    three, and must equal the batch operator minus each conversation's
    trailing (still-open) run."""
    import pandas as pd

    from engine.spark import streaming

    rows = []
    for c in range(12):
        conv = f"c{c:02d}"
        rows += [
            (conv, 0, "user", f"q{c}"),
            (conv, 1, "assistant", f"a{c}"),
            (conv, 2, "assistant", f"a{c}"),   # run continues
            (conv, 3, "assistant", f"a{c}"),   # run continues
            (conv, 4, "tool", f"t{c}"),
            (conv, 5, "tool", f"t{c}"),        # trailing open run
        ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")

    # one file = one batch
    one = str(tmp_path / "one")
    os.makedirs(one, exist_ok=True)
    pdf.to_parquet(os.path.join(one, "part-0.parquet"), index=False)
    got_one = streaming.stream_turn_dedup(
        spark, one, str(tmp_path / "ck1"), sink_table="stdd_one"
    ).toPandas()

    # three files split ACROSS runs (turns 0-1 / 2-3 / 4-5), fed one
    # file per micro-batch — every run boundary crosses a batch edge
    split = str(tmp_path / "split")
    os.makedirs(split, exist_ok=True)
    for i, (lo, hi) in enumerate([(0, 1), (2, 3), (4, 5)]):
        part = pdf[(pdf.turn_idx >= lo) & (pdf.turn_idx <= hi)]
        part.to_parquet(os.path.join(split, f"part-{i}.parquet"), index=False)
    got_split = streaming.stream_turn_dedup(
        spark, split, str(tmp_path / "ck2"), sink_table="stdd_split",
        max_files_per_trigger=1,
    ).toPandas()

    key = ["conv_id", "turn_idx"]
    a = got_one.sort_values(key).reset_index(drop=True)
    b = got_split.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)

    # equals batch minus each conv's last run
    from engine.spark import mix

    batch = mix.turn_dedup(spark.createDataFrame(pdf)).toPandas()
    last = batch.groupby("conv_id")["turn_idx"].transform("max")
    expect = (
        batch[batch.turn_idx < last].sort_values(key).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        a[expect.columns].astype(expect.dtypes.to_dict()), expect
    )
    # emitted runs carry the collapse counts
    by = {(r.conv_id, r.turn_idx): r.n_repeats for r in a.itertuples()}
    assert by[("c00", 1)] == 3 and by[("c00", 0)] == 1


def test_preference_pairs_argmax_ties_and_singletons(spark):
    """Tie on score -> larger cand_id wins (the struct-max rule the
    oracle reproduces via the encoded-key max); a single-candidate
    prompt emits no pairs; margins are chosen - rejected, >= 0."""
    cands = spark.createDataFrame(
        [
            (1, 10, 5),
            (1, 11, 9),
            (1, 12, 9),  # tie with 11 -> 12 chosen
            (2, 20, 3),  # singleton prompt -> no pairs
            (3, 30, 0),
            (3, 31, 7),
        ],
        "prompt_id: long, cand_id: long, score: long",
    )
    got = {
        (r.prompt_id, r.rejected_id): (r.chosen_id, r.margin)
        for r in mix.preference_pairs(cands).collect()
    }
    assert got == {
        (1, 10): (12, 4),
        (1, 11): (12, 0),
        (3, 30): (31, 7),
    }


def test_length_buckets_boundaries_and_padding(spark):
    """Exactly-bucket_size tokens lands in bucket 1 (lower edge);
    blank text is 0 tokens in bucket 0; both padding columns are
    integer-exact."""
    docs = spark.createDataFrame(
        [
            (1, ""),            # 0 tokens
            (2, "a b c"),       # 3 tokens
            (3, "x " * 3 + "x"),  # 4 tokens = bucket_size -> bucket 1
            (4, "y " * 4 + "y"),  # 5 tokens -> bucket 1
        ],
        "doc_id: long, text: string",
    )
    rows = {
        r.bucket: r
        for r in mix.length_buckets(docs, bucket_size=4).collect()
    }
    assert set(rows) == {0, 1}
    b0, b1 = rows[0], rows[1]
    assert (b0.n_docs, b0.sum_tokens, b0.max_tokens) == (2, 3, 3)
    assert b0.pad_to_max == 2 * 3 - 3
    assert b0.pad_to_cap == 2 * 4 - 3
    assert (b1.n_docs, b1.sum_tokens, b1.max_tokens) == (2, 9, 5)
    assert b1.pad_to_max == 2 * 5 - 9
    assert b1.pad_to_cap == 2 * 8 - 9


def test_export_manifest_counts_and_checksums(spark, tmp_path):
    """The manifest's per-shard row counts sum to the corpus size,
    checksums change iff content changes, and a re-export of identical
    data yields an identical manifest (snapshot reproducibility)."""
    import json as _json

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)], "doc_id: long, text: string"
    )
    out = str(tmp_path / "exp")
    mix.export_jsonl(docs.orderBy("doc_id"), out, max_records_per_file=30)
    m1 = mix.export_manifest(out)
    assert m1["total_rows"] == 100
    assert all(s["rows"] > 0 and len(s["sha256"]) == 64 for s in m1["shards"])
    with open(f"{out}/_manifest.json") as f:
        assert _json.load(f)["total_rows"] == 100
    # reproducibility: identical re-export -> identical checksums
    mix.export_jsonl(docs.orderBy("doc_id"), out, max_records_per_file=30)
    m2 = mix.export_manifest(out)
    assert [s["sha256"] for s in m1["shards"]] == [
        s["sha256"] for s in m2["shards"]
    ]
    # content change -> checksum change
    mix.export_jsonl(
        docs.withColumn("text", F.concat("text", F.lit("!"))).orderBy(
            "doc_id"
        ),
        out,
        max_records_per_file=30,
    )
    m3 = mix.export_manifest(out)
    assert [s["sha256"] for s in m3["shards"]] != [
        s["sha256"] for s in m1["shards"]
    ]


def test_leakage_safe_split_moves_clusters_together(spark):
    """Every candidate pair lands on the same split side; all docs keep
    exactly one assignment; singletons split by their own id."""
    from engine.spark import mix

    docs = spark.range(200).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (50, 150), (150, 151)],
        "doc_a: long, doc_b: long",
    )
    out = mix.leakage_safe_split(docs, pairs).cache()
    try:
        assert out.count() == 200
        rows = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in out.collect()}
        # linked docs share cluster AND side
        for a, b in [(1, 2), (2, 3), (10, 11), (50, 150), (150, 151)]:
            assert rows[a] == rows[b]
        # cluster id is the component minimum
        assert rows[3][0] == 1 and rows[151][0] == 50
        # singletons keep their own id
        assert rows[99][0] == 99
        # all three sides appear at 90/5/5 over 200 hash buckets (sanity,
        # deterministic: the hash is fixed)
        sides = {s for _, s in rows.values()}
        assert sides == {"train", "val", "test"}
    finally:
        out.unpersist()


# ------------------------------------------------------- epoch budget
def test_epoch_budget_mass_and_determinism(spark):
    """An over-budget source repeats floor(target/actual) with a
    fractional extra pass whose expected mass is the remainder; a
    downsampled source gets repeats in {0,1}; sources off the recipe
    drop; reruns are byte-identical."""
    rows = [("big", i, 100) for i in range(50)]        # actual 5000
    rows += [("small", i, 100) for i in range(10)]     # actual 1000
    rows += [("off", 1, 100)]
    df = spark.createDataFrame(rows, "source: string, doc_id: long, n_tokens: long")
    targets = {"big": 2500, "small": 2600}  # 0.5x and 2.6x
    out1 = mix.epoch_budget(df, targets).orderBy("source", "doc_id")
    p1 = out1.collect()
    assert all(r.source != "off" for r in p1)
    big = [r.n_repeats for r in p1 if r.source == "big"]
    small = [r.n_repeats for r in p1 if r.source == "small"]
    assert set(big) <= {0, 1} and 0 < sum(big) < 50     # ~25 of 50
    assert set(small) <= {2, 3} and sum(small) > 20     # 2 + ~60% extra
    p2 = mix.epoch_budget(df, targets).orderBy("source", "doc_id").collect()
    assert p1 == p2
