"""Operator tests: dedup, similarity, text stats, multimodal, streaming."""

import zlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine.spark import dedup, joins, multimodal, similarity, streaming, text
from engine.spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, shuffle_partitions=8, app="engine-tests")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _planted_docs(spark):
    """Small corpus with exact + near duplicates planted."""
    base = (
        "the quick brown fox jumps over the lazy dog while the spark engine "
        "shuffles partitions across the cluster during a long window of work"
    )
    near = base.replace("lazy", "sleepy")  # one-token change
    rows = [
        (0, base),
        (1, base),                          # exact dup of 0
        (2, near),                          # near dup of 0
        (3, "completely different text about databases and query planners"),
        (4, "another unrelated document mentioning arrow batches only"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_planted(spark):
    d = dedup.exact_dedup(_planted_docs(spark))
    groups = {r["keep_doc_id"]: r["dup_count"] for r in d.collect()}
    assert groups[0] == 2          # docs 0 and 1 collapse
    assert sum(groups.values()) == 5


def test_exact_dedup_normalization(spark):
    rows = [(0, "a  b\tc"), (1, "A B C"), (2, "a b c")]
    d = dedup.exact_dedup(spark.createDataFrame(rows, ["doc_id", "text"]))
    assert d.count() == 1 and d.collect()[0]["dup_count"] == 3


def test_ngram_jaccard_planted(spark):
    pairs = dedup.ngram_jaccard_pairs(_planted_docs(spark), n=3).collect()
    by_pair = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
    assert by_pair[(0, 1)] == 1.0
    assert by_pair[(0, 2)] > 0.5
    assert (3, 4) not in by_pair


def test_minhash_lsh_planted(spark):
    pairs = dedup.minhash_lsh_pairs(_planted_docs(spark), num_perm=32,
                                    bands=16).collect()
    by_pair = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in pairs}
    assert by_pair.get((0, 1)) == 1.0
    assert (0, 2) in by_pair and by_pair[(0, 2)] > 0.3


def test_minhash_incremental_broadcast_fallback_parity(spark):
    """broadcast_new=False (the oversized-daily-batch fallback,
    ADVICE r3) must yield the identical candidate pair set and
    estimates as the default broadcast probe."""
    docs = _planted_docs(spark)
    new = docs.filter(F.col("doc_id") <= 1)
    corpus = docs.filter(F.col("doc_id") >= 2)

    def rows(b):
        out = dedup.minhash_incremental_pairs(
            new, corpus, num_perm=32, bands=16, broadcast_new=b
        ).collect()
        return sorted(
            (r["doc_a"], r["doc_b"], r["est_jaccard"], r["pair_type"])
            for r in out
        )

    assert rows(True) == rows(False)


def test_simhash_planted(spark):
    pairs = dedup.simhash_pairs(_planted_docs(spark), max_hamming=16).collect()
    by_pair = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs}
    assert by_pair.get((0, 1)) == 0
    assert (0, 2) in by_pair and by_pair[(0, 2)] <= 16


@pytest.mark.parametrize("max_hamming", [3, 5, 8])
def test_simhash_blocking_guarantee(spark, docs, max_hamming):
    """Recall at the requested radius is GUARANTEED, not probabilistic:
    blocked candidate pairs must equal brute-force all-pairs hamming ≤
    radius (the round-1 default max_hamming=8 with 4 fixed chunks
    violated this — pairs at hamming 4-8 differing in all chunks were
    silently dropped)."""
    d = docs.filter(F.col("doc_id") < 120).select("doc_id", "text")
    sh = dedup.simhash(d).toPandas().set_index("doc_id")["simhash"]
    ids = sorted(sh.index)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin(int(sh[a]) ^ int(sh[b])).count("1") <= max_hamming:
                want.add((a, b))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_pairs(d, max_hamming=max_hamming).collect()
    }
    assert got == want


def test_ngram_hot_shingle_df_cap(spark):
    """One shingle planted in every doc must NOT produce quadratic
    candidates when capped: with max_df below the corpus size the hot
    shingle is excluded before the self-join."""
    hot = "the quick brown"
    rows = [(i, f"{hot} unique{i} alpha{i} beta{i} gamma{i}") for i in range(60)]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = dedup.ngram_jaccard_pairs(d, n=3, min_shared=1, max_df=10)
    assert capped.count() == 0  # only overlap is the hot shingle
    uncapped = dedup.ngram_jaccard_pairs(d, n=3, min_shared=1, max_df=None)
    assert uncapped.count() == 60 * 59 // 2  # quadratic without the cap


def test_portable_hash60_matches_duckdb(spark):
    import duckdb

    vals = ["hello", "the quick", "它是", "x"]
    d = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {
        r["s"]: r["h"]
        for r in d.select("s", dedup.portable_hash60(F.col("s")).alias("h")).collect()
    }
    for v in vals:
        want = duckdb.sql(
            f"SELECT ('0x' || substr(md5('{v}'), 1, 15))::BIGINT"
        ).fetchone()[0]
        assert got[v] == want


def test_brute_force_topk_vs_numpy(spark, emb):
    got = similarity.brute_force_topk(emb, n_queries=3, k=5).toPandas()
    pdf = emb.toPandas()
    vecs = {int(r.vec_id): np.array(r.embedding, dtype=np.float64)
            for r in pdf.itertuples()}
    for qid in range(3):
        qv = vecs[qid]
        sims = {}
        for nid, v in vecs.items():
            if nid == qid:
                continue
            sims[nid] = float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
        want = sorted(sims.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:5]
        sub = got[got["query_id"] == qid].sort_values("rank")
        assert list(sub["neighbor_id"]) == [w[0] for w in want]
        np.testing.assert_allclose(
            list(sub["cosine_sim"]), [round(w[1], 6) for w in want], atol=2e-6
        )


def test_lsh_ann_sane(spark, emb):
    dim = len(emb.first()["embedding"])
    # few planes → big buckets → high recall; the test corpus embeddings
    # are near-random directions, so keep collision probability high
    ann = similarity.lsh_ann_topk(emb, dim=dim, n_queries=5, k=5,
                                  n_planes=2).toPandas()
    assert (ann["rank"] >= 1).all() and (ann["rank"] <= 5).all()
    assert set(ann["query_id"]) <= set(range(5))
    # ANN should agree with exact top-k on at least some neighbors
    exact = similarity.brute_force_topk(emb, n_queries=5, k=5).toPandas()
    overlap = set(map(tuple, ann[["query_id", "neighbor_id"]].values)) & set(
        map(tuple, exact[["query_id", "neighbor_id"]].values)
    )
    assert len(overlap) > 0


def test_ivf_ann_sane_and_probe_monotone(spark, emb):
    """IVF candidates come from probed inverted lists; probing more
    lists can only widen the candidate set (recall monotone in n_probe),
    and full probing equals brute force."""
    dim = len(emb.first()["embedding"])
    exact = similarity.brute_force_topk(emb, n_queries=4, k=5).toPandas()
    ivf2 = similarity.ivf_topk(emb, dim=dim, n_centroids=4, n_probe=2,
                               n_queries=4, k=5).toPandas()
    ivf_all = similarity.ivf_topk(emb, dim=dim, n_centroids=4, n_probe=4,
                                  n_queries=4, k=5).toPandas()
    assert (ivf2["rank"] >= 1).all() and (ivf2["rank"] <= 5).all()
    pairs = lambda df: set(map(tuple, df[["query_id", "neighbor_id"]].values))
    # full probe == exact top-k (the candidate set is the whole corpus)
    assert pairs(ivf_all) == pairs(exact)
    # partial probe is a subset of its own full-probe hits per rank rules
    assert len(pairs(ivf2) & pairs(exact)) > 0


def test_cosine_dup_pairs_planted(spark, emb):
    """Planted near-identical twins are recovered; unrelated random
    vectors (max organic cosine ≈ 0.51 in this table) never pair at
    threshold 0.95, and every reported pair clears the threshold."""
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    planted = base.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.01)).alias("embedding"),
    )
    corpus = base.unionAll(planted)
    out = similarity.cosine_dup_pairs(
        corpus, dim=64, threshold=0.95, n_bands=4, planes_per_band=4
    ).toPandas()
    assert (out["cosine_sim"] >= 0.95).all()
    got = set(map(tuple, out[["id_a", "id_b"]].values))
    expected = {(i, i + 100000) for i in range(8)}
    # banded LSH recall at cosine≈0.997 with 4×4 planes is ~1-1e-4 per
    # pair and fully deterministic — require most twins, no false pairs
    assert len(got & expected) >= 6
    assert got <= expected


def test_quality_frame_values(spark):
    rows = [(0, "The cat and the dog. One, two!"), (1, ""), (2, "它是中文文本")]
    q = text.quality_frame(
        spark.createDataFrame(rows, ["doc_id", "text"])
    ).orderBy("doc_id").collect()
    r0 = q[0]
    assert r0["n_tokens"] == 7
    assert r0["lang_pred"] == "en"
    # stopwords: the, and, the → 3/7
    assert r0["stopword_ratio"] == round(3 / 7, 4)
    assert q[1]["n_tokens"] == 0 and q[1]["n_chars"] == 0
    assert q[2]["lang_pred"] == "zh"


def test_fingerprint_matches_md5(spark):
    import hashlib

    rows = [(0, "Hello   World"), (1, "hello world")]
    q = text.quality_frame(
        spark.createDataFrame(rows, ["doc_id", "text"])
    ).orderBy("doc_id").collect()
    want = hashlib.md5(b"hello world").hexdigest()
    assert q[0]["fingerprint"] == want == q[1]["fingerprint"]


def test_multimodal_features(spark, docs):
    media = multimodal.media_from_documents(docs)
    feats = multimodal.extract_features(media).orderBy("media_id")
    rows = feats.limit(5).collect()
    src = {r["doc_id"]: r["text"] for r in docs.limit(20).collect()}
    for r in rows:
        raw = src[r["media_id"]].encode("utf-8")
        assert r["n_bytes"] == len(raw)
        assert r["checksum"] == zlib.crc32(raw)
        assert 1 <= r["width"] <= 1920
        if r["kind"] != "video":
            assert r["n_frames"] == 1
    with pytest.raises(NotImplementedError):
        multimodal.decode_stub(b"x", "image/png")


def test_streaming_window_counts(spark, tmp_path):
    import shutil

    # file stream source requires a directory
    src_dir = tmp_path / "events"
    src_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src_dir / "part-0.parquet")
    got = streaming.stream_event_window_counts(
        spark,
        str(src_dir),
        checkpoint_dir=str(tmp_path / "ckpt"),
        sink_table="t_stream_counts",
    ).toPandas()
    want = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"),
                     2).alias("sum_value"))
        .toPandas()
    )
    got_s = got.sort_values(["window_start", "event_type"]).reset_index(drop=True)
    want_s = want.sort_values(["window_start", "event_type"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_s, want_s, check_dtype=False)


def test_stream_sessionize_multibatch_state(spark, tmp_path):
    """State must carry sessions across micro-batches: split events into
    two time-ordered files, force one file per batch, and check the
    emitted sessions equal batch sessionization minus each user's open
    trailing session."""
    import pandas as pd

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet").sort_values(
        ["ts", "event_id"]
    )
    cut = len(ev) // 2
    src = tmp_path / "ev"
    src.mkdir()
    ev.iloc[:cut].to_parquet(src / "part-0.parquet", index=False)
    ev.iloc[cut:].to_parquet(src / "part-1.parquet", index=False)

    from pyspark.sql.streaming import StreamingQuery  # noqa: F401
    from engine.spark import streaming as S

    stream = (
        spark.readStream.schema(S.EVENTS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    sessions = (
        stream.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            S._make_session_fn(30),
            outputStructType=S.SESSION_OUTPUT_SCHEMA,
            stateStructType=S.SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("t_sessions_mb")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_sessions_mb").toPandas()

    # batch oracle: sessionize, drop last session per user
    e = ev.reset_index(drop=True)
    want_rows = []
    for uid, g in e.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        sid = (g["ts"].diff() > pd.Timedelta(minutes=30)).cumsum()
        sess = list(g.groupby(sid))
        for i, (_, s) in enumerate(sess):
            if i < len(sess) - 1:
                want_rows.append(
                    (uid, s["ts"].iloc[0], s["ts"].iloc[-1], len(s),
                     round(float(s["value"].sum()), 2))
                )
    want = pd.DataFrame(
        want_rows,
        columns=["user_id", "session_start", "session_end", "n_events",
                 "sum_value"],
    )
    key = ["user_id", "session_start"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(want_s)
    pd.testing.assert_frame_equal(got_s, want_s, check_dtype=False)


def test_streaming_extract_matches_batch(spark, tmp_path):
    from engine import fixtures
    from engine.spark import pipeline

    src_dir = tmp_path / "transcripts"
    src_dir.mkdir()
    fixtures.write_transcripts_parquet(
        str(src_dir / "part-0.parquet"), n_convs=15, skew_giant=False
    )
    out = str(tmp_path / "out")
    streaming.stream_extract_turns(
        spark, str(src_dir), str(tmp_path / "ckpt2"), out
    )
    got = (
        spark.read.parquet(out)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "markdown")
        .toPandas()
    )
    batch = (
        pipeline.extract_turns(spark.read.parquet(str(src_dir)))
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "markdown")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, batch)


# ------------------------------------------------------------ temporal joins
def _events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


def test_asof_join_vs_bruteforce(spark):
    """union+window as-of equals the O(n²) per-row definition."""
    e = _events(spark).filter(F.col("user_id") < 12)
    quotes = e.filter(F.col("event_id") % 5 == 0).select(
        "user_id", "ts",
        F.col("event_id").alias("quote_id"),
        F.col("value").alias("quote_value"),
    )
    trades = e.filter(F.col("event_id") % 5 != 0).select(
        "event_id", "user_id", "ts"
    )
    out = joins.asof_join(trades, quotes, key="user_id", ts_col="ts").toPandas()

    qp = quotes.toPandas()
    tp = trades.toPandas()
    for _, t in tp.sample(n=min(60, len(tp)), random_state=7).iterrows():
        cand = qp[(qp.user_id == t.user_id) & (qp.ts <= t.ts)]
        got = out[out.event_id == t.event_id].iloc[0]
        if cand.empty:
            assert pd.isna(got.asof_quote_id)
        else:
            best = cand.sort_values("ts").iloc[-1]
            assert got.asof_quote_id == best.quote_id
            assert got.asof_quote_value == best.quote_value


def test_asof_join_matches_equal_ts(spark):
    """A right row at exactly the left timestamp is matched (<=, not <)."""
    lt = spark.createDataFrame(
        [(1, 100), (1, 50)], "k int, t int"
    ).select("k", F.timestamp_seconds("t").alias("ts"), F.col("t").alias("lid"))
    rt = spark.createDataFrame(
        [(1, 100, 9), (1, 99, 8), (1, 60, 7)], "k int, t int, rid int"
    ).select("k", F.timestamp_seconds("t").alias("ts"), "rid")
    out = joins.asof_join(lt, rt, key="k", ts_col="ts").toPandas()
    byl = out.set_index("lid")
    assert byl.loc[100, "asof_rid"] == 9      # equal-ts quote wins
    assert pd.isna(byl.loc[50, "asof_rid"])   # nothing precedes t=50... rid 7 at t=60 is later


def test_range_join_vs_bruteforce(spark):
    """Bucketed range join equals the direct inequality join, including
    intervals spanning multiple buckets."""
    e = _events(spark).filter(F.col("user_id") < 20)
    iv = e.filter(F.col("event_id") % 13 == 0).select(
        F.col("event_id").alias("window_id"), "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 5 HOURS")).alias("w_end"),
    )
    pts = e.select("user_id", "ts", F.col("event_id").alias("pid"))
    got = (
        joins.range_join_bucketed(
            pts, iv, key="user_id", ts_col="ts",
            start_col="w_start", end_col="w_end", bucket_seconds=3600,
        )
        .select("window_id", "pid")
        .toPandas()
    )
    ip, pp = iv.toPandas(), pts.toPandas()
    expected = set()
    for _, w in ip.iterrows():
        hit = pp[(pp.user_id == w.user_id) & (pp.ts >= w.w_start) & (pp.ts <= w.w_end)]
        expected |= {(w.window_id, p) for p in hit.pid}
    assert set(map(tuple, got.values)) == expected


def test_stream_dedup_multibatch(spark, tmp_path):
    """dropDuplicatesWithinWatermark drops duplicates arriving in LATER
    micro-batches too (keyed state carries across batches); the emitted
    key set equals batch DISTINCT."""
    import shutil

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    src_dir = tmp_path / "events"
    src_dir.mkdir()
    # batch 0: the real events; batch 1: a byte-identical copy — every
    # key in it is a cross-batch duplicate
    shutil.copy(f"{SF_DIR}/events.parquet", src_dir / "part-0.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", src_dir / "part-1.parquet")
    got = streaming.stream_dedup_keys(
        spark,
        str(src_dir),
        checkpoint_dir=str(tmp_path / "ckpt"),
        sink_table="t_stream_dedup",
        max_files_per_trigger=1,
    ).toPandas()
    want = ev.select("user_id", "event_type").distinct().toPandas()
    assert len(got) == len(got.drop_duplicates())  # no dup keys emitted
    assert (
        set(map(tuple, got.values)) == set(map(tuple, want.values))
    )


def test_deterministic_split_stable_and_partitioned(spark, docs):
    """Split assignment is a pure hash projection: stable across calls,
    every doc gets exactly one split, proportions are roughly 90/5/5."""
    a = text.deterministic_split(docs).select("doc_id", "split").toPandas()
    b = text.deterministic_split(docs).select("doc_id", "split").toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values("doc_id").reset_index(drop=True),
        b.sort_values("doc_id").reset_index(drop=True),
    )
    frac = a["split"].value_counts(normalize=True)
    assert 0.80 < frac.get("train", 0) < 0.97
    assert frac.get("val", 0) < 0.12 and frac.get("test", 0) < 0.12
    # pure projection: no exchange in the plan
    plan = text.deterministic_split(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_asof_join_bucketed_equals_single_window(spark):
    """Skew-hardened two-phase carry (default) must be byte-equal to the
    single-window path, including across bucket boundaries and on a hot
    key holding ~all rows."""
    e = _events(spark).filter(F.col("user_id") < 12)
    # plant a hot key: fold everything onto user 0 alongside the original
    hot = e.withColumn("user_id", F.lit(0)).withColumn(
        "event_id", F.col("event_id") + 10_000_000
    )
    both = e.unionByName(hot)
    quotes = both.filter(F.col("event_id") % 5 == 0).select(
        "user_id", "ts",
        F.col("event_id").alias("quote_id"),
        F.col("value").alias("quote_value"),
    )
    trades = both.filter(F.col("event_id") % 5 != 0).select(
        "event_id", "user_id", "ts"
    )
    cols = ["event_id", "user_id", "ts", "asof_ts", "asof_quote_id",
            "asof_quote_value"]
    # small bucket (1h) forces many cross-bucket carries
    a = (
        joins.asof_join(trades, quotes, key="user_id", ts_col="ts",
                        bucket_seconds=3600)
        .select(cols).orderBy("event_id", "user_id").toPandas()
    )
    b = (
        joins.asof_join(trades, quotes, key="user_id", ts_col="ts",
                        bucket_seconds=None)
        .select(cols).orderBy("event_id", "user_id").toPandas()
    )
    pd.testing.assert_frame_equal(a, b)

    # cardinality bound: the hot key's rows spread over many (key, bucket)
    # window partitions — per-partition row count is bounded by the
    # bucket, not the key
    bucketed = trades.filter(F.col("user_id") == 0).groupBy(
        F.floor(F.col("ts").cast("timestamp").cast("long") / 3600)
    ).count()
    stats = bucketed.agg(
        F.max("count").alias("mx"), F.sum("count").alias("total"),
        F.count("*").alias("n_parts"),
    ).collect()[0]
    assert stats["n_parts"] > 10
    assert stats["mx"] < stats["total"] / 5


def test_hyperplane_python_catalyst_parity(spark):
    """The driver-side plane derivation (hyperplane_values — what the
    LSH operators now embed as one folded literal) must be bit-exact
    with the Catalyst md5 expression (what the DuckDB oracles
    re-derive)."""
    dim = 16
    expr = spark.range(1).select(
        *[similarity._hyperplane(h, dim).alias(f"p{h}") for h in range(6)]
    ).collect()[0]
    for h in range(6):
        assert list(expr[f"p{h}"]) == similarity.hyperplane_values(h, dim)


def test_ann_params_plan_bounded(spark):
    """VERDICT r2 #2 'done' check: planning an IVF probe with
    n_centroids=256, dim=256 must not explode the expression tree —
    the centroid array folds to a single Literal, so planning stays
    fast and execution works."""
    import time

    import numpy as np

    rng = np.random.default_rng(11)
    n, dim, n_cent = 300, 256, 256
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": [rng.standard_normal(dim).astype("float32").tolist()
                          for _ in range(n)],
        }
    )
    emb = spark.createDataFrame(pdf)
    cents = [rng.standard_normal(dim).tolist() for _ in range(n_cent)]
    scored = emb.select(
        "vec_id",
        similarity._argmin_cluster(
            similarity._as_double(F.col("embedding")),
            similarity._centroids_lit(cents),
        ).alias("cid"),
    )
    t0 = time.time()
    scored._jdf.queryExecution().executedPlan()
    plan_secs = time.time() - t0
    assert plan_secs < 30, f"planning took {plan_secs:.1f}s"
    got = scored.limit(5).collect()
    assert all(0 <= r["cid"] < n_cent for r in got)


def test_stream_append_window_counts_multibatch(spark, tmp_path):
    """Append-mode (bounded state) windowed aggregation: chunked
    micro-batches must emit each closed window EXACTLY once, and the
    final emitted set equals the batch aggregation restricted to
    watermark-closed windows (end <= max_ts - delay)."""
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    med = e.approxQuantile("event_id", [0.5], 0.0)[0]
    src_dir = tmp_path / "ap_events"
    src_dir.mkdir()
    # two time-ordered files → cross-batch watermark progression
    e.filter(F.col("event_id") <= med).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src_dir / "a"))
    e.filter(F.col("event_id") > med).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src_dir / "b"))
    import glob
    import shutil

    for i, f in enumerate(sorted(glob.glob(str(src_dir / "*" / "*.parquet")))):
        shutil.copy(f, src_dir / f"part-{i}.parquet")
    shutil.rmtree(src_dir / "a")
    shutil.rmtree(src_dir / "b")

    out = str(tmp_path / "ap_out")
    got = streaming.stream_event_window_counts_append(
        spark, str(src_dir), str(tmp_path / "ap_ckpt"), out,
        max_files_per_trigger=1,
    ).toPandas()
    # exactly-once emission
    assert not got.duplicated(["window_start", "event_type"]).any()

    mx = e.agg(F.max("ts")).collect()[0][0]
    want = (
        e.groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"),
                     2).alias("sum_value"))
        .filter(
            F.col("window_start") + F.expr("INTERVAL 1 HOUR")
            <= F.lit(mx) - F.expr("INTERVAL 2 HOURS")
        )
        .toPandas()
    )
    got_s = got.sort_values(["window_start", "event_type"]).reset_index(drop=True)
    want_s = want.sort_values(["window_start", "event_type"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_s, want_s, check_dtype=False)


def test_png_roundtrip_all_filters():
    """Encoder cycles all five scanline filters; the decoder must invert
    every one (pixel crc32 + sum match the source), and chunk CRCs must
    be verified (corruption raises)."""
    from engine.spark import multimodal as mm

    w, h = 13, 9  # ≥5 rows → every filter type exercised
    px = bytes((i * 31 + 7) % 256 for i in range(w * h))
    blob = mm.encode_png_gray(w, h, px)
    d = mm.decode_png(blob)
    assert (d["width"], d["height"]) == (w, h)
    assert d["pixel_sum"] == sum(px)
    import zlib as _z

    assert d["pixel_crc32"] == _z.crc32(px) & 0xFFFFFFFF
    # flip a byte inside IDAT → CRC check must catch it
    bad = bytearray(blob)
    bad[len(blob) // 2] ^= 0xFF
    with pytest.raises(ValueError):
        mm.decode_png(bytes(bad))


def test_png_header_parseable_in_sql(spark, tmp_path):
    """The IHDR width/height of the engine's PNG payloads are parseable
    in plain SQL from the binary (hex-space substring) — demonstrated in
    DuckDB against the materialized media table."""
    import duckdb

    from engine.spark import multimodal as mm

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    media = mm.png_media_from_documents(docs)
    p = str(tmp_path / "png_media.parquet")
    media.write.mode("overwrite").parquet(p)
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT media_id,
               ('0x' || substr(hex(payload), 33, 8))::BIGINT AS width,
               ('0x' || substr(hex(payload), 41, 8))::BIGINT AS height
        FROM read_parquet('{p}/*.parquet') ORDER BY media_id
        """
    ).fetchall()
    assert rows
    for media_id, w, h in rows:
        assert w == media_id % 16 + 1
        assert h == media_id % 12 + 1


def test_decode_stub_dispatch():
    from engine.spark import multimodal as mm

    blob = mm.encode_png_gray(2, 2, bytes([1, 2, 3, 4]))
    assert mm.decode_stub(blob, "image/png")["width"] == 2
    with pytest.raises(NotImplementedError):
        mm.decode_stub(b"\xff\xd8\xffJPEG-ish", "image/jpeg")


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream range join == the batch inequality join
    when the corpus fits the state horizon (single availableNow run)."""
    src_dir = tmp_path / "ssj_events"
    src_dir.mkdir()
    import shutil

    shutil.copy(f"{SF_DIR}/events.parquet", src_dir / "part-0.parquet")
    got = streaming.stream_stream_join(
        spark, str(src_dir), str(tmp_path / "ssj_ckpt"),
        sink_table="t_ssj",
    ).toPandas()
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    t = e.filter(F.col("event_id") % 17 != 0).select(
        F.col("event_id").alias("trade_id"), F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"))
    q = e.filter(F.col("event_id") % 17 == 0).select(
        F.col("user_id").alias("q_user"), F.col("ts").alias("q_ts"),
        F.col("event_id").alias("quote_id"), F.col("value").alias("quote_value"))
    want = t.join(
        q,
        F.expr("t_user = q_user AND q_ts BETWEEN t_ts - INTERVAL 1 HOUR AND t_ts"),
    ).select("trade_id", "t_user", "t_ts", "quote_id", "q_ts", "quote_value").toPandas()
    key = ["trade_id", "quote_id"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_s, want_s, check_dtype=False)


def test_span_boilerplate_classification(spark):
    """Link-farm blocks flagged, body prose kept; tiny fragments are
    boilerplate regardless of links."""
    from engine.spark import text as etext

    rows = [
        ("c", 0, 0, "paragraph",
         "[home](/) [about](/a) [contact](/c) [privacy](/p)"),
        ("c", 0, 1, "paragraph",
         "This is a long body paragraph with enough prose to matter and "
         "a single [reference](https://example.com) inside it."),
        ("c", 0, 2, "paragraph", "ok"),
    ]
    spans = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, block_idx int, "
              "block_type string, text string"
    )
    got = {r["block_idx"]: r for r in etext.classify_spans(spans).collect()}
    assert got[0]["is_boilerplate"] and got[0]["link_density"] >= 0.5
    assert not got[1]["is_boilerplate"]
    assert got[2]["is_boilerplate"]  # too short
    plan = etext.classify_spans(spans)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure projection


def test_stream_sessionize_tws_matches_classic(spark, tmp_path):
    """Spark 4 transformWithStateInPandas sessionizer must emit exactly
    what the applyInPandasWithState twin emits (same oracle semantics).
    Environment-gated: the transformWithState state protocol needs
    google.protobuf, which this sandbox lacks."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState state server requires protobuf "
               "(absent in this container; installs disallowed)",
    )
    import shutil

    src_dir = tmp_path / "tws_events"
    src_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src_dir / "part-0.parquet")
    tws = streaming.stream_sessionize_tws(
        spark, str(src_dir), str(tmp_path / "tws_ckpt"), sink_table="t_tws"
    ).toPandas()
    classic = streaming.stream_sessionize(
        spark, str(src_dir), str(tmp_path / "cls_ckpt"), sink_table="t_cls"
    ).toPandas()
    key = ["user_id", "session_start"]
    pd.testing.assert_frame_equal(
        tws.sort_values(key).reset_index(drop=True),
        classic.sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )


def test_ivf_incremental_frozen_index(spark, emb):
    """Index maintenance without rebuild: (a) an empty batch reproduces
    plain ivf_topk exactly; (b) with a real batch, the quantizer must
    equal the one trained on the corpus alone (frozen — ingesting a
    batch never retrains), and full-probe results equal brute force
    over the union (candidate generation loses nothing at n_probe =
    n_centroids)."""
    from pyspark.sql import functions as F

    dim = 64
    corpus = emb.filter(F.col("vec_id") >= 100)
    batch = emb.filter(F.col("vec_id") < 100)

    empty = batch.limit(0)
    a = similarity.ivf_incremental_topk(
        emb, empty, dim=dim, n_centroids=4, n_probe=2, n_queries=6, k=5
    ).toPandas()
    b = similarity.ivf_topk(
        emb, dim=dim, n_centroids=4, n_probe=2, n_queries=6, k=5
    ).toPandas()
    key = ["query_id", "rank"]
    assert a.sort_values(key).reset_index(drop=True).equals(
        b.sort_values(key).reset_index(drop=True))

    # frozen quantizer: training ignores the batch entirely
    c1 = similarity.ivf_centroids(corpus, dim, n_centroids=4)
    c2 = similarity.ivf_centroids(corpus, dim, n_centroids=4)
    assert c1 == c2  # deterministic

    # full probe == brute force over the union
    full = similarity.ivf_incremental_topk(
        corpus, batch, dim=dim, n_centroids=4, n_probe=4,
        n_queries=6, k=5,
    ).toPandas()
    exact = similarity.brute_force_topk(emb, n_queries=6, k=5).toPandas()
    pairs = lambda d: set(zip(d.query_id, d.neighbor_id))  # noqa: E731
    assert pairs(full) == pairs(exact)


def test_apply_changeset_iud_semantics(spark):
    """MERGE semantics: D deletes, U updates, I inserts, U-on-missing
    upserts, last change (by seq) wins, untouched rows pass through."""
    import pandas as pd
    from engine.spark import lineage

    snap = spark.createDataFrame(
        pd.DataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (4, "d")], columns=["k", "v"]
        )
    )
    changes = spark.createDataFrame(
        pd.DataFrame(
            [
                (2, "b2", "U", 1),     # update
                (3, None, "D", 1),     # delete
                (5, "e", "I", 1),      # insert new key
                (6, "f", "U", 1),      # upsert on missing key
                (1, "a1", "U", 1),     # first wave...
                (1, "a2", "U", 2),     # ...overridden by later seq
            ],
            columns=["k", "v", "op", "seq"],
        )
    )
    got = (
        lineage.apply_changeset(snap, changes, ["k"])
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    assert list(got["k"]) == [1, 2, 4, 5, 6]
    assert dict(zip(got["k"], got["v"])) == {
        1: "a2", 2: "b2", 4: "d", 5: "e", 6: "f"
    }


def test_context_trim_budget_and_last_turn(spark):
    """Suffix within budget kept; final turn survives even when it
    alone exceeds the budget."""
    import pandas as pd
    from engine.spark import conversation

    rows = [
        # conv A: tokens 5,5,5 budget 8 -> keep only last turn (5),
        # second-to-last would make 10 > 8
        ("A", 0, "user", "t1 t2 t3 t4 t5"),
        ("A", 1, "assistant", "u1 u2 u3 u4 u5"),
        ("A", 2, "user", "v1 v2 v3 v4 v5"),
        # conv B: single giant turn (10 tokens) > budget -> still kept
        ("B", 0, "user", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text"])
    )
    got = conversation.context_trim(df, budget_tokens=8).toPandas()
    a = got[got["conv_id"] == "A"]
    assert list(a["turn_idx"]) == [2]
    b = got[got["conv_id"] == "B"]
    assert list(b["turn_idx"]) == [0] and int(b["n_tokens"].iloc[0]) == 10


# ------------------------------------------------ prefix-filter exact join
def _random_token_docs(spark, n_docs=60, vocab=40):
    """Deterministic corpus of token-set docs with many borderline
    Jaccard pairs: doc i draws 6-14 tokens from a 40-token vocabulary
    by md5 arithmetic (seed-free, engine-independent)."""
    import hashlib

    rows = []
    for i in range(n_docs):
        h = int(hashlib.md5(f"pfx:{i}".encode()).hexdigest(), 16)
        k = 6 + h % 9
        toks = sorted({f"w{(h >> (4 * j)) % vocab}" for j in range(k)})
        rows.append((i, " ".join(toks)))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_prefix_filter_lossless_vs_brute_force(spark):
    """The prefix filter must find EXACTLY the pairs an all-pairs exact
    Jaccard join finds — zero recall loss is the operator's contract
    (this is what separates it from LSH)."""
    docs = _random_token_docs(spark)
    got = {
        (r["doc_a"], r["doc_b"]): (r["shared"], r["jaccard"])
        for r in dedup.prefix_filter_pairs(docs, threshold=(3, 5)).collect()
    }
    # brute force: all-pairs via shared-token equi-join (>=1 shared
    # token; any Jaccard>=0.6 pair shares at least one token)
    toks = dedup.word_tokens(docs)
    sizes = {r["doc_id"]: r["n"] for r in
             toks.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    a, b = toks.alias("a"), toks.alias("b")
    shared = (
        a.join(b, F.col("a.tok") == F.col("b.tok"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count("*").alias("s"))
        .collect()
    )
    want = {}
    for r in shared:
        union = sizes[r["da"]] + sizes[r["db"]] - r["s"]
        if 5 * r["s"] >= 3 * union:
            want[(r["da"], r["db"])] = r["s"]
    assert set(got) == set(want), (
        f"missed={set(want)-set(got)} extra={set(got)-set(want)}"
    )
    for k, s in want.items():
        assert got[k][0] == s


def test_prefix_filter_boundary_semantics(spark):
    """A pair exactly AT the threshold (6 shared / 10 union = 0.6) is
    kept ('>='); a below-threshold pair sharing prefix tokens is
    generated as a candidate but dropped by the verify."""
    rows = [
        (1, "zqpa zqpb zqpc zqpd zqpe zqpf zqpg zqph"),
        (2, "zqpa zqpb zqpc zqpd zqpe zqpf zqxg zqxh"),
        (3, "zqpa zqpb zqpc zqpd zzm1 zzm2 zzm3 zzm4"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in dedup.prefix_filter_pairs(d, threshold=(3, 5)).collect()}
    assert out == {(1, 2): 0.6}


# --------------------------------------------------- bloom-pruned semi-join
def test_bloom_semi_join_exact_at_any_fp_rate(spark):
    """The result must equal the plain left-semi join even with an
    absurdly small bitmap (m=256 bits for ~100 keys → fp rate near 1):
    false positives are refined away, false negatives are impossible."""
    fact = spark.range(0, 5000).select(
        (F.col("id") % 997).alias("k"), F.col("id").alias("v")
    )
    dim = spark.range(0, 100).select((F.col("id") * 7).alias("k"))
    want = sorted(
        (r["k"], r["v"])
        for r in fact.join(dim, "k", "left_semi").collect()
    )
    for m_bits in (256, 1 << 16):
        got = sorted(
            (r["k"], r["v"])
            for r in joins.bloom_filter_semi_join(
                fact, dim, key_col="k", m_bits=m_bits
            ).collect()
        )
        assert got == want, f"m_bits={m_bits}"


def test_bloom_semi_join_prunes_before_join(spark):
    """With a selective dim and a well-sized bitmap, the bloom filter
    must drop the overwhelming majority of fact rows BEFORE the
    semi-join — the whole point of the operator at 100 TB."""
    fact = spark.range(0, 20000).select(F.col("id").alias("k"))
    dim = spark.range(0, 20).select((F.col("id") * 1000).alias("k"))
    keys = dim.select(F.col("k").alias("_k")).distinct()
    # reconstruct just the pruned (pre-refine) side by re-running the
    # operator's filter: count survivors of the codegen'd bloom probe
    pruned = joins.bloom_filter_semi_join(fact, dim, key_col="k")
    # exactness
    assert pruned.count() == 20
    # the plan carries the xxhash64 probe as a Filter (not a join)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------------ perceptual image dedup
def test_ahash_invariant_under_uniform_brightness(spark):
    """aHash compares each block mean against the image mean with a
    cross-multiplied integer test, so a uniform brightness shift that
    doesn't wrap must leave every bit unchanged (the property that
    makes it a PERCEPTUAL hash, not a byte hash)."""
    w, h = 10, 9
    base = [(i * 13) % 200 for i in range(w * h)]          # ≤ 199, +50 safe
    shifted = [p + 50 for p in base]
    a = multimodal.ahash_bits(w, h, bytes(base))
    b = multimodal.ahash_bits(w, h, bytes(shifted))
    assert a == b
    assert len(a) == 64 and set(a) <= {"0", "1"}


def test_ahash_pairs_banded_recall_and_exact_hamming(spark):
    """Pairs within hamming ≤ bands−1 MUST be found (pigeonhole), and
    the JVM bit_count(xor) refine must equal the true bit-level
    hamming distance — including bit 63 (the signed edge)."""
    h0 = "1" * 64
    h1 = "1" * 60 + "0011"          # hamming 2 vs h0 (bits 60, 61)
    h2 = "1" * 63 + "0"             # hamming 1 vs h0 (bit 63, signed edge)
    h3 = "0110" * 16                # far from all of the above
    hashes = spark.createDataFrame(
        [(0, h0), (1, h1), (2, h2), (3, h3)], ["media_id", "ahash"]
    )
    got = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in multimodal.ahash_pairs(hashes, max_hamming=3, bands=8)
        .collect()
    }
    assert got[(0, 1)] == 2
    assert got[(0, 2)] == 1
    assert got[(1, 2)] == 3
    assert not any(3 in pair for pair in got)


def test_image_ahash_real_decode_roundtrip(spark):
    """image_ahash must hash the DECODED pixels: encode a known pixel
    buffer through the real PNG codec, hash via the Spark path, and
    compare against ahash_bits computed directly on the source
    buffer."""
    w, h = 12, 8
    px = bytes((i * 31 + 7) % 256 for i in range(w * h))
    payload = multimodal.encode_png_gray(w, h, px)
    media = spark.createDataFrame(
        [(1, "image", "image/png", bytearray(payload), {})],
        "media_id long, kind string, mime string, payload binary, "
        "meta map<string,string>",
    )
    got = multimodal.image_ahash(media).collect()[0]["ahash"]
    assert got == multimodal.ahash_bits(w, h, px)


def test_ahash_pairs_no_cartesian(spark):
    hashes = spark.createDataFrame(
        [(i, format(i * 2654435761 % (1 << 64), "064b")) for i in range(50)],
        ["media_id", "ahash"],
    )
    out = multimodal.ahash_pairs(hashes, max_hamming=2, bands=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


# ---------------------------------------------- native session_window agg
def test_session_window_boundary_semantics(spark):
    """Native session_window MERGES an event landing exactly on the
    previous window's end (split only when the gap strictly exceeds
    the threshold) — the same boundary rule as sessionize's `> gap_s`
    lag test, and the rule the session_window oracle SQL encodes."""
    from datetime import datetime, timedelta

    from engine.spark import conversation

    t0 = datetime(2026, 1, 1)
    rows = [
        (1, t0, 1.0),
        (1, t0 + timedelta(minutes=30), 1.0),                   # == gap: merge
        (2, t0, 1.0),
        (2, t0 + timedelta(minutes=30, microseconds=1), 1.0),   # > gap: new
    ]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = conversation.session_window_agg(e, gap="30 minutes").collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r)
    assert len(per_user[1]) == 1 and per_user[1][0]["n_events"] == 2
    assert len(per_user[2]) == 2
    # end_us = last event + gap, microsecond-exact
    s = sorted(per_user[2], key=lambda r: r["start_us"])
    assert s[0]["end_us"] - s[0]["start_us"] == 30 * 60 * 1_000_000


def test_session_window_uses_merging_sessions_path(spark, docs):
    """The plan must take Spark's dedicated session-window aggregation
    (MergingSessions/UpdatingSessions operators) — never a per-user
    window sort of the whole history."""
    from engine.spark import conversation

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = conversation.session_window_agg(ev)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Session" in plan, plan          # MergingSessionsExec et al.
    assert "Window" not in plan, plan


# ----------------------------------------------- trigram substring search
def test_substring_search_lossless_vs_full_scan(spark, docs):
    """The indexed path (any prune level) must return exactly the
    full-scan contains() filter — candidates are a superset, the
    verify is exact."""
    d = docs.select("doc_id", "text")
    want = sorted(
        (r["doc_id"], r["first_pos"])
        for r in d.select(
            "doc_id", F.instr(F.lower("text"), "spark merge").alias("first_pos")
        )
        .filter(F.col("first_pos") > 0)
        .collect()
    )
    assert want, "fixture query must match some docs"
    for prune in (None, 2, 1):
        got = sorted(
            (r["doc_id"], r["first_pos"])
            for r in text.substring_search(
                d, "spark merge", prune_grams=prune
            ).collect()
        )
        assert got == want, f"prune={prune}"


def test_substring_search_edge_cases(spark, docs):
    d = docs.select("doc_id", "text")
    # absent trigram -> empty without scanning (early exit path)
    assert text.substring_search(d, "zzqzzq", prune_grams=2).count() == 0
    # sub-trigram query -> full-scan fallback, still correct
    got = {r["doc_id"] for r in text.substring_search(d, "ag").collect()}
    want = {
        r["doc_id"]
        for r in d.filter(F.instr(F.lower("text"), "ag") > 0).collect()
    }
    assert got == want


# ------------------------------------------------- sequence gap detection
def test_sequence_gaps_planted_and_edges(spark):
    """ids {1,2,3,7,8,10}: gaps are [4,6] and [9,9]; the sequence's
    outer edges are NOT gaps; a dense sequence yields nothing;
    duplicates don't create phantom boundaries."""
    from engine.spark import diagnose

    d = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 7, 8, 10, 10, 3]], ["id"]
    )
    got = sorted(
        (r["gap_start"], r["gap_end"], r["gap_len"])
        for r in diagnose.sequence_gaps(d, "id").collect()
    )
    assert got == [(4, 6, 3), (9, 9, 1)]
    dense = spark.createDataFrame([(i,) for i in range(20)], ["id"])
    assert diagnose.sequence_gaps(dense, "id").count() == 0


def test_sequence_gaps_no_global_window_over_facts(spark):
    """Both anti-joins must be hash equi-joins on the shifted key; the
    only Window runs on the boundary rows (after the anti-joins), so
    the plan has no sort of the fact table feeding a window directly."""
    from engine.spark import diagnose

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_id")
    out = diagnose.sequence_gaps(ev, "event_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("LeftAnti") == 2, plan
    # the Window's input must be the anti-join output, not the scan:
    # cheap structural proxy — windows appear above the anti-joins
    assert plan.index("Window") < plan.index("LeftAnti"), (
        "window must sit above (before, in top-down print) the anti-joins"
    )


def test_agg_merge_invariance_and_disjoint_keys(spark):
    """merge(agg(A), agg(B)) == agg(A ∪ B) row-for-row, including keys
    present in only one side (full-outer NULL-safe combination)."""
    from engine.spark import lineage

    rows_a = [(1, "x", 2.5), (1, "x", -1.0), (2, "y", 4.0)]
    rows_b = [(1, "x", 10.0), (3, "z", 0.5), (None, "x", 7.0)]
    a = spark.createDataFrame(rows_a, "k: long, t: string, value: double")
    b = spark.createDataFrame(rows_b, "k: long, t: string, value: double")
    merged = {
        (r.k, r.t): (r.n, float(r.sum_value), r.min_value, r.max_value)
        for r in lineage.agg_merge(
            lineage.agg_snapshot(a, ["k", "t"], "value"),
            lineage.agg_snapshot(b, ["k", "t"], "value"),
            ["k", "t"],
        ).collect()
    }
    scratch = {
        (r.k, r.t): (r.n, float(r.sum_value), r.min_value, r.max_value)
        for r in lineage.agg_snapshot(
            a.unionByName(b), ["k", "t"], "value"
        ).collect()
    }
    assert merged == scratch
    assert (3, "z") in merged and (None, "x") in merged  # one-sided keys


def test_stream_agg_merge_split_invariant_and_retry_idempotent(
    spark, tmp_path
):
    """The store's serving read equals the from-scratch aggregate no
    matter how the stream was micro-batched, and a re-delivered batch
    (at-least-once foreachBatch retry) replaces exactly its own delta
    partition, leaving the serving read byte-identical."""
    from pyspark.sql import functions as SF

    from engine.spark import lineage, streaming

    rows = [(i, "t" + str(i % 3), float(i % 7) - 3.0) for i in range(300)]
    df = spark.createDataFrame(rows, "k: long, t: string, value: double")
    src = str(tmp_path / "src")
    df.where("k < 100").coalesce(1).write.mode("append").parquet(src)
    df.where("k >= 100").coalesce(1).write.mode("append").parquet(src)
    store = str(tmp_path / "store")
    streaming.stream_agg_merge(
        spark, src, str(tmp_path / "ckpt"), store, ["k", "t"], "value"
    )

    def serving():
        return sorted(
            map(
                tuple,
                streaming.read_agg_store(spark, store, ["k", "t"])
                .collect(),
            )
        )

    scratch = sorted(
        map(tuple, lineage.agg_snapshot(df, ["k", "t"], "value").collect())
    )
    got = serving()
    assert got == scratch
    # simulate an at-least-once retry of batch 0: identical delta write
    (
        lineage.agg_snapshot(df.where("k < 100"), ["k", "t"], "value")
        .withColumn("ingest_batch", SF.lit(0).cast("long"))
        .write.mode("overwrite")
        .partitionBy("ingest_batch")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(store)
    )
    assert serving() == got
