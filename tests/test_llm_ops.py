"""Unit tests for the round-4 training-data preparation operators:
PII scrub, repetition stats, sliding-window chunking, next-fit sequence
packing, and the benchmark-contamination screen.  Hand-computed
expectations — independent of both engines."""

import pytest
from pyspark.sql import functions as F

from engine.spark import dedup
from engine.spark import text as etext
from engine.spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, app="engine-tests")
    yield s
    s.stop()


# ------------------------------------------------------------- PII scrub


def test_pii_scrub_planted(spark):
    docs = spark.createDataFrame(
        [
            (1, "contact bob@example.com or +1 (555) 123-4567 today"),
            (2, "server at 10.0.0.1 mailed alice.smith+x@sub.example.org"),
            (3, "no pii here at all"),
            (4, "dial 555 867 5309 twice: 555 867 5309"),
        ],
        "doc_id: long, text: string",
    )
    rows = {r["doc_id"]: r for r in etext.pii_scrub(docs).collect()}
    r1 = rows[1]
    assert "<EMAIL>" in r1["clean_text"] and "<PHONE>" in r1["clean_text"]
    assert "bob@example.com" not in r1["clean_text"]
    assert (r1["n_emails"], r1["n_ips"], r1["n_phones"]) == (1, 0, 1)
    r2 = rows[2]
    assert "<IP>" in r2["clean_text"] and "<EMAIL>" in r2["clean_text"]
    assert (r2["n_emails"], r2["n_ips"], r2["n_phones"]) == (1, 1, 0)
    r3 = rows[3]
    assert r3["clean_text"] == "no pii here at all"
    assert (r3["n_emails"], r3["n_ips"], r3["n_phones"]) == (0, 0, 0)
    r4 = rows[4]
    assert r4["n_phones"] == 2 and r4["clean_text"].count("<PHONE>") == 2


def test_pii_scrub_email_digits_not_rescrubbed(spark):
    """The order contract: an address whose local part is digit-heavy
    must be redacted as ONE email, not leave digit shrapnel for the
    phone pass."""
    docs = spark.createDataFrame(
        [(1, "mail 5551234567@txt.example.net now")],
        "doc_id: long, text: string",
    )
    r = etext.pii_scrub(docs).collect()[0]
    assert r["n_emails"] == 1 and r["n_phones"] == 0
    assert r["clean_text"] == "mail <EMAIL> now"


# ------------------------------------------------------- repetition stats


def test_repetition_stats_planted(spark):
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),
            (2, "one two three four five six seven eight"),
        ],
        "doc_id: long, text: string",
    )
    rows = {r["doc_id"]: r for r in etext.repetition_stats(docs).collect()}
    r1 = rows[1]
    assert r1["n_tokens"] == 6 and r1["n_distinct"] == 1
    assert r1["top_share"] == 1.0
    # 5 bigram positions, 1 distinct bigram → 1 - 1/5
    assert r1["dup_bigram_ratio"] == 0.8
    r2 = rows[2]
    assert r2["n_tokens"] == 8 and r2["n_distinct"] == 8
    assert r2["distinct_ratio"] == 1.0
    assert r2["top_share"] == 0.125
    assert r2["dup_bigram_ratio"] == 0.0


# ------------------------------------------------------------- chunking


def test_doc_chunks_windows(spark):
    toks = [f"t{i:03d}" for i in range(100)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks)), (2, " ".join(toks[:64])), (3, "")],
        "doc_id: long, text: string",
    )
    out = etext.doc_chunks(docs, chunk_tokens=64, overlap=16)
    rows = {
        (r["doc_id"], r["chunk_idx"]): r for r in out.collect()
    }
    # 100 tokens, stride 48 → chunks at 0 and 48
    assert (1, 0) in rows and (1, 1) in rows and (1, 2) not in rows
    assert rows[(1, 0)]["n_tokens"] == 64
    assert rows[(1, 0)]["chunk_text"].split() == toks[:64]
    assert rows[(1, 1)]["n_tokens"] == 52
    assert rows[(1, 1)]["chunk_text"].split() == toks[48:100]
    # overlap: last 16 of chunk 0 == first 16 of chunk 1
    assert (
        rows[(1, 0)]["chunk_text"].split()[48:]
        == rows[(1, 1)]["chunk_text"].split()[:16]
    )
    # exactly-one-window doc
    assert (2, 0) in rows and (2, 1) not in rows
    assert rows[(2, 0)]["n_tokens"] == 64
    # empty doc still yields one (empty) chunk
    assert rows[(3, 0)]["n_tokens"] == 0
    assert rows[(3, 0)]["chunk_text"] == ""


def test_doc_chunks_rejects_bad_overlap(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id: long, text: string")
    with pytest.raises(ValueError):
        etext.doc_chunks(docs, chunk_tokens=8, overlap=8)


# ------------------------------------------------------------- packing


def test_pack_sequences_next_fit(spark):
    # one source, n_buckets=1 → pure next-fit over doc_id order
    docs = spark.createDataFrame(
        [
            (1, "web", " ".join(["w"] * 300)),
            (2, "web", " ".join(["w"] * 300)),
            (3, "web", " ".join(["w"] * 300)),
            (4, "web", " ".join(["w"] * 600)),
        ],
        "doc_id: long, source: string, text: string",
    )
    out = {
        r["doc_id"]: r
        for r in etext.pack_sequences(
            docs, capacity=512, n_buckets=1
        ).collect()
    }
    # cumsum-starts: 0, 300, 600, 900 → bins 0, 0, 1, 1
    assert [out[i]["bin_id"] for i in (1, 2, 3, 4)] == [0, 0, 1, 1]
    assert all(out[i]["bucket"] == 0 for i in (1, 2, 3, 4))


def test_pack_sequences_bucketed_partitions(spark):
    """Buckets split a source into independent next-fit streams — every
    doc appears once, bin ids are per (source, bucket)."""
    docs = spark.createDataFrame(
        [(i, "web", " ".join(["w"] * 100)) for i in range(16)],
        "doc_id: long, source: string, text: string",
    )
    out = etext.pack_sequences(docs, capacity=512, n_buckets=4).collect()
    assert len(out) == 16
    for r in out:
        assert r["bucket"] == r["doc_id"] % 4
        # 4 docs per bucket × 100 tokens < 512 → everything in bin 0
        assert r["bin_id"] == 0


# --------------------------------------------------------- contamination


def test_contamination_screen_planted(spark):
    bench_text = " ".join(f"bench{i:02d}" for i in range(12))
    clean_text = " ".join(f"clean{i:02d}" for i in range(30))
    leaked = clean_text + " " + bench_text  # contains the benchmark verbatim
    docs = spark.createDataFrame(
        [(1, leaked), (2, clean_text), (3, bench_text)],
        "doc_id: long, text: string",
    )
    bench = spark.createDataFrame(
        [(100, bench_text)], "bench_id: long, text: string"
    )
    rows = dedup.contamination_screen(docs, bench, n=8).collect()
    got = {(r["doc_id"], r["bench_id"]): r["n_shared"] for r in rows}
    # doc 1 embeds the 12-token benchmark → all 5 of its 8-grams shared
    assert got[(1, 100)] == 5
    # doc 3 IS the benchmark text (distinct id) → flagged too
    assert got[(3, 100)] == 5
    # doc 2 shares nothing
    assert (2, 100) not in got


def test_contamination_screen_excludes_self(spark):
    text = " ".join(f"x{i:02d}" for i in range(20))
    docs = spark.createDataFrame([(7, text)], "doc_id: long, text: string")
    bench = docs.select(F.col("doc_id").alias("bench_id"), "text")
    assert dedup.contamination_screen(docs, bench, n=8).count() == 0


# ---------------------------------------------------- n-gram LM scoring


def test_ngram_lm_scores_hand_computed(spark):
    """Laplace bigram LM on a 2-doc reference corpus, hand-computed:
    uni a:3 b:3 c:1, big (a,b):3 (b,a):1 (b,c):1, V = 4 (3 vocab + OOV).
    In-distribution 'a b' → ln(4/7); fully-OOV 'z z' → ln(1/4);
    single-token docs produce no row."""
    import math

    ref = spark.createDataFrame(
        [(100, "a b a b"), (101, "a b c")], "doc_id: long, text: string"
    )
    score = spark.createDataFrame(
        [(1, "a b"), (2, "z z"), (3, "a"), (4, "b c a")],
        "doc_id: long, text: string",
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_nll"])
        for r in etext.ngram_lm_scores(score, ref, alpha=1.0).collect()
    }
    assert set(got) == {1, 2, 4}
    assert got[1][0] == 1
    assert got[1][1] == pytest.approx(-math.log(4 / 7), abs=1e-5)
    assert got[2][1] == pytest.approx(-math.log(1 / 4), abs=1e-5)
    # (b,c): ln(2/7), (c,a): c2=0, c1(c)=1 → ln(1/5)
    want4 = -(math.log(2 / 7) + math.log(1 / 5)) / 2
    assert got[4] == (2, pytest.approx(want4, abs=1e-5))
    # the quality-gate property: OOV gibberish scores worse than
    # in-distribution text
    assert got[2][1] > got[1][1]


# ------------------------------------------- substring-level dup spans


def test_substring_spans_planted(spark):
    """Hand-computed maximal duplicated spans, k=4: a cross-doc shared
    passage reported with its exact extent in BOTH docs, an internal
    repetition yielding two disjoint spans, and a unique doc absent."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "x x a b c d e f y"),
            (3, "p q r s t p q r s u"),
            (4, "m n o p"),
        ],
        "doc_id: long, text: string",
    )
    got = {
        (r["doc_id"], r["start_tok"], r["end_tok"], r["span_tokens"])
        for r in dedup.substring_spans(docs, k=4).collect()
    }
    assert got == {(1, 0, 6, 6), (2, 2, 8, 6), (3, 0, 4, 4), (3, 5, 9, 4)}


def test_substring_spans_exactness_no_normalization(spark):
    """Substring dedup is byte-exact: case or punctuation differences
    break the match (unlike the lowercasing word_shingles path)."""
    docs = spark.createDataFrame(
        [(1, "The quick brown fox jumps"), (2, "the quick brown fox jumps")],
        "doc_id: long, text: string",
    )
    assert dedup.substring_spans(docs, k=5).count() == 0
    same = spark.createDataFrame(
        [(1, "The quick brown fox jumps"), (2, "The quick brown fox jumps")],
        "doc_id: long, text: string",
    )
    got = {
        (r["doc_id"], r["start_tok"], r["end_tok"])
        for r in dedup.substring_spans(same, k=5).collect()
    }
    assert got == {(1, 0, 5), (2, 0, 5)}


def test_substring_spans_below_threshold_missed(spark):
    """A duplicated run shorter than k is below threshold by design."""
    docs = spark.createDataFrame(
        [(1, "a b c q w e r t"), (2, "a b c z x v n m")],
        "doc_id: long, text: string",
    )
    assert dedup.substring_spans(docs, k=4).count() == 0


# --------------------------------------- streaming near-dup band store


def test_pack_sequences_load_and_bin_count_bounds(spark):
    """The documented packing guarantees (VERDICT r4 what's-wrong #3):
    per-bin load ≤ capacity + max_doc_tokens − 1 (a doc starting near a
    boundary overflows by up to its own length — this is offset-interval
    packing, not hard-capacity bin packing), and bins per (group,
    bucket) ≤ total_tokens/capacity + 1 (no fragmentation)."""
    import random

    rng = random.Random(1234)
    cap = 128
    rows = [
        (
            i,
            rng.choice(["web", "books", "code"]),
            " ".join(["w"] * rng.randint(1, 200)),  # some docs > capacity
        )
        for i in range(300)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id: long, source: string, text: string"
    )
    out = etext.pack_sequences(docs, capacity=cap, n_buckets=4).collect()
    assert len(out) == 300

    groups: dict = {}
    for r in out:
        groups.setdefault((r["source"], r["bucket"]), []).append(r)
    for (_, _), rs in groups.items():
        max_doc = max(r["n_tokens"] for r in rs)
        total = sum(r["n_tokens"] for r in rs)
        loads: dict = {}
        for r in rs:
            loads[r["bin_id"]] = loads.get(r["bin_id"], 0) + r["n_tokens"]
        assert max(loads.values()) <= cap + max_doc - 1, loads
        # bin ids start at 0 and are bounded by the stream length; a doc
        # longer than capacity spans windows, so ids may have gaps but
        # the count (and max id) never exceeds total/cap (+1 bins)
        assert min(loads) == 0
        assert max(loads) <= total // cap
        assert len(loads) <= total // cap + 1


def test_stream_near_dup_split_invariance(spark, tmp_path):
    """Splitting an ingest across micro-batches must be invisible: the
    streamed pair set (including cross-batch new_new typing via the
    accumulating band store) equals the one-shot batch computation."""
    import shutil

    from engine.spark import streaming

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i} alpha beta gamma delta {i}") for i in range(10)],
        "doc_id: long, text: string",
    )
    # two near-identical new docs that land in DIFFERENT micro-batches,
    # plus a near-copy of corpus doc 3
    t3 = "corpus doc 3 alpha beta gamma delta 3"
    newdocs = [
        (100, "fresh text one two three four five six seven"),
        (101, "fresh text one two three four five six eight"),
        (102, t3 + " extra"),
    ]
    # doc 100 and 101 land in DIFFERENT batches so their pairing can
    # ONLY happen through the store probe against an origin='stream'
    # row — the typing path this test exists to pin (a same-batch split
    # would exercise only the nn self-join)
    b1 = spark.createDataFrame(newdocs[:1], "doc_id: long, text: string")
    b2 = spark.createDataFrame(newdocs[1:], "doc_id: long, text: string")
    src = str(tmp_path / "src")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    outp, store = str(tmp_path / "out"), str(tmp_path / "store")
    streaming.stream_near_dup(
        spark, src, corpus, str(tmp_path / "ckpt"), outp, store,
        num_perm=32, bands=16,
    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["pair_type"], r["est_jaccard"])
        for r in spark.read.parquet(outp)
        .dropDuplicates(["doc_a", "doc_b"])
        .collect()
    }
    allnew = spark.createDataFrame(newdocs, "doc_id: long, text: string")
    want = {
        (r["doc_a"], r["doc_b"]): (r["pair_type"], r["est_jaccard"])
        for r in dedup.minhash_incremental_pairs(
            allnew, corpus, num_perm=32, bands=16
        ).collect()
    }
    assert got == want
    # the planted cross-batch pair was actually exercised
    assert (100, 101) in got and got[(100, 101)][0] == "new_new"
    assert (3, 102) in got and got[(3, 102)][0] == "new_corpus"
    # the band store accumulated both origins
    origins = {
        r["origin"]
        for r in spark.read.parquet(store).select("origin").distinct().collect()
    }
    assert origins == {"corpus", "stream"}

    # retry idempotence (ADVICE r4): foreachBatch is at-least-once — a
    # re-delivered batch must OVERWRITE its own ingest_batch partition,
    # not append a duplicate copy that inflates every later probe join.
    store_df = spark.read.parquet(store)
    out_df = spark.read.parquet(outp)
    store_before = store_df.count()
    out_before = out_df.count()
    # simulate the retry exactly as _probe would re-run it: re-write
    # batch 1's bands/pairs through the same idempotent sink helper
    b1_bands = dedup.band_table(b2, num_perm=32, bands=16)
    streaming._overwrite_batch_partition(
        b1_bands.withColumn("origin", F.lit("stream")), store, batch_id=1
    )
    b_old = store_df.where(F.col("ingest_batch") < 1)
    retry_pairs = dedup.incremental_pairs_from_bands(
        b1_bands, b_old, num_perm=32
    )
    streaming._overwrite_batch_partition(retry_pairs, outp, batch_id=1)
    assert spark.read.parquet(store).count() == store_before
    assert spark.read.parquet(outp).count() == out_before
    got_retry = {
        (r["doc_a"], r["doc_b"]): (r["pair_type"], r["est_jaccard"])
        for r in spark.read.parquet(outp)
        .dropDuplicates(["doc_a", "doc_b"])
        .collect()
    }
    assert got_retry == want


def test_doc_chunks_reconstruction_property(spark):
    """Lossless-coverage invariant for arbitrary doc lengths around the
    window boundaries: dropping each chunk's leading `overlap` tokens
    (except chunk 0) and concatenating in chunk_idx order reproduces
    the original token stream exactly — no token lost, none duplicated."""
    import random

    rng = random.Random(4)
    lens = [0, 1, 15, 16, 17, 47, 48, 49, 63, 64, 65, 100, 112, 113, 200]
    rows = [
        (i, " ".join(f"d{i}t{j}" for j in range(n)))
        for i, n in enumerate(lens)
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = etext.doc_chunks(docs, chunk_tokens=64, overlap=16).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_text"])
        )
    for i, n in enumerate(lens):
        chunks = [t for _, t in sorted(by_doc[i])]
        toks = chunks[0].split()
        for c in chunks[1:]:
            toks.extend(c.split()[16:])
        assert toks == [f"d{i}t{j}" for j in range(n)], (i, n, len(toks))


# ----------------------------------------- approx sketches vs exact


def test_percentile_approx_rank_error_bound(spark):
    """percentile_approx (GK sketch) guarantees rank error ≤ n/accuracy:
    the approximate quantile must lie between the exact order statistics
    at rank ± n/accuracy.  (Sketches can't hash-match a cross-engine
    oracle — value_quantiles covers the exact path — so the approx path
    is pinned by its own theoretical bound, like distinct_users' HLL.)"""
    df = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    vals = sorted(r["value"] for r in df.select("value").collect())
    n = len(vals)
    acc = 1000
    for q in (0.5, 0.9, 0.99):
        approx = df.agg(
            F.percentile_approx("value", q, acc)
        ).first()[0]
        rank = int(q * n)
        eps = n // acc + 1
        lo = vals[max(rank - eps, 0)]
        hi = vals[min(rank + eps, n - 1)]
        assert lo <= approx <= hi, (q, approx, lo, hi)


def test_doc_chunks_giant_doc(spark):
    """A 60k-token document (the planted-skew shape) must chunk without
    quadratic blowup and reconstruct exactly — guards the
    materialized-array rule (no per-chunk re-split) at the size where
    the O(tokens²) HOF trap originally bit."""
    n = 60_000
    text = " ".join(f"w{i}" for i in range(n))
    docs = spark.createDataFrame([(1, text)], "doc_id: long, text: string")
    rows = sorted(
        (r["chunk_idx"], r["chunk_text"], r["n_tokens"])
        for r in etext.doc_chunks(
            docs, chunk_tokens=512, overlap=64
        ).collect()
    )
    stride = 512 - 64
    import math
    assert len(rows) == 1 + math.ceil((n - 512) / stride)
    toks = rows[0][1].split()
    for _, t, _ in rows[1:]:
        toks.extend(t.split()[64:])
    assert len(toks) == n and toks[0] == "w0" and toks[-1] == f"w{n-1}"


# -------------------------------------------------- constraint checking


def test_check_constraints_null_semantics(spark):
    """NULL conditions are violations (expectation semantics), and all
    rules are evaluated in one pass with exact counts."""
    from engine.spark import diagnose

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, None), (None, 2.0)],
        "id: long, v: double",
    )
    out = {
        r["rule"]: (r["n_violations"], r["n_rows"])
        for r in diagnose.check_constraints(
            df,
            [
                ("id_not_null", F.col("id").isNotNull()),
                ("v_non_negative", F.col("v") >= 0),
            ],
        ).collect()
    }
    assert out["id_not_null"] == (1, 4)
    # -1.0 violates; NULL v also counts as a violation
    assert out["v_non_negative"] == (2, 4)


def test_check_constraints_single_scan_plan(spark):
    """N rules must not mean N scans: the physical plan reads the
    source exactly once."""
    from engine.spark import diagnose

    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    rep = diagnose.check_constraints(
        df,
        [
            ("a", F.col("user_id").isNotNull()),
            ("b", F.col("value") >= 0),
            ("c", F.col("ts").isNotNull()),
        ],
    )
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan


# ------------------------------------------------- embedding quantization


def test_quantization_roundtrip_bound(spark):
    """Dequantization error is bounded by half a quantization step per
    component: |v - deq(q(v))| ≤ (mx-mn)/255/2 (+ float eps) — the
    deterministic accuracy contract of int8 min-max coding."""
    from engine.spark import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    emb = emb.where(F.col("vec_id") < 100)
    q = sim.quantize_embeddings(emb)
    joined = q.join(
        emb.select("vec_id", "embedding"), "vec_id"
    ).select(
        "vec_id",
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            sim.dequantize_col(F.col("codes"), F.col("mn"), F.col("mx")),
            lambda a, b: F.abs(a - b),
        ).alias("err"),
        ((F.col("mx") - F.col("mn")) / 255 / 2 + F.lit(1e-9)).alias("bound"),
    )
    bad = joined.where(
        F.array_max("err") > F.col("bound")
    ).count()
    assert bad == 0


def test_quantized_topk_recall(spark):
    """int8 quantization must preserve cosine neighborhoods: per-query
    top-5 overlap with the full-precision exact top-5 stays high."""
    from engine.spark import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = sim.brute_force_topk(emb, n_queries=8, k=5).collect()
    approx = sim.quantized_topk(emb, n_queries=8, k=5).collect()

    def sets(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    e, a = sets(exact), sets(approx)
    recalls = [len(e[q] & a[q]) / len(e[q]) for q in e]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_ivf_quantized_recall_and_full_probe(spark):
    """The IVF + int8-lists + exact-re-rank composite (VERDICT r4 ask
    #7): mean recall@5 vs brute force ≥ 0.8 at n_probe=2, and with a
    full probe the only loss channel is int8 shortlist truncation —
    which a 4k shortlist absorbs, so full-probe == brute force here."""
    from engine.spark import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

    def sets(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    e = sets(sim.brute_force_topk(emb, n_queries=8, k=5).collect())
    a = sets(
        sim.ivf_quantized_topk(
            emb, dim=64, n_centroids=8, n_probe=2, n_queries=8, k=5,
            shortlist=20,
        ).collect()
    )
    recalls = [len(e[q] & a[q]) / len(e[q]) for q in e]
    assert sum(recalls) / len(recalls) >= 0.8, recalls
    fp = sets(
        sim.ivf_quantized_topk(
            emb, dim=64, n_centroids=8, n_probe=8, n_queries=8, k=5,
            shortlist=20,
        ).collect()
    )
    assert fp == e


def test_quantized_lists_memory_ratio(spark, tmp_path):
    """The whole point of int8 lists: the corpus-wide structure the
    probe scans must be materially smaller than the float corpus.
    Written as real parquet (dictionary/RLE and all), the tinyint codes
    + 2 doubles come in at ≤ 40% of the double-precision vectors."""
    import os

    from engine.spark import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = sim._centroids_lit(sim.ivf_centroids(emb, dim=64))
    lists = sim.quantized_lists(emb, cents)
    assert dict(lists.dtypes)["codes"] == "array<tinyint>"
    full = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    p_full, p_q = str(tmp_path / "full"), str(tmp_path / "q")
    full.coalesce(1).write.parquet(p_full)
    lists.coalesce(1).write.parquet(p_q)

    def nbytes(d):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    ratio = nbytes(p_q) / nbytes(p_full)
    assert ratio <= 0.40, ratio


# ------------------------------------------------- vocab_coverage


def test_vocab_coverage_hand_case(spark):
    from engine.spark import text as etext

    d = spark.createDataFrame(
        [
            (1, "en", "the cat sat on the mat"),
            (2, "en", "the dog xylophone"),
            (3, "de", "der hund"),
        ],
        "doc_id: long, lang: string, text: string",
    )
    out = {r["lang"]: r for r in
           etext.vocab_coverage(d, vocab_size=3).collect()}
    # token counts: the=3, cat/sat/on/mat/dog/xylophone/der/hund=1
    # vocab (count desc, tok asc, top 3): the, cat, der
    en = out["en"]
    assert en["total_tokens"] == 9
    assert en["oov_tokens"] == 5  # sat on mat dog xylophone
    de = out["de"]
    assert (de["total_tokens"], de["oov_tokens"]) == (2, 1)  # hund OOV
    assert de["oov_rate"] == 0.5


# ------------------------------------------------------ ann_recall


def test_ann_recall_hand_case(spark):
    from engine.spark import similarity

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)],
        "query_id: long, neighbor_id: long",
    )
    approx = spark.createDataFrame(
        # q1 recovers both, q2 recovers one + a spurious neighbor
        [(1, 10), (1, 11), (2, 20), (2, 99)],
        "query_id: long, neighbor_id: long",
    )
    out = {r["query_id"]: r for r in
           similarity.ann_recall(truth, approx).collect()}
    assert (out[1]["n_true"], out[1]["n_hit"], out[1]["recall"]) == (
        2, 2, 1.0)
    assert (out[2]["n_true"], out[2]["n_hit"], out[2]["recall"]) == (
        2, 1, 0.5)


# --------------------------------------------------- bpe_merge_stats


def test_bpe_merge_stats_hand_case(spark):
    from engine.spark import text as etext

    d = spark.createDataFrame(
        [(1, "ab ab ab cd"), (2, "ab cd!"), (3, "")],
        "doc_id: long, text: string",
    )
    out = [(r["left_tok"], r["right_tok"], r["cnt"]) for r in
           etext.bpe_merge_stats(d, k=10).collect()]
    # pairs doc1: (ab,ab)x2 (ab,cd); doc2: (ab,cd) (cd,!); doc3: none
    assert out == [("ab", "ab", 2), ("ab", "cd", 2), ("cd", "!", 1)]


# ----------------------------------------------------- table_cells


def test_table_cells_hand_case(spark):
    from engine.spark import text as etext

    md = (
        "# Title\n"
        "| a | b |\n"
        "| --- | --- |\n"
        "| x  | 1 |\n"
        "prose | not a table\n"
        "| y | 2 |\n"
    )
    d = spark.createDataFrame(
        [("c1", 0, md)], "conv_id: string, turn_idx: int, markdown: string")
    out = [(r["line_no"], r["col_idx"], r["cell"]) for r in
           etext.table_cells(d).orderBy("line_no", "col_idx").collect()]
    # header (line 2), data rows (lines 4 and 6); separator line 3 and
    # the mid-line pipe without leading/trailing pipes are excluded
    assert out == [
        (2, 1, "a"), (2, 2, "b"),
        (4, 1, "x"), (4, 2, "1"),
        (6, 1, "y"), (6, 2, "2"),
    ]


def test_line_dedup_drops_boilerplate_keeps_order(spark):
    docs = spark.createDataFrame(
        [
            (1, "BOILER\nalpha\nbeta\nBOILER"),
            (2, "BOILER\ngamma"),
            (3, "BOILER\ndelta\nalpha"),
            (4, "BOILER"),
        ],
        "doc_id: long, text: string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.line_dedup(docs, min_df=3).collect()
    }
    # BOILER appears in 4 distinct docs -> removed everywhere, including
    # BOTH occurrences inside doc 1; 'alpha' appears in only 2 -> kept.
    assert out[1]["text"] == "alpha\nbeta"
    assert (out[1]["n_kept"], out[1]["n_dropped"]) == (2, 2)
    assert out[2]["text"] == "gamma"
    assert out[3]["text"] == "delta\nalpha"  # original order preserved
    # a pure-boilerplate doc survives as an empty row, caller decides
    assert (out[4]["text"], out[4]["n_kept"]) == ("", 0)


def test_line_dedup_min_df_boundary(spark):
    docs = spark.createDataFrame(
        [(1, "x\nshared"), (2, "y\nshared"), (3, "z")],
        "doc_id: long, text: string",
    )
    # df('shared') == 2: kept at min_df=3, dropped at min_df=2
    keep3 = dedup.line_dedup(docs, min_df=3)
    assert keep3.filter("doc_id = 1").first()["text"] == "x\nshared"
    drop2 = dedup.line_dedup(docs, min_df=2)
    assert drop2.filter("doc_id = 1").first()["text"] == "x"


def test_sorted_neighborhood_window_and_boundaries(spark):
    # 10 near-identical docs -> adjacent ranks; doc k differs from doc
    # k+1 by one token so every adjacent pair passes Jaccard >= 1/2,
    # and pairs spanning rank-bucket boundaries (bucket = rank DIV w)
    # must be found by the adjacent-bucket join leg.
    docs = spark.createDataFrame(
        [(i, f"common prefix words alpha beta gamma delta tok{i}") for i in range(10)],
        "doc_id: long, text: string",
    )
    out = dedup.sorted_neighborhood_pairs(
        docs, window=3, threshold=(1, 2), key_len=16
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["rank_gap"] for r in out.collect()}
    # ranks follow doc_id (identical keys, doc_id tie-break): every pair
    # with id gap <= 3 qualifies (Jaccard 6/8 at gap>=1), none beyond
    expect = {(a, b) for a in range(10) for b in range(10)
              if 0 < b - a <= 3}
    assert set(pairs) == expect
    assert all(pairs[(a, b)] == b - a for (a, b) in pairs)
    # no duplicate candidate rows from the two join legs
    assert out.count() == len(expect)


def test_hashed_classifier_exact_dot_product(spark):
    docs = spark.createDataFrame(
        [(1, "good good bad"), (2, "bad"), (3, "unseen words only")],
        "doc_id: long, text: string",
    )
    # tiny explicit model: good=+700, bad=-300; everything else absent
    from engine.spark.dedup import portable_hash60
    n_buckets = 1 << 20
    lex = spark.createDataFrame(
        [("good", 700), ("bad", -300)], "tok: string, w_milli: long"
    )
    weights = lex.select(
        (portable_hash60(F.col("tok")) % n_buckets).alias("fid"), "w_milli"
    )
    out = {
        r["doc_id"]: (r["score_milli"], r["label"], r["n_tokens"])
        for r in etext.hashed_classifier_score(
            docs, weights, n_buckets=n_buckets
        ).collect()
    }
    assert out[1] == (2 * 700 - 300, True, 3)
    assert out[2] == (-300, False, 1)
    assert out[3] == (0, False, 3)  # unseen features weigh 0, kept row


def test_corpus_drift_exact_tv(spark):
    # group A: {a:2, b:2} N=4 ; group B: {a:1, c:3} N=4 ; global:
    # {a:3, b:2, c:3} G=8.  TV(A) = 0.5*(|2/4-3/8| + |2/4-2/8| + 3/8)
    # = 0.5*(1/8 + 2/8 + 3/8) = 0.375 ; TV(B) symmetric = 0.375.
    docs = spark.createDataFrame(
        [(1, "A", "a a b b"), (2, "B", "a c c c")],
        "doc_id: long, source: string, text: string",
    )
    out = {r["source"]: (r["n_tokens"], r["tv"])
           for r in etext.corpus_drift(docs).collect()}
    assert out == {"A": (4, 0.375), "B": (4, 0.375)}


def test_hard_negative_topk_excludes_planted_dups(spark):
    from engine.spark import similarity

    base = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0]),
            (100, [1.0, 0.0, 0.0]),   # exact clone of query 0
            (101, [0.9, 0.1, 0.0]),   # near-dup of query 0 (cos ~0.994)
            (102, [0.5, 0.5, 0.0]),   # hard negative (cos ~0.707)
            (103, [0.0, 0.0, 1.0]),   # orthogonal
        ],
        "vec_id: long, embedding: array<double>",
    )
    out = similarity.hard_negative_topk(
        base, n_queries=1, k=3, dup_threshold=0.95
    ).collect()
    got = [(r["neighbor_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])]
    # clone (cos 1.0) and near-dup (cos .994) excluded; hard negative first
    assert got == [(102, 1), (1, 2), (103, 3)]


def test_bpe_train_hand_computed_merges(spark):
    """Tiny corpus with known statistics: the four learned merges and
    their weighted counts match a hand trace (at=10, th=6, the=4,
    cat=3), and greedy-leftmost merging is what the counts reflect."""
    from engine.spark import text as etext

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat ate the rat"),
            (3, "that hat that cat"),
        ],
        "doc_id: long, text: string",
    )
    merges = etext.bpe_train(docs, rounds=4)
    assert merges == [
        (1, "a", "t", "at", 10),
        (2, "t", "h", "th", 6),
        (3, "th", "e", "the", 4),
        (4, "c", "at", "cat", 3),
    ]


def test_bpe_train_greedy_leftmost_on_runs(spark):
    """'aaaa' with merge (a,a): greedy leftmost gives [aa, aa] — the
    second round must therefore find (aa, aa), not (a, a) again."""
    from engine.spark import text as etext

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa")], "doc_id: long, text: string"
    )
    merges = etext.bpe_train(docs, rounds=2)
    assert merges[0][1:4] == ("a", "a", "aa")
    assert merges[1][1:4] == ("aa", "aa", "aaaa")


def test_bpe_encode_compression_and_counts(spark):
    """Encoding with the learned merges compresses (strictly fewer
    symbols than raw characters), the learned merged symbols appear
    with their hand-counted frequencies, and an EMPTY merge list
    encodes to exactly the raw per-character counts."""
    from engine.spark import text as etext

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat ate the rat"),
            (3, "that hat that cat"),
        ],
        "doc_id: long, text: string",
    )
    merges = etext.bpe_train(docs, rounds=4)
    enc = {
        r.symbol: r.cnt for r in etext.bpe_encode(docs, merges).collect()
    }
    # 'the' fully fuses (4 occurrences), 'cat' fully fuses (3)
    assert enc["the"] == 4 and enc["cat"] == 3
    # 'that' = th + at (x2); sat/mat/rat/hat keep leading char + at; and
    # 'ate' = at + e
    assert enc["th"] == 2 and enc["at"] == 2 + 4 + 1
    assert enc["e"] == 1  # the trailing e of 'ate'
    texts = (
        "the cat sat on the mat",
        "the cat ate the rat",
        "that hat that cat",
    )
    raw_chars = sum(len(w) for t in texts for w in t.split())
    assert sum(enc.values()) < raw_chars
    # identity path: no merges -> exact per-character counts
    raw = {
        r.symbol: r.cnt
        for r in etext.bpe_encode(docs, []).collect()
    }
    assert sum(raw.values()) == raw_chars
    from collections import Counter

    expect = Counter(c for t in texts for w in t.split() for c in w)
    assert raw == dict(expect)


def test_bpe_train_matches_reference_implementation(spark):
    """Randomized differential test: the distributed trainer must land
    the exact merge table of an independent pure-Python reference BPE
    (greedy-leftmost application, cnt-desc/left-asc/right-asc argmax)
    on corpora with heavy symbol runs — the regime where replace-based
    shortcuts diverge."""
    import random
    import re

    from engine.spark import text as etext

    bpe_re = re.compile(etext.BPE_RE)

    def ref_bpe(texts, rounds):
        freqs = {}
        for t in texts:
            for w in bpe_re.findall(t):
                freqs[w] = freqs.get(w, 0) + 1
        words = {}
        for w, f in freqs.items():
            key = tuple(w)
            words[key] = words.get(key, 0) + f
        merges = []
        for rnd in range(1, rounds + 1):
            counts = {}
            for sym, f in words.items():
                for i in range(len(sym) - 1):
                    p = (sym[i], sym[i + 1])
                    counts[p] = counts.get(p, 0) + f
            if not counts:
                break
            (l, r), c = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((rnd, l, r, l + r, c))
            nxt = {}
            for sym, f in words.items():
                out = []
                for s in sym:
                    if out and out[-1] == l and s == r:
                        out[-1] = l + r
                    else:
                        out.append(s)
                key = tuple(out)
                nxt[key] = nxt.get(key, 0) + f
            words = nxt
        return merges

    rng = random.Random(20260818)
    for trial in range(3):
        texts = [
            " ".join(
                "".join(rng.choice("ab") for _ in range(rng.randint(1, 6)))
                for _ in range(rng.randint(3, 10))
            )
            for _ in range(12)
        ]
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id: long, text: string"
        )
        got = etext.bpe_train(docs, rounds=3)
        assert got == ref_bpe(texts, 3), (trial, texts)


def test_bpe_encode_oracle_survives_early_merge_exhaustion():
    """Regression: when pair counts exhaust before the last round, the
    encode oracle's empty top{r} must identity-fold (LEFT JOIN ON TRUE)
    instead of cross-join-annihilating the word table."""
    import duckdb

    import __spark_entry__ as entry_mod

    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT 'aa aa a' AS text")
    got = dict(con.execute(entry_mod._bpe_sql(4, encode=True)).fetchall())
    # round 1 merges (a,a); rounds 2-4 find no pairs; words survive
    assert got == {"aa": 2, "a": 1}


# ------------------------------------------------------- text_normalize
def test_text_normalize_idempotent_and_exact(spark):
    """Normalization is a fixed point after one pass, and each branch
    produces the exact expected bytes."""
    from engine.spark import text as etext

    rows = [
        (1, "a b​c‌d‍e﻿"),
        (2, "x..... y!!!!! z????? keep... !!! ??"),
        (3, "c\x01d\x1fe\r\nf\rg\th"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {
        r.doc_id: r
        for r in etext.text_normalize(df).collect()
    }
    assert out[1].norm_text == "a bcde"
    assert out[1].n_zero_width == 4 and out[1].changed
    assert out[2].norm_text == "x... y!!! z??? keep... !!! ??"
    assert out[3].norm_text == "cde\nf\ng\th"
    assert out[3].n_ctrl == 2 and out[3].changed
    assert out[4].norm_text is None
    # idempotence: a second pass changes nothing
    once = etext.text_normalize(df).select(
        "doc_id", F.col("norm_text").alias("text")
    )
    twice = {r.doc_id: r for r in etext.text_normalize(once).collect()}
    for k in (1, 2, 3):
        assert twice[k].norm_text == out[k].norm_text
        assert not twice[k].changed


def test_stream_dup_clusters_split_invariant_and_retry_idempotent(
    spark, tmp_path
):
    """The streaming cluster store's serving read equals the
    from-scratch components over the full pair history no matter how
    the ingest was micro-batched, and re-merging an already-merged pair
    set (at-least-once foreachBatch retry) is a fixpoint: the rewritten
    snapshot is byte-identical."""
    import shutil

    from engine.spark import dedup, streaming

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i} alpha beta gamma delta {i}") for i in range(10)],
        "doc_id: long, text: string",
    )
    t3 = "corpus doc 3 alpha beta gamma delta 3"
    newdocs = [
        (100, "fresh text one two three four five six seven"),
        (101, "fresh text one two three four five six eight"),
        (102, t3 + " extra"),
    ]
    # 100 and 101 pair ONLY across batches (through the band store)
    b1 = spark.createDataFrame(newdocs[:1], "doc_id: long, text: string")
    b2 = spark.createDataFrame(newdocs[1:], "doc_id: long, text: string")
    src = str(tmp_path / "src")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    bstore = str(tmp_path / "bands")
    cstore = str(tmp_path / "clusters")
    streaming.stream_dup_clusters(
        spark, src, corpus, str(tmp_path / "ckpt"), bstore, cstore,
        num_perm=32, bands=16,
    )
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in streaming.read_cluster_store(spark, cstore).collect()
    }
    everything = corpus.unionByName(
        spark.createDataFrame(newdocs, "doc_id: long, text: string")
    )
    scratch_pairs = dedup.minhash_lsh_pairs(everything, num_perm=32, bands=16)
    scratch = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.connected_components(
            scratch_pairs.select("doc_a", "doc_b")
        ).collect()
    }
    assert got == scratch
    # the cross-batch pair must actually be in the graph
    labels = dict(got)
    assert 100 in labels and labels[100] == labels[101]
    assert labels[102] == labels[3]

    # simulate an at-least-once retry of the LAST batch: re-derive its
    # pairs against the full band store (which already includes its own
    # bands) and re-merge into the store's latest snapshot
    b_new = dedup.band_table(b2, num_perm=32, bands=16)
    b_old = spark.read.parquet(bstore)
    pairs = dedup.incremental_pairs_from_bands(b_new, b_old, 32).select(
        "doc_a", "doc_b"
    )
    old = streaming.read_cluster_store(spark, cstore)
    from pyspark.sql import functions as SF

    nodes = (
        old.select("doc_id")
        .unionByName(pairs.select(SF.col("doc_a").alias("doc_id")))
        .unionByName(pairs.select(SF.col("doc_b").alias("doc_id")))
        .distinct()
    )
    updated = dedup.incremental_clusters(nodes, old, pairs)
    redone = {
        (r["doc_id"], r["cluster_id"]) for r in updated.collect()
    }
    assert redone == got


def test_bitext_margin_mines_planted_parallel_pair(spark):
    """Hand-built two-sided corpus: src 10 is an exact clone of tgt 20
    (the planted parallel pair) while the rest are axis-aligned noise.
    The clone pair must surface with the top margin and mutual=True;
    a src vector whose best target is only weakly better than its
    neighborhood must fall below the margin threshold."""
    from engine.spark import similarity

    src = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0, 0.0]),   # clone of tgt 20
            (12, [0.5, 0.5, 0.5, 0.5]),   # equidistant from everything
        ],
        "vec_id: long, embedding: array<double>",
    )
    tgt = spark.createDataFrame(
        [
            (20, [1.0, 0.0, 0.0, 0.0]),   # clone of src 10
            (21, [0.0, 1.0, 0.0, 0.0]),
            (22, [0.0, 0.0, 1.0, 0.0]),
            (23, [0.0, 0.0, 0.0, 1.0]),
        ],
        "vec_id: long, embedding: array<double>",
    )
    out = similarity.bitext_margin_pairs(
        src, tgt, k=2, margin_threshold=1.2
    ).collect()
    rows = {r["src_id"]: r for r in out}
    assert set(rows) == {10, 12}
    # clone pair: margin = 1.0*2k / (fwd 1.0+0.0 + bwd 1.0+0.5) = 1.6
    assert rows[10]["tgt_id"] == 20 and rows[10]["mutual"] is True
    assert rows[10]["cosine_sim"] == 1.0
    assert abs(rows[10]["margin"] - 1.6) < 1e-9
    # src 12 (cos 0.5 with every target): its best-margin target is 21
    # (weak-hub endpoint: bwd 0.5+0.0) -> 0.5*4/(1.0+0.5) = 4/3, the
    # hubness-correction behavior the ratio margin is FOR; tie over
    # {21,22,23} breaks to the smallest tgt_id
    assert rows[12]["tgt_id"] == 21
    assert abs(rows[12]["margin"] - 1.333333) < 1e-9
    # the strict threshold keeps only the true parallel pair
    strict = similarity.bitext_margin_pairs(
        src, tgt, k=2, margin_threshold=1.5
    ).collect()
    assert [(r["src_id"], r["tgt_id"]) for r in strict] == [(10, 20)]


def test_retrieval_metrics_hand_computed(spark):
    """NDCG@5 / MRR / recall@5 against hand-computed values, including
    the no-hit and system-returned-nothing (left-join) paths."""
    from engine.spark import similarity

    truth = spark.createDataFrame(
        [(1, t, r + 1) for r, t in enumerate([101, 102, 103, 104, 105])]
        + [(2, t, r + 1) for r, t in enumerate([201, 202, 203])]
        + [(3, 301, 1)],
        "query_id: long, neighbor_id: long, rank: int",
    )
    system = spark.createDataFrame(
        # q1: hits at ranks 1 and 3 (103 then 101), misses elsewhere
        [(1, 103, 1), (1, 999, 2), (1, 101, 3), (1, 998, 4), (1, 997, 5)]
        # q2: zero hits
        + [(2, 901, 1), (2, 902, 2)],
        # q3: system returned nothing at all
        "query_id: long, neighbor_id: long, rank: int",
    )
    out = {
        r["query_id"]: r
        for r in similarity.retrieval_metrics(truth, system, k=5).collect()
    }
    w = similarity.dcg_weight_micros(5)
    assert w == [1000000, 630930, 500000, 430677, 386853]

    r1 = out[1]
    assert (r1["n_true"], r1["n_hit"]) == (5, 2)
    assert r1["recall"] == 0.4
    assert r1["mrr"] == 1.0  # first hit at rank 1
    # DCG = w[0] + w[2]; IDCG = sum(w[:5])
    assert r1["ndcg"] == round((w[0] + w[2]) / sum(w), 6)

    r2 = out[2]
    assert (r2["n_hit"], r2["recall"], r2["ndcg"], r2["mrr"]) == (
        0, 0.0, 0.0, 0.0,
    )

    r3 = out[3]  # left-join path: no system rows for the query
    assert (r3["n_true"], r3["n_hit"], r3["ndcg"], r3["mrr"]) == (
        1, 0, 0.0, 0.0,
    )


def test_retrieval_metrics_perfect_ranking_is_1(spark):
    from engine.spark import similarity

    truth = spark.createDataFrame(
        [(7, 10 + r, r + 1) for r in range(5)],
        "query_id: long, neighbor_id: long, rank: int",
    )
    out = similarity.retrieval_metrics(truth, truth, k=5).collect()[0]
    assert (out["recall"], out["ndcg"], out["mrr"]) == (1.0, 1.0, 1.0)


# --------------------------------------------------- reciprocal-rank fusion


def test_rrf_fuse_hand_computed(spark):
    """RRF on two tiny hand-built lists: shared ids sum both legs,
    one-leg ids contribute only their own term, ordering deterministic
    (score desc, id asc) with dense sequential ranks."""
    from engine.spark import similarity

    a = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id: long, rank: long"
    )
    b = spark.createDataFrame(
        [(20, 1), (40, 2), (10, 3)], "doc_id: long, rank: long"
    )
    out = {
        r["doc_id"]: r
        for r in similarity.rrf_fuse(a, b, k0=60, k=10).collect()
    }
    assert set(out) == {10, 20, 30, 40}
    # doc 20: 1/62 + 1/61; doc 10: 1/61 + 1/63
    assert out[20]["rrf_score"] == round(1 / 62 + 1 / 61, 6)
    assert out[10]["rrf_score"] == round(1 / 61 + 1 / 63, 6)
    # one-leg docs: missing leg contributes exactly 0, rank col is NULL
    assert out[30]["rrf_score"] == round(1 / 63, 6)
    assert out[30]["rank_b"] is None
    assert out[40]["rrf_score"] == round(1 / 62, 6)
    assert out[40]["rank_a"] is None
    # fused order: 20 > 10 > 40 (1/62) > 30 (1/63)
    assert [out[i]["rank"] for i in (20, 10, 40, 30)] == [1, 2, 3, 4]


def test_rrf_fuse_k_truncates(spark):
    from engine.spark import similarity

    a = spark.createDataFrame(
        [(i, i) for i in range(1, 9)], "doc_id: long, rank: long"
    )
    b = spark.createDataFrame(
        [(i + 100, i) for i in range(1, 9)], "doc_id: long, rank: long"
    )
    rows = similarity.rrf_fuse(a, b, k0=60, k=5).collect()
    assert len(rows) == 5
    # equal scores tie-break on id: doc 1 (a-leg) before doc 101 (b-leg)
    assert [r["doc_id"] for r in rows[:2]] == [1, 101]


# ------------------------------------------------------- source overlap


def test_source_overlap_hand_computed(spark):
    """Three sources; web∩wiki share 2 fingerprints (one via whitespace
    normalization), wiki∩cc share 1, web∩cc share none → absent row."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta", "web"),
            (2, "alpha   beta", "wiki"),   # ws-normalizes to doc 1
            (3, "gamma delta", "web"),
            (4, "gamma delta", "wiki"),
            (5, "epsilon", "wiki"),
            (6, "epsilon", "cc"),
            (7, "zeta only web", "web"),
            (8, "eta only cc", "cc"),
        ],
        "doc_id: long, text: string, source: string",
    )
    rows = {
        (r["source_a"], r["source_b"]): r
        for r in dedup.source_overlap(docs).collect()
    }
    assert set(rows) == {("web", "wiki"), ("cc", "wiki")}
    ww = rows[("web", "wiki")]
    assert (ww["n_shared"], ww["n_a"], ww["n_b"]) == (2, 3, 3)
    assert ww["jaccard"] == round(2 / 4, 6)
    cw = rows[("cc", "wiki")]
    assert (cw["n_shared"], cw["n_a"], cw["n_b"]) == (1, 2, 3)
    assert cw["jaccard"] == round(1 / 4, 6)


# ------------------------------------------------------ embedding drift


def test_embedding_drift_hand_computed(spark):
    """Two 2-dim snapshots with one shared label: exact integer-grid
    means and drift, hand-computed."""
    from engine.spark import similarity

    a = spark.createDataFrame(
        [(1, [1.0, 2.0], 7), (2, [3.0, 4.0], 7)],
        "vec_id: long, embedding: array<float>, label: int",
    )
    b = spark.createDataFrame(
        [(3, [2.0, 0.0], 7), (4, [4.0, 2.0], 7), (5, [9.0], 8)],
        "vec_id: long, embedding: array<float>, label: int",
    )
    rows = {
        (r["label"], r["dim"]): r
        for r in similarity.embedding_drift(a, b).collect()
    }
    # label 8 exists only in snapshot b -> inner join drops it
    assert set(rows) == {(7, 0), (7, 1)}
    d0 = rows[(7, 0)]
    assert (d0["n_a"], d0["n_b"]) == (2, 2)
    assert (d0["mean_a"], d0["mean_b"], d0["drift"]) == (2.0, 3.0, 1.0)
    d1 = rows[(7, 1)]
    assert (d1["mean_a"], d1["mean_b"], d1["drift"]) == (3.0, 1.0, -2.0)


# ---------------------------------------------- distinctive terms
def test_distinctive_terms_fightin_words(spark):
    """A term exclusive to a group tops that group's ranking; a term
    with identical relative frequency everywhere scores |z| near 0;
    corpus-rare terms fall to the min_count gate before ranking."""
    rows = []
    for i in range(6):
        rows.append((i, "A", "alpha alpha common filler%d" % i))
    for i in range(6, 12):
        rows.append((i, "B", "beta beta common filler%d" % i))
    rows.append((12, "A", "rare rare"))  # y_w = 2 < min_count 3
    df = spark.createDataFrame(rows, "doc_id: long, source: string, text: string")
    got = etext.distinctive_terms(
        df, "source", "text", k=3, alpha0=10.0, min_count=3
    ).collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r.source, []).append((r.rank, r.term, r.z))
    a = sorted(by_g["A"])
    b = sorted(by_g["B"])
    assert a[0][1] == "alpha" and b[0][1] == "beta"
    assert all(t != "rare" for _, t, _ in a + b)
    zc = {t: z for _, t, z in a + b}.get("common")
    if zc is not None:
        assert abs(zc) < 0.5
    assert a[0][2] > 1.0 and b[0][2] > 1.0


def test_source_divergence_properties(spark):
    """Identical distributions give JS = 0; disjoint vocabularies give
    JS = ln 2; a half-overlapping pair lands strictly between — and
    the ln 2 ceiling is exact under the round-then-sum device."""
    import math

    rows = [
        (1, "same", "x y z"), (2, "same2", "x y z"),
        (3, "left", "aa bb"), (4, "right", "cc dd"),
        (5, "mix", "x y aa bb"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, source: string, text: string")
    got = {
        (r.source_a, r.source_b): r.js
        for r in etext.source_divergence(df, "source", "text").collect()
    }
    assert got[("same", "same2")] == 0.0
    assert abs(got[("left", "right")] - round(math.log(2), 8)) < 1e-8
    assert 0.0 < got[("mix", "same")] < math.log(2)


def test_ngram_novelty_first_owner_and_short_docs(spark):
    """A gram charges its FIRST (lowest-id) owner; in-doc repeats
    count once; docs shorter than n emit nothing."""
    rows = [(1, "a b c d"), (2, "a b c x"), (3, "a b"),
            (4, "a b c a b c")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {
        r.doc_id: (r.n_grams, r.n_novel, r.novelty)
        for r in etext.ngram_novelty(df, n=3).collect()
    }
    assert got[1] == (2, 2, 1.0)            # abc, bcd
    assert got[2] == (2, 1, 0.5)            # abc seen, bcx novel
    assert 3 not in got
    assert got[4] == (3, 2, round(2 / 3, 6))  # abc seen; bca, cab novel
