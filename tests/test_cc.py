"""Connected-components dup clustering vs a brute-force union-find.

The alternating large-star/small-star implementation
(engine/spark/dedup.py) is exercised on one composite graph holding
every interesting shape at once — a long chain (worst case for naive
label propagation), a triangle, disjoint pairs, a star, and a seeded
random graph — and its labels must equal a driver-side union-find.
"""

import random

import pytest
from pyspark.sql import functions as F

from engine.spark import dedup
from engine.spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, app="engine-tests")
    yield s
    s.stop()


def _union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node of the component
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def _composite_edges():
    edges = []
    # chain 100..110 (multi-hop propagation)
    edges += [(i, i + 1) for i in range(100, 110)]
    # triangle
    edges += [(200, 201), (201, 202), (202, 200)]
    # disjoint pairs, reversed order
    edges += [(301, 300), (401, 400)]
    # star rooted high (min is a leaf)
    edges += [(500, leaf) for leaf in (510, 511, 512, 499)]
    # seeded random graph on 560..599
    rng = random.Random(7)
    ns = list(range(560, 600))
    for _ in range(50):
        a, b = rng.sample(ns, 2)
        edges.append((a, b))
    # self-loop and duplicate edge (must be harmless)
    edges += [(100, 100), (100, 101)]
    return edges


def test_cc_vs_union_find(spark):
    edges = _composite_edges()
    df = spark.createDataFrame(edges, "doc_a: long, doc_b: long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(df).collect()
    }
    nodes = sorted({n for e in edges for n in e})
    want = _union_find([e for e in edges if e[0] != e[1]], nodes)
    assert got == want


def test_cc_durable_checkpoint_identical(spark, tmp_path):
    """The production fault-tolerant variant (reliable .checkpoint() via
    a durable dir, VERDICT r3 next #5) must yield byte-identical labels
    to the localCheckpoint default."""
    edges = _composite_edges()
    df = spark.createDataFrame(edges, "doc_a: long, doc_b: long")
    local = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(df).collect()
    }
    durable = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(
            df, checkpoint_dir=str(tmp_path / "cc_ckpt")
        ).collect()
    }
    assert durable == local
    # the durable run must have actually materialised checkpoint data
    import os
    hit = False
    for root, _, files in os.walk(tmp_path / "cc_ckpt"):
        hit = hit or bool(files)
    assert hit, "no checkpoint files written under checkpoint_dir"
    # the application-global checkpoint dir must be restored (ADVICE r4):
    # a later .checkpoint() elsewhere must not inherit this job's dir
    assert spark.sparkContext.getCheckpointDir() is None


def test_cc_checkpoint_dir_restored_to_prior_value(spark, tmp_path):
    """If the session already had a checkpoint dir, CC's durable variant
    must put it back rather than clobbering application-global state."""
    sc = spark.sparkContext
    prior = str(tmp_path / "prior_ckpt")
    sc.setCheckpointDir(prior)
    try:
        resolved = sc.getCheckpointDir()  # <prior>/<uuid>
        df = spark.createDataFrame([(1, 2)], "doc_a: long, doc_b: long")
        dedup.connected_components(
            df, checkpoint_dir=str(tmp_path / "cc_ckpt2")
        ).collect()
        # EXACT restore (code-review r5 finding): re-setting the
        # resolved path through setCheckpointDir would nest a fresh
        # uuid per CC call; the var-level restore must give back the
        # identical resolved path, stable across repeated calls
        assert sc.getCheckpointDir() == resolved
        dedup.connected_components(
            df, checkpoint_dir=str(tmp_path / "cc_ckpt3")
        ).collect()
        assert sc.getCheckpointDir() == resolved
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty()
        )


def test_dup_clusters_includes_singletons(spark):
    docs = spark.createDataFrame(
        [(i, "t") for i in range(10)], "doc_id: long, text: string"
    )
    pairs = spark.createDataFrame([(1, 5), (5, 9)], "doc_a: long, doc_b: long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dup_clusters(docs, pairs).collect()
    }
    assert got[1] == got[5] == got[9] == 1
    for n in (0, 2, 3, 4, 6, 7, 8):
        assert got[n] == n


def test_canonical_docs_tiebreak(spark):
    docs = spark.createDataFrame(
        [
            (1, "aaaa"),   # longest in cluster 1
            (2, "bb"),
            (3, "cccc"),   # same length as doc 1 -> keep lower id 1
            (7, "zz"),     # singleton
        ],
        "doc_id: long, text: string",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7)], "doc_id: long, cluster_id: long"
    )
    rows = {
        r["cluster_id"]: (r["keep_doc_id"], r["n_members"])
        for r in dedup.canonical_docs(docs, clusters).collect()
    }
    assert rows[1] == (1, 3)
    assert rows[7] == (7, 1)


def test_minhash_est_tracks_true_jaccard(spark):
    """Regression for the degenerate permutation family (rounds 1-3):
    h_i(x) = (2i+1)x + b_i mod 2^61-1 never wrapped, so every perm chose
    the same min-code shingle and est_jaccard collapsed to exactly 0 or
    1.  With a genuine universal family the estimate must track the true
    Jaccard within ~4 sigma (sqrt(J(1-J)/num_perm)).  Inputs are
    deterministic, so this is a fixed, non-flaky check."""
    import math

    from pyspark.sql import functions as F

    common = " ".join(f"shared{i:03d}" for i in range(120))
    ua = " ".join(f"alpha{i:03d}" for i in range(60))
    ub = " ".join(f"beta{i:03d}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, f"{common} {ua}"), (2, f"{common} {ub}")],
        "doc_id: long, text: string",
    )
    sh = dedup.word_shingles(docs, 3).toPandas()
    sets = sh.groupby("doc_id")["shingle"].apply(set)
    true_j = len(sets[1] & sets[2]) / len(sets[1] | sets[2])
    num_perm = 64
    pairs = dedup.minhash_lsh_pairs(docs, num_perm=num_perm, bands=32)
    row = pairs.where(
        (F.col("doc_a") == 1) & (F.col("doc_b") == 2)
    ).collect()
    assert row, "banded join should surface the pair at J≈0.5"
    est = row[0]["est_jaccard"]
    sigma = math.sqrt(true_j * (1 - true_j) / num_perm)
    assert abs(est - true_j) < 4 * sigma, (est, true_j, sigma)
    # and in particular NOT the degenerate 0/1 collapse
    assert 0.05 < est < 0.95


def test_incremental_clusters_equals_from_scratch(spark):
    """Label-contraction incremental CC == from-scratch CC over the full
    pair history, for every old/new split of a composite graph —
    including splits where a new edge bridges two old components and
    where new docs appear only in the new batch."""
    edges = [(a, b) for a, b in _composite_edges() if a != b]
    df = spark.createDataFrame(edges, "doc_a: long, doc_b: long")
    nodes = sorted({n for e in edges for n in e})
    docs = spark.createDataFrame([(n,) for n in nodes], "doc_id: long")
    want = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dup_clusters(docs, df).collect()
    }
    rng = random.Random(13)
    for _ in range(3):
        flags = [rng.random() < 0.5 for _ in edges]
        old = spark.createDataFrame(
            [e for e, f in zip(edges, flags) if f] or [(-1, -1)],
            "doc_a: long, doc_b: long",
        )
        new = spark.createDataFrame(
            [e for e, f in zip(edges, flags) if not f] or [(-1, -1)],
            "doc_a: long, doc_b: long",
        )
        clusters_old = dedup.dup_clusters(docs, old)
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.incremental_clusters(docs, clusters_old, new).collect()
        }
        assert got == want


def test_incremental_clusters_new_docs_without_old_labels(spark):
    """Docs first seen in the new batch (absent from clusters_old) label
    correctly: they contract as themselves and can pull an OLD component
    onto a smaller new id."""
    old_docs = spark.createDataFrame([(10,), (11,), (20,)], "doc_id: long")
    clusters_old = dedup.dup_clusters(
        old_docs, spark.createDataFrame([(10, 11)], "doc_a: long, doc_b: long")
    )
    all_docs = spark.createDataFrame(
        [(5,), (10,), (11,), (20,), (30,)], "doc_id: long"
    )
    new_pairs = spark.createDataFrame(
        [(5, 11), (30, 20)], "doc_a: long, doc_b: long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.incremental_clusters(
            all_docs, clusters_old, new_pairs
        ).collect()
    }
    assert got == {5: 5, 10: 5, 11: 5, 20: 20, 30: 20}
