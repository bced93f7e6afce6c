"""Independent-algorithm ground-truth pins for the sketch family.

Lesson from round 3 (engine/spark/dedup.py minhash docstring): a
two-engine oracle that RE-DERIVES the same arithmetic in DuckDB is
blind to theory bugs — the degenerate permutation family passed the
oracle for two rounds because both engines reproduced the same broken
math.  Every test here therefore checks an operator's output against a
*different* ground truth: exact set arithmetic computed in plain
Python, or a mathematical property the sketch must satisfy
(E[hamming] = bits·θ/π for SimHash, estimator concentration for
MinHash, order sensitivity for the rolling fingerprint).

All inputs and hash families are deterministic, so the statistical
bounds are fixed, non-flaky checks (5σ windows: a fixed draw from the
family either passes forever or fails forever).

The sketches hash with the portable md5 prefix
(``dedup.portable_hash60``), the one family that also has a DuckDB
twin, so these pins and the cross-engine value checks cover the same
arithmetic.
"""

import math

import pytest
from pyspark.sql import functions as F

from engine.spark import dedup
from engine.spark import text as etext
from engine.spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, shuffle_partitions=8, app="engine-tests")
    yield s
    s.stop()


# ------------------------------------------------------- MinHash


def test_minhash_estimate_concentrates(spark):
    """est_jaccard must track TRUE Jaccard (computed by exact Python set
    arithmetic over the same shingles) within the estimator's 5σ
    binomial bound — and must not show the 0/1 collapse of a degenerate
    permutation family.  Twin of test_cc.test_minhash_est_tracks_true_
    jaccard."""
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
    row = pairs.where((F.col("doc_a") == 1) & (F.col("doc_b") == 2)).collect()
    assert row, "banded join should surface the pair at J≈0.5"
    est = row[0]["est_jaccard"]
    sigma = math.sqrt(true_j * (1 - true_j) / num_perm)
    assert abs(est - true_j) < 5 * sigma, (est, true_j, sigma)
    assert 0.05 < est < 0.95


# ------------------------------------------------------- SimHash


def test_simhash_hamming_tracks_cosine(spark):
    """SimHash theory pin (Charikar hyperplane rounding): for token
    vectors at angle θ, each output bit differs with probability θ/π,
    so E[hamming] = bits·θ/π.  Ground truth θ comes from exact Python
    token-set cosine — fully independent of the Spark vote arithmetic.
    Three planted overlap levels must each land inside 5σ of the
    theoretical mean AND stay monotone (more overlap → lower hamming)."""
    bits = 60
    levels = [(90, 10), (50, 50), (10, 90)]  # (common, unique-per-side)
    rows = []
    for idx, (c, u) in enumerate(levels):
        shared = " ".join(f"lvl{idx}c{i:03d}" for i in range(c))
        a = " ".join(f"lvl{idx}a{i:03d}" for i in range(u))
        b = " ".join(f"lvl{idx}b{i:03d}" for i in range(u))
        rows.append((idx * 2, f"{shared} {a}".strip()))
        rows.append((idx * 2 + 1, f"{shared} {b}".strip()))
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    sh = {
        r["doc_id"]: int(r["simhash"])
        for r in dedup.simhash(docs, bits=bits).collect()
    }
    hams = []
    for idx, (c, u) in enumerate(levels):
        # binary token-incidence cosine: |A∩B| / sqrt(|A||B|)
        cos = c / (c + u)
        theta = math.acos(cos)
        p = theta / math.pi
        expect = bits * p
        sigma = math.sqrt(bits * p * (1 - p))
        ham = bin(sh[idx * 2] ^ sh[idx * 2 + 1]).count("1")
        assert abs(ham - expect) < 5 * sigma, (idx, ham, expect, sigma)
        hams.append(ham)
    assert hams[0] < hams[1] < hams[2], hams
    # identical docs: hamming must be exactly 0 (θ = 0)
    twin = spark.createDataFrame(
        [(100, "same text twice over"), (101, "same text twice over")],
        "doc_id: long, text: string",
    )
    tw = {
        r["doc_id"]: int(r["simhash"])
        for r in dedup.simhash(twin, bits=bits).collect()
    }
    assert tw[100] == tw[101]


# --------------------------------------------- rolling fingerprint


def test_rolling_fingerprint_order_sensitivity(spark):
    """The Rabin–Karp fingerprint's defining property vs a bag-of-tokens
    hash: permuting tokens MUST change the value (its DuckDB oracle
    re-derives the same fold, so only a property test can catch a
    degenerate BASE/MOD choice that collapses to order-insensitivity —
    e.g. BASE ≡ 1 would make it a plain token-hash sum)."""
    toks = [f"tok{i:02d}" for i in range(40)]
    fwd = " ".join(toks)
    rev = " ".join(reversed(toks))
    swap = " ".join(toks[:10] + [toks[11], toks[10]] + toks[12:])
    docs = spark.createDataFrame(
        [(0, fwd), (1, fwd), (2, rev), (3, swap)],
        "doc_id: long, text: string",
    )
    fp = {
        r["doc_id"]: r["fp"]
        for r in docs.select(
            "doc_id", etext.rolling_fingerprint(F.col("text")).alias("fp")
        ).collect()
    }
    assert fp[0] == fp[1], "identical text must fingerprint identically"
    assert fp[0] != fp[2], "full permutation must change the fingerprint"
    assert fp[0] != fp[3], "one adjacent swap must change the fingerprint"


def test_rolling_fingerprint_no_collisions_on_distinct_docs(spark):
    """500 structurally similar but distinct documents must produce 500
    distinct fingerprints — collisions in a ~2^61 space on 500 inputs
    would indicate the polynomial is degenerate (tiny effective range),
    which row-count oracles cannot see."""
    rows = [
        (i, f"doc number {i} with shared boilerplate tokens and tail {i * 7}")
        for i in range(500)
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    n = (
        docs.select(etext.rolling_fingerprint(F.col("text")).alias("fp"))
        .agg(F.countDistinct("fp"))
        .first()[0]
    )
    assert n == 500


def test_rolling_fingerprint_composition(spark):
    """Algebraic pin: h(a ++ b) = (h(a)·BASE^|b| + h(b)) mod MOD — the
    incrementality the docstring promises (content-defined chunking
    depends on it).  The check multiplies out the recurrence in
    arbitrary-precision Python, so any silent long-overflow or wrong
    pmod in the Spark fold breaks it."""
    a = "alpha beta gamma delta"
    b = "epsilon zeta eta"
    docs = spark.createDataFrame(
        [(0, a), (1, b), (2, f"{a} {b}")], "doc_id: long, text: string"
    )
    fp = {
        r["doc_id"]: r["fp"]
        for r in docs.select(
            "doc_id", etext.rolling_fingerprint(F.col("text")).alias("fp")
        ).collect()
    }
    n_b = len(b.split())
    want = (
        fp[0] * pow(etext.ROLL_BASE, n_b, etext.ROLL_MOD) + fp[1]
    ) % etext.ROLL_MOD
    assert fp[2] == want


# --------------------------------------------------- ANN cross-refs
#
# The remaining portable-arithmetic oracles already carry independent
# ground-truth tests in CI (VERDICT r3 next #4 "exists — assert it
# stays"): lsh_ann recall vs brute_force_topk and ivf full-probe ==
# brute force live in tests/test_ops.py; this guard fails loudly if
# either is ever renamed/removed.


def test_ann_ground_truth_tests_still_present():
    import pathlib

    src = (pathlib.Path(__file__).parent / "test_ops.py").read_text()
    assert "brute_force_topk" in src
    for marker in ("def test_lsh_ann", "def test_ivf"):
        assert marker in src, f"ANN ground-truth test missing: {marker}"
