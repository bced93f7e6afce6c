"""Deduplication operators for web-scale corpora.

All distributed-by-construction: shingling is explode-based, signatures
are aggregations, candidate generation is an equi-join on band/bucket
keys — never an O(n²) cross join.

Every operator here is verified value-exact against a DuckDB oracle
(__spark_entry__.oracle_sql): the shingle/token hash is *portable* —
the first 15 hex chars of md5 parsed as a 60-bit integer — which both
engines compute identically (Spark ``conv(substring(md5(x),1,15),16,10)``,
DuckDB ``('0x' || substr(md5(x),1,15))::BIGINT``).  It is the only
hash path, so every signature, bucket and candidate pair here has a
value-exact DuckDB twin.

Scale notes (100 TB):
  * candidate generation is always a banded/bucketed equi-join;
  * ``ngram_jaccard_pairs`` caps shingle document frequency before the
    self-join (``max_df``) so one stop-phrase shingle can't produce a
    quadratic candidate blowup (standard practice in shingle dedup);
  * SimHash blocking derives its chunk count from ``max_hamming``
    (pigeonhole: ``max_hamming + 1`` chunks guarantee a candidate pair
    within the radius shares at least one exact chunk).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from engine.spark import text
from engine.spark.text import fingerprint



def portable_hash60(col: Column) -> Column:
    """60-bit non-negative hash both Spark and DuckDB can compute
    byte-identically: int(md5(x)[:15], 16)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ----------------------------------------------------------------- exact
def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup on normalised text: one shuffle on the
    md5 fingerprint (map-side partial agg), keeps the lowest doc_id."""
    return (
        docs.select("doc_id", fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("dup_count"),
        )
    )


# -------------------------------------------------------------- shingles
def word_shingles(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).

    Built JVM-side: split → transform over a sequence of start offsets →
    explode.  No Python."""
    # The token array MUST be materialized as its own projection before
    # the gram transform references it: a `split(...)` expression used
    # inside a higher-order-function lambda is re-evaluated per element,
    # so a 60k-token document re-split its 370 KB string per gram —
    # O(tokens²) inside ONE task, measured as a straggler that never
    # finished on the planted giant conversation.  Same reason grams use
    # O(1) F.get lookups instead of slice-per-position (which copies
    # O(i) elements per gram).  (F.get, not element_at: ANSI mode makes
    # out-of-bounds element_at throw; get returns NULL and concat_ws
    # skips NULLs, matching slice+array_join short-gram semantics.)
    tokd = docs.select(
        "doc_id",
        F.split(F.trim(F.lower(F.col(text_col))), text.WS).alias("_toks"),
    )
    toks = F.col("_toks")
    # i in 0..max(size-n, 0) inclusive: full grams when size≥n, a single
    # short gram (all tokens) otherwise
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", *[F.get(toks, i + j) for j in range(n)]),
    )
    return tokd.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("shingle")
    )


# --------------------------------------------------------- n-gram Jaccard
def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    min_shared: int = 2,
    text_col: str = "text",
    max_df: int | None = 10000,
) -> DataFrame:
    """Candidate pairs sharing ≥min_shared n-gram shingles, with exact
    Jaccard over the full shingle sets.

    Equi-join on shingle (never cross join).  Shingles appearing in more
    than ``max_df`` documents are dropped *before* the self-join — a
    shingle in f docs emits f² join rows, so one stop-phrase shingle
    ("the quick brown") would otherwise dominate the job at web scale;
    AQE skew-split rebalances partitions but cannot reduce that output
    cardinality.  Jaccard denominators use the uncapped per-doc shingle
    counts, so the estimate is conservative (shared may be undercounted
    for pairs that only overlap on ultra-common shingles)."""
    sh = word_shingles(docs, n, text_col)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    joinable = sh
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        joinable = sh.join(rare, "shingle", "left_semi")
    a = joinable.alias("a")
    b = joinable.alias("b")
    shared = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        shared.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "shared",
            F.round(
                F.col("shared")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("shared")),
                4,
            ).alias("jaccard"),
        )
    )


# ------------------------------------------------------------ MinHash-LSH
def minhash_signatures(
    docs: DataFrame,
    num_perm: int = 32,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, sig: array<bigint>) via k universal-hash permutations
    h_i(x) = ((2i+1) * x + b_i) mod p over 31-bit shingle codes.
    One explode + one groupBy; min per permutation is a map-side
    combine-friendly aggregate."""
    # Universal-hash family over p = 2^31-1 (Mersenne prime): code and
    # the multiplier both live below p, so a*code stays under 2^62 (no
    # long overflow) while a*code >> p guarantees genuine modular
    # WRAPAROUND.  The round-1..3 family ((2i+1)*code + b_i mod 2^61-1)
    # never wrapped — (2i+1)*code < 2^37 << 2^61 — so every "permutation"
    # was monotonic in code and all of them picked the SAME min-code
    # shingle: the signature was one hash repeated num_perm times, and
    # est_jaccard collapsed to 1.0 whenever two docs shared their
    # globally-smallest shingle.  (The DuckDB oracle computed the same
    # degenerate arithmetic, which is why value-equality never caught
    # it — a two-engine oracle checks portability, not theory.)
    sh = word_shingles(docs, n, text_col).withColumn(
        "code", F.pmod(portable_hash60(F.col("shingle")), F.lit(2147483647))
    )
    perms = F.transform(
        F.sequence(F.lit(0), F.lit(num_perm - 1)),
        lambda i: F.pmod(
            (F.pmod(i.cast("long") * 1103515245 + 12345, F.lit(2147483646)) + 1)
            * F.col("code")
            + F.pmod(i.cast("long") * 2654435761 + 11, F.lit(2147483647)),
            F.lit(2147483647),
        ),
    )
    per_perm = sh.select(
        "doc_id", F.posexplode(perms).alias("perm", "h")
    )
    sig = (
        per_perm.groupBy("doc_id", "perm")
        .agg(F.min("h").alias("mh"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("perm", "mh"))).alias("s"))
        .select(
            "doc_id",
            F.transform(F.col("s"), lambda x: x["mh"]).alias("sig"),
        )
    )
    return sig


def _band_explode(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc_id, sig) → one row per band with the band's bucket key
    (md5 of the band index + its minhash slice — portable)."""
    return sig.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(
                    F.concat(
                        b.cast("string"),
                        F.lit(":"),
                        F.array_join(
                            F.transform(
                                F.slice("sig", b * rows + 1, rows),
                                lambda x: x.cast("string"),
                            ),
                            "-",
                        ),
                    )
                ),
            )
        ).alias("band", "bucket"),
    )


def _est_jaccard(num_perm: int) -> Column:
    return F.round(
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(num_perm),
        4,
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Banded LSH: band-signature equi-join finds candidates, estimated
    Jaccard = fraction of matching minhashes.  The band bucket key is
    md5 of the band's minhash slice (portable across engines)."""
    sig = minhash_signatures(docs, num_perm, n, text_col)
    return minhash_pairs_from_signatures(sig, num_perm, bands)


def minhash_pairs_from_signatures(
    sig: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    min_jaccard: float | None = None,
) -> DataFrame:
    """Candidate pairs from a precomputed (doc_id, sig) table — the
    production entry point when signatures are persisted incrementally
    (e.g. the --near-dup pipeline stage) and only pair generation runs
    globally.  Banded equi-join, never all-pairs; optional estimated-
    Jaccard threshold."""
    rows = num_perm // bands
    banded = _band_explode(sig, bands, rows)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    out = cand.select(
        "doc_a", "doc_b", _est_jaccard(num_perm).alias("est_jaccard")
    )
    if min_jaccard is not None:
        out = out.where(F.col("est_jaccard") >= min_jaccard)
    return out


def minhash_incremental_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    broadcast_new: bool = True,
) -> DataFrame:
    """Daily-ingest dedup: candidate pairs touching the NEW batch only —
    new×new plus new×corpus, never corpus×corpus (those pairs were
    already adjudicated when the corpus was built).

    The scale shape this buys at 10^12 turns: the corpus side is only
    ever *streamed* through an equi-join against the **broadcast** banded
    new batch — the existing corpus is never shuffled, so the daily cost
    is O(|new| + |corpus|/partitions-scanned), not a full-corpus LSH
    rebuild.  In production the corpus band table is precomputed and
    persisted (it is exactly ``_band_explode(minhash_signatures(...))``),
    making the incremental run a pure scan+probe.

    ``broadcast_new`` (default True) force-broadcasts the banded new
    batch into the corpus probe.  The broadcast payload is
    ``bands × |new_docs|`` rows each carrying the full ``num_perm``-long
    signature (~``bands × |new| × (8·num_perm + 50)`` bytes ≈ 2.4 KB per
    new doc at the defaults), and an explicit ``F.broadcast`` hint
    BYPASSES spark.sql.autoBroadcastJoinThreshold — so it is the
    caller's contract that the daily batch fits the driver/executor
    heap (rule of thumb: ≲ 1-2M docs per 10 GB of executor memory).
    For an oversized backfill batch pass ``broadcast_new=False`` to fall
    back to a shuffled band-bucket equi-join: the corpus IS reshuffled
    that run, but nothing can OOM, and AQE may still pick a broadcast if
    the batch turns out small.

    Output: (doc_a, doc_b, est_jaccard, pair_type) with doc_a < doc_b
    and pair_type ∈ {'new_new', 'new_corpus'}."""
    rows = num_perm // bands
    b_new = _band_explode(
        minhash_signatures(new_docs, num_perm, n, text_col),
        bands, rows,
    )
    b_old = _band_explode(
        minhash_signatures(corpus_docs, num_perm, n, text_col),
        bands, rows,
    )
    a = b_new.alias("a")
    b = b_new.alias("b")
    nn = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
            F.lit("new_new").alias("pair_type"),
        )
    )
    o = b_old.alias("o")
    probe = F.broadcast(b_new) if broadcast_new else b_new
    no = (
        probe.alias("a")
        .join(
            o,
            (F.col("a.band") == F.col("o.band"))
            & (F.col("a.bucket") == F.col("o.bucket"))
            & (F.col("a.doc_id") != F.col("o.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("o.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("o.doc_id")).alias("doc_b"),
            F.when(
                F.col("a.doc_id") < F.col("o.doc_id"), F.col("a.sig")
            ).otherwise(F.col("o.sig")).alias("sig_a"),
            F.when(
                F.col("a.doc_id") < F.col("o.doc_id"), F.col("o.sig")
            ).otherwise(F.col("a.sig")).alias("sig_b"),
            F.lit("new_corpus").alias("pair_type"),
        )
    )
    return (
        nn.unionByName(no)
        .dropDuplicates(["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            _est_jaccard(num_perm).alias("est_jaccard"),
            "pair_type",
        )
    )


# ---------------------------------------------------------------- SimHash
def simhash(
    docs: DataFrame,
    bits: int = 60,
    text_col: str = "text",
) -> DataFrame:
    """SimHash over whitespace tokens, all JVM-side: explode tokens →
    portable hash → per-bit vote sums in a single groupBy (map-side
    combine) → sign bits reassembled with bitwise ors.

    Default 60 bits: the portable hash yields 60 usable bits (15 hex
    chars)."""
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), text.WS)
        ).alias("tok"),
    ).withColumn("h", portable_hash60(F.col("tok")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    sh = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        sh = term if sh is None else sh.bitwiseOR(term)
    return agg.select("doc_id", sh.alias("simhash"))


def _chunk_bounds(bits: int, n_chunks: int) -> list[tuple[int, int]]:
    """Split ``bits`` into ``n_chunks`` contiguous (offset, width) chunks,
    widths as even as possible."""
    base, extra = divmod(bits, n_chunks)
    bounds, off = [], 0
    for c in range(n_chunks):
        w = base + (1 if c < extra else 0)
        bounds.append((off, w))
        off += w
    return bounds


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 60,
    text_col: str = "text",
) -> DataFrame:
    """Near-dup candidate pairs by SimHash with *guaranteed* recall at
    the requested radius: blocking uses ``max_hamming + 1`` chunks, so by
    pigeonhole any pair within hamming ≤ max_hamming differs in at most
    max_hamming chunks and therefore shares at least one exact chunk.
    (Round-1 shipped a fixed 4-chunk blocking with max_hamming=8, which
    silently lost pairs at hamming 4–8 — the chunk count is now derived
    from the radius, so the guarantee holds for any setting.)"""
    n_chunks = max_hamming + 1
    if n_chunks > bits:
        raise ValueError(f"max_hamming={max_hamming} needs more chunks than bits={bits}")
    sh = simhash(docs, bits, text_col)
    chunk_cols = [
        F.shiftright("simhash", off).bitwiseAND(F.lit((1 << width) - 1))
        for off, width in _chunk_bounds(bits, n_chunks)
    ]
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(F.array(*chunk_cols)).alias("chunk_idx", "chunk"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


# -------------------------------------------- connected components
def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): for every node u, connect each strictly
    larger neighbor v to m = min(N(u) ∪ {u}).  One groupBy + one
    equi-join — never an all-pairs product."""
    sym = _symmetrize(edges)
    m = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
        "u", F.least(F.col("u"), F.col("mn")).alias("m")
    )
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient every edge large→small; for each node u
    connect all (smaller) neighbors and u itself to m = min(N(u) ∪ {u})."""
    directed = edges.where(F.col("u") != F.col("v")).select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = directed.groupBy("u").agg(F.min("v").alias("m"))
    nbr = (
        directed.join(m, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    own = m.select("u", F.col("m").alias("v"))
    return nbr.union(own).where(F.col("u") != F.col("v")).distinct()


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph via
    alternating large-star / small-star — the standard O(log² n)-round
    MapReduce CC algorithm, so a 10^9-edge dup graph converges in a
    dozen shuffle rounds instead of O(graph diameter).

    Returns ``(doc_id, cluster_id)`` for every node that appears in
    ``pairs``; ``cluster_id`` is the minimum doc_id of the component
    (deterministic).  Each round is bounded work: a groupBy(min) and an
    equi-join per star op, with a checkpoint breaking lineage so the
    plan stays O(1) per round.

    ``checkpoint_dir=None`` (default, fine in local mode / tests) uses
    ``localCheckpoint`` — blocks live only on executor storage, so on a
    real cluster a lost executor mid-round forces recomputing the whole
    star-contraction chain.  Pass a durable path (HDFS/S3) for the
    production variant: the SparkContext checkpoint dir is set and each
    round is persisted with reliable ``.checkpoint()``, making every
    round a recoverable barrier at 100 TB edge scale.

    Convergence is detected by an order-insensitive edge-set checksum
    (count + sum of per-edge xxhash64): the alternating-star fixpoint is
    exactly the star graph rooted at each component minimum.

    The SparkContext checkpoint directory is application-global; when
    ``checkpoint_dir`` is given it is set for the CC rounds and the
    prior value (usually unset) is restored before returning, so a
    later ``.checkpoint()`` elsewhere in the session can't silently
    inherit this job's directory."""
    sc = pairs.sparkSession.sparkContext
    jsc = sc._jsc.sc()
    # capture the RESOLVED prior state as the raw Option[String] var:
    # re-passing getCheckpointDir()'s resolved path through the public
    # setCheckpointDir would mkdir a fresh UUID BENEATH it (each call
    # nesting one level deeper); assigning the var back restores the
    # exact prior state, including unset.  checkpointDir is
    # private[spark] — public in bytecode, stable across Spark 3.x/4.x.
    prev_ckpt_opt = jsc.checkpointDir()
    if checkpoint_dir is not None:
        sc.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint()

    else:

        def _ckpt(df: DataFrame) -> DataFrame:
            # LAZY local checkpoint: materialization rides the round's
            # convergence-checksum aggregate (which computes every
            # partition), so each round runs ONE job instead of an
            # eager-checkpoint job plus the checksum job — the rounds
            # are fixed-overhead-bound on contracted graphs, so
            # halving the job count nearly halves the loop cost.  The
            # durable .checkpoint() branch above stays eager: the
            # finally-block restores the checkpoint dir on the promise
            # nothing still needs it.
            return df.localCheckpoint(eager=False)

    try:
        return _cc_rounds(pairs, a_col, b_col, max_rounds, _ckpt)
    finally:
        if checkpoint_dir is not None:
            # every .checkpoint() above is eager, so nothing still
            # needs this job's directory
            getattr(jsc, "checkpointDir_$eq")(prev_ckpt_opt)


def _cc_rounds(pairs, a_col, b_col, max_rounds, _ckpt) -> DataFrame:
    edges = _ckpt(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    def _chk(e: DataFrame) -> tuple:
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
            ).alias("s"),
        ).first()
        return (row["n"], row["s"])

    prev = _chk(edges)
    for _ in range(max_rounds):
        edges = _ckpt(_small_star(_large_star(edges)))
        cur = _chk(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    # At the fixpoint the graph is a star per component: every node's
    # least(self, min neighbor) is the component minimum.
    return (
        _symmetrize(edges)
        .groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(
            F.col("u").alias("doc_id"),
            F.least(F.col("u"), F.col("mn")).alias("cluster_id"),
        )
    )


def dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    max_rounds: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Cluster assignment for *every* doc: components of the pair graph,
    singletons keep their own id.  The left join is a plain equi-join on
    doc_id; the CC result is tiny relative to the corpus (only docs with
    at least one dup candidate), so AQE broadcasts it in practice.
    ``checkpoint_dir`` threads through to ``connected_components`` for
    the durable-checkpoint production variant."""
    cc = connected_components(
        pairs, max_rounds=max_rounds, checkpoint_dir=checkpoint_dir
    )
    return (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
    )


def canonical_docs(
    docs: DataFrame,
    clusters: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """One representative per dup cluster: the longest text, ties broken
    by lowest doc_id — a single groupBy with map-side partial
    aggregation (max over a (length, -doc_id) struct), no window sort,
    so a hot cluster never serialises onto one reducer's sort buffer."""
    joined = docs.select("doc_id", F.length(F.col(text_col)).alias("len")).join(
        clusters, "doc_id"
    )
    best = F.max(
        F.struct(F.col("len").alias("len"), (-F.col("doc_id")).alias("neg"))
    ).alias("best")
    return (
        joined.groupBy("cluster_id")
        .agg(best, F.count("*").alias("n_members"))
        .select(
            "cluster_id",
            (-F.col("best.neg")).alias("keep_doc_id"),
            "n_members",
        )
    )


# ------------------------------------------------ contamination screen
def contamination_screen(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination screen for training corpora: find corpus
    documents sharing at least one distinct ``n``-gram with any document
    of a (small) benchmark/eval set — the standard decontamination pass
    run before training (long grams ≈ verbatim leakage; n=8 means an
    8-token exact overlap, far beyond chance on natural text).

    ``benchmark`` must carry (bench_id, <text_col>).  Output:
    (doc_id, bench_id, n_shared) with n_shared = count of distinct
    shared n-grams; self-pairs (doc_id == bench_id) are excluded so a
    benchmark derived from the corpus itself doesn't flag every source
    row.

    Scale shape: the corpus side is a streamed shingle projection
    (word_shingles' materialized-array gram builder, no shuffle before
    the join); the benchmark side is tiny by definition and explicitly
    broadcast, so the probe is a map-side BroadcastHashJoin — the
    corpus is NEVER shuffled and no pairwise corpus×corpus product
    exists.  The only exchange is the final groupBy on (doc_id,
    bench_id), whose input is just the matching shingles."""
    d = word_shingles(docs, n, text_col)
    b = (
        word_shingles(
            benchmark.select(
                F.col("bench_id").alias("doc_id"), F.col(text_col)
            ),
            n,
            text_col,
        )
        .select(F.col("doc_id").alias("bench_id"), "shingle")
    )
    return (
        d.join(F.broadcast(b), "shingle")
        .where(F.col("doc_id") != F.col("bench_id"))
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
    )


# ------------------------------------------- substring-level dup spans
def substring_spans(
    docs: DataFrame,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Exact substring-level duplicate spans (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): every maximal token
    span of length ≥ ``k`` that occurs more than once ANYWHERE in the
    corpus — across documents or repeated within one — reported as
    (doc_id, start_tok, end_tok, span_tokens), end exclusive.  This is
    the one dedup modality MinHash/SimHash/exact-doc can't express:
    verbatim boilerplate, licence blocks, and copied passages inside
    otherwise-unique documents.

    The single-node reference algorithm is a suffix array; that is a
    driver-side O(corpus) structure and a non-starter at 100 TB.  The
    distributed equivalent used here is the sorted k-token shingle
    table: a maximal duplicated span of length L ≥ k is EXACTLY the run
    of duplicated k-gram start offsets [s, s+L−k], so

      1. posexplode every k-gram start (tokens split exactly — no
         lowercasing, substring dedup is byte-exact);
      2. groupBy the gram hash, keep hashes with ≥ 2 occurrences —
         partial aggregation (map-side combine), so a boilerplate gram
         occurring 10⁹ times never buffers on one reducer (the count
         pass re-derives the shingles from a second, hash-column-only
         scan — deliberately chosen over a single-scan window count on
         sh, whose WindowExec would buffer/spill every position of a
         hot gram on one reducer);
      3. shuffle equi-join positions back on the hash (sort-based
         exchange; streams, AQE skew-split applies — never a cartesian,
         never a broadcast of the corpus);
      4. gaps-and-islands per document (window partitioned by doc_id —
         bounded by that document's own token count) to merge
         consecutive duplicated starts into maximal spans.

    Guarantees: every duplicated span of length ≥ k is found with its
    exact extent; spans shorter than k are below threshold by design;
    two distinct duplicated spans that overlap in a document merge into
    one (still entirely duplicated text).  Hash collisions (60-bit md5
    prefix) are the only false-positive source, ~2⁻⁶⁰ per gram pair."""
    from pyspark.sql import Window

    tokd = docs.select(
        "doc_id",
        F.split(F.trim(F.col(text_col)), text.WS).alias("_toks"),
    )
    toks = F.col("_toks")
    tokd = tokd.where(F.size(toks) >= k)
    # materialized token array (never re-split inside the lambda — the
    # measured O(tokens²) HOF trap, see word_shingles); O(1) F.get
    # lookups per gram position
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - k),
        lambda i: portable_hash60(
            F.concat_ws(" ", *[F.get(toks, i + j) for j in range(k)])
        ),
    )
    pos_sh = tokd.select(
        "doc_id", F.posexplode(grams).alias("pos", "sh")
    )
    dup = (
        pos_sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= 2)
        .select("sh")
    )
    hits = pos_sh.join(dup, "sh")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = hits.withColumn("_grp", F.col("pos") - F.row_number().over(w))
    return (
        runs.groupBy("doc_id", "_grp")
        .agg(
            F.min("pos").alias("start_tok"),
            (F.max("pos") + F.lit(k)).alias("end_tok"),
            (F.max("pos") - F.min("pos") + F.lit(k)).alias("span_tokens"),
        )
        .select("doc_id", "start_tok", "end_tok", "span_tokens")
    )


# ----------------------------------------- persisted-band incremental
def band_table(
    docs: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """The persistable LSH band table — exactly the structure
    ``minhash_incremental_pairs`` derives on the fly from the corpus
    (see its docstring: "in production the corpus band table is
    precomputed and persisted").  One row per (doc, band) with the
    band's bucket key and the full signature; write it once, then every
    incremental/streaming ingest is a pure scan+probe with NO corpus
    re-shingling."""
    rows = num_perm // bands
    return _band_explode(
        minhash_signatures(docs, num_perm, n, text_col),
        bands,
        rows,
    )


def incremental_pairs_from_bands(
    b_new: DataFrame,
    b_old: DataFrame,
    num_perm: int = 32,
    broadcast_new: bool = True,
) -> DataFrame:
    """Candidate pairs for a new banded batch against a PERSISTED band
    store: new×new within the batch plus new×store via a (by default
    broadcast) probe — the store is only ever streamed, never shuffled.

    ``b_old`` must carry an ``origin`` column ('corpus' or 'stream'):
    pairs against store rows that were THEMSELVES earlier stream
    arrivals are typed 'new_new', so an incremental run split across
    arbitrarily many batches yields the identical (pair, pair_type) set
    as one big batch — the invariant the streaming near-dup test and
    the shared batch oracle both pin.

    Same output contract as ``minhash_incremental_pairs``."""
    a = b_new.alias("a")
    b = b_new.alias("b")
    nn = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
            F.lit("new_new").alias("pair_type"),
        )
    )
    probe = F.broadcast(b_new) if broadcast_new else b_new
    o = b_old.alias("o")
    no = (
        probe.alias("a")
        .join(
            o,
            (F.col("a.band") == F.col("o.band"))
            & (F.col("a.bucket") == F.col("o.bucket"))
            & (F.col("a.doc_id") != F.col("o.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("o.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("o.doc_id")).alias("doc_b"),
            F.when(
                F.col("a.doc_id") < F.col("o.doc_id"), F.col("a.sig")
            ).otherwise(F.col("o.sig")).alias("sig_a"),
            F.when(
                F.col("a.doc_id") < F.col("o.doc_id"), F.col("o.sig")
            ).otherwise(F.col("a.sig")).alias("sig_b"),
            F.when(
                F.col("o.origin") == "stream", F.lit("new_new")
            ).otherwise(F.lit("new_corpus")).alias("pair_type"),
        )
    )
    return (
        nn.unionByName(no)
        .dropDuplicates(["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            _est_jaccard(num_perm).alias("est_jaccard"),
            "pair_type",
        )
    )


def fuzzy_dup_pairs(
    docs: DataFrame,
    max_dist: int = 8,
    num_perm: int = 32,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Edit-distance-refined near-dup pairs: MinHash-LSH candidate
    generation (banded equi-join — never all-pairs) followed by an
    EXACT Levenshtein refine at ``max_dist``.  The refine is the
    expensive O(len²)-per-pair step, so two scale guards hold: it only
    ever touches the banded candidate set (linear in true near-dups),
    and Spark's threshold form ``levenshtein(a, b, max_dist)`` abandons
    a pair's DP early once the distance provably exceeds the bound
    (returns −1, filtered) — the band-then-verify discipline with a
    cheap verifier bailout.

    Complements est_jaccard verification: token-set Jaccard is blind to
    within-token edits and ordering; edit distance is the right refine
    for OCR-noise / typo-class near-duplicates.
    """
    cand = minhash_lsh_pairs(docs, num_perm, bands, n, text_col).select(
        "doc_a", "doc_b"
    )
    t = docs.select(F.col("doc_id"), F.col(text_col).alias("_t"))
    joined = (
        cand.join(
            t.select(F.col("doc_id").alias("doc_a"), F.col("_t").alias("_ta")),
            "doc_a",
        )
        .join(
            t.select(F.col("doc_id").alias("doc_b"), F.col("_t").alias("_tb")),
            "doc_b",
        )
    )
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"), max_dist)
    return (
        joined.select("doc_a", "doc_b", dist.alias("edit_dist"))
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist))
    )


# ----------------------------------------------- prefix-filter exact join
def word_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct lowercase word tokens per doc: (doc_id, tok).

    The unigram analogue of :func:`word_shingles` — split on the shared
    explicit ASCII whitespace class (``text.WS``, Java/RE2-identical) so
    the DuckDB oracle tokenizes byte-for-byte the same."""
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.split(F.trim(F.lower(F.col(text_col))), text.WS)
                )
            ).alias("tok"),
        )
        .where(F.col("tok") != "")
    )


def prefix_filter_pairs(
    docs: DataFrame,
    threshold: tuple[int, int] = (3, 5),
    text_col: str = "text",
) -> DataFrame:
    """EXACT-threshold set-similarity self-join via prefix filtering
    (PPJoin-family, Chaudhuri/Xiao et al.) — every pair of documents
    whose token-set Jaccard is ≥ ``threshold``, with NO recall loss.

    This is the exact counterpart to :func:`minhash_lsh_pairs`: LSH is
    probabilistic (pairs near the threshold can be missed); the prefix
    filter is *lossless*.  For Jaccard ≥ t, two sets of sizes |a|,|b|
    must share ≥ ceil(t/(1+t)·(|a|+|b|)) tokens, so if each doc keeps
    only its ``|d| − ceil(t·|d|) + 1`` rarest tokens (global document
    frequency ascending, token as tie-break), any qualifying pair is
    GUARANTEED to collide on at least one prefix token (pigeonhole:
    fewer than that many misses cannot leave the required intersection).

    ``threshold`` is a (p, q) integer fraction — prefix lengths use
    integer ceiling ``(p·n + q − 1) // q`` and the final filter is the
    cross-multiplied ``q·shared ≥ p·(union)``, so NO float comparison
    ever decides membership and the DuckDB oracle agrees bit-for-bit.

    Scale shape (100 TB): candidate generation is an equi-join on
    prefix tokens only — and prefix tokens are each document's RAREST
    tokens, so the join's per-key fan-out is self-limiting (a stop word
    never enters a prefix unless the doc is almost entirely stop words);
    contrast ``ngram_jaccard_pairs`` which needs an explicit ``max_df``
    cap.  The rank window partitions by doc_id (doc-sized partitions),
    the verify step intersects two per-doc token arrays (bounded by
    document length), and nothing is ever all-pairs.

    Columns: (doc_a, doc_b, shared, jaccard) with jaccard rounded to 4
    places for display; the membership predicate is integer-exact.
    """
    from pyspark.sql import Window

    p, q = threshold
    toks = word_tokens(docs, text_col)
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    ranked = (
        toks.join(dfreq, "tok")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("df").asc(), F.col("tok").asc()
                )
            ),
        )
    )
    # prefix_len = n − ceil(p·n/q) + 1, all-integer
    prefix = (
        ranked.join(sizes, "doc_id")
        .filter(
            F.col("pos")
            <= F.col("n_tok")
            - F.floor((p * F.col("n_tok") + q - 1) / q).cast("long")
            + 1
        )
        .select("doc_id", "tok")
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    tsets = toks.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("tok")).alias("_set")
    )
    verified = (
        cand.join(
            tsets.select(
                F.col("doc_id").alias("doc_a"), F.col("_set").alias("_sa")
            ),
            "doc_a",
        )
        .join(
            tsets.select(
                F.col("doc_id").alias("doc_b"), F.col("_set").alias("_sb")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_sa", "_sb")).alias("shared"),
            (F.size("_sa") + F.size("_sb")).alias("_sum"),
        )
        .filter(
            F.lit(q) * F.col("shared")
            >= F.lit(p) * (F.col("_sum") - F.col("shared"))
        )
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "shared",
        F.round(
            F.col("shared") / (F.col("_sum") - F.col("shared")), 4
        ).alias("jaccard"),
    )


# ------------------------------------------------------------ line dedup
def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    min_df: int = 3,
    sep: str = "\n",
) -> DataFrame:
    """C4/CCNet-style cross-document LINE deduplication: any line that
    occurs in ``min_df`` or more DISTINCT documents is boilerplate
    (nav bars, cookie notices, subscribe prompts) and is removed from
    every document; survivors are reassembled in original line order.

    This is the third dedup granularity next to document-level
    (:func:`exact_dedup`) and span-level (:func:`substring_spans`):
    C4 drops repeated three-sentence spans, CCNet drops repeated
    paragraphs — both are this operator with a different unit.

    Scale shape (100 TB): the line explode is shuffle-free; the
    document-frequency count shuffles on a 60-bit line fingerprint
    (8-byte keys — the line TEXT never enters the df shuffle, the
    fingerprint does), map-side partial agg first; the counts join
    back on the same fingerprint key (exchange reuse under AQE) and
    the hot keys every corpus has (empty line, "Subscribe") fan out to
    exactly one count row each, AQE skew-split handles the probe side;
    reassembly is ONE groupBy(doc_id) with an array_sort on bounded
    per-document line arrays — never a global order-by.

    Returns (doc_id, n_kept, n_dropped, text) — a doc whose every line
    was boilerplate survives with text '' and n_kept 0 so the caller
    decides whether to drop the row (C4 drops; CCNet keeps for stats).
    """
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    ).withColumn("lfp", portable_hash60(F.col("line")))
    df_counts = lines.groupBy("lfp").agg(
        F.countDistinct("doc_id").alias("line_df")
    )
    keep = F.col("line_df") < min_df
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("pos"), F.col("line"), keep.alias("k")))
    )
    return (
        lines.join(df_counts, "lfp")
        .groupBy("doc_id")
        .agg(
            F.sum(keep.cast("long")).alias("n_kept"),
            F.sum((~keep).cast("long")).alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.filter(arr, lambda x: x["k"]), lambda x: x["line"]
                ),
                sep,
            ).alias("text"),
        )
    )


# ------------------------------------------- sorted-neighborhood blocking
def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 4,
    threshold: tuple[int, int] = (1, 2),
    key_len: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo's classic
    record-linkage method): sort the corpus once by a normalized
    blocking key, take every pair within ``window`` positions of the
    global sort order as a candidate, refine with EXACT token-set
    Jaccard ≥ ``threshold`` (an integer (p, q) fraction — the compare
    is the cross-multiplied ``q·shared ≥ p·union``, no floats).

    Complements the hash-based modalities: LSH/SimHash bucket on
    content sketches; sorted-neighborhood exploits LEXICOGRAPHIC
    locality (typo'd or truncated near-dups that share a prefix sort
    adjacent even when their shingle sets diverge).  Candidates are
    O(n·window) by construction — a skewed blocking key cannot blow
    up the pair count, unlike an equi-join on block id.

    Scale shape: the global rank comes from the distributed-ranking
    helper (range-partitioned sort + broadcast offsets — never a
    single-reducer global window); the neighborhood self-join is two
    bounded equi-joins on rank-bucket id (each row lands in bucket
    rank DIV window; a pair within ``window`` spans at most adjacent
    buckets, so same-bucket + next-bucket joins cover exactly all
    candidates with no duplicates); the refine joins each candidate
    against two per-doc distinct-token tables — all bounded fan-out.

    Columns: (doc_a, doc_b, rank_gap, shared, union_sz) for pairs
    passing the threshold.
    """
    from engine.spark.diagnose import global_rank

    p, q = threshold
    key = F.substring(
        F.lower(F.trim(F.col(text_col))), 1, key_len
    ).alias("_block_key")
    keyed = docs.select("doc_id", key)
    ranked = global_rank(
        keyed, [F.col("_block_key"), F.col("doc_id")], out_col="_r"
    ).select("doc_id", "_r", (F.col("_r") - 1).cast("long").alias("_rm1"))
    ranked = ranked.select(
        "doc_id", "_r", F.floor(F.col("_rm1") / window).alias("_b")
    )
    a = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("_r").alias("_ra"),
        F.col("_b").alias("_ba"),
    )
    b = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("_r").alias("_rb"),
        F.col("_b").alias("_bb"),
    )
    in_win = (F.col("_rb") > F.col("_ra")) & (
        F.col("_rb") - F.col("_ra") <= window
    )
    same = a.join(b, F.col("_ba") == F.col("_bb")).filter(in_win)
    adj = a.join(b, F.col("_ba") + 1 == F.col("_bb")).filter(in_win)
    cand = same.unionByName(adj).select(
        "doc_a", "doc_b", (F.col("_rb") - F.col("_ra")).alias("rank_gap")
    )
    # Refine on ATTACHED distinct-token ARRAYS, not exploded token
    # tables: the old shape joined each candidate against a (doc, tok)
    # table twice — an O(candidates × tokens-per-doc) intermediate
    # (~30× the candidate count) through two shuffle joins.  Attaching
    # the per-doc array (a zero-shuffle projection off the corpus) by
    # doc id and intersecting JVM-side computes the same distinct
    # shared count per pair with candidate-sized joins only.  Pairs
    # with zero shared tokens (and token-less docs) are filtered
    # explicitly — the old inner explode-join dropped them implicitly.
    tokarr = docs.select(
        "doc_id",
        F.array_remove(
            F.array_distinct(
                F.split(F.trim(F.lower(F.col(text_col))), text.WS)
            ),
            "",
        ).alias("_tk"),
    ).select("doc_id", "_tk", F.size("_tk").alias("_ntok"))
    return (
        cand.join(
            tokarr.select(
                F.col("doc_id").alias("doc_a"),
                F.col("_tk").alias("_ta"),
                F.col("_ntok").alias("_na"),
            ),
            "doc_a",
        )
        .join(
            tokarr.select(
                F.col("doc_id").alias("doc_b"),
                F.col("_tk").alias("_tb"),
                F.col("_ntok").alias("_nb"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "rank_gap",
            "_na",
            "_nb",
            F.size(F.array_intersect("_ta", "_tb")).alias("shared"),
        )
        .filter(F.col("shared") >= 1)
        .withColumn(
            "union_sz", F.col("_na") + F.col("_nb") - F.col("shared")
        )
        .filter(q * F.col("shared") >= p * F.col("union_sz"))
        .select("doc_a", "doc_b", "rank_gap", "shared", "union_sz")
    )


def incremental_clusters(
    docs: DataFrame,
    clusters_old: DataFrame,
    new_pairs: DataFrame,
    max_rounds: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Merge a new batch of candidate pairs into a PERSISTED cluster
    table without recomputing components from scratch — the production
    companion to :func:`minhash_incremental_pairs`: daily ingest
    produces new×new and new×corpus pairs, and the standing dup-cluster
    assignment must absorb them.

    Mechanism (label contraction): each new pair's endpoints map to
    their current labels (one equi-join per side against
    ``clusters_old``; unseen docs label as themselves), connected
    components then run over the CONTRACTED graph — whose node set is
    bounded by the labels the new pairs touch, i.e. the new batch's
    scale, never the corpus's — and the resulting relabel table joins
    back onto the union of old labels and new docs.

    Labels stay canonical (component-minimum doc_id) by induction: old
    labels are their components' minima, new docs enter as their own
    ids, and the contracted CC takes the minimum over exactly the
    merged set — so the output is IDENTICAL to a from-scratch
    ``dup_clusters`` over the full pair history (the oracle pins this
    invariance).  Cost at 10^12 docs: two broadcast-sized equi-joins on
    the new pairs, CC rounds on a batch-sized graph, and ONE equi-join
    of the corpus-sized label table against the tiny relabel table —
    the history of pairs is never re-read and the corpus never enters
    the CC rounds.
    """
    lab_a = (
        new_pairs.join(
            clusters_old.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "cluster_id", "_ca"
            ),
            "doc_a",
            "left",
        )
    )
    edges = (
        lab_a.join(
            clusters_old.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "cluster_id", "_cb"
            ),
            "doc_b",
            "left",
        )
        .select(
            F.coalesce("_ca", "doc_a").alias("doc_a"),
            F.coalesce("_cb", "doc_b").alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    relabel = connected_components(
        edges, max_rounds=max_rounds, checkpoint_dir=checkpoint_dir
    ).withColumnRenamed("doc_id", "_lab")
    base = (
        docs.select("doc_id")
        .join(clusters_old.withColumnRenamed("cluster_id", "_old"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("_old", F.col("doc_id")).alias("_lab")
        )
    )
    return (
        base.join(relabel, "_lab", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("_lab")).alias("cluster_id"),
        )
    )


# ------------------------------------------------- cross-source overlap
def source_overlap(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source exact-duplication matrix — for every pair of corpus
    sources, how many distinct normalized fingerprints they share: the
    mixture-overlap heatmap a curation pass reads before weighting
    sources (a source that is 80% contained in another should not be
    double-counted by mixture_sample).

    Returns (source_a, source_b, n_shared, n_a, n_b, jaccard) with
    source_a < source_b; n_a/n_b are each source's distinct-fingerprint
    counts and jaccard = n_shared / (n_a + n_b − n_shared).

    Scale shape (the reason this is NOT a doc×doc self-join, and why the
    corpus is scanned exactly ONCE): dedupe to distinct (fingerprint,
    source) — one partial-agg shuffle; group by fingerprint collecting
    the sorted source set (bounded by the number of sources, 10¹-10²,
    never corpus-sized); from each group emit, JVM-side in one explode,
    BOTH the < pairs (flatten ∘ transform², ≤ C(n_sources,2) structs)
    AND two per-source total markers ((src, NULL) / (NULL, src)), so a
    single tiny count agg yields pair counts and per-source fingerprint
    totals together — no second pass over the corpus for the totals,
    which instead resolve via two windows over the ≤ n_sources²-row agg
    (max of the marker rows inside each source_a / source_b partition).
    At 10^12 docs the only corpus-wide work is the two hash exchanges on
    fingerprint; everything after is source-cardinality-sized.

    Cross-engine exactness: counts are integers; jaccard is one IEEE
    double division rounded to 6 dp — no float-sum ordering anywhere.
    """
    from pyspark.sql import Window

    d = docs.select(
        fingerprint(F.col(text_col)).alias("fp"),
        F.col(source_col).alias("src"),
    ).dropDuplicates(["fp", "src"])
    grp = d.groupBy("fp").agg(
        F.array_sort(F.collect_set("src")).alias("srcs")
    )
    null_s = F.lit(None).cast("string")
    pairs = F.filter(
        F.flatten(
            F.transform(
                F.col("srcs"),
                lambda a: F.transform(
                    F.col("srcs"),
                    lambda b: F.struct(a.alias("sa"), b.alias("sb")),
                ),
            )
        ),
        lambda p: p["sa"] < p["sb"],
    )
    a_marks = F.transform(
        F.col("srcs"), lambda s: F.struct(s.alias("sa"), null_s.alias("sb"))
    )
    b_marks = F.transform(
        F.col("srcs"), lambda s: F.struct(null_s.alias("sa"), s.alias("sb"))
    )
    items = grp.select(
        F.explode(F.concat(pairs, a_marks, b_marks)).alias("p")
    )
    agg = items.groupBy(
        F.col("p.sa").alias("sa"), F.col("p.sb").alias("sb")
    ).agg(F.count("*").alias("cnt"))
    w_a = Window.partitionBy("sa")
    w_b = Window.partitionBy("sb")
    return (
        agg.withColumn(
            "n_a",
            F.max(F.when(F.col("sb").isNull(), F.col("cnt"))).over(w_a),
        )
        .withColumn(
            "n_b",
            F.max(F.when(F.col("sa").isNull(), F.col("cnt"))).over(w_b),
        )
        .filter(F.col("sa").isNotNull() & F.col("sb").isNotNull())
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            F.col("cnt").alias("n_shared"),
            "n_a",
            "n_b",
            F.round(
                F.col("cnt")
                / (F.col("n_a") + F.col("n_b") - F.col("cnt")),
                6,
            ).alias("jaccard"),
        )
    )
