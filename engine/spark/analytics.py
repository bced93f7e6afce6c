"""Behavioral / graph analytics operators — event funnels, cohort
retention, and fixed-point PageRank, all pure Catalyst column
expressions (JVM-side, whole-stage codegen; no Python).

These are the event-log analytics a transcript/telemetry warehouse
runs daily; none exist in the reference (a sequential OCR app,
mistralocr_app.py has no analytics surface) — they belong to the
"operators the reference does NOT have" gap list (SURVEY §2.6).

Every operator has an exact ANSI-SQL twin in
``__spark_entry__.oracle_sql`` so the driver's DuckDB cross-check
validates values, not just row counts.  Floating-point is avoided
everywhere order could matter: the funnel and cohort outputs are pure
integer counts, and PageRank runs in 64-bit fixed-point (see below) so
both engines produce bit-identical ranks.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def event_funnel(
    events: DataFrame,
    stages: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: how many users reached stage i, where
    reaching stage i requires an event of type ``stages[i]`` STRICTLY
    AFTER the earliest qualifying event of stage i-1 (the standard
    product-analytics funnel semantics — first-touch anchoring).

    Returns one row per stage: (stage, event_type, users).

    Scale notes: every step is a filter → partial-agg groupBy on the
    user key followed by an equi-join on the SAME key, so all shuffles
    hash on ``user_col`` and AQE can reuse the exchange; per-stage
    state is one (user, min_ts) row — never the raw event list, never
    a per-user window sort over the whole log.  Stage count is a
    constant, so the plan is a fixed-depth DAG.  At 10^12 events the
    only thing that grows is the per-stage aggregate (≤ |users| rows).
    """
    if len(stages) < 2:
        raise ValueError("a funnel needs at least 2 stages")
    u, t = F.col(user_col), F.col(ts_col)
    reached = (
        events.where(F.col(type_col) == stages[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t"))
    )
    out_rows = [reached]
    for s in stages[1:]:
        reached = (
            events.where(F.col(type_col) == s)
            .join(reached.select(user_col, F.col("_t").alias("_prev")), user_col)
            .where(t > F.col("_prev"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("_t"))
        )
        out_rows.append(reached)
    counted = [
        r.agg(F.count("*").alias("users")).select(
            F.lit(i + 1).cast("int").alias("stage"),
            F.lit(stages[i]).alias("event_type"),
            "users",
        )
        for i, r in enumerate(out_rows)
    ]
    res = counted[0]
    for c in counted[1:]:
        res = res.unionByName(c)
    return res


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort-retention matrix: cohort = ISO week (Monday-start)
    of a user's first event; one output row per (cohort_week,
    week_offset) with the count of cohort users active in that week.

    Returns (cohort_week: string ISO date, week_offset: int,
    users: long), ordered by (cohort_week, week_offset).  The week is
    emitted as a STRING because pandas/Arrow canonicalize engine date
    types differently (date vs midnight timestamp) — an ISO 'yyyy-MM-dd'
    string hashes identically everywhere.

    Scale notes: two partial-agg shuffles on the user key (first-seen
    min, then the distinct (user, week) activity set) and one final
    low-cardinality rollup — never a self-join of the raw event log,
    never a per-user window.  ``date_trunc('week', ts)`` is
    Monday-start in both Spark and DuckDB, and the offset is an exact
    integer day-difference divided by 7 on aligned week boundaries, so
    the twin cannot drift.
    """
    first = (
        events.groupBy(user_col)
        .agg(F.min(ts_col).alias("_first_ts"))
        .select(
            user_col,
            F.to_date(F.date_trunc("week", F.col("_first_ts"))).alias(
                "cohort_week"
            ),
        )
    )
    active = (
        events.select(
            user_col,
            F.to_date(F.date_trunc("week", F.col(ts_col))).alias("_week"),
        )
        .distinct()
    )
    return (
        active.join(first, user_col)
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (
                F.datediff(F.col("_week"), F.col("cohort_week")) / F.lit(7)
            )
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("users"))
        .orderBy("cohort_week", "week_offset")
    )


def pagerank_fixedpoint(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = 1_000_000,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PageRank in 64-bit FIXED-POINT arithmetic:
    ranks are integers scaled by ``scale`` and every step uses only
    integer floor-division (`DIV`) and BIGINT sums, so the result is
    bit-identical across engines and independent of aggregation order
    — the float-sum nondeterminism that normally makes iterative graph
    scores impossible to oracle-check simply never appears.

    rank'(v) = (100-d)% * scale // 100  +  d% * Σ_{u→v} (rank(u) // outdeg(u)) // 100

    Dangling nodes (no out-edges) leak their mass — the standard
    simplification; documented rather than redistributed because
    redistribution needs a float-summed global aggregate.

    Returns (node: long, rank_fp: long) — rank_fp / scale ≈ PageRank.

    Scale notes: each iteration is ONE equi-join of the edge table with
    the (node, rank) table on the source key plus ONE partial-agg
    groupBy on the destination key — the textbook Pregel-as-dataflow
    shape; no window, no cartesian, state is |V| rows.  ``iters`` is
    fixed and small so the lineage stays bounded; for 100+ iterations
    reuse the durable `checkpoint_dir` pattern from
    ``dedup.connected_components``.
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank_fp"))
    base_fp = ((100 - damping_pct) * scale) // 100
    for _ in range(iters):
        # fresh aliases each round: ranks' lineage includes `e`, so an
        # unaliased join would trip Spark's ambiguous-self-join check
        contrib = (
            e.alias("e")
            .join(ranks.alias("r"), F.col("e.src") == F.col("r.node"))
            .join(outdeg.alias("o"), F.col("e.src") == F.col("o.src"))
            .select(
                F.col("e.dst").alias("node"),
                F.expr("r.rank_fp DIV o.outdeg").alias("c"),
            )
        )
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("inflow"))
        ranks = (
            nodes.join(inflow, "node", "left")
            .select(
                "node",
                (
                    F.lit(base_fp).cast("long")
                    + F.expr(
                        f"({damping_pct} * coalesce(inflow, 0L)) DIV 100"
                    )
                ).alias("rank_fp"),
            )
        )
    return ranks


def cooccurrence_edges(
    df: DataFrame,
    group_cols: Sequence[str],
    node_col: str,
    max_group: int = 64,
) -> DataFrame:
    """Co-occurrence graph: an undirected edge (u < v) for every pair of
    nodes appearing in the same group.  Returns (src, dst) with
    src < dst, distinct.

    Scale notes: co-occurrence pair generation is quadratic IN THE
    GROUP, so the one thing that matters at 10^12 rows is the hot-group
    cap — groups larger than ``max_group`` are dropped BEFORE the
    self-join (the same df-cap discipline as
    ``dedup.ngram_jaccard_pairs``; a single viral group would otherwise
    emit billions of pairs).  The self-join is an equi-join on the
    group key over the capped, deduplicated membership table — never a
    cartesian."""
    keys = list(group_cols)
    g = df.select(*keys, node_col).distinct()
    sz = (
        g.groupBy(*keys)
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") <= max_group)
        .drop("_n")
    )
    capped = g.join(sz, keys)
    a, b = capped.alias("a"), capped.alias("b")
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys] + [
        F.col(f"a.{node_col}") < F.col(f"b.{node_col}")
    ]
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{node_col}").cast("long").alias("src"),
            F.col(f"b.{node_col}").cast("long").alias("dst"),
        )
        .distinct()
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts (the clustering-coefficient numerator)
    by DEGREE-ORDERED wedge join: orient each undirected edge from the
    (degree, id)-smaller endpoint to the larger, enumerate wedges from
    each source, and close them against the oriented edge set.

    Orientation bounds every node's out-degree by O(√m) on any graph
    (a node keeps only edges toward higher-degree peers), so the wedge
    join's fan-out is O(m^1.5) worst-case instead of Σ deg² — the
    standard scalable triangle-enumeration shape (cf. Suri & Vassilvitskii
    MapReduce triangle counting).  Three equi-joins + one partial-agg
    groupBy; no cartesian, no per-node adjacency list in driver memory.

    Input must be distinct undirected edges with src < dst.
    Returns (node, triangles) for nodes in ≥1 triangle.
    """
    und = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = und.groupBy("src").agg(F.count("*").alias("deg")).withColumnRenamed(
        "src", "node"
    )
    # attach degrees to both endpoints of the undirected half
    e = (
        edges.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("deg", "dsrc")
        .join(deg.withColumnRenamed("node", "dst"), "dst")
        .withColumnRenamed("deg", "ddst")
    )
    fwd = F.col("dsrc") < F.col("ddst")
    tie = (F.col("dsrc") == F.col("ddst")) & (F.col("src") < F.col("dst"))
    oriented = e.select(
        F.when(fwd | tie, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(fwd | tie, F.col("dst")).otherwise(F.col("src")).alias("v"),
        F.when(fwd | tie, F.col("dsrc")).otherwise(F.col("ddst")).alias("du"),
        F.when(fwd | tie, F.col("ddst")).otherwise(F.col("dsrc")).alias("dv"),
    )
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    # wedges u→y, u→z with y ≺ z in the same (deg, id) order
    wedges = w1.join(
        w2,
        (F.col("w1.u") == F.col("w2.u"))
        & (
            (F.col("w1.dv") < F.col("w2.dv"))
            | (
                (F.col("w1.dv") == F.col("w2.dv"))
                & (F.col("w1.v") < F.col("w2.v"))
            )
        ),
    ).select(
        F.col("w1.u").alias("a"),
        F.col("w1.v").alias("b"),
        F.col("w2.v").alias("c"),
    )
    closer = oriented.select(
        F.col("u").alias("b"), F.col("v").alias("c")
    )
    tri = wedges.join(closer, ["b", "c"])
    nodes = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select(F.col("b").alias("node")))
        .union(tri.select(F.col("c").alias("node")))
    )
    return nodes.groupBy("node").agg(F.count("*").alias("triangles"))


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007), fixed ``iters`` rounds so the result is deterministic
    and oracle-checkable: every node starts labelled with its own id;
    each round a node adopts the most frequent label among its
    neighbours AND itself (the self-vote variant — without it,
    synchronous LPA oscillates forever on bipartite components, e.g.
    any two-node community), ties broken by the SMALLEST label;
    isolated nodes keep their current label.

    Per round: one equi-join of the (≤2m)-row directed edge list
    against the label table on src + one partial-aggregating groupBy
    (dst, label) + one struct-max partial agg per dst — the mode is a
    ``max(struct(cnt, -label))``, NEVER a per-node window sort, so a
    celebrity node with 10^8 neighbours costs a mergeable aggregate,
    not a single-reducer sort.  Rounds are unrolled dataflow (the
    Pregel-as-dataflow shape shared with pagerank_fixedpoint); lineage
    depth is 2·iters joins, fine for small fixed iters — checkpoint
    like connected_components if you raise it.

    Returns (node, label) — nodes sharing a label form a community.
    """
    und = edges.select(
        F.col(src_col).cast("long").alias("u"),
        F.col(dst_col).cast("long").alias("v"),
    )
    both = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nodes = both.select(F.col("u").alias("node")).distinct()
    # self-loops carry the self-vote through the same join+agg path
    directed = both.unionByName(
        nodes.select(F.col("node").alias("u"), F.col("node").alias("v"))
    )
    labels = nodes.withColumn("label", F.col("node"))
    for _ in range(iters):
        neigh = (
            directed.join(
                labels.withColumnRenamed("node", "u"), "u"
            )
            .groupBy(F.col("v").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        mode = (
            neigh.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select("node", (-F.col("m.nl")).alias("new_label"))
        )
        labels = (
            labels.join(mode, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
        )
    return labels


def transition_matrix(
    events: DataFrame,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    tie_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition counts/probabilities over each
    key's event sequence — the product-analytics "where do users go
    next" matrix and the navigation-model estimator.

    Consecutive pairs come from ONE lag window per key (deterministic
    order: ts then ``tie_col``); the matrix itself is a partial agg on
    (from_state, to_state) — |states|² rows regardless of corpus size.
    Probabilities are round(cnt/row_total, 6) with the row total as a
    window sum OVER THE MATRIX (|states|² rows) — deriving it from a
    second aggregation branch would duplicate the fact-scan+window
    subtree in the physical plan (Catalyst does not dedupe across
    joins), doubling the 10^12-row work; the plan test pins a single
    fact scan.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tie_col).asc()
    )
    pairs = (
        events.withColumn("_next", F.lead(state_col).over(w))
        .filter(F.col("_next").isNotNull())
        .select(
            F.col(state_col).alias("from_state"),
            F.col("_next").alias("to_state"),
        )
    )
    counts = pairs.groupBy("from_state", "to_state").agg(
        F.count("*").alias("n")
    )
    row_n = F.sum("n").over(Window.partitionBy("from_state"))
    return counts.select(
        "from_state",
        "to_state",
        "n",
        F.round(F.col("n").cast("double") / row_n, 6).alias("p"),
    )


def ewma(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tie_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key exponentially-weighted moving average with α = 1/2,
    s₁ = x₁ and sᵢ = 0.5·xᵢ + 0.5·sᵢ₋₁ — the standard recursive EWMA,
    computed as an in-order fold so the result is BIT-DETERMINISTIC:
    0.5·x is a pure exponent decrement (no mantissa rounding) and the
    single addition per step rounds identically under IEEE-754 in any
    engine, so the DuckDB twin (a recursive CTE replaying the same
    fold) reproduces every double exactly.  α is fixed at the binary
    power 1/2 for precisely this reason — an arbitrary α would make
    each step's multiply round, still deterministic but worth calling
    out; pow()-based closed forms are NOT reproducible and are never
    used (same rule as engine.spark.mix).

    Spark has no recursive window, so the fold runs as a JVM
    higher-order ``aggregate`` over each key's time-sorted event array
    — zero per-row Python.  Scale shape: ONE shuffle (groupBy key);
    per-key arrays are bounded by the per-entity sequence length, the
    same boundedness assumption as per-conversation doc assembly —
    keys with 10⁶+ events need the chunked two-phase variant instead.

    Columns: (key, tie, value, ewma) — ewma as raw unrounded double
    (identical bits on both engines; rounding would only ADD a
    cross-engine tie-break hazard)."""
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(ts_col).alias("ts"),
                F.col(tie_col).alias("tie"),
                F.col(value_col).alias("x"),
            )
        )
    )
    folded = F.aggregate(
        F.slice(F.col("_arr"), 2, F.greatest(F.size("_arr") - 1, F.lit(0))),
        F.array(
            F.struct(
                F.element_at(F.col("_arr"), 1)["tie"].alias("tie"),
                F.element_at(F.col("_arr"), 1)["x"].alias("x"),
                F.element_at(F.col("_arr"), 1)["x"].alias("s"),
            )
        ),
        lambda acc, e: F.concat(
            acc,
            F.array(
                F.struct(
                    e["tie"].alias("tie"),
                    e["x"].alias("x"),
                    (
                        F.lit(0.5) * e["x"]
                        + F.lit(0.5) * F.element_at(acc, -1)["s"]
                    ).alias("s"),
                )
            ),
        ),
    )
    return (
        events.groupBy(key_col)
        .agg(arr.alias("_arr"))
        .filter(F.size("_arr") > 0)
        .select(key_col, F.explode(folded).alias("_e"))
        .select(
            key_col,
            F.col("_e.tie").alias(tie_col),
            F.col("_e.x").alias(value_col),
            F.col("_e.s").alias("ewma"),
        )
    )


def k_core(
    edges: DataFrame, k: int, max_rounds: int = 30
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly remove
    nodes of degree < k until fixpoint; returns the surviving nodes
    with their within-core degree (node, core_degree).

    Convergence is detected by ALIVE-COUNT equality, which is
    sufficient (not just heuristic): the alive sets are monotone
    decreasing (round r's survivors are a subset of round r−1's), so
    equal counts imply equal sets.  Peeling is also idempotent after
    the fixpoint — extra rounds are no-ops — which is what lets a
    fixed-depth unrolled SQL twin reproduce the fixpoint exactly as
    long as its depth covers the actual round count.

    Scale shape: per round, ONE degree aggregation (map-side combined
    on src) + two LEFT SEMI joins against the alive set — the same
    bounded-round discipline as connected_components (large/small
    star); each round's edge frame is persisted and the previous
    unpersisted so lineage stays O(1) deep in the executed plan; the
    only driver-side values are one count per round.  Rounds needed =
    peel depth of the graph (≤ its degeneracy ordering length), far
    below ``max_rounds`` for real co-occurrence graphs.

    Input edges are undirected (src < dst) and are symmetrized here;
    pass ``cooccurrence_edges`` output directly."""
    sym = edges.select("src", "dst").unionByName(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    ).distinct()
    e = sym.persist()
    prev = -1
    deg = None
    for _ in range(max_rounds):
        deg = e.groupBy("src").agg(F.count("*").alias("core_degree"))
        alive = deg.filter(F.col("core_degree") >= k).select(
            F.col("src").alias("node")
        )
        n = alive.count()
        if n == prev:
            break
        prev = n
        e_new = (
            e.join(alive, e.src == alive.node, "left_semi")
            .join(
                alive.select(F.col("node").alias("_dn")),
                e.dst == F.col("_dn"),
                "left_semi",
            )
            .persist()
        )
        # materialize the new round BEFORE dropping the old cache —
        # unpersisting first would force e_new to recompute the whole
        # lineage (back to the raw co-occurrence join) on next access
        e_new.count()
        e.unpersist()
        e = e_new
    out = (
        deg.filter(F.col("core_degree") >= k)
        .select(F.col("src").alias("node"), "core_degree")
    )
    # materialize before unpersisting the frame it reads from
    out = out.localCheckpoint(eager=True)
    e.unpersist()
    return out


def item_cooccurrence(
    df: DataFrame,
    group_col: str = "user_id",
    item_col: str = "event_type",
    max_group: int = 64,
) -> DataFrame:
    """Association statistics over item pairs: for every unordered pair
    of items co-occurring in the same group (user, basket, session),
    the pair count plus support/confidence/lift — the
    market-basket / co-click statistics behind "users who did A also
    did B" recommendations.

    Semantics (the cap is part of them): membership is the DISTINCT
    (group, item) table; groups with more than ``max_group`` distinct
    items are dropped BEFORE pair generation — pair fan-out is
    quadratic in the group, and one viral group at 10^12 rows would
    emit billions of pairs (same df-cap discipline as
    ``cooccurrence_edges`` / ``dedup.ngram_jaccard_pairs``).  Item
    counts and the group total are computed over the SAME capped
    membership so the ratios are internally consistent.

    Float parity: pair_n, a_n, b_n, n_groups are exact BIGINTs;
    ``confidence`` (= pair_n/a_n) and ``lift``
    (= pair_n*n_groups / (a_n*b_n)) are each ONE correctly-rounded
    double division of exact integers — bit-identical in any IEEE-754
    engine, no cross-row float accumulation anywhere.

    Shape: distinct + cap = two partial-agg shuffles on the group key;
    pair generation is an equi-join on the group key (never a
    cartesian); pair counting one shuffle on the (bounded-cardinality)
    pair key; the single-row group total rides along as a broadcast
    literal.  a < b ordering halves the pair space.
    """
    b = df.select(group_col, item_col).distinct()
    ok = (
        b.groupBy(group_col)
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") <= max_group)
        .drop("_n")
    )
    capped = b.join(ok, group_col)
    pairs = (
        capped.alias("a")
        .join(
            capped.alias("c"),
            (F.col(f"a.{group_col}") == F.col(f"c.{group_col}"))
            & (F.col(f"a.{item_col}") < F.col(f"c.{item_col}")),
        )
        .groupBy(
            F.col(f"a.{item_col}").alias("item_a"),
            F.col(f"c.{item_col}").alias("item_b"),
        )
        .agg(F.count("*").alias("pair_n"))
    )
    counts = capped.groupBy(item_col).agg(F.count("*").alias("_in"))
    tot = ok.agg(F.count("*").alias("n_groups"))
    return (
        pairs.join(
            counts.select(
                F.col(item_col).alias("item_a"), F.col("_in").alias("a_n")
            ),
            "item_a",
        )
        .join(
            counts.select(
                F.col(item_col).alias("item_b"), F.col("_in").alias("b_n")
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "item_a",
            "item_b",
            "pair_n",
            "a_n",
            "b_n",
            "n_groups",
            (
                F.col("pair_n").cast("double") / F.col("a_n").cast("double")
            ).alias("confidence"),
            (
                (F.col("pair_n") * F.col("n_groups")).cast("double")
                / (F.col("a_n") * F.col("b_n")).cast("double")
            ).alias("lift"),
        )
    )


def conversion_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple = ("view", "click"),
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Marketing-style conversion attribution: each conversion event is
    credited to the user's FIRST touch (first-touch model) and the
    LAST touch at-or-before the conversion (last-touch model), in one
    pass.

    Shape: touches and conversions stay in ONE stream tagged by kind;
    a single user-keyed window (high-cardinality key — never a global
    or low-cardinality sort) carries the running first/last touch
    struct via first/last(ignorenulls) over an unbounded-preceding
    frame; conversion rows then read both attributions from the carry.
    Equal-timestamp ties order touches BEFORE conversions (a same-
    second touch attributes), then by event id — total order, engine-
    deterministic.  Unattributed conversions (no prior touch) keep
    NULL touch columns.  Gaps are integer epoch-second arithmetic.
    """
    is_touch = F.col(type_col).isin(*touch_types)
    is_conv = F.col(type_col) == conversion_type
    base = events.where(is_touch | is_conv).select(
        user_col,
        F.col(id_col).alias("event_id"),
        F.col(type_col).alias("etype"),
        F.unix_timestamp(ts_col).alias("sec"),
        F.when(is_touch, 0).otherwise(1).alias("kind"),
        F.when(
            is_touch,
            F.struct(
                F.unix_timestamp(ts_col).alias("sec"),
                F.col(id_col).alias("tid"),
                F.col(type_col).alias("ttype"),
            ),
        ).alias("touch"),
    )
    w = (
        Window.partitionBy(user_col)
        .orderBy("sec", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = base.withColumn(
        "first_touch", F.first("touch", ignorenulls=True).over(w)
    ).withColumn("last_touch", F.last("touch", ignorenulls=True).over(w))
    return carried.where(F.col("kind") == 1).select(
        F.col("event_id").alias("conversion_id"),
        user_col,
        F.col("first_touch.tid").alias("first_touch_id"),
        F.col("first_touch.ttype").alias("first_touch_type"),
        F.col("last_touch.tid").alias("last_touch_id"),
        F.col("last_touch.ttype").alias("last_touch_type"),
        (F.col("sec") - F.col("last_touch.sec"))
        .cast("long")
        .alias("last_touch_gap_s"),
    )


def pareto_frontier(
    df: DataFrame, max_col: str, min_col: str
) -> DataFrame:
    """Exact 2-D Pareto frontier (skyline, Börzsönyi et al. ICDE'01):
    the rows not dominated by any other row, where r' dominates r iff
    ``r'.max_col >= r.max_col`` and ``r'.min_col <= r.min_col`` with at
    least one strict.  Identical (max, min) points are mutually
    non-dominating and all survive; NULL in either column drops the
    row (NULL is incomparable under domination).

    The textbook sequential algorithm is "sort by x desc, keep rows
    where y beats the running min" — a GLOBAL order statistic, and the
    naive Spark translation (`Window.orderBy(x.desc)` with an empty
    partition-by) funnels every row through ONE reducer.  This uses
    the same distributed-ranking shape as ``diagnose.global_rank``:

      1. reduce to per-x groups (partial-agg shuffle): gy = min(y | x);
      2. range-repartition the group table by x desc; the running min
         over strictly-larger x splits into a per-partition window
         (parallel, bounded by the range split) plus a prefix-min over
         earlier partitions' boundary minima — an nparts-row histogram
         broadcast back, exactly the global_rank offset trick (min is
         associative across the range boundary, so where the sampler
         places the splits cannot change the answer);
      3. a group is on the frontier iff gy < min-over-larger-x (or no
         larger x exists); the surviving rows join back by x equi-join
         and keep y == gy.

    The grouped frame is persisted under the shared _NTILE_CACHE
    discipline because the window branch and the histogram branch must
    observe identical partition ids.  Never more than three shuffles,
    no empty-partition window over anything data-sized, output rows
    carry all input columns.
    """
    from engine.spark.diagnose import _ntile_cache_put

    x, y = F.col(max_col), F.col(min_col)
    clean = df.where(x.isNotNull() & y.isNotNull())
    g = clean.groupBy(x.alias("_pf_x")).agg(F.min(y).alias("_pf_gy"))
    spark = df.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    keyed = g.repartitionByRange(
        nparts, F.col("_pf_x").desc()
    ).withColumn("_pf_pid", F.spark_partition_id())
    keyed = _ntile_cache_put(keyed)
    w_loc = (
        Window.partitionBy("_pf_pid")
        .orderBy(F.col("_pf_x").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_pid = Window.orderBy("_pf_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pid_prev = (
        keyed.groupBy("_pf_pid")
        .agg(F.min("_pf_gy").alias("_pf_pm"))
        .select(
            "_pf_pid", F.min("_pf_pm").over(w_pid).alias("_pf_prev")
        )
    )
    front = (
        keyed.withColumn("_pf_loc", F.min("_pf_gy").over(w_loc))
        .join(F.broadcast(pid_prev), "_pf_pid")
        .withColumn("_pf_mgt", F.least("_pf_loc", "_pf_prev"))
        .where(
            F.col("_pf_mgt").isNull()
            | (F.col("_pf_gy") < F.col("_pf_mgt"))
        )
        .select("_pf_x", "_pf_gy")
    )
    return clean.join(
        front,
        (x == F.col("_pf_x")) & (y == F.col("_pf_gy")),
    ).select(*df.columns)


def bfs_distance(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Multi-source breadth-first shortest hop distance, bounded to
    ``max_hops`` rounds — the blast-radius query ("everything within
    k hops of these nodes") over a directed edge table.

    Pregel-as-dataflow, same discipline as :func:`pagerank_fixedpoint`
    and ``dedup.connected_components``: each round is ONE equi-join of
    the current frontier with the edge table plus ONE anti-join
    against the settled set (BFS settles a node at its first visit, so
    already-reached nodes never re-expand — the frontier SHRINKS as
    the reachable set saturates, and rounds after saturation are
    no-ops on empty frames).  State is at most |V| rows; distances are
    exact integers so the oracle (a DuckDB recursive CTE capped at the
    same hop count) matches bit-for-bit.  ``max_hops`` is fixed and
    small, keeping the unrolled lineage bounded; for deep traversals
    reuse the durable checkpoint pattern from connected_components.

    Returns (node: long, dist: int) for every node reachable within
    ``max_hops`` hops, seeds at dist 0.
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).distinct()
    dist = seeds.select(
        F.col(node_col).cast("long").alias("node"),
        F.lit(0).cast("int").alias("dist"),
    ).distinct()
    frontier = dist.select("node")
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.alias("f")
            .join(e.alias("e"), F.col("f.node") == F.col("e.src"))
            .select(F.col("e.dst").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
        )
        dist = dist.union(
            nxt.select("node", F.lit(hop).cast("int").alias("dist"))
        )
        frontier = nxt
    return dist


def sssp_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    node_col: str = "node",
) -> DataFrame:
    """Bounded WEIGHTED single/multi-source shortest paths — Bellman-
    Ford as dataflow.  After ``max_hops`` rounds each node carries the
    exact minimum total weight over paths using at most ``max_hops``
    edges (the standard BF invariant), which is a well-defined,
    oracle-able contract even when longer cheaper paths exist.

    Delta relaxation, same Pregel-as-dataflow discipline as
    :func:`bfs_distance` / :func:`pagerank_fixedpoint`: each round
    relaxes ONLY the nodes whose distance improved last round (one
    frontier⋈edges equi-join + one groupBy-min + one null-safe join
    against the standing distance map).  Exactness of the shortcut: if
    dist_i(v) < dist_{i-1}(v) then the predecessor u on the improving
    ≤i-edge path itself improved at round i-1 (else the relaxation was
    already available a round earlier), so u is in the delta — the
    classic queue-based BF argument.  The frontier SHRINKS as
    distances converge; rounds after convergence are no-ops on empty
    frames.  State is |V| rows; max_hops is small and fixed, keeping
    the unrolled lineage bounded (deep graphs: reuse the durable
    checkpoint pattern from dedup.connected_components).

    Weights must be non-negative BIGINTs (cast enforced) so min() is
    exact and the DuckDB twin — the same recurrence unrolled as k
    plain aggregate CTE levels, never a recursive CTE (whose frontier
    would carry every distinct (node, dist) pair and explode on dense
    graphs) — matches bit-for-bit.  Returns (node: long, dist: long)
    for nodes reachable within ``max_hops`` edges, seeds at 0.
    """
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .where(F.col("w") >= 0)
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))  # parallel edges: keep the cheapest
    )
    dist = seeds.select(
        F.col(node_col).cast("long").alias("node"),
        F.lit(0).cast("long").alias("dist"),
    ).distinct()
    delta = dist
    for _ in range(max_hops):
        cand = (
            delta.alias("d")
            .join(e.alias("e"), F.col("d.node") == F.col("e.src"))
            .select(
                F.col("e.dst").alias("node"),
                (F.col("d.dist") + F.col("e.w")).alias("dist"),
            )
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        merged = (
            dist.alias("o")
            .join(cand.alias("c"), "node", "full_outer")
            .select(
                "node",
                F.least(F.col("o.dist"), F.col("c.dist")).alias("dist"),
                (
                    F.col("o.dist").isNull()
                    | (F.col("c.dist") < F.col("o.dist"))
                ).alias("_improved"),
            )
        )
        delta = merged.where(F.col("_improved")).select("node", "dist")
        dist = merged.select("node", "dist")
    return dist


def concurrency_peak(
    intervals: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
    id_col: str,
) -> DataFrame:
    """Peak concurrency per key over half-open interval rows [start,
    end) — "what was the maximum number of simultaneously open
    sessions, and when was it first reached?" — the capacity-planning
    sweep-line.

    The textbook query is a running sum of +1/−1 boundary deltas under
    ``Window.partitionBy(key).orderBy(t)`` — which sorts EVERY fact
    row of a key on one reducer, the VERDICT-r4 scale-killer for
    low-cardinality keys (event types, tenants).  Here the prefix sum
    is DISTRIBUTED, the same parallel-ranking shape as
    ``diagnose.distributed_ntile``: range-repartition the boundary
    table on (key, t, d, id) so the sort spreads over all shuffle
    partitions; per-(range-partition, key) LOCAL cumulative sums; a
    tiny (P × |keys|) histogram of per-block delta TOTALS yields each
    block's starting offset via a metadata-scale window; broadcast the
    offsets back and add.  Only the per-key max survives the final
    partial agg.  The projected range-partitioned frame is persisted
    (both branches must observe one boundary sample — the
    distributed_ntile discipline, shared _NTILE_CACHE).

    Half-open semantics: an interval ending at t does not overlap one
    starting at t, so −1 deltas order BEFORE +1 at equal t (d asc).
    Empty intervals (start ≥ end) are dropped.  Timestamps are exact
    BIGINT microseconds end-to-end; counts are integers; ties on the
    peak resolve to the EARLIEST boundary instant — all argmax
    arithmetic exact, so the DuckDB twin (a plain window running sum,
    the shape Spark must avoid) matches bit-for-bit.  Output:
    (key_col, peak: long, at_us: long).
    """
    from .diagnose import _ntile_cache_put

    iv = intervals.select(
        F.col(key_col).alias("k"),
        F.col(start_col).cast("long").alias("s"),
        F.col(end_col).cast("long").alias("e"),
        F.col(id_col).alias("i"),
    ).where(F.col("s") < F.col("e"))
    deltas = iv.select(
        "k", F.col("s").alias("t"), F.lit(1).alias("d"), "i"
    ).unionAll(
        iv.select("k", F.col("e").alias("t"), F.lit(-1).alias("d"), "i")
    )
    order = [
        F.col("k").asc(),
        F.col("t").asc(),
        F.col("d").asc(),
        F.col("i").asc(),
    ]
    spark = intervals.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    keyed = deltas.repartitionByRange(nparts, *order).withColumn(
        "pid", F.spark_partition_id()
    )
    keyed = _ntile_cache_put(keyed)
    local = keyed.withColumn(
        "lcum",
        F.sum("d").over(
            Window.partitionBy("pid", "k")
            .orderBy(F.col("t").asc(), F.col("d").asc(), F.col("i").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # per-(pid, key) delta totals: ≤ P×|keys| rows — metadata scale;
    # each block's offset is the sum of the SAME key's earlier blocks
    hist = keyed.groupBy("pid", "k").agg(F.sum("d").alias("dc"))
    w_off = Window.partitionBy("k").orderBy("pid").rowsBetween(
        Window.unboundedPreceding, 0
    )
    off = hist.select(
        F.col("pid").alias("_pid"),
        F.col("k").alias("_k"),
        (F.sum("dc").over(w_off) - F.col("dc")).alias("off"),
    )
    run = local.join(
        F.broadcast(off),
        (F.col("pid") == F.col("_pid")) & F.col("k").eqNullSafe(F.col("_k")),
    ).select(
        "k", "t", (F.col("off") + F.col("lcum")).alias("run")
    )
    # exact earliest-peak argmax: min over (−run, t) structs
    best = run.groupBy("k").agg(
        F.min(F.struct((-F.col("run")).alias("nr"), F.col("t"))).alias("b")
    )
    return best.select(
        F.col("k").alias(key_col),
        (-F.col("b.nr")).cast("long").alias("peak"),
        F.col("b.t").alias("at_us"),
    )


def twap(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Time-weighted average value per key (TWAP) — the standard
    telemetry/market aggregate where each observation holds until the
    next one, so its weight is the seconds until the key's next event
    (the key's last event carries no forward interval and contributes
    no weight; keys with a single event emit no row).

    One window keyed by ``user_col`` (never an empty partition-by — a
    key's events land on one reducer, bounded by per-key history, the
    same shape as ``running_user_value``).  Cross-engine exactness:
    durations are BIGINT microseconds (``unix_micros`` / DuckDB
    ``epoch_us`` — no sub-second floor ambiguity), values sum as
    DECIMAL(18,4) — both exact under any aggregation order — and the
    single division is one correctly-rounded IEEE op on the exact
    sums, so Spark and the DuckDB twin agree bit-for-bit (the
    repo-wide round-then-divide discipline, cf. SQL_Q1 /
    grouped_regression).

    Returns (user_id, n_intervals, span_us, twap) with twap rounded
    to 4 decimals; keys with zero total span emit no row.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    base = (
        events.where(F.col(value_col).isNotNull())
        .withColumn(
            "_tw_dur",
            (
                # cast: parquet timestamps load as TIMESTAMP_NTZ and
                # unix_micros wants TIMESTAMP; the session-TZ shift the
                # cast applies cancels in the subtraction
                F.unix_micros(F.lead(ts_col).over(w).cast("timestamp"))
                - F.unix_micros(F.col(ts_col).cast("timestamp"))
            ).cast("long"),
        )
        .where(F.col("_tw_dur").isNotNull())
    )
    wv = F.col(value_col).cast("decimal(18,4)") * F.col("_tw_dur")
    return (
        base.groupBy(F.col(user_col).alias("user_id"))
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum("_tw_dur").alias("span_us"),
            F.round(
                F.sum(wv).cast("double")
                / F.sum("_tw_dur").cast("double"),
                4,
            ).alias("twap"),
        )
        .where(F.col("span_us") > 0)
    )


def window_funnel(
    events: DataFrame,
    stages: Sequence[str],
    window_us: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Gap-capped funnel (the ClickHouse ``windowFunnel`` analog) under
    EXACT exists-chain semantics: a user reaches level k iff they have
    events of types ``stages[0..k-1]`` at STRICTLY increasing
    timestamps with ``t_k − t_1 <= window_us``.  Unlike first-touch
    anchoring (:func:`event_funnel`, which can under-count when the
    earliest stage-1 event times out but a later one would have
    chained), this is the exact maximum over ALL chains.

    Exactness from a single per-user pass: events collapse to per-
    timestamp stage sets, sorted, and a fold keeps ONE value per level
    — the maximum chain-start time over chains of that level whose
    last event is before the current timestamp.  Max-start dominates:
    a future event at t' can extend any chain with last < t' (true for
    every recorded chain, because same-timestamp events read the
    PRE-group state — strictness is structural, not checked) and
    start >= t' − window, so if any chain qualifies the max-start one
    does.  The fold is a pure Catalyst higher-order AGGREGATE over the
    sorted array — JVM-side, no Python.

    Scale notes: one groupBy (user, ts) + one groupBy user; per-user
    state is the event-time list (bounded by per-key history — the
    same collect discipline as the SFT/context-window ops) and the DP
    accumulator is |stages| longs.  The oracle is the independent
    k-way inequality-join EXISTS formulation — tractable at test SF,
    exactly the shape this operator exists to avoid at 10^12 rows.

    ``stages`` must be distinct.  Returns one row per level:
    (level, event_type, users = count of users reaching that level).
    """
    if len(stages) < 2:
        raise ValueError("a funnel needs at least 2 stages")
    if len(set(stages)) != len(stages):
        raise ValueError("stages must be distinct")
    k = len(stages)
    idx = (
        F.array_position(
            F.array(*[F.lit(s) for s in stages]), F.col(type_col)
        )
        - 1
    )
    ev = events.select(
        F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_wf_t"),
        idx.cast("int").alias("_wf_i"),
    ).where(F.col("_wf_i") >= 0)
    grp = ev.groupBy("user_id", "_wf_t").agg(
        F.collect_set("_wf_i").alias("_wf_s")
    )
    per_user = grp.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("_wf_t", "_wf_s"))).alias(
            "_wf_g"
        )
    )
    init = F.array(*[F.lit(None).cast("long") for _ in range(k)])

    def step(acc, g):
        t, s = g["_wf_t"], g["_wf_s"]
        return F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda j: F.when(
                ~F.array_contains(s, j.cast("int")),
                F.element_at(acc, j + 1),
            ).otherwise(
                F.when(j == 0, F.greatest(F.element_at(acc, 1), t))
                .otherwise(
                    # greatest() skips NULLs: keeps the old anchor when
                    # the predecessor chain is absent or out of window
                    F.greatest(
                        F.element_at(acc, j + 1),
                        F.when(
                            F.element_at(acc, j)
                            >= t - F.lit(int(window_us)),
                            F.element_at(acc, j),
                        ),
                    )
                )
            ),
        )

    levels = per_user.select(
        F.size(
            F.filter(
                F.aggregate("_wf_g", init, step), lambda a: a.isNotNull()
            )
        ).alias("_wf_level")
    )
    counts = levels.groupBy("_wf_level").agg(
        F.count("*").alias("_wf_n")
    )
    stage_rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("int").alias("level"),
                F.lit(s).alias("event_type"),
            )
            for i, s in enumerate(stages)
        ]
    )
    tiers = (
        counts.sparkSession.range(1)
        .select(F.explode(stage_rows).alias("r"))
        .select("r.level", "r.event_type")
    )
    return tiers.join(
        F.broadcast(
            counts.select(
                F.col("_wf_level").alias("lv"), F.col("_wf_n")
            )
        ),
        F.col("lv") >= F.col("level"),
        "left",
    ).groupBy("level", "event_type").agg(
        F.coalesce(F.sum("_wf_n"), F.lit(0)).cast("long").alias("users")
    )


def cumulative_contribution(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_col,
    threshold_num: int = 4,
    threshold_den: int = 5,
) -> DataFrame:
    """Top contributors until a share threshold per group — the 80/20
    Pareto-contribution query ("which suppliers make up 80% of each
    nation's revenue?").  Values aggregate to the (key, id) grain as
    exact DECIMAL(18,4), members rank by value DESC (id ASC breaking
    ties deterministically), and a member is kept while the cumulative
    total BEFORE it is still below threshold_num/threshold_den of the
    group total — so the crossing member is included and every group
    with a positive total emits at least one row.

    The threshold test is EXACT RATIONAL arithmetic on DECIMAL sums —
    ``den·(cum − v) < num·total`` — never a float share compare, so
    the boundary row can't flip on rounding drift; only the reported
    cum_share is a (rounded) float.  Shape: one partial-agg shuffle to
    the (key, id) grain, then windows over the already-reduced member
    table (the contingency_chi2 discipline: the member grain is the
    data-reduction; per-key member counts — suppliers per nation,
    sources per corpus — are bounded, unlike fact rows, so the per-key
    sort is metadata-scale; for million-member keys switch to
    distributed_ntile's range-partition ranking).

    Output: (key, id, value, rank, cum_share) for kept members.
    """
    v = value_col if not isinstance(value_col, str) else F.col(value_col)
    per = (
        df.groupBy(F.col(key_col).alias("k"), F.col(id_col).alias("i"))
        .agg(F.sum(v.cast("decimal(18,4)")).alias("v"))
    )
    w = Window.partitionBy("k").orderBy(F.col("v").desc(), F.col("i").asc())
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy("k")
    ranked = per.select(
        "k",
        "i",
        "v",
        F.row_number().over(w).alias("rank"),
        F.sum("v").over(wc).alias("cum"),
        F.sum("v").over(wt).alias("total"),
    )
    # bounded operand types: a (18,4) x (38,4) product is precision 57,
    # which Spark's precision-loss lane ROUNDS to scale 6 while DuckDB
    # caps at (38,8) - a razor-edge boundary could flip between
    # engines.  (4,0) x (28,4) = (33,4), exact in both (contract:
    # per-group totals fit 24 integer digits).
    num, den = F.lit(threshold_num).cast("decimal(4,0)"), F.lit(
        threshold_den
    ).cast("decimal(4,0)")
    return (
        ranked.where(
            den * (F.col("cum") - F.col("v")).cast("decimal(28,4)")
            < num * F.col("total").cast("decimal(28,4)")
        )
        .select(
            F.col("k").alias(key_col),
            F.col("i").alias(id_col),
            F.round(F.col("v").cast("double"), 2).alias("value"),
            "rank",
            F.round(
                F.col("cum").cast("double") / F.col("total").cast("double"),
                6,
            ).alias("cum_share"),
        )
    )


def user_streaks(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Longest run of consecutive active DAYS per user — the retention
    engagement metric ("best streak: 12 days").  Classic
    gaps-and-islands on the DISTINCT (user, day) activity set: within
    a user, consecutive days satisfy day − row_number() = const, so
    the island id is that difference and the streak is the island
    size.

    Day is an exact integer day index (floor(epoch_days)) in both
    engines — no timezone or DST float math.  The per-user window
    sorts only the user's DISTINCT activity days (≤ a few thousand for
    years of daily activity — bounded per-key frames on a
    high-cardinality key, the running_user_value shape, never a
    low-card reducer trap).  Shapes: one distinct shuffle on
    (user, day), one window in the same user partitioning, one rollup.
    Output: (user_id, n_active_days, max_streak, best_streak_start —
    the day index opening the earliest longest streak).
    """
    days = (
        events.select(
            F.col(user_col).alias("user_id"),
            F.floor(
                F.unix_micros(F.col(ts_col).cast("timestamp"))
                / F.lit(86_400_000_000)
            ).cast("long").alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.select(
        "user_id",
        "day",
        (F.col("day") - F.row_number().over(w)).alias("island"),
    )
    runs = islands.groupBy("user_id", "island").agg(
        F.count("*").alias("len"),
        F.min("day").alias("start"),
    )
    return runs.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("n_active_days"),
        F.max("len").cast("long").alias("max_streak"),
        F.min(
            F.struct((-F.col("len")).alias("nl"), F.col("start"))
        )["start"].alias("best_streak_start"),
    )


def survival_curve(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    censor_days: int = 7,
) -> DataFrame:
    """Kaplan-Meier retention/survival estimate over user lifetimes —
    "what fraction of users is still active t days after first seen?"
    — the churn analytic.  Lifetime = integer days between a user's
    first and last activity; a user whose last activity falls within
    the final ``censor_days`` of the observed range is CENSORED (still
    alive — their lifetime is a lower bound), everyone else's lifetime
    ends in a death.  S(t) = Π_{death times ≤ t} (1 − d/n) over the
    risk set n (users with lifetime ≥ t).

    Cross-engine exactness for the cumulative PRODUCT (the one KM
    step float addition order could corrupt): each factor's ln(1−d/n)
    is ONE fixed IEEE chain on exact integers, ROUNDED to 9 dp, and
    the running product is an exact DECIMAL window SUM of those
    rounded logs (order-free by exactness), exponentiated once at the
    end — the repo's round-then-sum discipline.  A q = 0 factor
    (everyone at risk dies) writes the sentinel −999: exp underflows
    to exactly 0.0 in both engines, so S pins to zero from there on.

    Shape: one partial-agg shuffle to per-user (first, last) days; the
    global observation end rides back as a broadcast single-row agg;
    the life table reduces to one row per distinct lifetime (≤ the day
    range — metadata scale), and every window — risk-set depletion,
    log cumsum — runs over THAT table, never user rows.  Output one
    row per death time: (t, n_risk, d, c, survival).
    """
    day = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp"))
        / F.lit(86_400_000_000)
    ).cast("long")
    per_user = events.groupBy(F.col(user_col).alias("u")).agg(
        F.min(day).alias("first_day"), F.max(day).alias("last_day")
    )
    end = per_user.agg(F.max("last_day").alias("gmax"))
    lives = per_user.crossJoin(F.broadcast(end)).select(
        (F.col("last_day") - F.col("first_day")).alias("t"),
        (
            F.col("last_day")
            <= F.col("gmax") - F.lit(censor_days)
        ).alias("is_death"),
    )
    per_t = lives.groupBy("t").agg(
        F.sum(F.when(F.col("is_death"), 1).otherwise(0))
        .cast("long")
        .alias("d"),
        F.sum(F.when(F.col("is_death"), 0).otherwise(1))
        .cast("long")
        .alias("c"),
    )
    w_all = Window.orderBy("t")
    w_prev = w_all.rowsBetween(Window.unboundedPreceding, -1)
    w_tot = Window.partitionBy()
    risk = per_t.select(
        "t",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(w_tot)
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)
            )
        ).cast("long").alias("n_risk"),
    )
    q = F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk").cast(
        "double"
    )
    lnq = F.when(F.col("d") == F.col("n_risk"), F.lit(-999.0)).otherwise(
        F.round(F.log(q), 9)
    )
    deaths = risk.where(F.col("d") > 0).select(
        "t", "n_risk", "d", "c", lnq.cast("decimal(18,9)").alias("lnq")
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return deaths.select(
        "t",
        "n_risk",
        "d",
        "c",
        F.round(
            F.exp(F.sum("lnq").over(w_cum).cast("double")), 6
        ).alias("survival"),
    )


def hhi_concentration(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_col,
) -> DataFrame:
    """Herfindahl-Hirschman concentration per group — "is this
    nation's revenue one supplier deep?" — the market-concentration /
    single-source-risk index: HHI = Σ share_i² ∈ (0, 1], 1 = monopoly,
    1/n = perfectly even.

    Values aggregate to the (key, member) grain as exact
    DECIMAL(18,4); HHI needs only Σv, Σv² and max(v) per key — all
    exact DECIMAL partial aggs (Σv² stays inside DECIMAL(38,8) by the
    per-member 18,4 contract) — so the whole operator is TWO partial-
    agg shuffles and zero windows/joins; the final index is a fixed
    IEEE chain on the exact sums.  Members with non-positive group
    totals are dropped (shares undefined).  Output: (key, n_members,
    hhi, top_share) — top_share = the largest member's share, the
    companion "how bad is the worst case" number.
    """
    v = value_col if not isinstance(value_col, str) else F.col(value_col)
    per = (
        df.groupBy(F.col(key_col).alias("k"), F.col(id_col).alias("i"))
        .agg(F.sum(v.cast("decimal(18,4)")).alias("v"))
    )
    agg = per.groupBy("k").agg(
        F.count("*").alias("n_members"),
        F.sum("v").cast("decimal(38,4)").alias("tot"),
        F.sum(
            (F.col("v") * F.col("v")).cast("decimal(38,8)")
        ).cast("decimal(38,8)").alias("ssq"),
        F.max("v").alias("mx"),
    )
    td = F.col("tot").cast("double")
    return (
        agg.where(F.col("tot") > 0)
        .select(
            F.col("k").alias(key_col),
            "n_members",
            F.round(
                F.col("ssq").cast("double") / (td * td), 6
            ).alias("hhi"),
            F.round(F.col("mx").cast("double") / td, 6).alias("top_share"),
        )
    )


def degree_stats(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """One-row structural profile of a directed edge table — the
    pre-flight you run before committing to a graph algorithm's cost
    model: node/edge counts, max and mean out/in degree (is there a
    hub that will hotspot the frontier join?), and reciprocity (the
    fraction of edges whose reverse also exists — near 1 the graph is
    effectively undirected and CC-style algorithms apply).

    Shape (one pass, two shuffles — down from seven derivation legs
    each re-deriving the deduped edge set): group raw edges once on
    the UNORDERED pair (least, greatest) with direction-presence
    flags — that single partial-agg shuffle yields dedup (max of the
    flags), edge count (sum of present directions), and reciprocity
    (both directions present, self-loops reciprocal by definition)
    without ever joining the edge set with its own reversal.  Degrees
    come from exploding each unordered pair into its two endpoints
    with 0/1 out/in increments — one more partial-agg shuffle keyed
    on node gives out/in degree, node count, and both maxima.  All
    counts exact BIGINTs; means are single correctly-rounded
    divisions.  Output: (n_nodes, n_edges, max_out, max_in,
    avg_degree, reciprocity) — value-identical to the
    distinct-then-five-legs formulation (the oracle twin).  An edge
    with a NULL endpoint is dropped: ``least``/``greatest`` skip NULLs,
    so it would otherwise count as a self-loop on its other endpoint.
    """
    s = F.col(src_col).cast("long")
    d = F.col(dst_col).cast("long")
    pairs = edges.where(s.isNotNull() & d.isNotNull()).select(
        F.least(s, d).alias("lo"),
        F.greatest(s, d).alias("hi"),
        (s <= d).alias("f"),   # edge lo→hi present (self-loops: both)
        (s >= d).alias("r"),   # edge hi→lo present
    )
    und = pairs.groupBy("lo", "hi").agg(
        F.max("f").alias("f"), F.max("r").alias("r")
    )
    self_loop = F.col("lo") == F.col("hi")
    fwd = F.col("f").cast("int")
    rev = F.col("r").cast("int")
    stats_e = und.select(
        F.when(self_loop, F.lit(1)).otherwise(fwd + rev).alias("_ne"),
        F.when(self_loop, F.lit(1))
        .otherwise(F.when(F.col("f") & F.col("r"), F.lit(2)).otherwise(0))
        .alias("_nr"),
    ).agg(
        F.sum("_ne").cast("long").alias("n_edges"),
        F.sum("_nr").cast("long").alias("n_recip"),
    )
    # endpoint increments: lo is a source iff lo→hi, a sink iff hi→lo;
    # hi mirrored, zeroed on self-loops so the single loop edge is not
    # double-counted (lo's entry already carries out=1, in=1)
    not_loop = (~self_loop).cast("int")
    ends = und.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("lo").alias("node"),
                    fwd.alias("o"),
                    rev.alias("i"),
                ),
                F.struct(
                    F.col("hi").alias("node"),
                    (rev * not_loop).alias("o"),
                    (fwd * not_loop).alias("i"),
                ),
            )
        ).alias("e")
    ).select("e.node", "e.o", "e.i")
    deg = ends.groupBy("node").agg(
        F.sum("o").alias("od"), F.sum("i").alias("id")
    )
    stats_n = deg.agg(
        F.count("*").alias("n_nodes"),
        F.max("od").cast("long").alias("max_out"),
        F.max("id").cast("long").alias("max_in"),
    )
    return (
        stats_e.crossJoin(F.broadcast(stats_n))
        .select(
            "n_nodes",
            "n_edges",
            "max_out",
            "max_in",
            F.round(
                F.col("n_edges").cast("double")
                / F.col("n_nodes").cast("double"),
                6,
            ).alias("avg_degree"),
            F.round(
                F.col("n_recip").cast("double")
                / F.col("n_edges").cast("double"),
                6,
            ).alias("reciprocity"),
        )
    )


def conversion_latency(
    events: DataFrame,
    from_type: str,
    to_type: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    bucket_s: int = 3600,
) -> DataFrame:
    """Latency from a user's FIRST ``from_type`` event to their first
    ``to_type`` event strictly after it — "how long from signup to
    purchase?" — as an exact log-free histogram over ``bucket_s``
    buckets plus exact micro-second summary stats per bucket.

    First-touch anchoring matches event_funnel's semantics.  Shape:
    two filtered partial aggs on the user key (each filter pushes to
    its own columnar scan) joined on that SAME key — hash-partitioned,
    no windows, no per-user sort; the histogram is a partial agg on
    the bounded bucket key.  Latencies are exact BIGINT microseconds
    (unix_micros both engines), bucket = lat_us DIV (bucket_s·10⁶) —
    integer exact; per-bucket mean is one correctly-rounded division
    of exact sums.  Output: (bucket, n, min_s, max_s, mean_s) with
    the seconds values rounded to 6 dp.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    a = (
        events.where(F.col(type_col) == from_type)
        .groupBy(F.col(user_col).alias("u"))
        .agg(F.min(us).alias("ta"))
    )
    b = events.where(F.col(type_col) == to_type).select(
        F.col(user_col).alias("u"), us.alias("tb")
    )
    lat = (
        b.join(a, "u")
        .where(F.col("tb") > F.col("ta"))
        .groupBy("u")
        .agg(F.min(F.col("tb") - F.col("ta")).alias("lat_us"))
    )
    div = bucket_s * 1_000_000
    return (
        lat.select(F.expr(f"lat_us DIV {div}").alias("bucket"), "lat_us")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("lat_us").cast("double") / 1e6, 6).alias("min_s"),
            F.round(F.max("lat_us").cast("double") / 1e6, 6).alias("max_s"),
            F.round(
                F.sum("lat_us").cast("double")
                / F.count("*").cast("double")
                / 1e6,
                6,
            ).alias("mean_s"),
        )
    )


def dau_mau(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 30,
) -> DataFrame:
    """Daily stickiness — DAU / trailing-``window_days`` MAU per day —
    the engagement ratio every product dashboard leads with.

    A sliding COUNT DISTINCT is not decomposable, so MAU(d) is
    computed by CONTRIBUTION EXPLODE: each distinct (user, day)
    activity row covers the ``window_days`` window-end days it makes
    that user active in (a bounded ×30 fan-out of the already-deduped
    activity grain — linear, partial-aggregated, shuffle on the day
    key; never a per-day self-join or a stateful scan).  The fan-out
    then dedups (user, window_end) — a user active twice in a window
    counts once.  Days outside the observed [min, max] activity range
    are clipped via a broadcast bounds row.  All integer day
    arithmetic; stickiness is one correctly-rounded division.
    Output: (day, dau, mau, stickiness).
    """
    day = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp"))
        / F.lit(86_400_000_000)
    ).cast("long")
    act = events.select(
        F.col(user_col).alias("u"), day.alias("day")
    ).distinct()
    bounds = act.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cover = (
        act.select(
            "u",
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.col("day") + F.lit(window_days - 1),
                )
            ).alias("wend"),
        )
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .where((F.col("wend") >= F.col("d0")) & (F.col("wend") <= F.col("d1")))
    )
    mau = cover.groupBy(F.col("wend").alias("day")).agg(
        F.count("*").alias("mau")
    )
    dau = act.groupBy("day").agg(F.count("*").alias("dau"))
    return (
        mau.join(dau, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("dau"), F.lit(0)).cast("long").alias("dau"),
            F.col("mau").cast("long").alias("mau"),
            F.round(
                F.coalesce(F.col("dau"), F.lit(0)).cast("double")
                / F.col("mau").cast("double"),
                6,
            ).alias("stickiness"),
        )
    )


def gini_index(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_col,
) -> DataFrame:
    """Gini inequality coefficient per group over non-negative member
    values — the companion to :func:`hhi_concentration` (HHI weights
    the head; Gini reads the whole Lorenz curve):

        G = (2·Σ rᵢ·vᵢ − (n+1)·Σv) / (n·Σv),  v ascending, r = 1…n

    Values aggregate to the (key, member) grain as exact
    DECIMAL(18,4); the rank window runs over that REDUCED member
    table (bounded members per key — the pareto_share justification;
    million-member keys: switch to distributed_ntile's range ranking).
    Σr·v multiplies rank as DECIMAL(10,0) (product (29,4) — exact in
    both engines), all sums exact DECIMAL, the final G one fixed IEEE
    chain.  Ties order by (v, id) — Gini is tie-order invariant, the
    id only totalizes the plan.  Groups with zero total emit nothing.
    Output: (key, n_members, gini).
    """
    v = value_col if not isinstance(value_col, str) else F.col(value_col)
    per = (
        df.groupBy(F.col(key_col).alias("k"), F.col(id_col).alias("i"))
        .agg(F.sum(v.cast("decimal(18,4)")).alias("v"))
        .where(F.col("v") >= 0)
    )
    w = Window.partitionBy("k").orderBy(F.col("v").asc(), F.col("i").asc())
    ranked = per.select(
        "k",
        "v",
        F.row_number().over(w).cast("decimal(10,0)").alias("r"),
    )
    agg = ranked.groupBy("k").agg(
        F.count("*").alias("n"),
        F.sum("v").cast("decimal(38,4)").alias("sv"),
        F.sum((F.col("r") * F.col("v")).cast("decimal(38,4)"))
        .cast("decimal(38,4)")
        .alias("srv"),
    )
    nd = F.col("n").cast("double")
    sv = F.col("sv").cast("double")
    srv = F.col("srv").cast("double")
    return (
        agg.where(F.col("sv") > 0)
        .select(
            F.col("k").alias(key_col),
            F.col("n").cast("long").alias("n_members"),
            F.round(
                (2.0 * srv - (nd + 1.0) * sv) / (nd * sv), 6
            ).alias("gini"),
        )
    )


def path_trigrams(
    events: DataFrame,
    k: int = 20,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Top-k length-3 behavioral paths — the "view → click → purchase"
    mining behind journey analysis; the sequence-order extension of
    :func:`transition_matrix` (which stops at pairs).

    One window keyed on the user (bounded per-key frames, high-card
    key — the running_user_value shape) carries two leads; the triple
    counts are a partial agg on the bounded (t1, t2, t3) key and the
    global top-k plans as TakeOrderedAndProject.  (ts, id) totalizes
    the per-user order so same-timestamp events sequence identically
    in both engines.  Output: (t1, t2, t3, n), count-desc.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    t = events.select(
        F.col(type_col).alias("t1"),
        F.lead(type_col, 1).over(w).alias("t2"),
        F.lead(type_col, 2).over(w).alias("t3"),
    ).where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    return (
        t.groupBy("t1", "t2", "t3")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "t1", "t2", "t3")
        .limit(k)
    )


def burstiness(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    min_gaps: int = 5,
) -> DataFrame:
    """Per-key burstiness of inter-event gaps — Goh & Barabási's
    B = (σ−μ)/(σ+μ) ∈ (−1, 1): −1 = metronome, 0 = Poisson, →1 =
    heavy bursts — the traffic-shape classifier behind rate-limit and
    bot detection.

    Gaps are exact BIGINT microseconds from one user-keyed window
    (lead − ts); Σg and Σg² aggregate as exact DECIMALs (g² as
    DECIMAL(37,0) — a BIGINT square would overflow at day-scale
    gaps); μ, σ, and B are one fixed IEEE chain on the exact sums, so
    both engines land identical doubles.  Keys with < ``min_gaps``
    gaps are dropped (B is noise there).  Output: (user_id, n_gaps,
    mean_gap_s, burstiness).
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    g = (
        events.select(
            F.col(user_col).alias("user_id"),
            (F.lead(us, 1).over(w) - us).alias("g"),
        )
        .where(F.col("g").isNotNull())
    )
    gd = F.col("g").cast("decimal(18,0)")
    agg = g.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(gd).cast("decimal(38,0)").alias("s"),
        F.sum((gd * gd).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("ssq"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    qd = F.col("ssq").cast("double")
    mu = sd / nd
    var = (nd * qd - sd * sd) / (nd * nd)
    sg = F.sqrt(var)
    return (
        agg.where(F.col("n") >= min_gaps)
        .select(
            "user_id",
            F.col("n").cast("long").alias("n_gaps"),
            F.round(mu / 1e6, 6).alias("mean_gap_s"),
            F.round((sg - mu) / (sg + mu), 6).alias("burstiness"),
        )
    )


def audience_overlap(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Pairwise audience overlap between event types — "how much of
    the purchase audience also errors?" — the segment Venn matrix:
    |A∩B|, |A|, |B| and the Jaccard for every unordered type pair.

    ONE pass: the distinct (user, type) grain collapses to a per-user
    SORTED type array, pairs generate INSIDE the array with nested
    higher-order transforms (the grouped_correlation device — a
    type-keyed self-join would rescan the grain), and per-type
    audience sizes ride back via a broadcast join on the bounded type
    key (ReusedExchange dedupes the shared grain subtree).  Integer
    counts; Jaccard is one correctly-rounded division.  Output:
    (type_a, type_b, n_both, n_a, n_b, jaccard).
    """
    ut = events.select(
        F.col(user_col).alias("u"), F.col(type_col).alias("t")
    ).distinct()
    sizes = ut.groupBy("t").agg(F.count("*").alias("sz"))
    arr = ut.groupBy("u").agg(F.sort_array(F.collect_set("t")).alias("ts"))
    pairs = (
        arr.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ts",
                        lambda x: F.transform(
                            F.filter("ts", lambda y: y > x),
                            lambda y: F.struct(
                                x.alias("type_a"), y.alias("type_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    sa = sizes.select(F.col("t").alias("type_a"), F.col("sz").alias("n_a"))
    sb = sizes.select(F.col("t").alias("type_b"), F.col("sz").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


def markov_stationary(
    events: DataFrame,
    iters: int = 5,
    scale: int = 1_000_000,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    tie_col: str = "event_id",
) -> DataFrame:
    """Approximate stationary distribution of the behavioral Markov
    chain — "where does a user END UP spending time" — by ``iters``
    power-iteration steps from the uniform start, entirely in 64-bit
    FIXED-POINT integer arithmetic (the pagerank_fixedpoint device):
    every quantity is an integer multiple of 1/scale and every step
    uses only BIGINT sums and floor division, so the result is
    bit-identical across engines and aggregation orders — an
    iterative float algorithm made oracle-able.

        p_ij = (n_ij · scale) DIV n_i·       (row-normalized counts)
        π'_j = (Σ_i π_i · p_ij) DIV scale

    The transition counts come from ONE lag window per key (the
    transition_matrix shape — |states|² matrix rows regardless of
    corpus size); each iteration is a join+agg over that metadata-
    sized matrix, so the unrolled loop costs |states|²·iters rows
    total.  Floor division leaks ≤|states| units of mass per step —
    the standard fixed-point simplification, identically in the twin.
    Output: (event_type, pi_fp) — pi_fp/scale ≈ stationary mass.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tie_col).asc()
    )
    pairs = (
        events.withColumn("_next", F.lead(state_col).over(w))
        .filter(F.col("_next").isNotNull())
        .select(
            F.col(state_col).alias("i"), F.col("_next").alias("j")
        )
    )
    counts = pairs.groupBy("i", "j").agg(F.count("*").alias("n"))
    row_n = F.sum("n").over(Window.partitionBy("i"))
    p = counts.select(
        "i",
        "j",
        (F.col("n") * scale).cast("long").alias("n_fp"),
        row_n.alias("rn"),
    ).select("i", "j", F.expr("n_fp DIV rn").alias("p_fp"))
    states = p.select(F.col("i").alias("s")).distinct()
    n_states = states.groupBy().agg(F.count("*").alias("k"))
    pi = states.crossJoin(F.broadcast(n_states)).select(
        "s", F.expr(f"CAST({scale} AS BIGINT) DIV k").alias("pi_fp")
    )
    for _ in range(iters):
        pi = (
            p.alias("p")
            .join(pi.alias("v"), F.col("p.i") == F.col("v.s"))
            .select(
                F.col("p.j").alias("s"),
                F.expr("v.pi_fp * p.p_fp").alias("m"),
            )
            .groupBy("s")
            .agg(F.expr(f"sum(m) DIV {scale}").cast("long").alias("pi_fp"))
        )
    return pi.select(F.col("s").alias(state_col), "pi_fp")


def dwell_time(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    state_col: str = "event_type",
) -> DataFrame:
    """Per-state dwell time — how long users SIT in each state before
    their next event — the duration companion to
    :func:`transition_matrix` (which counts where they go) and the
    input behind "users stall on the error screen" findings.

    An event's dwell is the exact BIGINT-microsecond gap to the SAME
    user's next event (one user-keyed window, (ts, id)-totalized
    order; each user's last event has no forward gap and contributes
    visits but no dwell — the twap convention).  One partial agg on
    the bounded state key; means are single correctly-rounded
    divisions of exact sums.  Output: (state, n_visits, n_dwells,
    total_dwell_s, mean_dwell_s).
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    g = events.select(
        F.col(state_col).alias("state"),
        (F.lead(us, 1).over(w) - us).alias("dwell_us"),
    )
    return g.groupBy("state").agg(
        F.count("*").alias("n_visits"),
        F.count("dwell_us").alias("n_dwells"),
        F.round(
            F.sum("dwell_us").cast("double") / 1e6, 6
        ).alias("total_dwell_s"),
        F.round(
            F.sum("dwell_us").cast("double")
            / F.count("dwell_us").cast("double")
            / 1e6,
            6,
        ).alias("mean_dwell_s"),
    )


def holt_linear(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tie_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key Holt double exponential smoothing (level + trend) with
    α = β = 1/2 — the one-step forecaster :func:`ewma` can't be (an
    EWMA lags any trending series; Holt's trend term tracks it):

        l₁ = x₁,  b₁ = 0
        lᵢ = 0.5·xᵢ + 0.5·(lᵢ₋₁ + bᵢ₋₁)
        bᵢ = 0.5·(lᵢ − lᵢ₋₁) + 0.5·bᵢ₋₁

    BIT-DETERMINISTIC by the ewma device: both smoothing constants
    are the binary power 1/2 (pure exponent decrements, no mantissa
    rounding on the scale step) and each remaining add/subtract rounds
    identically under IEEE-754 in any engine, so the DuckDB twin — a
    recursive CTE replaying the identical chain — reproduces every
    double exactly.  The fold runs as a JVM higher-order ``aggregate``
    over each key's time-sorted array (one shuffle; per-key sequence
    lengths bounded — the ewma assumption).  Output: (key, n_obs,
    level, trend, forecast = level + trend), unrounded doubles.
    """
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(ts_col).alias("ts"),
                F.col(tie_col).alias("tie"),
                F.col(value_col).alias("x"),
            )
        )
    )
    folded = F.aggregate(
        F.slice(F.col("_arr"), 2, F.greatest(F.size("_arr") - 1, F.lit(0))),
        F.struct(
            F.element_at(F.col("_arr"), 1)["x"].alias("l"),
            F.lit(0.0).alias("b"),
        ),
        lambda acc, e: F.struct(
            (F.lit(0.5) * e["x"] + F.lit(0.5) * (acc["l"] + acc["b"]))
            .alias("l"),
            (
                F.lit(0.5)
                * (
                    (
                        F.lit(0.5) * e["x"]
                        + F.lit(0.5) * (acc["l"] + acc["b"])
                    )
                    - acc["l"]
                )
                + F.lit(0.5) * acc["b"]
            ).alias("b"),
        ),
    )
    return (
        events.where(F.col(value_col).isNotNull())
        .groupBy(key_col)
        .agg(arr.alias("_arr"))
        .filter(F.size("_arr") > 0)
        .select(
            key_col,
            F.size("_arr").cast("long").alias("n_obs"),
            folded.alias("_f"),
        )
        .select(
            key_col,
            "n_obs",
            F.col("_f.l").alias("level"),
            F.col("_f.b").alias("trend"),
            (F.col("_f.l") + F.col("_f.b")).alias("forecast"),
        )
    )
