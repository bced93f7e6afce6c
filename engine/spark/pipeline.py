"""End-to-end extraction pipeline (the Spark analog of
process_pdf_to_markdown, /root/reference/mistralocr_app.py:546-765).

One declarative DataFrame DAG:

    scan (column-pruned: conv_id, turn_idx, text)
      → [map] Arrow-batched structural parse (parse_udf)   — no shuffle
      → [expr] image discovery + P2 OCR insert + P3 link rewrite
               (whole-stage-codegen'd Catalyst expressions)  — no shuffle
      → turns table
      → [2-phase grouped concat] per-conversation documents — bounded skew
      → [mapInPandas] span table

The parse stage is shuffle-free: parquet splits give per-task
parallelism, so a 10^6-turn conversation is already spread across tasks
(unit of work = turn, not document).  Only document assembly shuffles,
and it is chunk-salted (assemble.assemble_docs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from engine.core import spec
from engine.spark import assemble, parse_udf


def extract_turns(transcripts: DataFrame) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → turns
    (conv_id, turn_idx, markdown, images).

    One output row per input row.  ``markdown`` is never null, and it is
    ``""`` exactly when the payload's parse is empty: the assembly steps
    only replace an image placeholder with longer text."""
    df = transcripts.select("conv_id", "turn_idx", "text")
    parsed = df.withColumn(
        "markdown", parse_udf.extract_markdown_udf(F.col("text"))
    ).drop("text")
    parsed = parsed.withColumn("markdown", F.coalesce("markdown", F.lit("")))
    parsed = parsed.withColumn("images", assemble.images_col("markdown"))
    parsed = parsed.withColumn(
        "markdown",
        assemble.insert_ocr_blocks(
            F.col("markdown"), F.col("images"), F.col("conv_id"), F.col("turn_idx")
        ),
    )
    parsed = parsed.withColumn(
        "markdown",
        assemble.rewrite_links(
            F.col("markdown"), F.col("images"), F.col("conv_id"), F.col("turn_idx")
        ),
    )
    return parsed.select("conv_id", "turn_idx", "markdown", "images")


def extract_docs(turns: DataFrame, chunk: int = 1024) -> DataFrame:
    """Per-conversation joined document (mistralocr_app.py:716-717)."""
    return assemble.assemble_docs(turns, chunk=chunk, sep=spec.DOC_JOIN)


def extract_spans(turns: DataFrame) -> DataFrame:
    """Flat span/block table (block tree kept columnar per north star)."""
    return parse_udf.explode_spans(turns)


def extract_images(turns: DataFrame) -> DataFrame:
    return assemble.images_table(turns)


def export_markdown_files(
    docs: DataFrame,
    out_dir: str,
    suffix: str = "original",
    limit: int | None = None,
) -> list[str]:
    """S4 markdown file sink (mistralocr_app.py:719-747): write
    ``{stem}_original.md`` / ``{stem}_translated.md`` per conversation,
    UTF-8, stem sanitised with ``replace(' ', '_')`` (:569).

    Driver-side convenience for small exports/debugging — the production
    sink is the docs *table*; never loop file writes inside tasks."""
    import os

    from engine.core import spec as _spec

    os.makedirs(out_dir, exist_ok=True)
    it = docs.select("conv_id", "markdown")
    if limit:
        it = it.limit(limit)
    paths = []
    for row in it.toLocalIterator():
        stem = _spec.sanitize_stem(row["conv_id"])
        path = os.path.join(out_dir, f"{stem}_{suffix}.md")
        with open(path, "w", encoding="utf-8") as f:
            f.write(row["markdown"])
        paths.append(path)
    return paths


def write_clustered(
    df: DataFrame,
    path: str,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Layout-aware parquet write: range-partition on the leading order
    column, then sort within partitions, so every file's parquet
    row-group min/max statistics on the sort keys are tight and
    (across files) disjoint on the leading key.

    Why this matters at 100 TB: a downstream range or point predicate on
    the sort key (e.g. one conv_id, one time window) prunes whole files
    at planning time and whole row groups at scan time — the difference
    between touching gigabytes and touching everything.  An unsorted
    write scatters every key across every file, making min/max stats
    useless (each file spans ~the full key domain).

    ``repartitionByRange`` samples the key distribution, so skewed keys
    get proportive ranges instead of hash-uniform files; Spark's sample
    is seeded per-plan — the written *content* is identical either way
    (tests assert layout properties, not file bytes)."""
    keys = [F.col(c) for c in order_cols]
    part = (
        df.repartitionByRange(n_files, keys[0])
        if n_files
        else df.repartitionByRange(keys[0])
    )
    (
        part.sortWithinPartitions(*keys)
        .write.mode(mode)
        .parquet(path)
    )


# Python str.isspace()'s exact character set, spelled as LITERAL chars
# (ranges included) so one class string is valid in Java regex (Spark
# rlike), RE2 (DuckDB regexp_matches) and Python re alike — none of
# their \s escapes covers the non-ASCII members (NBSP, NEL, ogham,
# en/em spaces, LS/PS, NNBSP, MMSP, ideographic space).
PY_WS_CLASS = (
    "[\t-\r \x1c-\x1f\x85\xa0\u1680\u2000-\u200a"
    "\u2028\u2029\u202f\u205f\u3000]"
)


def blank_text(text: Column) -> Column:
    """Null or whitespace-only payload — the parser's KIND_EMPTY rule
    (Python ``str.strip``).  Both Java's and RE2's ``\\s`` are
    ASCII-only, so PY_WS_CLASS spells the full Python-isspace set as
    literal characters; the same class string works verbatim in Spark
    ``rlike`` and the DuckDB oracle."""
    return text.isNull() | text.rlike(f"^{PY_WS_CLASS}*$")


def quarantine(transcripts: DataFrame) -> DataFrame:
    """Error channel for malformed payloads — the batch analog of the
    reference's per-page error-marker semantics (translate stage,
    mistralocr_app.py:161,:183): bad rows are *diverted*, never crash
    the pipeline and never silently vanish.

    Reasons:
      * ``empty_payload``     — null / whitespace-only text
      * ``empty_extraction``  — non-blank input whose structural parse
        yields no markdown (e.g. tag-only HTML boilerplate)

    Same shuffle-free shape as extract_turns: scan → one Arrow parse →
    codegen'd classification filter."""
    md = parse_udf.extract_markdown_udf(F.col("text"))
    base = transcripts.select(
        "conv_id", "turn_idx", "text", md.alias("markdown")
    )
    reason = (
        F.when(blank_text(F.col("text")), F.lit("empty_payload"))
        .when(F.length("markdown") == 0, F.lit("empty_extraction"))
    )
    return (
        base.withColumn("reason", reason)
        .where(F.col("reason").isNotNull())
        .select("conv_id", "turn_idx", "reason")
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    n_files: int | None = None,
    bits: int = 12,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) clustered parquet write over TWO numeric
    dimensions — the multi-dimensional sibling of ``write_clustered``
    (Delta/Iceberg ``OPTIMIZE ZORDER BY`` analog, built from plain
    DataFrame ops).

    Why it matters at 100 TB: a single-key sorted layout gives tight
    min/max file statistics on ONE column — predicates on a second
    column still touch every file.  Interleaving the bit patterns of
    both (range-normalized) dimensions into one Morton code and
    range-partitioning + sorting on it makes every file cover a small
    RECTANGLE of the 2-D key space, so point/range predicates on
    EITHER column prune most files at planning time (each file's
    min/max on each original column spans ~domain/2^(files^0.5) instead
    of the full domain).

    Construction is pure Catalyst, fully lazy: per-column min/max ride
    as a broadcast single-row aggregate (scan-only branch), each value
    is normalized to a ``bits``-bit integer, and the Morton code is a
    shift-or-mask spread cascade inside whole-stage codegen — then ONE
    range exchange on the code (sampled, so skewed dimensions still get
    proportionate files) and a per-partition sort.  No UDF, no second
    job, no driver action.

    The key arithmetic lives in ``engine.spark.zorder`` (micro-unit
    encoding + exact integer bucketing + O(log bits) spread) so the
    write layout and the cross-engine-checked ``zorder_cluster``
    contract row share ONE Morton implementation."""
    from engine.spark import zorder

    x, y = cols
    keyed = zorder.zorder_key(df, x, y, bits=bits, out_col="_z")
    part = (
        keyed.repartitionByRange(n_files, F.col("_z"))
        if n_files
        else keyed.repartitionByRange(F.col("_z"))
    )
    (
        part.sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str = "conv_id",
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Hash-bucketed managed-table write (``bucketBy`` + optional
    ``sortBy``) — the co-located-join layout.

    Why this matters at 100 TB: two fact tables bucketed on the same
    key with the same bucket count join WITHOUT a shuffle — Catalyst
    recognizes the bucketing as a pre-existing hash partitioning, so
    the join (and any groupBy on the key) skips its Exchange entirely.
    On a recurring pipeline that joins the same corpus tables every run
    (turns ⋈ curation, corpus ⋈ signatures), paying one bucketed write
    amortizes the per-run shuffle of BOTH sides to zero.  The
    shuffle-free plan is asserted in tests/test_layout.py.

    Bucketing requires a metastore table (saveAsTable) — plain
    ``.parquet(path)`` writes don't record bucket metadata.  The
    bucket-pruning twin for plain paths is write_clustered/zordered.
    """
    w = df.write.mode(mode).format("parquet")
    if path is not None:  # external table — data at an explicit location
        w = w.option("path", path)
    if sort_col is not None:
        w = w.bucketBy(n_buckets, bucket_col).sortBy(sort_col)
    else:
        w = w.bucketBy(n_buckets, bucket_col)
    w.saveAsTable(table_name)


def footer_stats(
    spark,
    path: str,
    count: bool = True,
    min_cols: tuple[str, ...] = (),
    max_cols: tuple[str, ...] = (),
) -> DataFrame:
    """COUNT/MIN/MAX answered from parquet FOOTER metadata — zero data
    pages read (Spark's DSv2 aggregate pushdown, surfaced as an
    operator).  At 100 TB this is the difference between a metadata
    round-trip and a full scan: row-group headers already carry
    row counts and per-column min/max, so the "scan" returns one
    pre-aggregated row per file split.

    Spark only applies the pushdown through the V2 parquet source with
    ``spark.sql.parquet.aggregatePushdown`` on; both confs are set for
    PLANNING only and restored before returning — the physical plan is
    forced eagerly (QueryExecution caches it), so the returned
    DataFrame keeps its pushed plan while the session's source
    selection is left exactly as found.  Falls back transparently (same
    results, data-page scan) for types parquet stats can't serve.

    Mirrors write_zordered's min/max-stats story from the READ side:
    the same footer statistics that prune z-ordered scans also answer
    these aggregates outright.
    """
    conf = spark.conf
    prev_push = conf.get("spark.sql.parquet.aggregatePushdown", "false")
    prev_v1 = conf.get("spark.sql.sources.useV1SourceList")
    conf.set("spark.sql.parquet.aggregatePushdown", "true")
    conf.set(
        "spark.sql.sources.useV1SourceList",
        ",".join(
            s for s in (prev_v1 or "").split(",") if s and s != "parquet"
        ),
    )
    try:
        aggs = []
        if count:
            aggs.append(F.count(F.lit(1)).alias("n_rows"))
        aggs += [F.min(c).alias(f"min_{c}") for c in min_cols]
        aggs += [F.max(c).alias(f"max_{c}") for c in max_cols]
        out = spark.read.parquet(path).agg(*aggs)
        # force physical planning NOW, while the pushdown confs hold;
        # QueryExecution is cached on the DataFrame, so later actions
        # reuse the pushed plan even after the confs are restored
        out._jdf.queryExecution().executedPlan()
        return out
    finally:
        conf.set("spark.sql.parquet.aggregatePushdown", prev_push)
        if prev_v1 is None:
            conf.unset("spark.sql.sources.useV1SourceList")
        else:
            conf.set("spark.sql.sources.useV1SourceList", prev_v1)


def csv_ingest_quarantine(
    spark,
    path: str,
    schema_ddl: str,
):
    """CSV ingestion with malformed-row quarantine — the PERMISSIVE-
    mode pattern every production loader needs: rows that parse land
    typed, rows that don't land VERBATIM in ``_corrupt_record`` instead of
    killing the job (FAILFAST) or vanishing (DROPMALFORMED).

    Returns (clean_df, quarantine_df).  ``schema_ddl`` must NOT
    mention the corrupt column — it is appended here.  Two Spark
    caveats are handled for the caller:

    * a row is corrupt only if ``_corrupt_record`` is non-null — Spark
      leaves it NULL on clean rows, so the split is one filter each;
    * Spark DISALLOWS queries that column-prune down to only the
      corrupt column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
      COLUMN — the referenced columns would otherwise skip the very
      parse that fills it), and the optimizer prunes regardless of
      what the caller selects; the documented workaround is a
      materialization boundary, so the parsed frame is CACHED here.
      At 100 TB replace the cache with a staging write of the parsed
      frame (same boundary, durable) — the split itself is unchanged.

    Scale: the CSV scan is splittable (no multiline), schema is
    explicit (no inference pass over 100 TB), and both outputs stream
    from the same scan.
    """
    from pyspark.sql import functions as F

    df = (
        spark.read.schema(f"{schema_ddl}, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("header", "false")
        .csv(path)
    ).cache()
    # bounded-cache discipline (advisor r5): a repeated call would
    # otherwise accumulate cached parsed frames in executor storage for
    # the session's lifetime; evict the previous call's frame — its
    # consumers have either materialized or will recompute from source
    while _QUARANTINE_CACHE:
        _QUARANTINE_CACHE.pop().unpersist()
    _QUARANTINE_CACHE.append(df)
    corrupt = F.col("_corrupt_record")
    clean = df.where(corrupt.isNull()).drop("_corrupt_record")
    quarantine = df.where(corrupt.isNotNull())
    return clean, quarantine


_QUARANTINE_CACHE: list = []
