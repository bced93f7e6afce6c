"""Per-partition lineage + idempotent checkpoint resume.

Replaces the reference's pickle checkpoints
(/root/reference/mistralocr_app.py:523-541, gating at :585-597,
:603-623, :630-649) with table-native semantics:

  * work is bucketed by ``part_hash = pmod(xxhash64(conv_id), n_buckets)``
    — a conversation never straddles buckets, so a completed bucket is a
    complete set of documents;
  * after a job's outputs commit, it appends one lineage file: per
    extracted bucket a row (input_snapshot_id, run_id, part_hash,
    turn_count, conv_count, image_count, bucket_sig, ts, status='done'),
    and per bucket a derived stage wrote a row whose status is that
    stage's table name (counts and bucket_sig NULL);
  * on restart, buckets with status='done' for the same input snapshot
    are skipped — or, with ``detect_changes``, buckets whose
    CONTENT signature matches their latest completed run (incremental
    recompute independent of snapshot ids); a derived stage rebuilds a
    bucket unless its latest stage row is at least as new as the
    bucket's latest 'done' row, so lineage is the one record of what
    each bucket holds; outputs are written with dynamic partition
    overwrite keyed on part_hash, so replays are idempotent — run-twice
    == run-once (the reference's stage-skip semantics, improved to
    partition granularity);
  * downstream consumers read deltas via changed_buckets_since /
    read_turns_since (CDC cursor over lineage timestamps), and
    compact_turns keeps bucket partitions at one file each.

Parquet + manifest fallback for the sandbox (no Iceberg jar in the
Spark 4.1.2 install); the writer is a thin adapter so MERGE INTO on an
Iceberg catalog slots in unchanged.
"""

from __future__ import annotations

import functools
import os
import re
import time
import uuid
from typing import Callable, NamedTuple

import pandas as pd
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from engine.core import spec
from engine.spark import pipeline

LINEAGE_COLS = [
    "input_snapshot_id",
    "run_id",
    "part_hash",
    "turn_count",
    "conv_count",
    "image_count",
    "bucket_sig",
    "ts",
    "status",
]


def with_part_hash(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "part_hash", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def _lineage_path(output_dir: str) -> str:
    return os.path.join(output_dir, "_lineage")


def read_lineage(spark: SparkSession, output_dir: str) -> DataFrame | None:
    """The lineage rows, or None when no run has completed a bucket."""
    path = _lineage_path(output_dir)
    # An explicit list of the files: Spark counts a directory whose name
    # starts with "_" as hidden and logs a WARN on every read of it (a
    # glob logs a caught FileNotFoundException instead).  Listing first
    # also keeps fresh runs from probing a missing path.
    names = os.listdir(path) if os.path.isdir(path) else []
    files = sorted(
        os.path.join(path, f) for f in names if f.endswith(".parquet")
    )
    if not files:
        return None
    # mergeSchema: lineage files written by older engine versions may
    # lack newer columns (bucket_sig, ts) — union the footers so they
    # surface as nulls instead of being silently dropped
    return spark.read.option("mergeSchema", "true").parquet(*files)


def done_buckets(spark: SparkSession, output_dir: str, snapshot_id: str) -> DataFrame | None:
    lin = read_lineage(spark, output_dir)
    if lin is None:
        return None
    return (
        lin.filter(
            (F.col("status") == "done")
            & (F.col("input_snapshot_id") == snapshot_id)
        )
        .select("part_hash")
        .distinct()
    )


def _bucket_sigs(src: DataFrame) -> dict[int, int]:
    """The job's one aggregation of its input: per bucket, the content
    signature (order-independent bit_xor of per-row xxhash64(conv_id,
    turn_idx, text))."""
    rows = src.groupBy("part_hash").agg(
        F.bit_xor(F.xxhash64("conv_id", "turn_idx", "text")).alias("sig")
    ).collect()
    return {int(r["part_hash"]): int(r["sig"]) for r in rows}


def quarantine_from_turns(rows: DataFrame, turns: DataFrame) -> DataFrame:
    """``pipeline.quarantine(rows)`` without a second parse.  ``turns``
    are the committed turns of the same buckets; (conv_id, turn_idx)
    names one row.  A committed turn has empty markdown exactly when its
    payload's parse was empty (``pipeline.extract_turns``), and every
    blank payload is one of these.  So the quarantined rows are the input
    rows whose key is among the empty-markdown turns, found by a
    left-semi join, and the reason follows from the text alone, in
    Catalyst.  The text is reduced to its blank flag before the join, so
    only keys and a boolean cross it.  The join strategy is left to the
    planner and AQE: the key set grows with the corpus, so it is not
    forced into a broadcast."""
    empty = turns.where(F.col("markdown") == "").select(
        F.col("conv_id").alias("_conv_id"), F.col("turn_idx").alias("_turn_idx")
    )
    flagged = rows.select(
        "conv_id", "turn_idx", pipeline.blank_text(F.col("text")).alias("_blank")
    )
    hit = flagged.join(
        empty,
        F.col("conv_id").eqNullSafe(F.col("_conv_id"))
        & F.col("turn_idx").eqNullSafe(F.col("_turn_idx")),
        "left_semi",
    )
    reason = F.when(F.col("_blank"), F.lit("empty_payload")).otherwise(
        F.lit("empty_extraction")
    )
    return hit.select("conv_id", "turn_idx", reason.alias("reason"))


def changed_buckets_since(
    spark: SparkSession, output_dir: str, since_ts: float
) -> list[int]:
    """Buckets whose latest completed run finished after ``since_ts`` —
    the CDC cursor for downstream consumers: re-index / re-dedup only
    what a later run actually rewrote.  Driver-side list (≤ n_buckets)."""
    lin = read_lineage(spark, output_dir)
    if lin is None or "ts" not in lin.columns:
        return []
    rows = (
        lin.filter((F.col("status") == "done") & F.col("ts").isNotNull())
        .groupBy("part_hash")
        .agg(F.max("ts").alias("last_ts"))
        .filter(F.col("last_ts") > since_ts)
        .collect()
    )
    return sorted(int(r["part_hash"]) for r in rows)


def read_turns_since(
    spark: SparkSession, output_dir: str, since_ts: float
) -> DataFrame:
    """The committed turns of every bucket rewritten after ``since_ts``
    — partition-pruned scan (the part_hash filter prunes directories),
    so an incremental consumer touches only changed data."""
    turns_out = os.path.join(output_dir, "turns")
    buckets = changed_buckets_since(spark, output_dir, since_ts)
    df = spark.read.parquet(turns_out)
    if not buckets:
        return df.filter(F.lit(False))
    return df.filter(F.col("part_hash").isin(buckets))


def _write_buckets(df: DataFrame, path: str) -> None:
    """Write ``df`` as a table partitioned on its ``part_hash`` column.
    Idempotent resume REQUIRES dynamic partition overwrite (the static
    default wipes previously committed buckets); it is set per write so
    the shared session's conf is never mutated."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_hash")
        .parquet(path)
    )


def compact_turns(
    spark: SparkSession,
    output_dir: str,
) -> dict[str, int]:
    """Small-file compaction of the committed turns table — the routine
    maintenance op a long-lived 10^12-turn table needs: the extraction
    write fans each map task out across every bucket it touches, so a
    bucket partition accumulates up to one file per task per run and
    readers degrade as file counts grow.  Bucket-preserving rewrite:
    ``repartition("part_hash")`` puts each bucket on exactly one task
    (parallelism = #buckets) so every partition lands as one file;
    dynamic overwrite stages the rewrite before swapping, which also
    makes the read-rewrite-same-path cycle safe; row content is
    untouched (tested).  The Iceberg analog is rewrite_data_files."""
    turns_out = os.path.join(output_dir, "turns")

    def _count_files() -> int:
        return sum(
            1
            for _, _, files in os.walk(turns_out)
            for f in files
            if f.endswith(".parquet")
        )

    before = _count_files()
    df = spark.read.parquet(turns_out)
    _write_buckets(df.repartition("part_hash"), turns_out)
    return {"files_before": before, "files_after": _count_files()}


def _lineage_state(
    spark: SparkSession, output_dir: str, snapshot_id: str
) -> dict[int, Row]:
    """The job's one read of ``_lineage``: per bucket with a 'done' row
    (≤ n_buckets rows), ``snap_tc`` — the max turn_count recorded for
    ``snapshot_id`` (None if the snapshot never completed the bucket) —
    the ``sig`` and ``turn_count`` of the latest completed run,
    ``turns_ts``, the time of that run, and per ``STAGES`` entry, under
    its table name, the time of the bucket's latest build of that stage
    (None if it has none).  Rows lacking a timestamp or signature (files
    written before those columns existed) never count as the latest."""
    lin = read_lineage(spark, output_dir)
    if lin is None:
        return {}
    for col, typ in (("bucket_sig", "long"), ("ts", "double")):
        if col not in lin.columns:
            lin = lin.withColumn(col, F.lit(None).cast(typ))
    done = F.col("status") == "done"
    snap = done & (F.col("input_snapshot_id") == snapshot_id)
    done_ts = F.when(done, F.col("ts"))
    sig_ts = F.when(F.col("bucket_sig").isNotNull(), done_ts)
    rows = (
        lin.groupBy("part_hash")
        .agg(
            F.max(F.when(snap, F.col("turn_count"))).alias("snap_tc"),
            F.max_by("bucket_sig", sig_ts).alias("sig"),
            F.max_by("turn_count", done_ts).alias("turn_count"),
            # a 'done' row without a timestamp is older than any stage row
            F.max(F.when(done, F.coalesce("ts", F.lit(0.0)))).alias("turns_ts"),
            *[
                F.max(F.when(F.col("status") == st.out, F.col("ts"))).alias(st.out)
                for st in STAGES
            ],
        )
        .where(F.col("turns_ts").isNotNull())
        .collect()
    )
    return {int(r["part_hash"]): r for r in rows}


def _regex_literal(text: str) -> str:
    """``text`` as a JVM regex that matches it literally."""
    quoted = re.sub(r"[\\.^$|?*+()\[\]{}]", lambda m: "\\" + m.group(), text)
    return quoted.replace("\n", r"\n")


# Assembly artifacts a document carries besides its content: the OCR
# stub block of every image (``spec.OCR_BLOCK_PREFIX`` without its leading
# blank line, the OCR JSON, ``spec.OCR_BLOCK_SUFFIX``) and image embeds.
_OCR_BLOCK_RX = (
    "(?s)"
    + _regex_literal(spec.OCR_BLOCK_PREFIX.lstrip("\n"))
    + ".*?"
    + _regex_literal(spec.OCR_BLOCK_SUFFIX)
)
_IMAGE_EMBED_RX = r"!\[[^\]]*\]\([^)]*\)"


def doc_content(markdown: Column) -> Column:
    """Assembled markdown with its OCR stub blocks and image embeds
    removed — the text the curation metrics and near-dup signatures are
    computed over."""
    return F.regexp_replace(
        F.regexp_replace(markdown, _OCR_BLOCK_RX, ""), _IMAGE_EMBED_RX, ""
    )


def _build_spans(turns: DataFrame) -> DataFrame:
    # char spans of every markdown block; looked up per call, so a test can
    # make pipeline.extract_spans fail mid-job
    return pipeline.extract_spans(turns)


def _build_translated_docs(turns: DataFrame) -> DataFrame:
    # translated documents (T1 + P4 over the translated pages,
    # mistralocr_app.py:717), derived from the committed turns per bucket
    from engine.spark import translate as tmod

    return tmod.translated_docs(tmod.translate_turns(turns))


def _build_curation(docs: DataFrame) -> DataFrame:
    # Per-conversation curation metrics table (round-4 quality ops:
    # repetition stats + PII counts over the assembled documents) — the
    # scores a 10^12-turn corpus filter/monitor job reads instead of
    # re-scanning text.  Derived from the committed docs table, so it is
    # incremental per bucket and a completed run re-executed with
    # curate=True backfills every bucket.
    from engine.spark import text as etext

    # Metrics over CONTENT, not assembly artifacts: the inserted OCR stub
    # blocks, image embeds and rewritten link targets carry conv-id digit
    # runs and repeated boilerplate that would pollute both the
    # repetition ratios and the PII regex counts (an 8-digit conv id
    # segment matches the conservative phone pattern) — same
    # normalization rationale as the near-dup signature input.
    content = F.regexp_replace(
        doc_content(F.col("markdown")), r"\]\([^)]*\)", "]()"
    )
    docs_for = docs.select(
        F.col("conv_id").alias("doc_id"), content.alias("text")
    )
    rep = etext.repetition_stats(docs_for)
    # LEFT join from the PII side: pii_scrub is a projection (exactly one
    # row per conversation), while repetition_stats yields no row for a
    # conv whose normalized content is empty (e.g. all OCR stubs) — an
    # inner join would silently drop those convs from the curation table.
    # Empty-content convs keep a row with n_tokens=0 and NULL ratios.
    pii = etext.pii_scrub(docs_for).drop("clean_text")
    # the quality gate (same semantics as the corpus_curation contract
    # query: NULL metrics fail the gate).  Its cutoffs are fixed: lineage
    # does not record them, so a configurable cutoff would leave a resumed
    # table mixing rows gated two ways.  The raw metrics are stored
    # alongside `keep`, so a consumer re-derives it with other cutoffs
    # from the same table without re-scanning text; dedup keep-lists are
    # the --dedup stage's job, not curation's.
    kept = F.coalesce(
        F.col("dup_bigram_ratio") <= 0.5, F.lit(False)
    ) & F.coalesce(F.col("n_tokens") >= 5, F.lit(False))
    return pii.join(rep, "doc_id", "left").select(
        F.col("doc_id").alias("conv_id"),
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("n_distinct", F.lit(0)).cast("long").alias("n_distinct"),
        "distinct_ratio",
        "top_share",
        "dup_bigram_ratio",
        "n_emails",
        "n_ips",
        "n_phones",
        kept.alias("keep"),
    )


def _build_line_counts(docs: DataFrame) -> DataFrame:
    # Cross-document line dedup, split at the same seam as --dedup: (1)
    # per-bucket line-fingerprint DOC-counts — the pass that touches
    # document text — incremental + backfill-aware; (2) the global
    # boilerplate-line table (_publish_boilerplate).  Summing per-bucket
    # DISTINCT-conv counts is exact because a conversation never spans
    # buckets (part_hash is a function of conv_id), so no conv is
    # double-counted across bucket rows.
    from engine.spark.dedup import portable_hash60

    # same id-blank normalization as --dedup: assembled markdown embeds
    # conv_id in link paths/OCR stubs, which would make every such line
    # unique per conversation and invisible to the cross-document
    # frequency count
    content = F.expr("replace(markdown, conv_id, '<conv>')")
    lines = docs.select(
        "conv_id", "part_hash", F.explode(F.split(content, "\n")).alias("line")
    )
    return lines.groupBy(
        "part_hash", portable_hash60(F.col("line")).alias("lfp")
    ).agg(F.countDistinct("conv_id").alias("n_docs"))


def _publish_boilerplate(counts: DataFrame) -> DataFrame:
    # A sum over the compact counts table only (8-byte keys + counts,
    # never text), wholesale-overwritten, cheap to recompute.  A consumer
    # strips boilerplate by anti-joining exploded doc lines against
    # boilerplate_lines on the fingerprint.  A line is boilerplate when at
    # least 3 conversations hold it; the cutoff is fixed so the table
    # depends on line_counts alone, and a consumer wanting another cutoff
    # sums line_counts' per-bucket doc counts itself, with no text re-scan.
    return (
        counts.groupBy("lfp")
        .agg(F.sum("n_docs").alias("line_df"))
        .where(F.col("line_df") >= 3)
    )


def _build_conv_curation(rows: DataFrame) -> DataFrame:
    # Conversation-level curation (transcript_curation): run-collapse
    # repeat ratio, alternation violations and the SFT-usability gate.
    # Computed from the ORIGINAL transcripts (role/text never reach the
    # committed turns table — the parse stage prunes them), and
    # conversations never split across buckets (part_hash is a function
    # of conv_id), so the metrics are bucket-local.  The gate uses
    # transcript_curation's default cutoffs, fixed for the same reason as
    # _build_curation's; the raw metrics stay in the table.
    from engine.spark import conversation

    return conversation.transcript_curation(
        rows.select("conv_id", "turn_idx", "role", "text")
    )


def _build_fingerprints(docs: DataFrame) -> DataFrame:
    # Two-phase dedup: (1) per-bucket document fingerprints — the
    # expensive pass — are incremental and backfill-aware; (2) exact-dup
    # clusters are a GLOBAL reduction, but over the compact fingerprint
    # table (one row per conversation, not per turn), so rewriting them
    # every run costs one small groupBy, never a corpus re-scan.
    from engine.spark.text import fingerprint as fp_col

    # id-normalized content fingerprint: the assembled markdown embeds
    # conv_id (image link paths, OCR stubs), so a re-ingested
    # conversation under a NEW id would never match its twin — blank the
    # id out before hashing
    content = F.expr("replace(markdown, conv_id, '<conv>')")
    return docs.select(
        "conv_id",
        fp_col(content).alias("fp"),
        F.length("markdown").alias("n_chars"),
        "part_hash",
    )


def _publish_dup_clusters(fps: DataFrame) -> DataFrame:
    return (
        fps.groupBy("fp")
        .agg(
            F.min("conv_id").alias("keep_conv_id"),
            F.count("*").alias("n_members"),
        )
        .where(F.col("n_members") >= 2)
    )


def _build_signatures(docs: DataFrame) -> DataFrame:
    # Near-dup clustering split at the right seam: (1) MinHash signatures
    # — the pass that touches document text — are per-bucket incremental
    # + backfill-aware; (2) pair generation + connected components run
    # globally (_publish_near_dup_clusters).
    from engine.spark import dedup as dmod

    # hash CONTENT, not assembly artifacts: the OCR-stub blocks and image
    # links the pipeline inserts are near-identical across conversations
    # once the id is normalized out, so leaving them in makes image-heavy
    # documents look like near-dups of each other regardless of their
    # actual text
    sigs = dmod.minhash_signatures(
        docs.select(
            F.col("conv_id").alias("doc_id"),
            doc_content(F.col("markdown")).alias("text"),
        ),
        num_perm=32,
    )
    return sigs.select(F.col("doc_id").alias("conv_id"), "sig")


def _publish_near_dup_clusters(sigs: DataFrame) -> DataFrame:
    # over the compact signature table (one 32-long array per
    # conversation): a banded equi-join + O(log n) star rounds — never a
    # corpus re-scan or an all-pairs product
    from engine.spark import dedup as dmod

    pairs = dmod.minhash_pairs_from_signatures(
        sigs.select(F.col("conv_id").alias("doc_id"), "sig"),
        num_perm=32,
        bands=16,
        min_jaccard=0.8,
    )
    return dmod.connected_components(pairs).selectExpr(
        "doc_id AS conv_id", "cluster_id AS cluster_conv_id"
    )


class Stage(NamedTuple):
    """A derived table of ``run_with_resume``, kept per bucket."""

    # the run_with_resume keyword that enables it; run_extract.py offers
    # it as --<flag> with "_" spelled "-"
    flag: str
    doc: str  # one line on what it writes: the CLI switch's help
    out: str  # its bucket-partitioned table under the output dir
    # what ``build`` reads, each restricted to the buckets to (re)write:
    # the committed "turns" or "docs", or the raw "input" rows
    sources: tuple[str, ...]
    build: Callable[..., DataFrame]  # sources → the stage rows
    # the global table computed from the whole stage table, rewritten when
    # a run wrote the stage or the table is missing, and its function
    publish: str | None = None
    publish_build: Callable[..., DataFrame] | None = None


# Every stage follows the rule of the reference's checkpoints: skip what
# is done, compute and save the rest — per bucket, with backfill.  The
# record of what is done is the lineage: a bucket needs the stage unless
# its latest row for the stage's table is at least as new as its latest
# 'done' row.  So a completed extraction re-run with a stage newly enabled
# fills it for already-done buckets, and a bucket re-extracted without the
# stage gets it rebuilt the next time the stage runs (for a stage built
# from the raw input: the next time the job's input holds the bucket).
STAGES = (
    Stage(
        "spans", "also write the span/block table",
        "spans", ("turns",), _build_spans,
    ),
    Stage(
        "translate",
        "also write translated documents (deterministic stand-in translator)",
        "docs_translated", ("turns",), _build_translated_docs,
    ),
    Stage(
        "curate",
        "also write per-conversation curation metrics (repetition, PII "
        "counts) over the documents, with a `keep` quality gate",
        "curation", ("docs",), _build_curation,
    ),
    Stage(
        "line_dedup",
        "also write per-bucket line-fingerprint doc counts and the global "
        "boilerplate_lines table",
        "line_counts", ("docs",), _build_line_counts,
        "boilerplate_lines", _publish_boilerplate,
    ),
    Stage(
        "conv_curate",
        "also write conversation-level curation (repeat ratio, role "
        "alternation, SFT-usability gate) over the raw transcripts",
        "conv_curation", ("input",), _build_conv_curation,
    ),
    # diverted-rows table (error channel, pipeline.quarantine): the
    # committed turns say WHICH rows (empty markdown), the ORIGINAL
    # payloads say WHY — the committed turns don't carry text, but the
    # input covers done buckets too — so no payload is parsed a second
    # time
    Stage(
        "quarantine",
        "also write the diverted-rows table (empty or tag-only payloads, "
        "with reasons)",
        "quarantine", ("input", "turns"), quarantine_from_turns,
    ),
    Stage(
        "dedup",
        "also write per-bucket document fingerprints and the global "
        "exact-dup cluster table",
        "fingerprints", ("docs",), _build_fingerprints,
        "dup_clusters", _publish_dup_clusters,
    ),
    Stage(
        "near_dup",
        "also write per-bucket MinHash signatures and the global near-dup "
        "cluster table",
        "signatures", ("docs",), _build_signatures,
        "near_dup_clusters", _publish_near_dup_clusters,
    ),
)


def run_with_resume(
    spark: SparkSession,
    transcripts: DataFrame,
    output_dir: str,
    snapshot_id: str,
    n_buckets: int = 64,
    force: bool = False,
    detect_changes: bool = False,
    run_id: str | None = None,
    **stages: bool,
) -> dict[str, int]:
    """Extract turns+docs, plus the ``STAGES`` whose flags are set, with
    bucket-granular resume.

    ``stages`` maps a ``Stage.flag`` to whether the job runs that stage
    (e.g. ``spans=True, quarantine=True``); a stage not named is off.  A
    keyword that names no stage raises ``TypeError`` before anything is
    read or written.

    Returns counts of processed buckets/turns (0 processed ⇒ everything
    was already done — the reference's 'checkpoint found, skipping'
    path, mistralocr_app.py:585-587).

    ``detect_changes=True`` switches resume from snapshot-id equality to
    CONTENT equality (incremental recompute): each lineage row stores a
    ``bucket_sig`` — an order-independent bit_xor of per-row
    xxhash64(conv_id, turn_idx, text) — and a bucket is skipped iff its
    current input signature equals the signature of its latest completed
    run.  Editing one conversation reprocesses exactly its bucket; a new
    snapshot id with identical content reprocesses nothing.

    Every mode reads the lineage table once, at job start
    (``_lineage_state``), which decides both the buckets to extract and
    the buckets each enabled stage must (re)build, and aggregates the
    input once per bucket (``_bucket_sigs``): its keys are the buckets
    the input holds, its values their lineage signatures.  A stage that
    builds from the input rebuilds only buckets the input holds.  A
    publishing stage rewrites its global table only when the job wrote
    the stage or the table is missing, so a no-op resume whose stages are
    all current reads no other table.  Each payload is parsed once:
    ``quarantine=True`` takes its rows from the committed turns with
    empty markdown (``quarantine_from_turns``), not from a second parse.

    ``turns_total`` counts the lineage state at job start plus this run's
    rows: the sum over buckets of ``max(turn_count)`` for this snapshot,
    or, with ``detect_changes``, of the latest turn_count of each bucket
    in the input.  Concurrency: each run stamps its lineage rows with a
    ``run_id``, so two drivers racing on the same snapshot at worst
    double-mark a bucket 'done' with identical counts — the max per bucket
    is exact under that race (the writes themselves are idempotent dynamic
    partition overwrites)."""
    run_id = run_id or uuid.uuid4().hex
    unknown = sorted(stages.keys() - {st.flag for st in STAGES})
    if unknown:
        raise TypeError(
            f"run_with_resume() got unexpected keyword arguments {unknown}"
        )

    src = with_part_hash(transcripts, n_buckets)
    state = _lineage_state(spark, output_dir, snapshot_id)
    # turn count per bucket this snapshot has completed
    done_tc = {
        b: r["snap_tc"] for b, r in state.items() if r["snap_tc"] is not None
    }
    # The buckets the input holds are the key set of the one column-pruned
    # input aggregation (≤ n_buckets rows); THIS run processes those not
    # skipped.  That set scopes the committed-turns re-read below: if the
    # output dir is reused across snapshots, partitions left by an older
    # snapshot (buckets absent from the current input) must not fold into
    # this run's docs or lineage rows.
    bucket_sigs = _bucket_sigs(src)
    if force:
        skipped = set()
    elif detect_changes:
        stored = {b: r["sig"] for b, r in state.items()}
        skipped = {b for b, sig in bucket_sigs.items() if stored.get(b) == sig}
    else:
        skipped = bucket_sigs.keys() & done_tc.keys()
    run_buckets = sorted(bucket_sigs.keys() - skipped)
    if skipped:
        src = src.filter(F.col("part_hash").isin(run_buckets))

    turns_out = os.path.join(output_dir, "turns")
    docs_out = os.path.join(output_dir, "docs")
    # Downstream stages read the committed parquet back (scan, not
    # recompute), restricted to the buckets they need: a conversation
    # never straddles buckets, so each processed bucket is doc-complete.
    # The table is opened at most once, and only when something reads it.
    committed = functools.cache(lambda: spark.read.parquet(turns_out))
    metrics = []
    if run_buckets:
        turns = pipeline.extract_turns(
            src.select("conv_id", "turn_idx", "text")
        )
        _write_buckets(with_part_hash(turns, n_buckets), turns_out)
        new_turns = committed().filter(F.col("part_hash").isin(run_buckets))
        docs = pipeline.extract_docs(new_turns)
        _write_buckets(with_part_hash(docs, n_buckets), docs_out)
        # counts for this run's lineage rows, over the committed turns in
        # one column-pruned grouped pass (≤ n_buckets rows collected)
        metrics = (
            new_turns.groupBy("part_hash")
            .agg(
                F.count("*").alias("turn_count"),
                F.countDistinct("conv_id").alias("conv_count"),
                F.sum(F.size("images")).alias("image_count"),
            )
            .collect()
        )

    sources = {
        "turns": committed,
        "docs": lambda: spark.read.parquet(docs_out),
        "input": lambda: with_part_hash(transcripts, n_buckets),
    }
    written: list[tuple[int, str]] = []
    for st in STAGES:
        if not stages.get(st.flag):
            continue
        out = os.path.join(output_dir, st.out)
        # this run's buckets, plus every bucket whose latest build of the
        # stage is missing or older than its turns; the rows of one run
        # share a timestamp, so a stage built with its turns is current
        stale = {
            b for b, r in state.items()
            if r[st.out] is None or r[st.out] < r["turns_ts"]
        }
        if "input" in st.sources:
            # a build from the input can only rebuild the buckets it holds
            stale &= bucket_sigs.keys()
        need = sorted(stale | set(run_buckets))
        if need and "docs" in st.sources and not os.path.exists(docs_out):
            # a silent no-op here would let a global table be published
            # from a stale/partial stage table — fail loudly instead (the
            # docs table is written by every normal run; its absence
            # means a corrupted output dir)
            raise RuntimeError(
                f"{st.flag} stage needs {st.out} for buckets {need[:8]}"
                f"{'…' if len(need) > 8 else ''} but {docs_out} is missing; "
                f"refusing to publish {st.publish or st.out} from a stale "
                "table (re-run extraction or pass force=True)"
            )
        if need:
            in_need = F.col("part_hash").isin(need)
            frames = [sources[s]().filter(in_need) for s in st.sources]
            built = st.build(*frames)
            if "part_hash" not in built.columns:
                built = with_part_hash(built, n_buckets)
            _write_buckets(built, out)
            written += [(b, st.out) for b in need]
        # The global table is a function of the stage table alone, so it
        # is current unless this job wrote the stage.  It is written
        # before the lineage append: a job that dies in between leaves
        # the stage due, and the re-run publishes again.
        pub = st.publish and os.path.join(output_dir, st.publish)
        if pub and os.path.exists(out) and (need or not os.path.exists(pub)):
            # every bucket of the stage table is current here
            table = st.publish_build(spark.read.parquet(out))
            table.write.mode("overwrite").parquet(pub)

    # One lineage row per bucket extracted in this run, recording its
    # input signature, so any LATER run can resume by content
    # (detect_changes) regardless of the mode this run used; and one row
    # per bucket a stage wrote, whose status names the stage's table.
    now = float(time.time())
    run = {"input_snapshot_id": snapshot_id, "run_id": run_id, "ts": now}
    rows = [
        {
            **run,
            "part_hash": int(m["part_hash"]),
            "turn_count": int(m["turn_count"]),
            "conv_count": int(m["conv_count"]),
            "image_count": int(m["image_count"] or 0),
            "bucket_sig": bucket_sigs[int(m["part_hash"])],
            "status": "done",
        }
        for m in metrics
    ]
    stage_rows = [{**run, "part_hash": b, "status": t} for b, t in written]
    if rows or stage_rows:
        schema = (
            "input_snapshot_id string, run_id string, part_hash int, "
            "turn_count long, conv_count long, image_count long, "
            "bucket_sig long, ts double, status string"
        )
        # One file per run: every later read_lineage lists and opens them
        # all.  The rows go in as pandas (one Arrow batch): coalescing
        # the Python-row path to one task doubled the write's time.
        # Object columns keep the integers exact: with the stage rows'
        # NULLs, pandas would widen them to float64 and round bucket_sig.
        frame = pd.DataFrame(rows + stage_rows, columns=LINEAGE_COLS, dtype=object)
        spark.createDataFrame(frame, schema=schema).coalesce(1).write.mode(
            "append"
        ).parquet(_lineage_path(output_dir))

    # total turns from the lineage state plus this run's rows (every done
    # bucket has one), NOT a scan of the committed turns table — at 10^12
    # turns that recount is itself a job.
    new_tc = {r["part_hash"]: r["turn_count"] for r in rows}
    if detect_changes:
        # content-addressed mode: the live total is the LATEST completed
        # count per bucket (this run's rows are the latest), over the
        # buckets present in this input
        latest = {b: r["turn_count"] for b, r in state.items()} | new_tc
        n_turns = sum(latest.get(b) or 0 for b in bucket_sigs)
    else:
        n_turns = sum(
            max(done_tc.get(b, 0), new_tc.get(b, 0))
            for b in done_tc.keys() | new_tc.keys()
        )
    return {"buckets_processed": len(rows), "turns_total": n_turns}


def lineage_summary(spark: SparkSession, output_dir: str) -> DataFrame:
    """Operational view of the lineage table: one row per bucket with its
    latest completed run (snapshot, run, counts, signature, timestamp) —
    the table an operator watches to answer 'what is committed, from
    which input, and when'."""
    lin = read_lineage(spark, output_dir)
    if lin is None:
        raise FileNotFoundError(f"no lineage under {output_dir}")
    done = lin.filter(F.col("status") == "done")
    latest = done.groupBy("part_hash").agg(
        F.max_by("input_snapshot_id", "ts").alias("snapshot_id"),
        F.max_by("run_id", "ts").alias("run_id"),
        F.max_by("turn_count", "ts").alias("turn_count"),
        F.max_by("conv_count", "ts").alias("conv_count"),
        F.max_by("image_count", "ts").alias("image_count"),
        F.max_by("bucket_sig", "ts").alias("bucket_sig"),
        F.max("ts").alias("completed_ts"),
        F.count("*").alias("n_runs"),
    )
    return latest.orderBy("part_hash")


def apply_changeset(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Batch MERGE: apply an op-coded CDC changeset (op ∈ I/U/D) to a
    snapshot — the parquet-table analog of Iceberg/Delta ``MERGE INTO``
    (this engine's stand-in while the sandbox Spark has no Iceberg jar;
    same role as the manifest adapter above).

    Semantics: per key, the LATEST change wins — resolved as
    ``max(struct(seq, op, payload))`` so ties on ``seq`` break
    deterministically by (op, payload) — a partial agg, never a window
    sort over a hot key's change history.  'D' deletes the key; 'I'/'U'
    upsert the change's payload (an I on an existing key overwrites, a
    U on a missing key inserts — upsert semantics, matching MERGE with
    WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT).  Untouched snapshot
    keys pass through.

    Shape at 10^12 rows: the changeset collapses to one row per changed
    key BEFORE touching the snapshot; the merge itself is one outer
    join on the key — broadcastable when the daily changeset is small,
    shuffle-on-key otherwise, with the snapshot bucketed by key so the
    join is exchange-free on the big side (pipeline.write_bucketed).
    """
    vals = [c for c in snapshot.columns if c not in key_cols]
    latest = (
        changes.groupBy(*key_cols)
        .agg(
            F.max(
                F.struct(
                    F.col(seq_col).alias("_seq"),
                    F.col(op_col).alias("_op"),
                    *[F.col(v).alias(v) for v in vals],
                )
            ).alias("_m")
        )
        .select(
            *key_cols,
            F.col("_m._op").alias("_op"),
            *[F.col(f"_m.{v}").alias(f"_new_{v}") for v in vals],
        )
    )
    merged = snapshot.join(latest, key_cols, "full_outer")
    kept = merged.filter(
        F.col("_op").isNull() | (F.col("_op") != F.lit("D"))
    )
    return kept.select(
        *key_cols,
        *[
            F.when(F.col("_op").isNotNull(), F.col(f"_new_{v}"))
            .otherwise(F.col(v))
            .alias(v)
            for v in vals
        ],
    )


def agg_merge(
    base: DataFrame,
    delta: DataFrame,
    key_cols: list,
) -> DataFrame:
    """Incremental aggregate maintenance — the materialized-view
    delta-merge: combine a persisted per-key aggregate table with the
    aggregate of a NEW batch, without rescanning history.

    At 10^12 accumulated rows the daily rollup cannot recompute from
    scratch; the production shape is agg(today's batch) + one
    key-equi-join merge against yesterday's (much smaller) aggregate
    table.  This works exactly when every maintained statistic is
    MERGEABLE: count/sum (add), min/max (min/max).  Averages derive
    from (sum, count) at read time; non-mergeable exact statistics
    (median, distinct) need their sketch twins (HLL, GK, CMS — all
    present in this engine).

    Both inputs must carry the same schema: key_cols + n(long) +
    sum_value + min_value + max_value.  The merge is ONE full-outer
    equi-join on the key (both sides hash-partition; the base is
    key-grain so it is |keys|-sized, not history-sized) with
    NULL-safe combination.  Invariance `merge(agg(A), agg(B)) ==
    agg(A ∪ B)` is the oracle contract.
    """
    # qualified string columns over the aliases: base and delta often
    # derive from the same source (the self-join-ambiguity trap)
    b, d = base.alias("mb"), delta.alias("md")
    bc = lambda c: F.col(f"mb.{c}")
    dc = lambda c: F.col(f"md.{c}")
    cond = [bc(k).eqNullSafe(dc(k)) for k in key_cols]
    keys = [F.coalesce(bc(k), dc(k)).alias(k) for k in key_cols]
    return b.join(d, cond, "full_outer").select(
        *keys,
        (
            F.coalesce(bc("n"), F.lit(0)) + F.coalesce(dc("n"), F.lit(0))
        ).alias("n"),
        (
            F.coalesce(bc("sum_value"), F.lit(0).cast("decimal(38,6)"))
            + F.coalesce(dc("sum_value"), F.lit(0).cast("decimal(38,6)"))
        ).cast("decimal(38,6)").alias("sum_value"),
        F.least(
            F.coalesce(bc("min_value"), dc("min_value")),
            F.coalesce(dc("min_value"), bc("min_value")),
        ).alias("min_value"),
        F.greatest(
            F.coalesce(bc("max_value"), dc("max_value")),
            F.coalesce(dc("max_value"), bc("max_value")),
        ).alias("max_value"),
    )


def agg_snapshot(
    df: DataFrame, key_cols: list, value_col: str
) -> DataFrame:
    """The aggregate-table schema agg_merge maintains: per-key count /
    DECIMAL-exact sum / min / max over ``value_col`` — one
    partial-aggregating shuffle, mergeable by construction."""
    return df.groupBy(*key_cols).agg(
        F.count("*").alias("n"),
        F.sum(F.col(value_col).cast("decimal(18,6)"))
        .cast("decimal(38,6)")
        .alias("sum_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )
