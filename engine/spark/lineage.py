"""Per-partition lineage + idempotent checkpoint resume.

Replaces the reference's pickle checkpoints
(/root/reference/mistralocr_app.py:523-541, gating at :585-597,
:603-623, :630-649) with table-native semantics:

  * work is bucketed by ``part_hash = pmod(xxhash64(conv_id), n_buckets)``
    — a conversation never straddles buckets, so a completed bucket is a
    complete set of documents;
  * after a bucket's output commits, a lineage row
    (input_snapshot_id, run_id, part_hash, turn_count, conv_count,
    image_count, bucket_sig, ts, status) is appended;
  * on restart, buckets with status='done' for the same input snapshot
    are skipped (anti-join) — or, with ``detect_changes``, buckets whose
    CONTENT signature matches their latest completed run (incremental
    recompute independent of snapshot ids); outputs are written with
    dynamic partition overwrite keyed on part_hash, so replays are
    idempotent — run-twice == run-once (the reference's stage-skip
    semantics, improved to partition granularity);
  * downstream consumers read deltas via changed_buckets_since /
    read_turns_since (CDC cursor over lineage timestamps), and
    compact_turns keeps bucket partitions at one file each.

Parquet + manifest fallback for the sandbox (no Iceberg jar in the
Spark 4.1.2 install); the writer is a thin adapter so MERGE INTO on an
Iceberg catalog slots in unchanged.
"""

from __future__ import annotations

import os
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
    path = _lineage_path(output_dir)
    # cheap existence probe first — avoids a logged (though caught)
    # PATH_NOT_FOUND exception on every fresh run
    if not os.path.exists(path):
        return None
    try:
        # mergeSchema: lineage files written by older engine versions may
        # lack newer columns (bucket_sig, ts) — union the footers so they
        # surface as nulls instead of being silently dropped
        return spark.read.option("mergeSchema", "true").parquet(path)
    except Exception:
        return None


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


def _partition_buckets(path: str) -> set[int]:
    """part_hash values already materialized under a partitioned parquet
    dir (driver-side listing — ≤ n_buckets entries, no Spark job)."""
    if not os.path.exists(path):
        return set()
    out: set[int] = set()
    for name in os.listdir(path):
        if name.startswith("part_hash="):
            try:
                out.add(int(name.split("=", 1)[1]))
            except ValueError:
                pass
    return out


def _stage_coverage(stage_out: str, turns_out: str, run_buckets) -> list[int]:
    """Buckets a derived stage must (re)write: this run's buckets plus
    any committed turns buckets the stage's table doesn't cover yet —
    the backfill rule shared by spans / translate / quarantine /
    fingerprints / signatures (a completed extraction re-run with a
    stage newly enabled must fill it for already-done buckets)."""
    have = _partition_buckets(stage_out)
    backfill = _partition_buckets(turns_out) - have - set(run_buckets)
    return sorted(set(run_buckets) | backfill)


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
    (
        df.repartition("part_hash")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_hash")
        .parquet(turns_out)
    )
    return {"files_before": before, "files_after": _count_files()}


def run_with_resume(
    spark: SparkSession,
    transcripts: DataFrame,
    output_dir: str,
    snapshot_id: str,
    n_buckets: int = 64,
    force: bool = False,
    spans: bool = False,
    translate: bool = False,
    dedup: bool = False,
    near_dup: bool = False,
    quarantine: bool = False,
    curate: bool = False,
    curate_max_dup_bigram: float = 0.5,
    curate_min_tokens: int = 5,
    conv_curate: bool = False,
    conv_min_turns: int = 2,
    conv_max_repeat: float = 0.5,
    line_dedup: bool = False,
    line_dedup_min_df: int = 3,
    detect_changes: bool = False,
    run_id: str | None = None,
) -> dict[str, int]:
    """Extract turns+docs (+spans) with bucket-granular resume.

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

    Every mode aggregates the input once per bucket (``_bucket_sigs``):
    its keys are the buckets this run processes, its values their lineage
    signatures.  Each payload is parsed once:
    ``quarantine=True`` takes its rows from the committed turns with
    empty markdown (``quarantine_from_turns``), not from a second parse.

    Concurrency: each run stamps its lineage rows with a ``run_id``, so
    two drivers racing on the same snapshot at worst double-mark a
    bucket 'done' with identical counts — ``turns_total`` aggregates
    ``max(turn_count)`` per bucket, which is exact under that race (the
    writes themselves are idempotent dynamic partition overwrites)."""
    import time

    run_id = run_id or uuid.uuid4().hex
    src = with_part_hash(transcripts, n_buckets)

    if not (force or detect_changes):
        done = done_buckets(spark, output_dir, snapshot_id)
        if done is not None:
            # broadcast anti-join: the done-set is ≤ n_buckets rows
            src = src.join(F.broadcast(done), "part_hash", "left_anti")
    # The bucket set THIS run processes is the key set of the one column-
    # pruned input aggregation (≤ n_buckets rows).  It scopes the
    # committed-turns re-read below: if the output dir is reused across
    # snapshots, partitions left by an older snapshot (buckets absent
    # from the current input) must not fold into this run's docs or
    # lineage rows.  In detect_changes mode it covers the whole input.
    bucket_sigs = _bucket_sigs(src)
    run_buckets = sorted(bucket_sigs)
    if detect_changes and not force:
        stored: dict[int, int] = {}
        lin0 = read_lineage(spark, output_dir)
        if lin0 is not None and "bucket_sig" in lin0.columns:
            for r in (
                lin0.filter(
                    (F.col("status") == "done")
                    & F.col("bucket_sig").isNotNull()
                    & F.col("ts").isNotNull()
                )
                .groupBy("part_hash")
                .agg(F.max_by("bucket_sig", "ts").alias("sig"))
                .collect()
            ):
                stored[int(r["part_hash"])] = int(r["sig"])
        unchanged = [b for b in run_buckets if stored.get(b) == bucket_sigs[b]]
        if unchanged:
            src = src.filter(~F.col("part_hash").isin(unchanged))
            run_buckets = sorted(set(run_buckets) - set(unchanged))

    turns_out = os.path.join(output_dir, "turns")
    if run_buckets:
        # recompute the hash on the output rows directly (no join needed
        # — part_hash is a pure function of conv_id).  Idempotent resume
        # REQUIRES dynamic partition overwrite (the static default wipes
        # previously committed buckets); set it per-write so the shared
        # session's conf is never mutated.
        turns = pipeline.extract_turns(src.select("conv_id", "turn_idx", "text"))
        turns = with_part_hash(turns, n_buckets)
        (
            turns.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part_hash")
            .parquet(turns_out)
        )
    elif not os.path.exists(turns_out):
        # nothing to process and nothing committed before (empty input):
        # there is no table to read back — return zeros, don't raise
        return {"buckets_processed": 0, "turns_total": 0}

    # Downstream stages read the committed parquet back (scan, not
    # recompute), restricted to this run's buckets: a conversation never
    # straddles buckets, so each processed bucket is doc-complete.
    committed = spark.read.parquet(turns_out)
    new_turns = (
        committed.filter(F.col("part_hash").isin(run_buckets))
        if run_buckets
        else committed.filter(F.lit(False))
    )

    if run_buckets:
        docs = with_part_hash(pipeline.extract_docs(new_turns), n_buckets)
        docs_out = os.path.join(output_dir, "docs")
        (
            docs.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part_hash")
            .parquet(docs_out)
        )

    if spans:
        # Span table under the same lineage/resume mechanism.  Coverage
        # is driven by the COMMITTED turns table, not this run's delta:
        # a completed extraction re-run with spans=True must backfill
        # spans for already-done buckets (which new_turns excludes).
        spans_out = os.path.join(output_dir, "spans")
        need = _stage_coverage(spans_out, turns_out, run_buckets)
        if need:
            sp = with_part_hash(
                pipeline.extract_spans(
                    committed.filter(F.col("part_hash").isin(need))
                ),
                n_buckets,
            )
            (
                sp.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part_hash")
                .parquet(spans_out)
            )

    if translate:
        # translated documents (T1 + P4 over the translated pages,
        # mistralocr_app.py:717) under the same backfill-aware coverage
        # rule as spans: derived from the COMMITTED turns, per bucket
        from engine.spark import translate as tmod

        tr_out = os.path.join(output_dir, "docs_translated")
        need = _stage_coverage(tr_out, turns_out, run_buckets)
        if need:
            tr = tmod.translate_turns(
                committed.filter(F.col("part_hash").isin(need))
            )
            td = with_part_hash(tmod.translated_docs(tr), n_buckets)
            (
                td.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part_hash")
                .parquet(tr_out)
            )

    if curate:
        # Per-conversation curation metrics table (round-4 quality ops:
        # repetition stats + PII counts over the assembled documents)
        # under the same backfill-aware coverage rule as spans — the
        # scores a 10^12-turn corpus filter/monitor job reads instead of
        # re-scanning text.  Derived from the committed docs table, so
        # it is incremental per bucket and a completed run re-executed
        # with curate=True backfills every bucket.
        from engine.spark import text as etext

        cur_out = os.path.join(output_dir, "curation")
        docs_out_path = os.path.join(output_dir, "docs")
        need = _stage_coverage(cur_out, turns_out, run_buckets)
        if need and not os.path.exists(docs_out_path):
            raise RuntimeError(
                f"curate stage needs metrics for buckets {sorted(need)[:8]}"
                f"{'…' if len(need) > 8 else ''} but {docs_out_path} is "
                "missing; re-run extraction first"
            )
        if need:
            d = spark.read.parquet(docs_out_path).filter(
                F.col("part_hash").isin(need)
            )
            # Metrics over CONTENT, not assembly artifacts: the inserted
            # OCR stub blocks, image embeds and rewritten link targets
            # carry conv-id digit runs and repeated boilerplate that
            # would pollute both the repetition ratios and the PII
            # regex counts (an 8-digit conv id segment matches the
            # conservative phone pattern) — same normalization rationale
            # as the near-dup stage's signature input below.
            content = F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.col("markdown"),
                        r"(?s)> 📄 Image OCR Result:\n\n```json\n.*?\n```",
                        "",
                    ),
                    r"!\[[^\]]*\]\([^)]*\)",
                    "",
                ),
                r"\]\([^)]*\)",
                "]()",
            )
            docs_for = d.select(
                F.col("conv_id").alias("doc_id"),
                content.alias("text"),
            )
            rep = etext.repetition_stats(docs_for)
            # LEFT join from the PII side: pii_scrub is a projection
            # (exactly one row per conversation), while repetition_stats
            # yields no row for a conv whose normalized content is empty
            # (e.g. all OCR stubs) — an inner join would silently drop
            # those convs from the curation table AND leave their bucket
            # partition unwritten, so _stage_coverage would re-queue it
            # forever.  Empty-content convs keep a row with n_tokens=0
            # and NULL ratios.
            pii = etext.pii_scrub(docs_for).drop("clean_text")
            # the quality gate (same semantics as the corpus_curation
            # contract query: NULL metrics fail the gate).  Thresholds
            # are evaluated at WRITE time and stored alongside the raw
            # metrics, so a consumer can always re-derive `keep` with
            # different cutoffs from the same table without re-scanning
            # text; dedup keep-lists are the --dedup stage's job, not
            # curation's.
            kept = F.coalesce(
                F.col("dup_bigram_ratio") <= curate_max_dup_bigram,
                F.lit(False),
            ) & F.coalesce(
                F.col("n_tokens") >= curate_min_tokens, F.lit(False)
            )
            cur = pii.join(rep, "doc_id", "left").select(
                F.col("doc_id").alias("conv_id"),
                F.coalesce("n_tokens", F.lit(0)).cast("long").alias(
                    "n_tokens"
                ),
                F.coalesce("n_distinct", F.lit(0)).cast("long").alias(
                    "n_distinct"
                ),
                "distinct_ratio",
                "top_share",
                "dup_bigram_ratio",
                "n_emails",
                "n_ips",
                "n_phones",
                kept.alias("keep"),
            )
            (
                with_part_hash(cur, n_buckets)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part_hash")
                .parquet(cur_out)
            )

    if line_dedup:
        # Cross-document line dedup under lineage, split at the same
        # seam as --dedup: (1) per-bucket line-fingerprint DOC-counts —
        # the pass that touches document text — incremental +
        # backfill-aware; (2) the global boilerplate-line table — a sum
        # over the compact counts table only (8-byte keys + counts,
        # never text) — wholesale-overwritten, cheap to recompute.  A
        # consumer strips boilerplate by anti-joining exploded doc
        # lines against boilerplate_lines on the fingerprint; the
        # threshold is evaluated at READ time of the counts, so
        # re-publishing with a different min_df needs no text re-scan.
        # Summing per-bucket DISTINCT-conv counts is exact because a
        # conversation never spans buckets (part_hash is a function of
        # conv_id), so no conv is double-counted across bucket rows.
        from engine.spark.dedup import portable_hash60

        lc_out = os.path.join(output_dir, "line_counts")
        docs_out_path = os.path.join(output_dir, "docs")
        need = _stage_coverage(lc_out, turns_out, run_buckets)
        if need and not os.path.exists(docs_out_path):
            raise RuntimeError(
                f"line-dedup stage needs counts for buckets "
                f"{sorted(need)[:8]}{'…' if len(need) > 8 else ''} but "
                f"{docs_out_path} is missing; re-run extraction first"
            )
        if need:
            d = spark.read.parquet(docs_out_path).filter(
                F.col("part_hash").isin(need)
            )
            # same id-blank normalization as --dedup: assembled markdown
            # embeds conv_id in link paths/OCR stubs, which would make
            # every such line unique per conversation and invisible to
            # the cross-document frequency count
            content = F.expr("replace(markdown, conv_id, '<conv>')")
            lines = d.select(
                "conv_id",
                "part_hash",
                F.explode(F.split(content, "\n")).alias("line"),
            )
            counts = (
                lines.groupBy(
                    "part_hash", portable_hash60(F.col("line")).alias("lfp")
                )
                .agg(F.countDistinct("conv_id").alias("n_docs"))
            )
            (
                counts.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part_hash")
                .parquet(lc_out)
            )
        if os.path.exists(lc_out):
            _missing = _partition_buckets(turns_out) - _partition_buckets(
                lc_out
            )
            if _missing:
                raise RuntimeError(
                    "line-dedup counts are stale for buckets "
                    f"{sorted(_missing)[:8]}; refusing to publish "
                    "boilerplate_lines from a partial counts table"
                )
            bl = (
                spark.read.parquet(lc_out)
                .groupBy("lfp")
                .agg(F.sum("n_docs").alias("line_df"))
                .where(F.col("line_df") >= line_dedup_min_df)
            )
            bl.write.mode("overwrite").parquet(
                os.path.join(output_dir, "boilerplate_lines")
            )

    if conv_curate:
        # Conversation-level curation (transcript_curation): run-collapse
        # repeat ratio, alternation violations and the SFT-usability
        # gate, per bucket under the shared backfill rule.  Computed
        # from the ORIGINAL transcripts (role/text never reach the
        # committed turns table — the parse stage prunes them), and
        # conversations never split across buckets (part_hash is a
        # function of conv_id), so the metrics are bucket-local.
        from engine.spark import conversation

        cc_out = os.path.join(output_dir, "conv_curation")
        need = _stage_coverage(cc_out, turns_out, run_buckets)
        if need:
            all_src = with_part_hash(transcripts, n_buckets)
            cc = conversation.transcript_curation(
                all_src.filter(F.col("part_hash").isin(need)).select(
                    "conv_id", "turn_idx", "role", "text"
                ),
                min_turns=conv_min_turns,
                max_repeat_ratio=conv_max_repeat,
            )
            (
                with_part_hash(cc, n_buckets)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part_hash")
                .parquet(cc_out)
            )

    if quarantine:
        # diverted-rows table (error channel, pipeline.quarantine) under
        # the same backfill-aware coverage rule.  The committed turns say
        # WHICH rows (empty markdown), the ORIGINAL payloads say WHY —
        # the committed turns don't carry text, but the input covers done
        # buckets too — so no payload is parsed a second time
        q_out = os.path.join(output_dir, "quarantine")
        need = _stage_coverage(q_out, turns_out, run_buckets)
        if need:
            in_need = F.col("part_hash").isin(need)
            qr = with_part_hash(
                quarantine_from_turns(
                    with_part_hash(transcripts, n_buckets).filter(in_need),
                    committed.filter(in_need),
                ),
                n_buckets,
            )
            (
                qr.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part_hash")
                .parquet(q_out)
            )

    if dedup:
        # Two-phase dedup under lineage: (1) per-bucket document
        # fingerprints — the expensive pass — are incremental and
        # backfill-aware exactly like spans; (2) exact-dup clusters are
        # a GLOBAL reduction, but over the compact fingerprint table
        # (one row per conversation, not per turn), so rewriting them
        # every run costs one small groupBy, never a corpus re-scan.
        from engine.spark.text import fingerprint as fp_col

        fp_out = os.path.join(output_dir, "fingerprints")
        docs_out_path = os.path.join(output_dir, "docs")
        need = _stage_coverage(fp_out, turns_out, run_buckets)
        if need and not os.path.exists(docs_out_path):
            # a silent no-op here would let the global cluster rewrite
            # below publish clusters from a stale/partial fingerprint
            # table — fail loudly instead (the docs table is written by
            # every normal run; its absence means a corrupted output dir)
            raise RuntimeError(
                f"dedup stage needs fingerprints for buckets {sorted(need)[:8]}"
                f"{'…' if len(need) > 8 else ''} but {docs_out_path} is "
                "missing; refusing to publish dup_clusters from a stale "
                "fingerprint table (re-run extraction or pass force=True)"
            )
        if need:
            d = spark.read.parquet(docs_out_path).filter(
                F.col("part_hash").isin(need)
            )
            # id-normalized content fingerprint: the assembled markdown
            # embeds conv_id (image link paths, OCR stubs), so a
            # re-ingested conversation under a NEW id would never match
            # its twin — blank the id out before hashing
            content = F.expr("replace(markdown, conv_id, '<conv>')")
            fps = d.select(
                "conv_id",
                fp_col(content).alias("fp"),
                F.length("markdown").alias("n_chars"),
                "part_hash",
            )
            (
                fps.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part_hash")
                .parquet(fp_out)
            )
        if os.path.exists(fp_out):
            clusters = (
                spark.read.parquet(fp_out)
                .groupBy("fp")
                .agg(
                    F.min("conv_id").alias("keep_conv_id"),
                    F.count("*").alias("n_members"),
                )
                .where(F.col("n_members") >= 2)
            )
            clusters.write.mode("overwrite").parquet(
                os.path.join(output_dir, "dup_clusters")
            )

    if near_dup:
        # Near-dup clustering under lineage, split at the right seam:
        # (1) MinHash signatures — the pass that touches document text —
        # are per-bucket incremental + backfill-aware; (2) pair
        # generation + connected components run globally, but over the
        # compact signature table (one 32-long array per conversation),
        # a banded equi-join + O(log n) star rounds — never a corpus
        # re-scan or an all-pairs product.
        from engine.spark import dedup as dmod

        sig_out = os.path.join(output_dir, "signatures")
        docs_out_path = os.path.join(output_dir, "docs")
        need = _stage_coverage(sig_out, turns_out, run_buckets)
        if need and not os.path.exists(docs_out_path):
            # same stale-publish hazard as the dedup stage above
            raise RuntimeError(
                f"near-dup stage needs signatures for buckets "
                f"{sorted(need)[:8]}{'…' if len(need) > 8 else ''} but "
                f"{docs_out_path} is missing; refusing to publish "
                "near_dup_clusters from a stale signature table"
            )
        if need:
            d = spark.read.parquet(docs_out_path).filter(
                F.col("part_hash").isin(need)
            )
            # hash CONTENT, not assembly artifacts: the OCR-stub blocks
            # and image links the pipeline inserts are near-identical
            # across conversations once the id is normalized out, so
            # leaving them in makes image-heavy documents look like
            # near-dups of each other regardless of their actual text
            content = F.regexp_replace(
                F.regexp_replace(
                    F.col("markdown"),
                    r"(?s)> 📄 Image OCR Result:\n\n```json\n.*?\n```",
                    "",
                ),
                r"!\[[^\]]*\]\([^)]*\)",
                "",
            )
            sigs = dmod.minhash_signatures(
                d.select(
                    F.col("conv_id").alias("doc_id"),
                    content.alias("text"),
                ),
                num_perm=32,
            )
            sigs = with_part_hash(
                sigs.select(F.col("doc_id").alias("conv_id"), "sig"),
                n_buckets,
            )
            (
                sigs.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part_hash")
                .parquet(sig_out)
            )
        if os.path.exists(sig_out):
            all_sigs = spark.read.parquet(sig_out).select(
                F.col("conv_id").alias("doc_id"), "sig"
            )
            pairs = dmod.minhash_pairs_from_signatures(
                all_sigs, num_perm=32, bands=16, min_jaccard=0.8
            )
            cc = dmod.connected_components(pairs)
            (
                cc.selectExpr(
                    "doc_id AS conv_id", "cluster_id AS cluster_conv_id"
                )
                .write.mode("overwrite")
                .parquet(os.path.join(output_dir, "near_dup_clusters"))
            )

    # lineage rows for the buckets processed in this run, counted over
    # their committed turns in one column-pruned grouped pass (≤ n_buckets
    # rows collected).  Every row records the bucket's input signature,
    # so any LATER run can resume by content (detect_changes) regardless
    # of the mode this run used.
    metrics = (
        new_turns.groupBy("part_hash")
        .agg(
            F.count("*").alias("turn_count"),
            F.countDistinct("conv_id").alias("conv_count"),
            F.sum(F.size("images")).alias("image_count"),
        )
        .collect()
        if run_buckets
        else []
    )
    now = float(time.time())
    rows = [
        {
            "input_snapshot_id": snapshot_id,
            "run_id": run_id,
            "part_hash": int(m["part_hash"]),
            "turn_count": int(m["turn_count"]),
            "conv_count": int(m["conv_count"]),
            "image_count": int(m["image_count"] or 0),
            "bucket_sig": bucket_sigs[int(m["part_hash"])],
            "ts": now,
            "status": "done",
        }
        for m in metrics
    ]
    n_new = len(rows)
    if n_new:
        schema = (
            "input_snapshot_id string, run_id string, part_hash int, "
            "turn_count long, conv_count long, image_count long, "
            "bucket_sig long, ts double, status string"
        )
        # One file per run: every later read_lineage lists and opens them
        # all.  The rows go in as pandas (one Arrow batch): coalescing
        # the Python-row path to one task doubled the write's time.
        spark.createDataFrame(
            pd.DataFrame(rows, columns=LINEAGE_COLS), schema=schema
        ).coalesce(1).write.mode("append").parquet(_lineage_path(output_dir))

    # total turns from lineage rows (every done bucket of this snapshot
    # has one), NOT a full scan of the committed turns table — at 10^12
    # turns that recount is itself a job.  max(turn_count) per bucket is
    # exact even when concurrent runs double-marked a bucket.
    lin = read_lineage(spark, output_dir)
    if lin is None:
        # fresh run over an empty input: nothing written, nothing done
        return {"buckets_processed": 0, "turns_total": 0}
    if detect_changes:
        if not bucket_sigs:
            return {"buckets_processed": n_new, "turns_total": 0}
        # content-addressed mode: the live total is the LATEST completed
        # count per bucket, over the buckets present in this input
        n_turns = (
            lin.filter(
                (F.col("status") == "done")
                & F.col("ts").isNotNull()
                & F.col("part_hash").isin(sorted(bucket_sigs))
            )
            .groupBy("part_hash")
            .agg(F.max_by("turn_count", "ts").alias("tc"))
            .agg(F.sum("tc"))
            .collect()[0][0]
            or 0
        )
        return {"buckets_processed": n_new, "turns_total": int(n_turns)}
    n_turns = (
        lin.filter(
            (F.col("status") == "done")
            & (F.col("input_snapshot_id") == snapshot_id)
        )
        .groupBy("part_hash")
        .agg(F.max("turn_count").alias("tc"))
        .agg(F.sum("tc"))
        .collect()[0][0]
        or 0
    )
    return {"buckets_processed": n_new, "turns_total": int(n_turns)}


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
