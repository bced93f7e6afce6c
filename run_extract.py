#!/usr/bin/env python
"""spark-submit entrypoint for the extraction pipeline.

    spark-submit --py-files engine.zip run_extract.py \
        --input  /path/to/transcripts_parquet_or_table \
        --output /path/to/output_dir \
        [--snapshot-id snap-001] [--buckets 4096] [--force] \
        [--detect-changes] [--spans] [--quarantine] ...

One stage switch per ``lineage.STAGES`` entry: its flag with "_" spelled
"-" (``--line-dedup``), its help the stage's ``doc``.

The CLI analog of the reference's Gradio entry process_pdf
(/root/reference/mistralocr_app.py:803-956): validate inputs, resolve
output location, run the staged pipeline with checkpoint resume.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    from engine.spark import lineage

    ap = argparse.ArgumentParser(description="transcript → markdown extraction")
    ap.add_argument("--input", required=True,
                    help="parquet path or table of transcripts")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--snapshot-id", default="snap-0",
                    help="input snapshot identifier for lineage rows")
    ap.add_argument("--buckets", type=int, default=4096,
                    help="conv_id hash buckets (resume granularity)")
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] cores (ignored under a real master)")
    ap.add_argument("--force", action="store_true",
                    help="reprocess even if lineage marks buckets done "
                         "(reference's use_existing_checkpoints=False)")
    ap.add_argument("--detect-changes", action="store_true",
                    help="resume by CONTENT instead of snapshot id: skip "
                         "buckets whose input signature matches their last "
                         "completed run (incremental recompute)")
    for st in lineage.STAGES:
        ap.add_argument("--" + st.flag.replace("_", "-"), action="store_true",
                        help=st.doc)
    args = ap.parse_args(argv)

    from engine.spark.session import get_spark

    spark = get_spark(cores=args.cores, app="run-extract")

    t0 = time.time()
    transcripts = (
        spark.read.parquet(args.input)
        if "/" in args.input
        else spark.read.table(args.input)
    )

    # Under spark-submit the driver JVM is already up, so session-level
    # spark.driver.memory is ignored — and local mode runs every
    # executor thread in that JVM.  The string-heavy assembly shuffle
    # OOMs a default 1g heap around 10^6 turns, so on a large input an
    # undersized heap aborts up front instead of dying mid-stage
    # (SPARK_GRAFT_ALLOW_SMALL_HEAP=1 overrides; the row count is a
    # parquet-metadata read, not a scan).
    max_heap = int(
        spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    )
    if max_heap < 4 << 30:
        n_rows = transcripts.count()
        msg = (
            f"driver JVM max heap is {max_heap / (1 << 30):.1f} GiB and the "
            f"input has {n_rows:,} turns; local-mode assembly shuffles OOM "
            "small heaps at ~10^6 turns — pass e.g. "
            "`spark-submit --driver-memory 24g`"
        )
        import os as _os

        if n_rows > 200_000 and not _os.environ.get(
            "SPARK_GRAFT_ALLOW_SMALL_HEAP"
        ):
            print(f"ERROR: {msg}", file=sys.stderr)
            return 2
        print(f"WARNING: {msg}", file=sys.stderr)
    stats = lineage.run_with_resume(
        spark,
        transcripts,
        args.output,
        snapshot_id=args.snapshot_id,
        n_buckets=args.buckets,
        force=args.force,
        detect_changes=args.detect_changes,
        **{st.flag: getattr(args, st.flag) for st in lineage.STAGES},
    )
    dt = time.time() - t0
    tps = stats["turns_total"] / dt if dt else 0
    print(
        f"done: {stats['buckets_processed']} buckets processed, "
        f"{stats['turns_total']} turns total, {dt:.1f}s ({tps:,.0f} turns/s)"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
