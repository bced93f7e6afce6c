#!/usr/bin/env python3
"""Extraction benchmark: one command, one workload, one seed.

    python3 extractbench/run.py --workload mixed --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates its corpus from
``--seed``, starts one SparkSession at local[k] (k <= 4 and <= nproc),
warms the timed operation by volume, times it for ``--seconds`` and
checks the output bytes outside the timed windows.  The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (every end-to-end metric with ``--trace 0``, every per-layer
metric with ``--trace 1``).  Workloads, metrics and the layer map are
described in ``extractbench/NOTES.md``.
"""

import time

_T0 = time.time()  # setup_s counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import zlib  # noqa: E402
from collections.abc import Iterator  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # the engine and this package, from the checkout

# outside a checkout these imports fail, and the run exits without a result
import pandas as pd  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from engine.core import parser  # noqa: E402
from engine.spark import lineage, parse_udf, pipeline  # noqa: E402
from engine.spark.session import get_spark  # noqa: E402
from extractbench import checks, corpus, probes  # noqa: E402

WORK = os.path.join(ROOT, ".extractbench_work")
CORES = min(4, os.cpu_count() or 1)
HEAP = "2g"
N_BUCKETS = 8
# Extract passes run before any timing, in turns: on a 4-CPU host the JIT
# compile rate drops and pass times level off after ~17 s of passes
# (eight on mixed; NOTES.md "Measured ramp").
WARM_TURNS = {"mixed": 384_000, "html_heavy": 25_600, "incremental": 240_000}
ORACLE_PER_KIND = {"mixed": 300, "html_heavy": 40, "incremental": 200}
# every n-th turn goes through the single-thread parser calls of the trace
PARSER_STRIDE = {"mixed": 2, "html_heavy": 4, "incremental": 1}
TRACE_REPS = 3        # repetitions of each traced read leg (median reported)
WRITE_REPS = 2        # repetitions of each traced write-path leg
EDITS = 2             # one-conversation edits per run (time and invariant)
RESUMES = 3           # no-op resumes per run


class Run:
    """Context of one benchmark run: inputs, session and op accounting."""

    def __init__(self, args):
        self.workload = args.workload
        self.seconds = args.seconds
        self.corrupt = args.corrupt
        self.scale = args.scale
        self.input = os.path.join(WORK, "input")
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, tuple[float, str]] = {}

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def op(self, fn, verify=lambda result: True):
        """Run one timed operation: (wall seconds, result). A raised error
        or a failed ``verify`` counts the op as failed."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            result = fn()
        except Exception:  # keep measuring; the failure is counted
            traceback.print_exc()
            self.failed += 1
            return time.perf_counter() - t, None
        wall = time.perf_counter() - t
        print(f"[{time.time() - _T0:6.1f}s] {getattr(fn, '__name__', 'op')}: {wall:.3f}s",
              file=sys.stderr)
        if not verify(result):
            print(f"verify failed: {result}", file=sys.stderr)
            self.failed += 1
        return wall, result


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _quote(path: str) -> str:
    """``path`` as one word of a Spark launcher option string."""
    return '"' + path.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def setup(args) -> tuple[Run, object, object]:
    """Corpus on local disk, then the SparkSession. Nothing is warmed."""
    run = Run(args)
    _rmtree(WORK)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            # workers import the engine from this checkout
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            # ... with this interpreter, whatever `python` is on PATH
            "PYSPARK_PYTHON": sys.executable,
            # a heap that fits a 15 GB host; spills go to the work dir
            "SPARK_DRIVER_MEM": HEAP,
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": tmp,
            # no hsperfdata file in the system temp dir from either JVM
            "JAVA_TOOL_OPTIONS": " ".join(
                filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
            ),
        }
    )
    t = time.perf_counter()
    run.frame = corpus.make(args.workload, args.seed, args.scale)
    corpus.write(run.frame, run.input, corpus.SIZES[args.workload][1])
    run.n_turns = len(run.frame)
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    spark = get_spark(
        cores=CORES,
        app=f"extractbench-{args.workload}",
        # the heap is committed up front (-Xms = -Xmx): G1 then never
        # resizes it mid-run, which made the JVM's peak RSS vary by ~20 %
        # (the path is quoted: Spark's launcher splits the options on spaces)
        extra={"spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={_quote(tmp)}"},
    )
    start_s = time.perf_counter() - t
    run.setup = {"setup_s": time.time() - _T0, "corpus.gen_s": gen_s, "session.start_s": start_s}
    return run, spark, spark.read.parquet(run.input)


def _stop(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for both."""
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except Exception:
        gateway.proc.kill()
        gateway.proc.wait()
    probes.reap_children(timeout=30)


def warm_up(run: Run, spark, one_pass) -> int:
    """Extract passes until the calibrated volume has run, then idle until
    the JIT compile queue has drained; returns the passes run."""
    done, passes = 0, 0
    while done < WARM_TURNS[run.workload] * run.scale or passes < 2:
        one_pass()
        done += run.n_turns
        passes += 1
    probes.Jvm(spark).settle()
    return passes


def measure(run: Run, one_op, min_reps: int = 3, verify=lambda r: True) -> int:
    """Repeat ``one_op`` for ``run.seconds`` (at least ``min_reps`` times)
    and put ``turns_per_s`` and ``cpu_s_per_kturn``: medians over the ops
    of wall time and of process-tree CPU (each op covers every turn).
    Returns the number of ops."""
    walls, cpus = [], []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < run.seconds or len(walls) < min_reps:
        cpu0 = probes.tree_cpu_s()
        walls.append(run.op(one_op, verify)[0])
        cpus.append(probes.tree_cpu_s() - cpu0)
    run.put("turns_per_s", run.n_turns / statistics.median(walls), "turns/s")
    run.put("cpu_s_per_kturn", statistics.median(cpus) / (run.n_turns / 1000), "CPU-s/kturn")
    return len(walls)


# ------------------------------------------------------------ output checks
def check_extract(run: Run, spark, src) -> tuple[bool, object]:
    """Whole-output turn count + per-turn oracle bytes on a subset."""
    out = pipeline.extract_turns(src).toArrow().to_pandas()
    subset = checks.oracle_subset(run.frame, ORACLE_PER_KIND[run.workload])
    if run.corrupt:
        _corrupt(out, subset)
    bad = checks.oracle_mismatches(subset, out)
    if len(out) != run.n_turns:
        bad.append(f"turn count {len(out)} != {run.n_turns}")
    for b in bad[:5]:
        print(f"output check: {b}", file=sys.stderr)
    return not bad, out


def _corrupt(turns, subset) -> None:
    """Self-check hook: flip one byte of the first non-empty markdown among
    the turns the oracle check covers."""
    checked = turns.set_index(["conv_id", "turn_idx"]).index.isin(
        list(zip(subset.conv_id, subset.turn_idx))
    )
    i = int((checked & (turns["markdown"].str.len() > 0).to_numpy()).argmax())
    md = turns.at[i, "markdown"]
    turns.at[i, "markdown"] = chr(ord(md[0]) ^ 1) + md[1:]


# ---------------------------------------------------------------- workloads
def extract_workload(run: Run, spark, src) -> None:
    """mixed / html_heavy: steady ``pipeline.extract_turns`` → noop sink."""
    def one_pass():
        _noop(pipeline.extract_turns(src))

    warm_up(run, spark, one_pass)
    n_ops = measure(run, one_pass)
    ok, _ = check_extract(run, spark, src)
    if not ok:  # every timed pass ran the plan whose output is wrong
        run.failed += n_ops


class Jobs:
    """``run_with_resume`` jobs (spans + quarantine, fixed bucket count)
    and their invariants, shared by the incremental and traced runs."""

    def __init__(self, run: Run, spark):
        self.run, self.spark = run, spark
        self.out = os.path.join(WORK, "out")
        self.edited = os.path.join(WORK, "edited")
        self.frame = run.frame.copy()
        src = lineage.with_part_hash(spark.read.parquet(run.input), N_BUCKETS)
        self.buckets = src.select("part_hash").distinct().count()
        self.n_edits = 0

    def job(self, inp: str, out: str, snapshot: str, detect: bool = False) -> dict:
        return lineage.run_with_resume(
            self.spark, self.spark.read.parquet(inp), out, snapshot_id=snapshot,
            n_buckets=N_BUCKETS, spans=True, quarantine=True, detect_changes=detect,
        )

    def full_ok(self, st) -> bool:
        return st == {"buckets_processed": self.buckets, "turns_total": self.run.n_turns}

    def commit(self) -> None:
        """Untimed first job: the committed output resume and edits use."""
        _rmtree(self.out)
        self.run.op(lambda: self.job(self.run.input, self.out, "snap-0"), self.full_ok)

    def resume(self) -> float:
        return self.run.op(
            lambda: self.job(self.run.input, self.out, "snap-0"),
            lambda st: st == {"buckets_processed": 0, "turns_total": self.run.n_turns},
        )[0]

    def edit(self) -> float:
        """Edit one conversation not edited before, write the edited input
        (untimed), then time the content-addressed re-run: 1 bucket."""
        convs = self.frame["conv_id"].drop_duplicates()
        conv = convs.iloc[convs.map(lambda c: zlib.crc32(c.encode())).argsort().iloc[self.n_edits]]
        row = self.frame.index[self.frame.conv_id == conv][0]
        self.frame.at[row, "text"] = f"{self.frame.at[row, 'text'] or ''} edited {self.n_edits}"
        self.n_edits += 1
        _rmtree(self.edited)
        corpus.write(self.frame, self.edited, 1)
        return self.run.op(
            lambda: self.job(self.edited, self.out, f"snap-e{self.n_edits}", detect=True),
            lambda st: st == {"buckets_processed": 1, "turns_total": self.run.n_turns},
        )[0]


def incremental_workload(run: Run, spark, src) -> None:
    """Full job, no-op resumes, one-bucket edits, then fresh jobs over the
    edited input; the last fresh job is the clean run the edited output
    must equal."""
    jobs = Jobs(run, spark)
    jobs.commit()
    for _ in range(RESUMES):
        jobs.resume()
    for _ in range(EDITS):
        jobs.edit()
    probes.Jvm(spark).settle()
    clean = os.path.join(WORK, "clean")

    def fresh():
        _rmtree(clean)
        return jobs.job(jobs.edited, clean, "snap-clean")

    n_ops = measure(run, fresh, min_reps=3, verify=jobs.full_ok)

    # the edited output equals a clean single run over the edited input,
    # and the clean run's turns match the oracle
    cols = {"turns": ["conv_id", "turn_idx", "markdown", "images"], "docs": ["conv_id", "markdown"]}
    subset = checks.oracle_subset(jobs.frame, ORACLE_PER_KIND[run.workload])
    clean_turns = None
    for table, columns in cols.items():
        ref = checks.read_table(os.path.join(clean, table), columns)
        if table == "turns":
            if run.corrupt:
                _corrupt(ref, subset)
            clean_turns = ref
        mine = checks.read_table(os.path.join(jobs.out, table), columns)
        if checks.table_digest(mine, columns) != checks.table_digest(ref, columns):
            print(f"output check: edited {table} != clean run", file=sys.stderr)
            run.failed += EDITS
    bad = checks.oracle_mismatches(subset, clean_turns)
    if bad or len(clean_turns) != run.n_turns:
        print(f"output check: {bad[:5]} rows={len(clean_turns)}", file=sys.stderr)
        run.failed += n_ops


# -------------------------------------------------------------- traced run
def trace_workload(run: Run, spark, src) -> None:
    """Per-layer self times by ablation legs, counters from the SQL status
    store, /proc and the JVM MXBeans; the warm-up curve; and the cost of
    the tracing itself against untraced passes of the same leg."""
    tracer, jvm, sql = probes.Tracer(), probes.Jvm(spark), probes.SqlMetrics(spark)
    med = statistics.median
    curve: list[dict] = []

    def full():
        _noop(pipeline.extract_turns(src))

    def traced_pass(phase: str) -> float:
        """One extract pass with its span, MXBean reads and SQL metrics;
        returns the wall time of all of it (what tracing a pass costs)."""
        t = time.perf_counter()
        sql.mark()
        jit0, gc0 = jvm.times()
        with tracer.span(f"extract_turns.{phase}") as s:
            full()
        jit1, gc1 = jvm.times()
        curve.append({"phase": phase, "wall_s": s["end"] - s["start"],
                      "jit_s": jit1 - jit0, "gc_s": gc1 - gc0, "sql": sql.since_mark()})
        return time.perf_counter() - t

    # 1. warm-up curve, then measured passes alternating untraced / traced
    t = time.perf_counter()
    passes = warm_up(run, spark, lambda: traced_pass("warmup"))
    warm_s = time.perf_counter() - t
    plain, traced = [], []
    for i in range(2 * TRACE_REPS + 2):
        if i % 2:
            traced.append(traced_pass("measured"))
        else:
            plain.append(run.op(full)[0])
    udf = curve[-1]["sql"]
    measured = [c for c in curve if c["phase"] == "measured"]
    run.put("ramp.warmup_passes", passes, "count")
    run.put("ramp.warmup_s", warm_s, "s")
    run.put("ramp.measured_trend_pct", _trend_pct([c["wall_s"] for c in measured]), "%/pass")
    run.put("trace.overhead_pct", 100 * (med(traced) / med(plain) - 1), "%")
    run.put("jvm.jit_s", med(c["jit_s"] for c in measured), "s/pass")
    run.put("jvm.gc_s", med(c["gc_s"] for c in measured), "s/pass")
    t_full = med(plain)

    # 2. ablation legs, interleaved so host drift hits each leg alike
    text = F.col("text")
    legs = {
        "scan": src.select("conv_id", "turn_idx", "text"),
        "identity": src.select("conv_id", "turn_idx", _identity_udf()(text).alias("markdown")),
        "parse": src.select("conv_id", "turn_idx", parse_udf.extract_markdown_udf(text).alias("markdown")),
    }
    walls: dict[str, list[float]] = {k: [] for k in legs}
    for _ in range(TRACE_REPS):
        for name, df in legs.items():
            sql.mark()
            with tracer.span(f"leg.{name}") as s:
                _noop(df)
            walls[name].append(s["end"] - s["start"])
            if name == "scan":
                scan_mb = sql.since_mark().get("size of files read", 0.0) / 2**20
    t_scan, t_id, t_parse = (med(walls[k]) for k in legs)
    run.put("scan.self_s", t_scan, "s")
    run.put("scan.mb", scan_mb, "MB")
    run.put("parse_udf.arrow_s", t_id - t_scan, "s")
    run.put("parse_udf.mb_to_python", udf.get("data sent to Python workers", 0.0) / 2**20, "MB")
    run.put("parse_udf.mb_from_python", udf.get("data returned from Python workers", 0.0) / 2**20, "MB")
    run.put("parser.udf_s", t_parse - t_id, "s")
    run.put("assemble.turns_s", t_full - t_parse, "s")

    # 3. single-thread parser calls on each kind's rows, Spark-sized batches
    texts = run.frame["text"].iloc[:: PARSER_STRIDE[run.workload]].fillna("").astype(object)
    cpu = {"detect": 0.0, "html": 0.0, "tool_json": 0.0, "markdown": 0.0}
    rows = {"html": 0, "tool_json": 0, "markdown": 0, "empty": 0}
    calls = {"html": parser.extract_html_series, "tool_json": parser.extract_tool_json_series,
             "markdown": parser.extract_markdown_series}
    with tracer.span("parser.single_thread"):
        for i in range(0, len(texts), 4096):
            batch = texts.iloc[i:i + 4096]
            t = time.process_time()
            kinds = parser.detect_kinds(batch)
            cpu["detect"] += time.process_time() - t
            rows["empty"] += int(kinds.eq("empty").sum())
            for kind, fn in calls.items():
                part = batch[kinds.eq(kind)]
                rows[kind] += len(part)
                t = time.process_time()
                if len(part):
                    fn(part)
                cpu[kind] += time.process_time() - t
    for kind, v in cpu.items():
        run.put(f"parser.{kind}_cpu_s", v, "CPU-s")
    for kind, v in rows.items():
        run.put(f"parser.{kind}_rows", v, "count")

    # 4. write path: committed output first (untimed), then the legs
    jobs = Jobs(run, spark)
    with tracer.span("job.commit"):
        jobs.commit()
    committed = spark.read.parquet(os.path.join(jobs.out, "turns"))
    tw = os.path.join(WORK, "turns_write")

    def turns_write():
        _rmtree(tw)
        (lineage.with_part_hash(pipeline.extract_turns(src), N_BUCKETS)
         .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy("part_hash").parquet(tw))

    def done_scan():
        done = lineage.done_buckets(spark, jobs.out, "snap-0")
        keys = lineage.with_part_hash(src, N_BUCKETS).join(F.broadcast(done), "part_hash", "left_anti")
        return keys.select("part_hash").distinct().collect()

    write_legs = {
        "lineage.turns_write": (turns_write, lambda r: True),
        "assemble.docs": (lambda: _noop(pipeline.extract_docs(committed)), lambda r: True),
        "pipeline.spans": (lambda: _noop(pipeline.extract_spans(committed)), lambda r: True),
        "pipeline.quarantine": (lambda: _noop(pipeline.quarantine(src)), lambda r: True),
        "lineage.done_buckets": (done_scan, lambda keys: keys == []),
    }
    wl: dict[str, list[float]] = {k: [] for k in write_legs}
    counters: dict[str, dict] = {}
    for _ in range(WRITE_REPS):
        for name, (fn, verify) in write_legs.items():
            sql.mark()
            with tracer.span(f"leg.{name}"):
                wl[name].append(run.op(fn, verify)[0])
            counters[name] = sql.since_mark()
    resumes = [jobs.resume() for _ in range(RESUMES)]
    edits = [jobs.edit() for _ in range(EDITS)]
    run.put("lineage.turns_write_s", med(wl["lineage.turns_write"]) - t_full, "s")
    run.put("lineage.files_written", counters["lineage.turns_write"].get("number of written files", 0), "count")
    run.put("lineage.mb_written", counters["lineage.turns_write"].get("written output", 0) / 2**20, "MB")
    run.put("lineage.done_buckets_s", med(wl["lineage.done_buckets"]), "s")
    run.put("lineage.resume_noop_s", med(resumes), "s")
    run.put("lineage.edit_one_bucket_s", med(edits), "s")
    run.put("assemble.docs_s", med(wl["assemble.docs"]), "s")
    run.put("assemble.docs_shuffle_mb", counters["assemble.docs"].get("shuffle bytes written", 0) / 2**20, "MB")
    run.put("pipeline.spans_s", med(wl["pipeline.spans"]), "s")
    run.put("pipeline.quarantine_s", med(wl["pipeline.quarantine"]), "s")

    ok, out = check_extract(run, spark, src)
    if not ok:
        run.failed += len(plain)
    run.put("assemble.images", int(out["images"].map(len).sum()), "count")
    run.put("session.start_s", run.setup["session.start_s"], "s")
    run.put("corpus.gen_s", run.setup["corpus.gen_s"], "s")

    print("warm-up curve (wall_s, jit_s, gc_s per extract pass):")
    for i, c in enumerate(curve):
        print(f"  {i:2d} {c['phase']:8s} {c['wall_s']:7.3f} {c['jit_s']:7.3f} {c['gc_s']:7.3f}")
    tracer.write(os.path.join(ROOT, ".extractbench_trace.json"), {"curve": curve})


def _identity_udf():
    """Identity Arrow pandas_udf: the boundary cost without the parse."""
    @F.pandas_udf(T.StringType())
    def identity(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        yield from batches

    return identity


def _trend_pct(walls: list[float]) -> float:
    """Least-squares slope of pass wall time per pass, as % of the mean."""
    n = len(walls)
    xm, ym = (n - 1) / 2, sum(walls) / n
    slope = sum((i - xm) * (w - ym) for i, w in enumerate(walls)) / sum((i - xm) ** 2 for i in range(n))
    return 100 * slope / ym


# --------------------------------------------------------------------- main
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["mixed", "html_heavy", "incremental"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-check hooks (extractbench/selfcheck.py): a smaller corpus, and
    # one flipped output byte that the checks must catch
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    run, spark, src = setup(args)
    try:
        if args.trace:
            trace_workload(run, spark, src)
        elif args.workload == "incremental":
            incremental_workload(run, spark, src)
        else:
            extract_workload(run, spark, src)
        if not args.trace:
            run.put("setup_s", run.setup["setup_s"], "s")
            run.put("peak_rss_mb", probes.tree_peak_rss_mb(), "MB")
            run.put("ok_share", (run.attempted - run.failed) / max(run.attempted, 1), "ratio")
    finally:
        _stop(spark)
        _rmtree(WORK)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in run.metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
