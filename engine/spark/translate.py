"""Translation stage with the reference's error-channel semantics (T1).

The reference translates page-by-page via remote LLMs
(/root/reference/mistralocr_app.py:141-221); on any failure it does NOT
abort — it yields a marker page

    --- ERROR: Translation Failed for Page {idx+1} ---\n\n{page}

(mistralocr_app.py:161, :183, :203, :216) and keeps going, so the
per-page output list stays aligned.  Here the translation itself is a
pluggable deterministic stand-in (the north star replaces remote API
calls); the error-channel and document-assembly semantics
(mistralocr_app.py:717) are preserved exactly, as Catalyst expressions.
"""

from __future__ import annotations

from typing import Iterator, Tuple  # noqa: UP035 — pyspark UDF hint parsing

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine.core import spec
from engine.spark import assemble


def error_marker(turn_idx: Column, page: Column) -> Column:
    """Exact marker-page format of mistralocr_app.py:216."""
    return F.concat(
        F.lit("--- ERROR: Translation Failed for Page "),
        (turn_idx + 1).cast("string"),
        F.lit(" ---\n\n"),
        page,
    )


def fake_translation(markdown: Column) -> Column:
    """Deterministic local stand-in for the remote translation call:
    tags the page as translated.  Swap for a real translator UDF in
    production; everything downstream is unchanged."""
    return F.concat(F.lit("> [translated zh-TW]\n\n"), markdown)


def translate_turns(
    turns: DataFrame,
    fail_when: Column | None = None,
) -> DataFrame:
    """Adds a ``translated`` column; rows matching ``fail_when`` get the
    reference's error-marker page instead of a translation (per-page
    failure isolation, mistralocr_app.py:211-216)."""
    md = F.col("markdown")
    ok = fake_translation(md)
    if fail_when is None:
        translated = ok
    else:
        translated = F.when(fail_when, error_marker(F.col("turn_idx"), md)).otherwise(ok)
    return turns.withColumn("translated", translated)


# -------------------------------------------------- production plug point
def default_translator(md):
    """Batch stand-in with the same output as fake_translation — the
    shape a real client wrapper must produce."""
    return "> [translated zh-TW]\n\n" + md


def translate_turns_udf(
    turns: DataFrame,
    translator=default_translator,
) -> DataFrame:
    """Production translation hook: ``translator`` is ANY batch callable
    ``pd.Series[str] -> pd.Series[str]`` — wrap a remote LLM client
    (the reference's per-page generator, mistralocr_app.py:141-221), a
    local model, or a cache lookup.  It runs inside an Arrow-batched
    iterator pandas UDF, so client construction is amortised per
    executor process and data crosses the boundary in batches.

    Failure isolation matches the reference exactly: if the translator
    raises on a batch, rows are retried one-by-one and only the raising
    rows get the error-marker page
    ``--- ERROR: Translation Failed for Page {idx+1} ---\\n\\n{page}``
    (mistralocr_app.py:211-216); null outputs are treated as failures
    too.  Output schema is identical to :func:`translate_turns`."""
    def _align(out, md: pd.Series) -> pd.Series:
        """Re-anchor the translator's output to the input index.  The
        contract is POSITIONAL (row i in → row i out): a translator that
        resets or reindexes its output must not silently misalign the
        ok-mask / marker substitution below.  A length mismatch is a
        broken translator — raise so the per-row retry isolates it."""
        if not isinstance(out, pd.Series):
            out = pd.Series(list(out), dtype=object)
        if len(out) != len(md):
            raise ValueError(
                f"translator returned {len(out)} rows for {len(md)} inputs"
            )
        return pd.Series(out.to_numpy(), index=md.index, dtype=object)

    def _batch(md: pd.Series) -> tuple[pd.Series, pd.Series]:
        try:
            out = _align(translator(md), md)
            return out, out.notna()
        except Exception:
            outs, oks = [], []
            for v in md:
                try:
                    r = translator(pd.Series([v])).iloc[0]
                    outs.append(r)
                    oks.append(r is not None)
                except Exception:
                    outs.append(None)
                    oks.append(False)
            return (
                pd.Series(outs, index=md.index, dtype=object),
                pd.Series(oks, index=md.index),
            )

    @F.pandas_udf(T.StringType())
    def _udf(
        it: Iterator[Tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        for md, turn_idx in it:
            out, ok = _batch(md)
            marker = (
                "--- ERROR: Translation Failed for Page "
                + (turn_idx + 1).astype("int64").astype(str)
                + " ---\n\n"
                + md
            )
            yield out.where(ok, marker)

    return turns.withColumn(
        "translated", _udf(F.col("markdown"), F.col("turn_idx"))
    )


def translated_docs(turns: DataFrame, chunk: int = 1024) -> DataFrame:
    """Per-conversation translated document (mistralocr_app.py:717)."""
    t = turns.select(
        "conv_id", "turn_idx", F.col("translated").alias("markdown")
    )
    return assemble.assemble_docs(t, chunk=chunk, sep=spec.DOC_JOIN)
