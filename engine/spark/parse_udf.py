"""Arrow-batched UDF wrappers around the vectorized core parser.

The only Python↔JVM boundary in the pipeline.  Both UDFs are
iterator-based so per-executor setup (regex compilation in
engine/core/parser.py) is amortised across batches; data crosses as
Arrow record batches, never row-at-a-time (north-star requirement;
replaces the reference's remote OCR call, mistralocr_app.py:241-245).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine.core import parser

# markdown extraction: text -> extracted markdown (Series→Series, iterator)


@F.pandas_udf(T.StringType())
def extract_markdown_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for texts in batches:
        yield parser.extract_markdown_series(texts)


SPANS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("block_idx", T.IntegerType()),
        T.StructField("block_type", T.StringType()),
        T.StructField("level", T.IntegerType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)

_SPAN_COLS = [f.name for f in SPANS_SCHEMA.fields]


def _spans_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = parser.segment_blocks_frame(
            pdf["markdown"], pdf[["conv_id", "turn_idx"]]
        )
        yield out[_SPAN_COLS]


def explode_spans(turns: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, markdown) → one row per block with char spans.

    Row-count-changing map ⇒ mapInPandas, one pass per turn inside."""
    return turns.select("conv_id", "turn_idx", "markdown").mapInPandas(
        _spans_map, schema=SPANS_SCHEMA
    )
