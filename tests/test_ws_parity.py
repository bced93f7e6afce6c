"""Cross-engine tokenizer parity on the ADVICE r4 whitespace edge.

Java's ``\\s`` includes U+000B (vertical tab); RE2's (DuckDB) does not.
Every shared tokenizer now spells the ASCII class explicitly
(``text.WS`` / the same literal in the oracle SQL), so a VT-containing
document must tokenize identically in both engines.  This pins it on a
fixture that contains every character of the class plus VT specifically.
"""

import duckdb
import pytest

from engine.spark import text as etext
from engine.spark.session import get_spark

# one doc exercising each class member, VT (\x0b) in token-splitting
# position — under Java \s this is 6 tokens either way, but under RE2 \s
# "b\x0bc" would stay ONE token and break parity
FIXTURE = "a b\tc\nd\x0be\ff\rg"
BPE_FIXTURE = "x1\x0b,y"


@pytest.fixture(scope="module")
def spark():
    # shared project session config: getOrCreate ignores divergent conf
    # when a session already exists, and a divergent FIRST module would
    # leak its conf into every later module (code-review r5)
    s = get_spark(cores=4, app="engine-tests")
    yield s


def test_vt_splits_identically(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(FIXTURE,)], "text string")
    spark_toks = df.select(
        F.split(F.trim(F.col("text")), etext.WS).alias("t")
    ).collect()[0]["t"]

    duck_toks = duckdb.execute(
        "SELECT regexp_split_to_array(trim(?), '[ \\t\\n\\x0b\\f\\r]+') AS t",
        [FIXTURE],
    ).fetchone()[0]

    assert spark_toks == duck_toks == list("abcdefg")


def test_vt_normalizes_identically(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(FIXTURE,)], "text string")
    spark_norm = df.select(
        F.regexp_replace("text", etext.WS, " ").alias("n")
    ).collect()[0]["n"]
    duck_norm = duckdb.execute(
        "SELECT regexp_replace(?, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')",
        [FIXTURE],
    ).fetchone()[0]
    assert spark_norm == duck_norm == "a b c d e f g"


def test_vt_bpe_tokens_identical(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(BPE_FIXTURE,)], "text string")
    spark_toks = df.select(
        F.regexp_extract_all("text", F.lit(etext.BPE_RE), 0).alias("t")
    ).collect()[0]["t"]
    duck_toks = duckdb.execute(
        "SELECT regexp_extract_all(?, "
        "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]')",
        [BPE_FIXTURE],
    ).fetchone()[0]
    # VT sits in the negated class in BOTH engines now, so it is
    # skipped like whitespace everywhere — under RE2's \s it used to
    # surface as a spurious punctuation token and break parity
    assert spark_toks == duck_toks == ["x", "1", ",", "y"]
