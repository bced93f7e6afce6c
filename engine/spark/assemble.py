"""String-assembly operators as pure Catalyst column expressions.

These re-express the reference's pure assembly functions (the
byte-exactness contract) JVM-side — whole-stage-codegen'd, zero Python:

  * image discovery       — regexp_extract_all over the placeholder
                            grammar of mistralocr_app.py:76-82
  * P2 OCR-block insert   — insert_ocr_below_images, mistralocr_app.py:92-99
  * P3 link rewrite       — save_images_and_replace_links,
                            mistralocr_app.py:101-122 (dict insertion order
                            = first-appearance order, :640-641)
  * document join         — "\\n\\n---\\n\\n" ordered by turn_idx,
                            mistralocr_app.py:716-717
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from engine.core import spec


def _ph(img: Column) -> Column:
    """``![id](id)`` placeholder for an image-id column."""
    return F.concat(F.lit("!["), img, F.lit("]("), img, F.lit(")"))


def images_col(markdown: Column | str = "markdown") -> Column:
    """Unique image ids in first-appearance order (JVM-side regex).

    array_distinct preserves first occurrences — python-dict insertion
    order semantics of mistralocr_app.py:640-641."""
    md = F.col(markdown) if isinstance(markdown, str) else markdown
    return F.array_distinct(
        F.regexp_extract_all(md, F.lit(spec.IMG_PLACEHOLDER_RE), 1)
    )


def ocr_json_col(conv_id: Column, turn_idx: Column, img: Column) -> Column:
    """Deterministic stand-in OCR JSON (shape of mistralocr_app.py:501,
    pretty-print convention of :305) — see spec.ocr_json_text."""
    return F.concat(
        F.lit('{\n  "unstructured_ocr": "deterministic OCR for '),
        img,
        F.lit(" at turn "),
        turn_idx.cast("string"),
        F.lit(" of "),
        conv_id,
        F.lit('"\n}'),
    )


def insert_ocr_blocks(markdown: Column, images: Column, conv_id: Column,
                      turn_idx: Column) -> Column:
    """P2: append blockquote + fenced JSON below each placeholder —
    F.aggregate fold over the (small) per-turn image array."""
    return F.aggregate(
        images,
        markdown,
        lambda acc, img: F.replace(
            acc,
            _ph(img),
            F.concat(
                _ph(img),
                F.lit(spec.OCR_BLOCK_PREFIX),
                ocr_json_col(conv_id, turn_idx, img),
                F.lit(spec.OCR_BLOCK_SUFFIX),
            ),
        ),
    )


def stem_col(conv_id: Column) -> Column:
    return F.replace(conv_id, F.lit(" "), F.lit("_"))  # mistralocr_app.py:569


def image_path_col(stem: Column, turn_idx: Column, ordinal0: Column) -> Column:
    """``images_{stem}/page_{turn+1}_img_{i+1}.png`` (mistralocr_app.py:109)."""
    return F.concat(
        F.lit("images_"),
        stem,
        F.lit("/page_"),
        (turn_idx + 1).cast("string"),
        F.lit("_img_"),
        (ordinal0 + 1).cast("string"),
        F.lit(".png"),
    )


def rewrite_links(markdown: Column, images: Column, conv_id: Column,
                  turn_idx: Column) -> Column:
    """P3: placeholder → relative image path, 1-based appearance order."""
    stem = stem_col(conv_id)
    indexed = F.transform(
        images, lambda img, i: F.struct(img.alias("id"), i.alias("i"))
    )
    return F.aggregate(
        indexed,
        markdown,
        lambda acc, s: F.replace(
            acc,
            _ph(s["id"]),
            F.concat(
                F.lit("!["), s["id"], F.lit("]("),
                image_path_col(stem, turn_idx, s["i"]), F.lit(")"),
            ),
        ),
    )


def replace_images_inline(markdown: Column, images: Column) -> Column:
    """P1 (replace_images_in_markdown, mistralocr_app.py:76-82):
    ``![id](id)`` → ``![id](payload)`` for an array<struct<id,payload>>
    column, folded in array (= dict insertion) order."""
    return F.aggregate(
        images,
        markdown,
        lambda acc, s: F.replace(
            acc,
            _ph(s["id"]),
            F.concat(F.lit("!["), s["id"], F.lit("]("), s["payload"],
                     F.lit(")")),
        ),
    )


def decode_image_payloads(df: DataFrame) -> DataFrame:
    """Base64 image payload decode (mistralocr_app.py:107, :262).

    Input column ``images_b64``: ``array<struct<id: string, image_base64:
    string>>``
    where ``image_base64`` is a data URL (``data:image/png;base64,...``,
    the reference's Image shape, mistralocr_app.py:88).  The reference
    decodes with ``base64_str.split(",")[-1]`` + b64decode per file;
    here it is one JVM-side expression over the fan-out:
    ``unbase64(element_at(split(b64, ','), -1))`` — no Python, no
    per-file I/O.  Output: one row per image with the binary payload
    (the images *table* replaces the reference's .png file sink)."""
    ex = df.select(
        "conv_id", "turn_idx", F.posexplode("images_b64").alias("pos", "img")
    )
    payload = F.unbase64(
        F.element_at(F.split(F.col("img.image_base64"), ","), -1)
    )
    return ex.select(
        "conv_id",
        "turn_idx",
        (F.col("pos") + 1).alias("img_idx"),
        F.col("img.id").alias("img_id"),
        payload.alias("payload"),
        F.octet_length(payload).alias("n_bytes"),
    )


def structured_ocr(turns: DataFrame, spans: DataFrame) -> DataFrame:
    """Typed StructuredOCR analog (mistralocr_app.py:54-58: Pydantic
    ``file_name: str, topics: list[str], languages: str, ocr_contents:
    dict``) as a Spark struct column derived from parsed structure:

      * file_name     — sanitised stem + turn suffix (S4 naming, :569)
      * topics        — distinct block types present in the turn, sorted
      * languages     — n-gram language ID over the extracted markdown
      * ocr_contents  — schemaless dict in the reference ⇒ JSON string
                        (the first image's OCR payload, '{}' if no image)

    Returns turns + ``structured_ocr`` struct column."""
    from engine.spark import text as _text

    topics = (
        spans.groupBy("conv_id", "turn_idx")
        .agg(F.array_sort(F.collect_set("block_type")).alias("_topics"))
    )
    base = turns.join(topics, ["conv_id", "turn_idx"], "left")
    first_img = F.element_at("images", 1)
    struct = F.struct(
        F.concat(
            stem_col(F.col("conv_id")),
            F.lit("_turn_"),
            F.col("turn_idx").cast("string"),
            F.lit(".md"),
        ).alias("file_name"),
        F.coalesce("_topics", F.array().cast("array<string>")).alias("topics"),
        _text.lang_id(F.col("markdown")).alias("languages"),
        F.when(
            F.size("images") > 0,
            ocr_json_col(F.col("conv_id"), F.col("turn_idx"), first_img),
        )
        .otherwise(F.lit("{}"))
        .alias("ocr_contents"),
    )
    return base.withColumn("structured_ocr", struct).drop("_topics")


def ocr_map_table(turns: DataFrame) -> DataFrame:
    """F3 regroup (mistralocr_app.py:513-517): per-(conv, turn) map of
    img_id → ocr_json via map_from_entries(collect_list(...)).  Session
    sets mapKeyDedupPolicy=LAST_WIN to match python-dict last-write-wins
    (mistralocr_app.py:641)."""
    ex = turns.select(
        "conv_id", "turn_idx", F.explode("images").alias("img_id")
    )
    ex = ex.withColumn(
        "ocr_json",
        ocr_json_col(F.col("conv_id"), F.col("turn_idx"), F.col("img_id")),
    )
    return ex.groupBy("conv_id", "turn_idx").agg(
        F.map_from_entries(
            F.collect_list(F.struct("img_id", "ocr_json"))
        ).alias("ocr_map")
    )


def images_table(turns: DataFrame) -> DataFrame:
    """One row per (conv_id, turn_idx, img) with the rewritten path —
    replaces the per-file image sink of mistralocr_app.py:101-122."""
    ex = turns.select(
        "conv_id", "turn_idx", F.posexplode("images").alias("pos", "img_id")
    )
    return ex.select(
        "conv_id",
        "turn_idx",
        (F.col("pos") + 1).alias("img_idx"),
        "img_id",
        image_path_col(
            stem_col(F.col("conv_id")), F.col("turn_idx"), F.col("pos")
        ).alias("path"),
    )


def _ordered_join(pairs_struct: Column, sep: str) -> Column:
    return F.array_join(
        F.transform(F.array_sort(pairs_struct), lambda s: s["markdown"]), sep
    )


def assemble_docs(turns: DataFrame, chunk: int = 1024,
                  sep: str = spec.DOC_JOIN) -> DataFrame:
    """Per-conversation document: turns joined by sep, ordered by turn_idx.

    Two-phase ordered concat: first group on (conv_id, turn_idx div chunk)
    so a single skewed 10^6-turn conversation never lands on one reducer
    with all its rows; then join the (few) chunk strings.  Bounded reducer
    memory at any conversation length — the salting strategy the north
    rule requires for the assembly shuffle."""
    chunked = (
        turns.select(
            "conv_id",
            (F.col("turn_idx") / chunk).cast("int").alias("chunk_id"),
            F.struct("turn_idx", "markdown").alias("tm"),
        )
        .groupBy("conv_id", "chunk_id")
        .agg(_ordered_join(F.collect_list("tm"), sep).alias("markdown"))
    )
    return (
        chunked.select(
            "conv_id", F.struct(F.col("chunk_id").alias("turn_idx"),
                                "markdown").alias("tm")
        )
        .groupBy("conv_id")
        .agg(_ordered_join(F.collect_list("tm"), sep).alias("markdown"))
    )
