"""Output checks, all run outside the timed windows.

  * ``oracle_mismatches`` — per-turn ``markdown`` and image ids against the
    sequential oracle (``engine.oracle.process_table``) on a deterministic
    subset that holds every payload kind;
  * ``table_digest``      — row count + order-independent digest of a
    parquet table read back from disk (for the ``incremental`` invariant
    that an edited output equals a clean run over the edited input).
"""

from __future__ import annotations

import hashlib
import zlib

import pandas as pd
import pyarrow.parquet as pq

from engine import oracle


def _category(text: str) -> str:
    kind = oracle.detect_kind(text)
    if kind == "markdown" and "![" in text:
        return "markdown_images"  # exercises OCR insert + link rewrite
    return kind


def oracle_subset(inputs: pd.DataFrame, per_kind: int) -> pd.DataFrame:
    """Up to ``per_kind`` turns of every payload category, picked by a
    hash of the key (so the subset is spread over the whole corpus)."""
    df = inputs[["conv_id", "turn_idx", "text"]].copy()
    df["text"] = df["text"].fillna("").astype(object)
    df["order"] = [zlib.crc32(f"{c}|{t}".encode()) for c, t in zip(df.conv_id, df.turn_idx)]
    df["cat"] = df["text"].map(_category)
    return (
        df.sort_values("order").groupby("cat", sort=True).head(per_kind)
        .drop(columns="order")
    )


def oracle_mismatches(subset: pd.DataFrame, output: pd.DataFrame) -> list[str]:
    """Keys of subset turns whose output markdown or image ids differ
    from the oracle, or that are missing from ``output``."""
    got = output.set_index(["conv_id", "turn_idx"])
    bad = []
    expected = oracle.process_table(
        list(zip(subset.conv_id, subset.turn_idx.astype(int), subset.text))
    )
    for r in expected:
        key = (r.conv_id, r.turn_idx)
        if key not in got.index:
            bad.append(f"{key}: missing")
            continue
        row = got.loc[key]
        if row["markdown"] != r.markdown or list(row["images"]) != r.image_ids:
            bad.append(f"{key}: differs")
    return bad


def read_table(path: str, columns: list[str]) -> pd.DataFrame:
    return pq.read_table(path, columns=columns).to_pandas()


def table_digest(df: pd.DataFrame, columns: list[str]) -> tuple[int, str]:
    """(rows, digest) independent of row and file order."""
    rows = sorted(
        "\x1f".join(
            "\x1e".join(map(str, v)) if hasattr(v, "__len__") and not isinstance(v, str) else str(v)
            for v in vals
        )
        for vals in zip(*(df[c] for c in columns))
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode("utf-8", "surrogatepass"))
        h.update(b"\x00")
    return len(rows), h.hexdigest()
