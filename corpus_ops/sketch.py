"""Count-min sketch over corpus token frequencies (Cormode &
Muthukrishnan 2005) — the fixed-memory heavy-hitter primitive.

Scale shape: the sketch is a (depth x width) grid of counters, so the
``groupBy (row, cell)`` key space is BOUNDED regardless of vocabulary
size — map-side partial aggregation reduces every partition to at most
depth*width rows before the shuffle, and the finished sketch is the same
few-KB object over 100 TB as over a toy corpus. Estimates are one-sided:
``est >= true count`` always, with overestimate bounded by collisions
(~total/width per row, take the min over depth rows).

Hashing is engine-portable (md5 hex prefix -> integer, verified
bit-equal between Spark's ``conv(.., 16, 10)`` and DuckDB's ``'0x'``
cast), one salt per sketch row — no JVM-only hash in the contract path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import normalize_text_col


def _cell(col, row: int, width: int):
    """Seeded engine-portable hash of a token to a cell index."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(f"cms-{row}:"), col)), 1, 7), 16, 10)
    return (h.cast("long") % width).alias("cell")


def cms_build(
    docs: DataFrame,
    depth: int = 4,
    width: int = 1024,
    text_col: str = "text",
    min_len: int = 2,
) -> DataFrame:
    """(row, cell, n) — the sketch. One corpus scan; bounded-key groupBy."""
    words = docs.select(
        F.explode(F.split(normalize_text_col(F.col(text_col)), " ")).alias("word")
    ).filter(F.length("word") >= min_len)
    cells = words.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("row"), _cell(F.col("word"), r, width))
                    for r in range(depth)
                ]
            )
        ).alias("rc")
    )
    return cells.groupBy(
        F.col("rc.row").alias("row"), F.col("rc.cell").alias("cell")
    ).agg(F.count("*").alias("n"))


def cms_estimate(
    sketch: DataFrame,
    words: DataFrame,
    depth: int = 4,
    width: int = 1024,
    word_col: str = "word",
) -> DataFrame:
    """Point estimates for a word list: est = min over rows of the
    hashed cell's counter. The sketch side is at most depth*width rows —
    it broadcasts; a cell no word hashed to reads as 0 (left join)."""
    probes = (
        words.select(F.col(word_col).alias("word"))
        .distinct()
        .select(
            "word",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(r).alias("row"), _cell(F.col("word"), r, width))
                        for r in range(depth)
                    ]
                )
            ).alias("rc"),
        )
        .select("word", F.col("rc.row").alias("row"), F.col("rc.cell").alias("cell"))
    )
    return (
        probes.join(F.broadcast(sketch), ["row", "cell"], "left")
        .groupBy("word")
        .agg(F.min(F.coalesce("n", F.lit(0))).alias("est"))
    )
