"""Corpus-level line deduplication (beyond-reference training-data-pipeline
operator): the CCNet/RefinedWeb/FineWeb "line-level dedup" step — drop every
line that occurs in at least ``min_docs`` distinct documents (navigation
chrome, cookie banners, license boilerplate), then rebuild each document
with its surviving lines in original order.

Scale shape: one posexplode; the duplicated-line set is built by a
two-level aggregate with map-side combine (distinct (line, doc) then count
per line) and is typically a small fraction of the corpus, so AQE broadcasts
it into the anti-join; the rebuild is one aggregate keyed on the doc id with
an in-group ``array_sort`` by position (never a global sort). The exploded
lines feed both the duplicate census and the anti-join, so the corpus is
exploded twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """Remove lines shared by >= ``min_docs`` distinct documents; returns
    (id, text, n_lines_kept) with each document rebuilt from its surviving
    lines joined by ``sep`` in original order. ``sep`` is a regex for the
    split and a literal for the re-join (the default newline is both).
    Documents whose every line was duplicated are absent from the output
    (drop them — that is the filter's verdict).

    EMPTY lines are exempt from the census (CCNet/RefinedWeb convention):
    blank lines are paragraph structure, not boilerplate, and virtually
    every prose document shares them — dedupping them would collapse
    paragraph breaks corpus-wide."""
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__line"),
    )
    dup = (
        lines.where(F.col("__line") != "")
        .groupBy("__line")
        .agg(F.count_distinct("__id").alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__line")
    )
    kept = lines.join(dup, "__line", "left_anti")
    return (
        kept.groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                    lambda s: s["__line"],
                ),
                sep,
            ).alias(text_col),
            F.count(F.lit(1)).alias("n_lines_kept"),
        )
        .select(F.col("__id").alias(id_col), text_col, "n_lines_kept")
    )
