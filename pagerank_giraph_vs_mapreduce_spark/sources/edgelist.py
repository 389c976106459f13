"""SNAP edge-list text source (reference operators S1-S3, P1).

The reference scans SNAP files line-by-line, dropping blank lines and
``#`` comments (MR/GraphBuilderMapper.java:23-26), whitespace-splitting into
(src, dst) and silently dropping malformed rows (<2 tokens, non-numeric —
MR/GraphBuilderMapper.java:29-38, MR/PageRankDriver.java:362-371). We keep
the drop-don't-fail policy but count rejects with ``observe()`` metrics
(Spark-native replacement for the reference's DataQuality counters,
MR/PageRankReducer.java:50-52,64-67).

Scale notes: a pure-projection pipeline over ``spark.read.text`` — no
shuffle, whole-stage-codegen'd, splits across executors by HDFS block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def parse_edgelist(lines: DataFrame, observation: Observation | None = None) -> DataFrame:
    """Parse a one-string-column DataFrame of SNAP lines into edges(src, dst).

    Malformed rows (blank, comment, <2 tokens, non-integer token) are dropped,
    mirroring MR/GraphBuilderMapper.java:23-38's silent-drop policy.
    """
    col = lines.columns[0]
    trimmed = lines.select(F.trim(F.col(col)).alias("line"))
    if observation is not None:
        trimmed = trimmed.observe(
            observation,
            F.count(F.lit(1)).alias("lines_total"),
            F.count(F.when(F.col("line").startswith("#"), 1)).alias("lines_comment"),
            F.count(F.when(F.col("line") == "", 1)).alias("lines_blank"),
        )
    tokens = (
        trimmed.filter((F.col("line") != "") & ~F.col("line").startswith("#"))
        .select(F.split("line", r"\s+").alias("t"))
    )
    return (
        tokens.select(
            F.get("t", 0).try_cast("bigint").alias("src"),
            F.get("t", 1).try_cast("bigint").alias("dst"),
        )
        # get (not getItem, which raises under ANSI mode) yields NULL for a
        # missing token, and try_cast NULL for a non-numeric one; both rows
        # are dropped (reference: NumberFormatException swallowed,
        # PageRankDriver.java:362-371)
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    )


def read_edgelist(spark: SparkSession, path: str) -> DataFrame:
    """S1: scan a SNAP-format text file/dir into edges(src BIGINT, dst BIGINT)."""
    return parse_edgelist(spark.read.text(path))


def read_adjacency(spark: SparkSession, path: str) -> DataFrame:
    """S5: Giraph adjacency-list input — one line per vertex,
    ``id nbr1 nbr2 ...`` whitespace-separated (the format
    LongLongNullTextInputFormat consumes, GI/PageRankDriver.java:79;
    produced by the pre-cleaning step run_pagerank.sh feeds it).

    Returns edges(src, dst). A bare-id line (vertex with no neighbors)
    contributes no edge rows — pass ``read_adjacency_vertices`` output as
    ``build_graph(..., extra_vertices=...)`` to keep such vertices in the
    universe as dangling, matching Giraph (which instantiates every input
    line as a vertex).
    """
    lines = spark.read.text(path)
    toks = (
        lines.select(F.split(F.trim("value"), r"\s+").alias("t"))
        .filter((F.size("t") >= 1) & (F.col("t").getItem(0) != ""))
        .select(
            F.col("t").getItem(0).try_cast("bigint").alias("src"),
            F.slice("t", 2, F.greatest(F.size("t") - 1, F.lit(0))).alias("nbrs"),
        )
        .filter(F.col("src").isNotNull())
    )
    return toks.select(
        "src", F.explode("nbrs").alias("d")
    ).select(
        "src", F.col("d").try_cast("bigint").alias("dst")
    ).filter(F.col("dst").isNotNull())


def read_adjacency_vertices(spark: SparkSession, path: str) -> DataFrame:
    """All vertex ids declared by adjacency-list lines (first token),
    including bare-id vertices with no out-neighbors."""
    lines = spark.read.text(path)
    return (
        lines.select(F.split(F.trim("value"), r"\s+").getItem(0).alias("tok"))
        .select(F.col("tok").try_cast("bigint").alias("id"))
        .filter(F.col("id").isNotNull())
        .distinct()
    )
