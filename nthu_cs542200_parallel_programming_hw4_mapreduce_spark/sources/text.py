"""Chunked line-text source — the reference's O1 (hw4.cc:61-80).

The reference concatenates every ``chunk_size`` lines into one chunk
string on every MPI rank (redundantly — quirk Q6). Here the file is
scanned distributed and chunk assembly is a DataFrame aggregation; quirk
Q2 (delimiter-less concatenation, hw4.cc:72) is an explicit flag.

Lines are numbered in the JVM (``numbered_lines``): no Python worker
runs, and no job starts while the frame is built.

At scale you would not chunk by line count at all — Spark's file splits
(``spark.sql.files.maxPartitionBytes``) do this job natively (SURVEY.md
§1.4); this source exists for faithful-mode parity, where chunk ids are
load-bearing (the locality table and task count key off them, Q7).
``operators.mapreduce`` reads the lines directly when no quirk flag is
on, because chunk boundaries then change no word.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def numbered_lines(spark: SparkSession, path: str) -> DataFrame:
    """Return (idx, value): every line of ``path`` with its 0-based
    position in file order.

    A scan split's lines come out contiguous and in order, so
    ``monotonically_increasing_id`` is consecutive within each split
    (keyed by file and block start). A one-row-per-split table of
    (first id, exclusive prefix line count) turns the ids into file
    positions; it is broadcast-joined back, so it runs as a small
    sub-job of whatever job consumes the frame rather than as an eager
    count here. The input is scanned twice: once for the split table
    and once for the lines.
    """
    lines = spark.read.text(path).select(
        F.input_file_name().alias("file"),
        F.input_file_block_start().alias("start"),
        F.monotonically_increasing_id().alias("id"),
        "value",
    )
    splits = (
        lines.groupBy("file", "start")
        .agg(F.min("id").alias("first"), F.count("*").alias("n"))
        .select(
            "file",
            "start",
            "first",
            (F.sum("n").over(Window.orderBy("file", "start")) - F.col("n")).alias(
                "offset"
            ),
        )
    )
    return lines.join(F.broadcast(splits), ["file", "start"]).select(
        (F.col("offset") + F.col("id") - F.col("first")).alias("idx"), "value"
    )


def chunked_lines(
    spark: SparkSession,
    path: str,
    chunk_size: int,
    fuse_chunk_lines: bool = False,
) -> DataFrame:
    """Return (chunk_id, chunk) with 1-based chunk ids, ``chunk_size``
    lines per chunk, lines joined in file order.

    ``fuse_chunk_lines=True`` reproduces Q2: lines concatenated with no
    separator, so the last word of line k fuses with the first word of
    line k+1 unless lines end with a space. Default inserts a single
    space (the fix).
    """
    sep = "" if fuse_chunk_lines else " "
    return (
        numbered_lines(spark, path)
        .withColumn("chunk_id", (F.col("idx") / chunk_size).cast("long") + 1)
        .groupBy("chunk_id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "value"))),
                    lambda s: s["value"],
                ),
            ).alias("chunk")
        )
    )


def read_locality_table(path: str) -> dict[int, int]:
    """Parse the ``chunk_id node_id`` locality config (hw4.cc:87-96).

    Driver-side (the file is tiny — one line per map task). The
    reference folds node ids onto live ranks with ``node_id % (node-1)
    + 1``; that fold depends on the MPI world size, so it's applied by
    the caller that knows its worker count. Spark schedules with its own
    locality machinery (SURVEY.md §2.1 O2/O12 — nothing to build), so
    this table's only load-bearing role in faithful mode is Q7: the
    number of map tasks equals the number of entries.
    """
    table: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            parts = line.split()
            if len(parts) >= 2:
                table[int(parts[0])] = int(parts[1])
    return table
