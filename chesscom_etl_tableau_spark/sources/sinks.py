"""Curated-output sinks (SURVEY.md §2.1 S10).

The reference's sinks are Google-Sheets tabs consumed by a BI model
(Chess Analytics.pbix reads the `Games` sheet). The games fact itself
is written by `plans.ingest.commit_append` into a flat parquet
directory; this module holds the BI export and the layout helpers:

- `export_for_bi`: S10 — flat single-directory parquet (or csv) export,
  the handoff a BI connector ingests.
- `zorder_value` / `write_zordered`: a Morton-key layout rewrite whose
  files each cover a narrow range in every z-dimension.
- `_hadoop_fs`: the Hadoop FileSystem handle for a path, so directory
  operations (the streaming state checkpoints) work on object stores
  as well as local disk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def export_for_bi(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """S10: flat export of a curated result for the BI connector."""
    writer = df.write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", True).csv(path)
    else:
        writer.parquet(path)


def zorder_value(cols: list, bits: int = 16):
    """Z-order (Morton) key over 2+ non-negative integer columns: the
    bits of each dimension interleaved into one bigint. Rows close in
    EVERY dimension get close z-values, so range-partitioning the write
    on this key gives each output file a narrow min/max range in ALL
    dimensions at once — parquet row-group / file skipping then prunes
    multi-dimensional predicates, where a lexicographic sort only helps
    the leading column. Pure Catalyst bit arithmetic (shiftleft/or),
    no UDF.

    Each input column is clamped into [0, 2^bits); callers map raw
    values into that domain first (e.g. day-number, id % 2^bits).
    `bits * len(cols)` must be <= 63.
    """
    from pyspark.sql import functions as F

    if bits * len(cols) > 63:
        raise ValueError("interleaved width exceeds a bigint")
    ndim = len(cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for d, c in enumerate(cols):
            src = F.least(
                F.greatest(F.col(c).cast("long"), F.lit(0)),
                F.lit((1 << bits) - 1),
            )
            bit = F.shiftright(src, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * ndim + d))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list,
    bits: int = 16,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """OPTIMIZE ZORDER-style layout rewrite: range-partition on the
    Morton key of `cols`, sort within partitions, write parquet. Each
    file then covers a narrow z-range = a narrow range in every
    z-dimension, so point/range predicates on ANY of the dimensions
    skip most files via parquet min/max stats (verified against a
    round-robin layout in tests)."""
    from pyspark.sql import functions as F

    z = zorder_value(cols, bits).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
