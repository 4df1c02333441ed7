"""Parquet sink (S8 parity — cna/writer.go:14-58).

The reference streams Arrow batches into a Snappy parquet file, schema
from the first batch. Spark's writer is the same thing distributed:
``df.write.parquet`` with snappy (session default), schema from the
plan, one file per task. ``single_file=True`` coalesces to one output
file to mirror the reference's one-file-per-(study × table) layout for
parity tests — at scale leave it False so every task writes its split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    single_file: bool = False,
    partition_by: list[str] | None = None,
) -> None:
    writer = df.coalesce(1).write if single_file else df.write
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.mode(mode).parquet(path)
