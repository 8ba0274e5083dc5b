"""Per-stage lineage + resumable restart (north rule requirement).

Stage counters are collected with ``DataFrame.observe`` -- they are computed
*during* the write pass, so lineage costs zero extra scans at 100 TB.  The
lineage row itself, like every other driver-side sidecar and index ``meta``
marker, is written by ``write_rows`` from a local relation: one task, one
file, no Python worker.  Per-partition granularity (for straggler forensics)
is available behind ``partition_stats=True`` which prices one extra
column-pruned scan of the written output.

Restart is idempotent: ``resume_filter`` anti-joins processed
``(conv_id, turn_idx)`` keys out of the input, null-safe, reading only the
output's key columns (column pruning keeps that scan cheap).  Plain
DataFrame ops -- no custom commit protocol.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_rows(spark, rows: list, path: str, mode: str,
               schema=None) -> None:
    """Write a few driver-side rows (lineage sidecars, index ``meta``
    markers) as one parquet file.

    The schema is the one ``spark.createDataFrame(rows, schema)`` would
    use: inferred on the driver without a job (dict rows get their fields
    sorted by key), or the given DDL string / ``StructType``, against which
    every row is verified.  The rows then travel as a pandas frame, which
    under Arrow plans as a ``LocalTableScan`` -- one task and no Python
    worker, where a list of rows goes through a Python RDD and a job of
    ``defaultParallelism`` tasks, mostly writing empty files."""
    import pandas as pd
    from pyspark.sql.types import (
        _create_converter, _make_type_verifier, _parse_datatype_string)

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if schema is None:
        schema = spark._inferSchemaFromList(rows)
    else:
        verify = _make_type_verifier(schema)
        for row in rows:
            verify(row)
    convert = _create_converter(schema)
    # object columns: Arrow casts each value straight to the schema type,
    # so a NULL never widens a long column to float64 on the way
    pdf = pd.DataFrame([convert(r) for r in rows], columns=schema.names,
                       dtype=object)
    (spark.createDataFrame(pdf, schema).coalesce(1)
     .write.mode(mode).parquet(path))


def write_with_lineage(
    df: DataFrame, output_path: str, stage: str,
    partition_stats: bool = False,
) -> int:
    """Write data parquet + lineage parquet; returns rows written this call.

    Lineage row: (stage, n_turns, n_keep, n_drop, n_masked, n_detections,
    wall_ms) -- observed on the write pass itself.  With
    ``partition_stats=True`` a second lineage file adds per-partition rows.
    """
    from pyspark.sql import Observation

    t0 = time.time()
    obs = Observation(f"lineage_{stage}")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum((~F.col("keep")).cast("long")).alias("n_drop"),
        F.sum((F.col("n_detections") > 0).cast("long")).alias("n_masked"),
        F.sum("n_detections").alias("n_detections"),
    )
    observed.write.mode("append").parquet(output_path)
    spark = df.sparkSession
    metrics = obs.get
    wall_ms = int((time.time() - t0) * 1000)
    lineage_row = {
        "stage": stage,
        "n_turns": int(metrics.get("n_turns") or 0),
        "n_keep": int(metrics.get("n_keep") or 0),
        "n_drop": int(metrics.get("n_drop") or 0),
        "n_masked": int(metrics.get("n_masked") or 0),
        "n_detections": int(metrics.get("n_detections") or 0),
        "wall_ms": wall_ms,
    }
    write_rows(spark, [lineage_row], f"{output_path}/_lineage", "append")

    if partition_stats:
        written = spark.read.parquet(output_path)
        (written
         .select("keep", F.spark_partition_id().alias("partition_id"))
         .groupBy("partition_id")
         .agg(F.count("*").alias("n_turns"),
              F.sum(F.col("keep").cast("long")).alias("n_keep"))
         .withColumn("stage", F.lit(stage))
         .write.mode("append").parquet(f"{output_path}/_lineage_partitions"))

    return lineage_row["n_turns"]


def resume_filter(df: DataFrame, output_path: str) -> DataFrame:
    """Drop (conv_id, turn_idx) pairs already present in the output.

    The anti-join is null-safe: a plain equi-join never matches a NULL
    ``conv_id``, so every restart would append those rows again.

    Only a missing output path means "fresh start".  Any other read error
    (corrupt files, schema trouble, transient storage failure) propagates:
    swallowing it would silently reprocess everything and append duplicate
    rows, breaking the idempotent-restart guarantee."""
    from pyspark.errors import AnalysisException

    spark = df.sparkSession
    try:
        done = spark.read.parquet(output_path).select(
            F.col("conv_id").alias("_done_conv"),
            F.col("turn_idx").alias("_done_turn"))
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return df  # nothing written yet
        raise
    return df.join(done, df["conv_id"].eqNullSafe(F.col("_done_conv"))
                   & df["turn_idx"].eqNullSafe(F.col("_done_turn")),
                   "left_anti")
