"""Scan-parallelism repair for narrow inputs (guide §2.5 "input skew").

The driver's star-schema tables are written as ONE parquet row group per
file, and a parquet row group is an indivisible split: no matter what
``spark.sql.files.maxPartitionBytes`` says, every scan of such a table is
exactly one task -- and everything fused into the scan stage (the Arrow
signature/scrub/quality UDFs, regexp projections, partial aggregations)
runs on one core while the other 31 idle.  That is the local-mode analog
of "one huge unsplittable gzip file": the fix the optimization guide
prescribes is to repartition immediately after the read.

:func:`fan_out` does that *scale-adaptively*: it is a no-op whenever the
input already carries at least ``defaultParallelism`` partitions, which is
the normal state at production scale (a 100 TB table has thousands of row
groups).  Only an input that would underfill the cluster pays the one
narrow exchange -- and that exchange moves the raw input bytes exactly
once, before any expensive per-row work multiplies them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


# Logical-plan node names whose presence means the frame either already
# carries an exchange-derived partitioning (Repartition/Aggregate/Window/
# Sort -> shuffle.partitions-wide) or is not a bare-scan chain this helper
# should probe: `df.rdd.getNumPartitions()` on a plan that contains an
# exchange EXECUTES the upstream stages under AQE (a full discarded job),
# so fan_out must decide from the logical plan alone for such inputs.
# Joins are skipped too: a post-shuffle join is already parallel, and a
# broadcast join inherits its streamed side's scan partitioning -- callers
# that need a fanned broadcast-join input fan the scan side BEFORE joining
# (as the incremental index probes do).  Matched against plan NODE names
# (``RepartitionByExpression`` is a Repartition), never against the
# rendered plan string, where a column named e.g. ``JoinKey`` would match.
_WIDE_NODES = ("Repartition", "Join", "Aggregate", "Window", "Sort")


def _plan_node_names(plan):
    """Node names of a JVM logical plan tree, subquery plans included."""
    todo = [plan]
    while todo:
        node = todo.pop()
        yield node.nodeName()
        for seq in (node.children(), node.subqueries()):
            todo.extend(seq.apply(i) for i in range(seq.size()))


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` up to the session's default
    parallelism -- ONLY when it is a narrow chain over leaves with fewer
    partitions (the single-row-group-scan case this exists to repair).

    Value-neutral by construction: every consumer in this repo is either
    partitioning-invariant (hash aggregates over exact integers, joins,
    md5-threshold sampling) or carries its own ordering (window/orderBy),
    so moving rows between partitions cannot change any query result.
    Spark's sort-before-repartition (on by default) keeps the row->
    partition assignment deterministic under task retries."""
    spark = df.sparkSession
    target = int(min_partitions
                 or spark.sparkContext.defaultParallelism)
    plan = df._jdf.queryExecution().analyzed()
    if any(wide in name for name in _plan_node_names(plan)
           for wide in _WIDE_NODES):
        return df
    # narrow chain over scans/local relations: the RDD probe plans
    # without executing anything
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
