"""parallel.fan_out decides from plan node names."""


def test_fan_out_ignores_node_words_in_column_names(spark, tmp_path):
    """A single-file scan is one partition; a column whose name contains
    a plan-node word (``JoinKey``) must not stop the fan-out."""
    from sumi_agent_spark.parallel import fan_out

    path = str(tmp_path / "one_file.parquet")
    (spark.range(100).withColumnRenamed("id", "JoinKey")
     .coalesce(1).write.parquet(path))
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    target = spark.sparkContext.defaultParallelism
    assert target > 1
    fanned = fan_out(df)
    assert fanned.rdd.getNumPartitions() == target
    assert sorted(r["JoinKey"] for r in fanned.collect()) == list(range(100))


def test_fan_out_skips_wide_plans(spark):
    from sumi_agent_spark.parallel import fan_out

    agg = spark.range(10).groupBy("id").count()
    assert fan_out(agg) is agg
