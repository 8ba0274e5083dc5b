"""``write_rows`` parity: the one-row sidecar writer must produce the same
parquet (schema, column order, values) as ``spark.createDataFrame(rows,
schema).write`` -- in a single file."""

import glob
import warnings

import pyarrow.parquet as pq
import pytest

from sumi_agent_spark.plans.checkpoint import write_rows


def _parquet_files(path):
    return sorted(glob.glob(f"{path}/*.parquet"))


def _table(path):
    return pq.ParquetDataset(_parquet_files(path)).read()


@pytest.mark.parametrize("rows,schema", [
    # dict rows: inferred schema, fields sorted by key
    ([{"stage": "neardup", "n_dropped": 3, "max_bucket_n": 12,
       "threshold": 0.8, "metrics_observed": True}], None),
    # tuple rows with a DDL schema
    ([("repetition", 4, "dup_line_frac=0.3")],
     "stage string, n_dropped long, thresholds string"),
    # explicit schema with all-None fields, bool and IntegerType columns
    ([{"stage": "sample", "fraction": None, "seed": 7,
       "n_per_stratum": None, "strata_cols": None}],
     "stage string, fraction double, seed long, n_per_stratum long, "
     "strata_cols string"),
    ([("lines", True, 40)], "unit string, normalize boolean, min_chars int"),
    # several rows, one of them NULL in a long column
    ([{"k": 1, "v": "a"}, {"k": None, "v": "b"}, {"k": 2 ** 62, "v": None}],
     "k long, v string"),
])
def test_write_rows_matches_create_dataframe(spark, tmp_path, rows, schema):
    ref, got = str(tmp_path / "ref"), str(tmp_path / "got")
    spark.createDataFrame(rows, schema).write.mode("append").parquet(ref)
    with warnings.catch_warnings():
        # an Arrow conversion failure would fall back to the row path
        # with a warning: the fast path must hold for every row shape here
        warnings.simplefilter("error")
        write_rows(spark, rows, got, "append", schema=schema)
    want, have = _table(ref), _table(got)
    assert have.schema.equals(want.schema, check_metadata=False)
    assert have.column_names == want.column_names
    assert have.to_pylist() == want.to_pylist()
    # Spark reads it back with the same schema too
    assert (spark.read.parquet(got).schema
            == spark.read.parquet(ref).schema)
    assert len(_parquet_files(got)) == 1


def test_write_rows_modes_and_verification(spark, tmp_path):
    path = str(tmp_path / "meta")
    write_rows(spark, [{"epoch": 0}], path, "overwrite")
    write_rows(spark, [{"epoch": 1}], path, "append")
    assert len(_parquet_files(path)) == 2
    write_rows(spark, [{"epoch": 2}], path, "overwrite")
    assert [r["epoch"] for r in _table(path).to_pylist()] == [2]
    # an explicit schema is enforced as createDataFrame enforces it
    with pytest.raises(Exception, match="(?i)long|int"):
        write_rows(spark, [("x",)], str(tmp_path / "bad"), "append",
                   schema="n long")
