"""Lineage append path: the driver-side pyarrow fast write must be
indistinguishable from the Spark write it replaces — same schema, same
values, and the two file flavors must coexist in one lineage read
(engine/cdc.py _write_lineage / _write_lineage_driver_side)."""

import os

import pytest

from filters_spark.engine.cdc import CDCEngine
from filters_spark.engine.defaults import default_registry
from filters_spark.lake.table import LakeTable


def make_engine(spark, tmp):
    table = LakeTable.create(
        spark, os.path.join(tmp, "lake"), key_cols=["repo", "path"],
        num_buckets=4,
    )
    return CDCEngine(spark, table, default_registry())


ROWS_A = [(1, 0, "00000000000000000001-000000000000000005", 10, 0, 1000)]
ROWS_B = [
    (2, 1, "00000000000000000002-000000000000000001", 7, 2, 2000),
    (2, 3, "00000000000000000002-000000000000000009", 4, 2, 2000),
]


def _spark_write(engine, rows):
    """The pre-optimization Spark spelling, verbatim."""
    engine.spark.createDataFrame(rows, engine.LINEAGE_DDL).coalesce(1).write.mode(
        "append"
    ).parquet(engine.lineage_dir)


def test_driver_side_write_fires_locally(spark, tmp_path):
    engine = make_engine(spark, str(tmp_path))
    assert engine._write_lineage_driver_side(ROWS_A) is True
    files = os.listdir(engine.lineage_dir)
    assert any(f.endswith("-driver.parquet") for f in files)
    assert not any(f.endswith(".tmp") for f in files)


def test_mixed_files_read_as_one_table(spark, tmp_path):
    engine = make_engine(spark, str(tmp_path))
    _spark_write(engine, ROWS_A)          # Spark-written file
    engine._write_lineage(ROWS_B)         # driver-written file
    got = engine.lineage()
    assert got is not None
    # schema identical to the Spark-only layout
    ref = spark.createDataFrame(ROWS_A, engine.LINEAGE_DDL)
    assert got.schema == ref.schema
    rows = sorted(tuple(r) for r in got.collect())
    assert rows == sorted(ROWS_A + ROWS_B)


def test_write_lineage_empty_is_noop(spark, tmp_path):
    engine = make_engine(spark, str(tmp_path))
    engine._write_lineage([])
    assert engine.lineage() is None


def test_schemed_lineage_dir_writes_through_spark(spark, tmp_path):
    """A URI-schemed lineage_dir is not a local path: the driver-side
    write declines (nothing lands under a literal 'file:' directory)
    and the Spark writer resolves the URI."""
    table = LakeTable.create(
        spark, os.path.join(str(tmp_path), "lake"), key_cols=["repo", "path"],
    )
    lineage = f"file://{tmp_path}/lin"
    engine = CDCEngine(spark, table, default_registry(), lineage_dir=lineage)
    assert engine._write_lineage_driver_side(ROWS_A) is False
    assert not os.path.exists("file:")
    engine._write_lineage(ROWS_A)
    assert [tuple(r) for r in spark.read.parquet(lineage).collect()] == ROWS_A
    assert os.path.isdir(os.path.join(str(tmp_path), "lin"))


@pytest.mark.parametrize("failing", ["write_table", "replace"])
def test_failed_driver_write_leaves_no_temp_file(spark, tmp_path, monkeypatch, failing):
    import pyarrow.parquet as pq

    engine = make_engine(spark, str(tmp_path))

    def boom(*a, **kw):
        raise OSError("disk full")

    monkeypatch.setattr(pq if failing == "write_table" else os, failing, boom)
    with pytest.raises(OSError, match="disk full"):
        engine._write_lineage(ROWS_A)
    assert os.listdir(engine.lineage_dir) == []
