"""Extract readers/validation + Load writers/validation + control plane."""

from __future__ import annotations

import os

import pytest

from retail_sales_etl_spark.catalog import load_table, table_path
from retail_sales_etl_spark.control.runlog import ControlLog, new_run_id
from retail_sales_etl_spark.load import writers
from retail_sales_etl_spark.sources import readers


def test_read_parquet_with_validation(spark, sf_dir):
    df, stats = readers.run_extract(
        spark,
        "region",
        table_path(sf_dir, "region"),
        ["r_regionkey", "r_name"],
    )
    assert df.count() == 5
    assert stats["row_count"] == 5 and stats["duplicate_rows"] == 0


def test_schema_mismatch_raises(spark, sf_dir):
    df = readers.read_source(spark, table_path(sf_dir, "region"))
    with pytest.raises(ValueError, match="Schema mismatch"):
        readers.validate_schema(df, ["wrong", "columns"])


def test_csv_reader(spark, tmp_path):
    p = str(tmp_path / "src.csv")
    with open(p, "w") as f:
        f.write("id,name\n1,a\n2,b\n")
    df = readers.read_source(spark, p, fmt="csv")
    assert df.count() == 2
    assert df.columns == ["id", "name"]


def test_json_reader(spark, tmp_path):
    p = str(tmp_path / "src.jsonl")
    with open(p, "w") as f:
        f.write('{"id": 1, "name": "a"}\n{"id": 2, "name": "b"}\n')
    df = readers.read_source(spark, p, fmt="json")
    assert df.count() == 2
    assert sorted(df.columns) == ["id", "name"]


def test_sanity_check_empty_raises(spark):
    df = spark.createDataFrame([], "id INT, v STRING")
    with pytest.raises(ValueError, match="empty"):
        readers.sanity_check(df)


def test_sanity_check_null_threshold(spark):
    df = spark.createDataFrame([(1, None), (2, None)], "id INT, v STRING")
    with pytest.raises(ValueError, match="NULL values"):
        readers.sanity_check(df, null_threshold_pct=50.0)


def test_sanity_check_duplicates(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a")], ["id", "v"])
    with pytest.raises(ValueError, match="Duplicate rows"):
        readers.sanity_check(df)
    stats = readers.sanity_check(df, fail_on_duplicates=False)
    assert stats["duplicate_rows"] == 1

    # Duplicate rows holding NULL and NaN: the grouped check must count
    # them exactly as distinct() does (NULL equals NULL, NaN equals
    # NaN, -0.0 equals 0.0), and count NULLs per column, not per group.
    nan = float("nan")
    rows = [
        (1, "a", 1.0), (1, "a", 1.0),
        (None, "b", nan), (None, "b", nan),
        (2, None, nan), (2, None, nan), (2, None, nan),
        (3, None, 0.0), (3, None, -0.0),
        (4, None, None), (4, None, None),
        (5, "c", 2.0),
    ]
    df = spark.createDataFrame(rows, "id INT, v STRING, x DOUBLE")
    with pytest.raises(ValueError, match="Duplicate rows found in source data: 6"):
        readers.sanity_check(df)
    stats = readers.sanity_check(df, fail_on_duplicates=False)
    assert stats == {
        "row_count": 12,
        "null_pct": {"id": 100.0 * 2 / 12, "v": 100.0 * 7 / 12, "x": 100.0 * 2 / 12},
        "duplicate_rows": 6,
    }

    with pytest.raises(ValueError, match="^Source data is empty$"):
        readers.sanity_check(spark.createDataFrame([], "id INT, v STRING"))
    nulls = spark.createDataFrame([(1, None), (2, None)], "id INT, v STRING")
    with pytest.raises(ValueError, match=r"^Column 'v' has 100\.00% NULL values$"):
        readers.sanity_check(nulls, null_threshold_pct=50.0)


def test_load_roundtrip_and_validation(spark, sf_dir, tmp_path):
    region = load_table(spark, sf_dir, "region")
    path = str(tmp_path / "region_out")
    result = writers.run_load(spark, region, path, ["r_regionkey"])
    assert result["row_count"] == 5
    # idempotent: rerun overwrites, same result
    result2 = writers.run_load(spark, region, path, ["r_regionkey"])
    assert result2["row_count"] == 5


def test_run_load_failed_audit_keeps_target(spark, tmp_path):
    """Write-audit-publish: a duplicate-PK frame fails the audit of its
    staged files, so the good table already at the target survives and
    no staging directory is left behind."""
    path = str(tmp_path / "dim")
    good = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    assert writers.run_load(spark, good, path, ["id"])["row_count"] == 2

    dup = spark.createDataFrame([(1, "x"), (1, "y"), (3, "z")], ["id", "v"])
    with pytest.raises(ValueError, match="Duplicate primary keys"):
        writers.run_load(spark, dup, path, ["id"])
    back = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert back == [(1, "a"), (2, "b")]
    assert not [d for d in os.listdir(tmp_path) if "__stage_" in d]


def test_partitioned_write(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey", "o_custkey", "year(o_orderdate) AS yr"
    )
    path = str(tmp_path / "orders_part")
    writers.write_table(orders, path, partition_by=["yr"])
    assert any(d.startswith("yr=") for d in os.listdir(path))
    back = spark.read.parquet(path)
    assert back.count() == orders.count()


def test_load_validation_catches_dup_pk(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (1, "b")], ["id", "v"])
    path = str(tmp_path / "dup_out")
    writers.write_table(df, path)
    with pytest.raises(ValueError, match="Duplicate primary keys"):
        writers.validate_loaded(spark, path, ["id"])


def test_compact_table(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "fragmented")
    orders.repartition(16).write.parquet(path)
    n_files_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_files_before >= 16

    result = writers.compact_table(spark, path, target_files=2)
    assert result["row_count"] == orders.count()
    n_files_after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_files_after <= 2
    assert spark.read.parquet(path).count() == orders.count()


def test_control_log_run_and_stages(tmp_path):
    log = ControlLog(str(tmp_path / "control"))
    run_id = new_run_id()
    run = log.insert_run(run_id, "customer", "STARTED")
    stage = log.insert_stage(run_id, "EXTRACT", "STARTED", None)
    log.update_stage(stage, "SUCCESS", 100, 100, None)
    log.update_run(run, "SUCCESS", None)

    runs = log.runs()
    assert runs[-1]["status"] == "SUCCESS"
    stages = log.stages(run_id)
    assert stages[-1]["rows_out"] == 100


def test_control_log_watermark(tmp_path):
    log = ControlLog(str(tmp_path / "control"))
    log.register_table("sales_fact", "lineitem", "row", ["order_id"])
    assert log.latest_watermark("sales_fact") is None
    log.update_watermark("sales_fact", "2024-01-05", 1000)
    log.update_watermark("sales_fact", "2024-01-06", 1100)
    assert log.latest_watermark("sales_fact") == "2024-01-06"
