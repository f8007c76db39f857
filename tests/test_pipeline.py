"""End-to-end orchestrator tests: E -> T1 -> T2 -> L with stage logging."""

from __future__ import annotations

import os

import pytest

from retail_sales_etl_spark.control.runlog import ControlLog
from retail_sales_etl_spark.pipeline import run_pipeline


def test_customer_pipeline_end_to_end(spark, sf_dir, tmp_path):
    wh = str(tmp_path / "warehouse")
    run = run_pipeline(spark, "customer", sf_dir, wh)
    assert run["status"] == "SUCCESS"

    out = spark.read.parquet(os.path.join(wh, "customer_dim"))
    assert out.count() == 150
    assert "acctbal_band" in out.columns

    log = ControlLog(os.path.join(wh, "_control"))
    stages = [s["stage_name"] for s in log.stages(run["run_id"])]
    for expected in ("EXTRACT", "TRANSFORM_P1", "TRANSFORM_P2", "LOAD"):
        assert expected in stages


def test_lineitem_pipeline_builds_date_dim(spark, sf_dir, tmp_path):
    wh = str(tmp_path / "warehouse")
    run = run_pipeline(spark, "lineitem", sf_dir, wh)
    assert run["status"] == "SUCCESS"
    # fact is partitioned by order_year
    fact_dir = os.path.join(wh, "sales_fact")
    assert any(d.startswith("order_year=") for d in os.listdir(fact_dir))
    # date_dim loaded alongside (sales pipeline parity)
    dd = spark.read.parquet(os.path.join(wh, "date_dim"))
    assert dd.count() > 0


def test_pipeline_writes_per_run_text_log(spark, sf_dir, tmp_path):
    """Reference utils/text_logger.py parity: a run leaves a grep-able
    text log with ts | level | module | pipeline | run_id | message."""
    wh = str(tmp_path / "warehouse")
    run = run_pipeline(spark, "customer", sf_dir, wh)
    log_file = os.path.join(wh, "_control", "logs", "etl_logs.log")
    assert os.path.exists(log_file)
    lines = open(log_file).read().splitlines()
    mine = [ln for ln in lines if run["run_id"] in ln]
    assert any("Pipeline started" in ln for ln in mine)
    assert any("EXTRACT ok" in ln for ln in mine)
    assert any("Pipeline SUCCESS" in ln for ln in mine)
    # field layout parity with the reference formatter
    parts = mine[0].split(" | ")
    assert parts[1] == "INFO" and parts[3] == "customer"


def test_pipeline_lifecycle_gating(spark, sf_dir, tmp_path):
    """Deactivated pipelines refuse to run; listing excludes them;
    reactivation restores both (reference metadata_table_helpers
    list_active_pipelines / deactivate_pipeline parity)."""
    wh = str(tmp_path / "wh")
    control = os.path.join(wh, "_control")
    log = ControlLog(control)
    log.register_pipeline("customer", "customer")
    log.register_pipeline("part", "part")
    assert {p["pipeline_name"] for p in log.list_active_pipelines()} == {
        "customer",
        "part",
    }

    log.deactivate_pipeline("customer")
    assert {p["pipeline_name"] for p in log.list_active_pipelines()} == {"part"}
    assert log.get_pipeline("customer")["is_active"] is False
    with pytest.raises(RuntimeError, match="deactivated"):
        run_pipeline(spark, "customer", sf_dir, wh, control_dir=control)
    # no run row was recorded for the refused run
    assert all(r["pipeline_name"] != "customer" for r in log.runs())

    log.activate_pipeline("customer")
    run = run_pipeline(spark, "customer", sf_dir, wh, control_dir=control)
    assert run["status"] == "SUCCESS"
    # unknown pipeline names cannot be toggled
    with pytest.raises(ValueError, match="Unknown pipeline"):
        log.deactivate_pipeline("nope")


def test_pipeline_table_map_populated_by_runner(spark, sf_dir, tmp_path):
    """run_pipeline populates the pipeline<->table ownership map the
    way the reference runner does: the fact pipeline owns date_dim
    (load_order 1, dimension) then its fact (load_order 2), and the
    getters answer 'which tables does pipeline X own?' in execution
    order (reference metadata_table_helpers.list_tables_for_pipeline)."""
    wh = str(tmp_path / "wh")
    run_pipeline(spark, "lineitem", sf_dir, wh)
    log = ControlLog(os.path.join(wh, "_control"))

    owned = log.list_tables_for_pipeline("lineitem")
    assert [(t["table_name"], t["load_order"], t["table_role"]) for t in owned] == [
        ("date_dim", 1, "dimension"),
        ("sales_fact", 2, "fact"),
    ]
    # re-running is idempotent on the map (upsert by PK, not duplicate)
    run_pipeline(spark, "lineitem", sf_dir, wh)
    assert len(log.list_tables_for_pipeline("lineitem")) == 2

    # table getters (reference get_table / list_active_tables_for_source)
    fact = log.get_table("sales_fact")
    assert fact is not None and fact["source_name"] == "lineitem"
    assert log.get_table("nope") is None
    assert {t["table_name"] for t in log.list_active_tables_for_source("orders")} == {
        "date_dim"
    }

    # deactivating a table drops it from the active views, reference
    # semantics (WHERE is_active = 1) in both list helpers
    log.set_table_active("date_dim", False)
    assert [t["table_name"] for t in log.list_tables_for_pipeline("lineitem")] == [
        "sales_fact"
    ]
    assert log.list_active_tables_for_source("orders") == []
    log.set_table_active("date_dim", True)
    assert len(log.list_tables_for_pipeline("lineitem")) == 2


def test_rerun_preserves_table_lifecycle_and_watermark(spark, sf_dir, tmp_path):
    """A re-run registers tables if-absent: an operator's pause
    (set_table_active False) and a recorded watermark must survive the
    next run instead of being overlaid with bootstrap defaults."""
    wh = str(tmp_path / "wh")
    run_pipeline(spark, "lineitem", sf_dir, wh)
    log = ControlLog(os.path.join(wh, "_control"))
    log.set_table_active("date_dim", False)
    log.update_watermark("sales_fact", "2024-06-01", 123)

    run_pipeline(spark, "lineitem", sf_dir, wh)
    assert log.get_table("date_dim")["is_active"] is False
    assert log.get_table("sales_fact")["last_loaded_value"] == "2024-06-01"
    assert log.latest_watermark("sales_fact") == "2024-06-01"
    # the paused table stays out of the active views until reactivated
    assert [t["table_name"] for t in log.list_tables_for_pipeline("lineitem")] == [
        "sales_fact"
    ]
    log.set_table_active("date_dim", True)
    assert len(log.list_tables_for_pipeline("lineitem")) == 2


def test_bootstrap_metadata_idempotent(tmp_path):
    """Standalone seed-everything entrypoint (reference
    scripts/bootstrap_metadata.py): seeds pipeline/table/map records,
    and re-seeding never resets lifecycle flags or watermarks."""
    log = ControlLog(str(tmp_path / "control"))
    pipelines = [("customer", "customer", "full", "manual")]
    tables = [
        ("customer_dim", "customer", "row", ["c_custkey"], "full", None),
        ("sales_fact", "lineitem", "row", ["l_orderkey", "l_linenumber"],
         "full", None),
    ]
    mapping = [
        ("customer", "customer_dim", 1, "dimension"),
        ("lineitem", "sales_fact", 2, "fact"),
    ]
    log.bootstrap_metadata(pipelines, tables, mapping)
    assert log.get_pipeline("customer")["is_active"]
    assert log.get_table("customer_dim")["primary_key"] == "c_custkey"

    # mutate state, then re-seed: bootstrap must not clobber it
    log.deactivate_pipeline("customer")
    log.update_watermark("sales_fact", "2024-01-01", 42)
    log.bootstrap_metadata(pipelines, tables, mapping)
    assert not log.get_pipeline("customer")["is_active"]
    assert log.get_table("sales_fact")["last_loaded_value"] == "2024-01-01"
    # the map filters on TABLE active only (reference WHERE tm.is_active
    # = 1) — a paused pipeline still owns its tables
    assert [t["table_name"] for t in log.list_tables_for_pipeline("customer")] == [
        "customer_dim"
    ]


def _stage_rows(log, run_id):
    """(name, status, rows_in, rows_out) of every closing stage record,
    after checking that no stage row was left STARTED."""
    records = log.stages(run_id)
    started = [r["stage_name"] for r in records if r["status"] == "STARTED"]
    closed = [r for r in records if r["status"] != "STARTED"]
    assert [r["stage_name"] for r in closed] == started, records
    return [(r["stage_name"], r["status"], r["rows_in"], r["rows_out"]) for r in closed]


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _leftover_stages(wh):
    return [d for d in os.listdir(wh) if "__stage_" in d]


def test_pipeline_job_budget_and_stage_counts(spark, sf_dir, tmp_path):
    """Each pipeline's lineage runs once: a warm run launches at most
    half the Spark jobs of the count-per-check pipeline (customer 29,
    supplier 29, part 23, lineitem 31), and the stage log reports the
    same rows_in/rows_out as before, in stage order."""
    if os.path.basename(sf_dir) != "sf0.001":
        pytest.skip("golden counts are for the sf0.001 fixture")
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    count_per_check_jobs = {"customer": 29, "supplier": 29, "part": 23, "lineitem": 31}
    for name in count_per_check_jobs:  # warm the session's table cache
        run_pipeline(spark, name, sf_dir, str(tmp_path / "warm"))

    def same(n):
        return [(s, "SUCCESS", n, n) for s in ("EXTRACT", "TRANSFORM_P1", "TRANSFORM_P2", "LOAD")]

    golden = {
        "customer": same(150),
        "supplier": same(10),
        "part": same(200),
        "lineitem": [
            ("EXTRACT", "SUCCESS", 6000, 6000),
            ("TRANSFORM_P1", "SUCCESS", 6000, 5999),
            ("TRANSFORM_P2", "SUCCESS", 5999, 5999),
            ("LOAD_DATE_DIM", "SUCCESS", 2405, 2405),
            ("LOAD", "SUCCESS", 5999, 5999),
        ],
    }
    wh = str(tmp_path / "wh")
    log = ControlLog(os.path.join(wh, "_control"))
    for name, before in count_per_check_jobs.items():
        j0 = int(sched.nextJobId())
        run = run_pipeline(spark, name, sf_dir, wh)
        jobs = int(sched.nextJobId()) - j0
        assert 2 * jobs <= before, (name, jobs, before)
        assert _stage_rows(log, run["run_id"]) == golden[name]
    assert not _leftover_stages(wh)


def test_t2_failure_keeps_previous_target(spark, sf_dir, tmp_path, monkeypatch):
    """A NULL PK, a duplicate PK or a T1 -> T2 row-count change fails
    the audit of the staged files: TRANSFORM_P2 is recorded FAILED,
    nothing is loaded, and the previous customer_dim stays intact."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from retail_sales_etl_spark import pipeline

    wh = str(tmp_path / "wh")
    assert run_pipeline(spark, "customer", sf_dir, wh)["status"] == "SUCCESS"
    target = os.path.join(wh, "customer_dim")
    before = _rows(spark, target)
    log = ControlLog(os.path.join(wh, "_control"))
    spec = pipeline.PIPELINES["customer"]
    cid = F.col("customer_id")
    faults = {
        "NULL values found": lambda d: d.withColumn(
            "customer_id", F.when(cid == 1, None).otherwise(cid)
        ),
        "Duplicate primary keys": lambda d: d.withColumn("customer_id", cid % 7),
        "Row count changed during T2": lambda d: d.filter(cid > 1),
    }
    for message, fault in faults.items():
        monkeypatch.setitem(
            pipeline.PIPELINES,
            "customer",
            replace(spec, modeler=lambda s, df, sf, f=fault: f(spec.modeler(s, df, sf))),
        )
        with pytest.raises(ValueError, match=message):
            run_pipeline(spark, "customer", sf_dir, wh)
        run = log.runs()[-1]
        assert run["status"] == "FAILED"
        assert [r[:2] for r in _stage_rows(log, run["run_id"])] == [
            ("EXTRACT", "SUCCESS"),
            ("TRANSFORM_P1", "SUCCESS"),
            ("TRANSFORM_P2", "FAILED"),
        ]
        assert _rows(spark, target) == before
        assert not _leftover_stages(wh)


def test_failed_t2_write_records_no_observed_count(spark, sf_dir, tmp_path, monkeypatch):
    """When the one job that runs T1 and T2 fails, the T1 observation
    is never read (after a failed action it reports 0, not an error):
    both transform rows close FAILED with rows_out None, none is left
    STARTED, and the previous target survives."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from retail_sales_etl_spark import pipeline

    wh = str(tmp_path / "wh")
    run_pipeline(spark, "part", sf_dir, wh)
    target = os.path.join(wh, "part_dim")
    before = _rows(spark, target)
    spec = pipeline.PIPELINES["part"]

    def raising(s, df, sf):
        return spec.modeler(s, df, sf).withColumn(
            "part_name", F.raise_error(F.concat(F.lit("bad part "), F.col("part_name")))
        )

    monkeypatch.setitem(pipeline.PIPELINES, "part", replace(spec, modeler=raising))
    with pytest.raises(Exception, match="bad part"):
        run_pipeline(spark, "part", sf_dir, wh)
    log = ControlLog(os.path.join(wh, "_control"))
    run = log.runs()[-1]
    assert run["status"] == "FAILED"
    assert [(r[0], r[1], r[3]) for r in _stage_rows(log, run["run_id"])] == [
        ("EXTRACT", "SUCCESS", 200),
        ("TRANSFORM_P1", "FAILED", None),
        ("TRANSFORM_P2", "FAILED", None),
    ]
    assert _rows(spark, target) == before
    assert not _leftover_stages(wh)
