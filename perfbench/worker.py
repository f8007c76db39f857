"""One benchmark run of one workload, in a fresh Python process and JVM.

``run.py`` starts this script with the run directory it owns and reads
the result JSON this script writes there.  Everything the run creates
(inputs, warehouses, lakehouse tables, Spark scratch) lives under that
directory; ``run.py`` deletes it afterwards.

A run: start the session, stage the inputs once, one pass (the
measured one, cold in this fresh JVM), further warm passes only while
``--seconds`` last, with ``--trace 1`` an untraced and a traced warm
pass, then the correctness gate.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time
import traceback
from datetime import datetime

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import datagen  # noqa: E402
import oracle  # noqa: E402
from spans import Tracer, layer_totals, self_time  # noqa: E402

PKG = "retail_sales_etl_spark"

# Input sizes.  At scale 0.01 (60 k lineitem rows) an ETL pass splits
# over its stages and jobs as at 0.1, while a run of each workload stays
# under 50 s (README.md, "Why scale 0.01").
SCALE = 0.01
SMOKE_SCALE = 0.001
INGEST_BATCHES = 6
SMOKE_INGEST_BATCHES = 3
INGEST_BATCH_ROWS = 2500
INGEST_READ_EVERY = 2

ETL_PIPELINES = ["customer", "supplier", "part", "lineitem"]
ETL_OUTPUTS = {
    "customer": ["customer_dim"],
    "supplier": ["supplier_dim"],
    "part": ["part_dim"],
    "lineitem": ["date_dim", "sales_fact"],
}
ETL_SOURCES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
ETL_LAYERS = [
    "sources.run_extract", "operators.cleaning.run_cleaning",
    "operators.modeling.build", "operators.modeling.validate_integrity",
    "load.writers.write_table", "load.writers.validate_loaded",
]
STAGES = ["EXTRACT", "TRANSFORM_P1", "TRANSFORM_P2", "LOAD_DATE_DIM", "LOAD"]

# The legacy canary of the repository's query benchmark (star joins,
# wide aggregates, windows, sessions, dedup/LSH, text and vectors), as
# (module, query) pairs looked up in each module's QUERIES dict.
QUERY_MIX = [
    ("plans.analytics", "star_flagship"),
    ("plans.analytics", "q1_pricing_summary"),
    ("plans.analytics", "revenue_by_nation"),
    ("plans.analytics", "top_customers"),
    ("plans.analytics", "high_value_orders"),
    ("plans.etl_queries", "sales_fact"),
    ("operators.events", "events_windowed"),
    ("operators.events", "events_sessionize"),
    ("operators.events", "events_user_stats"),
    ("plans.etl_queries", "bucketed_fact_join"),
    ("operators.dedup", "dedup_exact"),
    ("operators.dedup", "dedup_minhash_lsh"),
    ("operators.dedup", "dedup_simhash"),
    ("operators.text", "text_quality"),
    ("operators.text", "text_fingerprint"),
    ("operators.similarity", "ann_topk"),
]
ALL_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

SINKS = ["lakehouse_batch_sink", "ivm_lakehouse_sink"]
LAKEHOUSE_OPS = ["write", "merge", "read", "read_where", "optimize"]
LAKEHOUSE_METADATA = ["latest_version", "latest_value", "history", "live_rows"]


def per_layer_units() -> dict[str, str]:
    """The per-layer metrics of the benchmarked workloads, with units.
    Every traced run emits all of them; a layer its workload never
    calls reads 0."""
    u = {
        "spark.jobs_per_pass": "count",
        "bench.trace_overhead_s": "s",
        "bench.counts_repeat": "bool",
        "bench.error_rate": "ratio",
    }
    u.update({f"pipeline.stage.{s}_s": "s" for s in STAGES})
    u["pipeline.self_s"] = "s"
    for layer in ETL_LAYERS:
        u[f"{layer}_s"] = "s"
        u[f"{layer}_jobs"] = "count"
    u["load.writers.bytes_written"] = "bytes"
    u["control.runlog.calls"] = "count"
    u["control.runlog.s"] = "s"
    for sink in SINKS:
        u[f"streaming.events.{sink}_s"] = "s"
        u[f"streaming.events.{sink}_jobs"] = "count"
    u.update({f"load.lakehouse.{op}_s": "s" for op in LAKEHOUSE_OPS})
    u.update({
        "load.lakehouse.metadata_s": "s",
        "load.lakehouse.commit_retries": "count",
        "load.lakehouse.log_files": "count",
        "load.lakehouse.data_files": "count",
        "load.lakehouse.bytes_per_input_byte": "ratio",
        "load.lakehouse.files_read_ratio": "ratio",
        "streaming.replay_skip_ratio": "ratio",
        "ingest.read_p50_s": "s",
        "ingest.batch_p50_s": "s",
        "ingest.batch_max_s": "s",
    })
    for module, name in QUERY_MIX:
        u[f"{module}.{name}_s"] = "s"
        u[f"{module}.{name}_jobs"] = "count"
    return u


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def dir_stats(path: str, skip: str | None = None) -> tuple[int, int]:
    """(files, bytes) under ``path``, not descending into ``skip`` dirs."""
    n = size = 0
    for root, dirs, files in os.walk(path):
        if skip in dirs:
            dirs.remove(skip)
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


class Run:
    """State of one run: session, tracer and the operation tally.

    ``attempted`` counts operations; ``failed`` counts operations that
    raised or returned the wrong value, plus results that failed their
    oracle check."""

    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.seed = args.seed
        self.rng = np.random.default_rng(args.seed)
        self.scale = args.scale or (SMOKE_SCALE if args.smoke else SCALE)
        self.run_dir = args.run_dir
        self.attempted = 0
        self.failed = 0
        self.tampered = False

    def note(self, msg: str) -> None:
        print(f"perfbench[{self.workload}]: {msg}", file=sys.stderr, flush=True)

    def op(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.note(f"FAILED {what}")
        return ok

    def check(self, label: str, columns, rows, con, sql: str) -> bool:
        """Compare ``rows`` with the oracle; called outside timed windows.
        With ``--corrupt`` the first checked result is altered first."""
        if self.args.corrupt and not self.tampered:
            self.tampered = True
            rows = [("tampered",) * len(columns)] + list(rows[1:])
        err = oracle.mismatch(columns, rows, con, sql)
        if err:
            self.failed += 1
            self.note(f"check {label}: {err}")
        return err is None

    def jobs(self) -> int:
        return self.tracer.jobs()

    def start_session(self) -> None:
        from retail_sales_etl_spark.session import get_spark

        cores = min(4, len(os.sched_getaffinity(0)))
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                # A fixed-size heap: G1 then never resizes it, a
                # timing-dependent decision that made peak RSS noisy.
                "spark.driver.memory": "1g",
                "spark.driver.extraJavaOptions": (
                    "-Xms1g -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                    f"-Dderby.system.home={self.run_dir}/derby"
                ),
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": f"{self.run_dir}/warehouse",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark, self.workload, self.seed)

    def peak_rss_mb(self) -> float:
        """Peak resident set (VmHWM) of this Python driver plus its JVM."""
        jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        total_kb = 0
        for pid in ("self", str(jvm_pid)):
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        return total_kb / 1024.0


# ---------------------------------------------------------------------
# etl_star_load: run_pipeline for the four pipelines, a fresh warehouse
# and control dir per pass


class EtlStarLoad:
    def __init__(self, run: Run):
        self.run = run
        self.order = [ETL_PIPELINES[i] for i in run.rng.permutation(len(ETL_PIPELINES))]
        run.note(f"pipeline order {self.order}")

    def stage(self, data_dir: str) -> None:
        rng = np.random.default_rng(self.run.seed)
        datagen.write(datagen.build(rng, self.run.scale, ETL_SOURCES), data_dir)
        self.data_dir = data_dir

    def instrument(self, tr: Tracer) -> None:
        from retail_sales_etl_spark.control.runlog import ControlLog

        mod = {m: importlib.import_module(f"{PKG}.{m}") for m in [
            "pipeline", "sources.readers", "operators.cleaning",
            "operators.modeling", "load.writers",
        ]}
        tr.wrap(mod["pipeline"], "run_pipeline", "pipeline.run_pipeline")
        tr.wrap(mod["sources.readers"], "run_extract", "sources.run_extract")
        tr.wrap(mod["operators.cleaning"], "run_cleaning", "operators.cleaning.run_cleaning")
        for fn in ["build_customer_dim", "build_supplier_dim", "build_part_dim",
                   "build_sales_fact", "build_date_dim"]:
            tr.wrap(mod["operators.modeling"], fn, f"operators.modeling.{fn}")
        tr.wrap(mod["operators.modeling"], "validate_integrity",
                "operators.modeling.validate_integrity")
        for fn in ["run_load", "write_table", "validate_loaded"]:
            tr.wrap(mod["load.writers"], fn, f"load.writers.{fn}")
        for name, member in list(vars(ControlLog).items()):
            if callable(member) and not name.startswith("_"):
                tr.wrap(ControlLog, name, f"control.runlog.{name}")

    def one_pass(self, k: int) -> dict:
        from retail_sales_etl_spark import pipeline

        run = self.run
        self.warehouse = os.path.join(run.run_dir, "etl", f"pass{k}")
        self.ok = {}
        lat = []
        j0 = run.jobs()
        t0 = time.perf_counter()
        for name in self.order:
            run.tracer.context["op"] = name
            t = time.perf_counter()
            try:
                rec = pipeline.run_pipeline(
                    run.spark, name, self.data_dir, self.warehouse,
                    os.path.join(self.warehouse, "_control"),
                )
                ok = rec.get("status") == "SUCCESS"
            except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
                traceback.print_exc()
                ok = False
            lat.append(time.perf_counter() - t)
            self.ok[name] = run.op(ok, f"pipeline {name} in pass {k}")
        wall = time.perf_counter() - t0
        run.tracer.context.pop("op", None)
        return {"wall": wall, "ops": lat, "jobs": run.jobs() - j0, "exact": None}

    def check(self) -> None:
        """The last pass's five loaded tables against the oracle SQL."""
        from retail_sales_etl_spark.plans import etl_queries

        con = oracle.connect(self.data_dir, ETL_SOURCES)
        for name in self.order:
            for table in ETL_OUTPUTS[name] if self.ok[name] else []:
                df = self.run.spark.read.parquet(os.path.join(self.warehouse, table))
                self.run.check(table, df.columns, df.collect(), con,
                               etl_queries.ORACLE[table])
        con.close()

    def layer_metrics(self, spans: list[dict]) -> dict[str, float]:
        m = {f"pipeline.stage.{s}_s": 0.0 for s in STAGES}
        path = os.path.join(self.warehouse, "_control", "etl_stage_log.jsonl")
        with open(path, encoding="utf-8") as f:
            for rec in map(json.loads, f):
                key = f"pipeline.stage.{rec['stage_name']}_s"
                if rec["status"] == "SUCCESS" and key in m:
                    m[key] += (
                        datetime.fromisoformat(rec["end_time"])
                        - datetime.fromisoformat(rec["start_time"])
                    ).total_seconds()
        m["pipeline.self_s"] = self_time(spans, "pipeline.run_pipeline")

        def layer_of(s):
            name = s["name"]
            if name.startswith("operators.modeling.build_"):
                return "operators.modeling.build"
            if name.startswith("control.runlog."):
                return "control.runlog"
            return name

        tot = layer_totals(spans, layer_of)
        for layer in ETL_LAYERS:
            t = tot.get(layer, {"s": 0.0, "jobs": 0})
            m[f"{layer}_s"] = t["s"]
            m[f"{layer}_jobs"] = t["jobs"]
        m["load.writers.bytes_written"] = sum(
            dir_stats(os.path.join(self.warehouse, t))[1]
            for outs in ETL_OUTPUTS.values() for t in outs
        )
        ctl = tot.get("control.runlog", {"s": 0.0, "calls": 0})
        m["control.runlog.calls"] = ctl["calls"]
        m["control.runlog.s"] = ctl["s"]
        return m


# ---------------------------------------------------------------------
# query_mix: the 16 canary queries, each materialised with the noop sink


class QueryMix:
    def __init__(self, run: Run):
        self.run = run
        self.fns = {}
        self.oracles = {}
        for module, name in QUERY_MIX:
            mod = importlib.import_module(f"{PKG}.{module}")
            self.fns[name] = (module, mod.QUERIES[name])
            self.oracles[name] = mod.ORACLE[name]
        self.order = [QUERY_MIX[i][1] for i in run.rng.permutation(len(QUERY_MIX))]
        run.note(f"query order {self.order}")

    def stage(self, data_dir: str) -> None:
        from retail_sales_etl_spark.plans.etl_queries import _ensure_bucketed_layout

        rng = np.random.default_rng(self.run.seed)
        datagen.write(datagen.build(rng, self.run.scale, ALL_TABLES), data_dir)
        self.data_dir = data_dir
        # The co-bucketed layout is the program's own load-time work.
        _ensure_bucketed_layout(self.run.spark, data_dir)

    def instrument(self, tr: Tracer) -> None:
        pass  # the pass loop spans each query itself

    def one_pass(self, k: int) -> dict:
        """Warm passes materialise each query with the noop sink.  The
        cold pass 0 collects each output instead, and checks it after
        the query's timed window; the checking is taken out of the pass."""
        run = self.run
        con = oracle.connect(self.data_dir, ALL_TABLES) if k == 0 else None
        lat = []
        checking = 0.0
        j0 = run.jobs()
        t0 = time.perf_counter()
        for name in self.order:
            module, fn = self.fns[name]
            t = time.perf_counter()
            try:
                with run.tracer.span(f"{module}.{name}", op=name):
                    df = fn(run.spark, self.data_dir)
                    rows = df.collect() if con is not None else noop(df)
                ok = True
            except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
                traceback.print_exc()
                ok = False
            lat.append(time.perf_counter() - t)
            if ok and con is not None:
                c = time.perf_counter()
                run.check(name, df.columns, rows, con, self.oracles[name])
                checking += time.perf_counter() - c
            run.op(ok, f"query {name} in pass {k}")
        wall = time.perf_counter() - t0 - checking
        if con is not None:
            con.close()
        return {"wall": wall, "ops": lat, "jobs": run.jobs() - j0, "exact": None}

    def check(self) -> None:
        pass  # done in pass 0

    def layer_metrics(self, spans: list[dict]) -> dict[str, float]:
        m = {}
        for module, name in QUERY_MIX:
            mine = [s for s in spans if s["name"] == f"{module}.{name}"]
            m[f"{module}.{name}_s"] = sum(s["end"] - s["start"] for s in mine)
            m[f"{module}.{name}_jobs"] = sum(s["jobs"] for s in mine)
        return m


# ---------------------------------------------------------------------
# lakehouse_ingest: micro-batches into an append table and a MERGE-folded
# rollup, with readers, one compaction and replays; fresh tables per pass


class LakehouseIngest:
    ROLLUP_SQL = (
        "SELECT event_type, count(*) AS n_events, "
        "sum(CAST(value AS DECIMAL(25,6))) AS total_value "
        "FROM events WHERE event_id < {n} GROUP BY event_type"
    )
    RANGE_SQL = (
        "SELECT event_type, count(*) AS n, "
        "sum(CAST(value AS DECIMAL(25,6))) AS total_value FROM events "
        "WHERE event_id < {n} AND ts BETWEEN '{lo}' AND '{hi}' GROUP BY event_type"
    )

    def __init__(self, run: Run):
        self.run = run
        rng = run.rng
        nb = SMOKE_INGEST_BATCHES if run.args.smoke else INGEST_BATCHES
        b = INGEST_BATCH_ROWS
        # Batch i ends near (i + 1) * b: sizes vary by up to 20 % while
        # the pass feeds the same number of events for every seed.
        jitter = int(0.1 * b)
        ends = [(i + 1) * b + int(rng.integers(-jitter, jitter + 1)) for i in range(nb - 1)]
        ends = [0] + ends + [nb * b]
        self.sizes = [hi - lo for lo, hi in zip(ends, ends[1:])]
        # After batch i lands, batch replay_after[i] (already landed) is
        # fed again; both sinks must refuse it.
        self.replay_after = {
            int(i): int(rng.integers(0, i + 1))
            for i in rng.choice(np.arange(1, nb), size=min(2, nb - 1), replace=False)
        }
        # The reader after batch i range-reads the time span of batch
        # read_batch[i].
        self.read_batch = [int(rng.integers(0, i + 1)) for i in range(nb)]
        self.optimize_after = nb // 2
        run.note(f"batch sizes {self.sizes}; replays {self.replay_after}")

    def stage(self, data_dir: str) -> None:
        import pyarrow.parquet as pq

        total = sum(self.sizes)
        rng = np.random.default_rng(self.run.seed)
        events = datagen.events_table(rng, total, max(10, total // 50))
        os.makedirs(data_dir, exist_ok=True)
        pq.write_table(events, os.path.join(data_dir, "events.parquet"))
        self.files, self.ts_range = [], []
        start = 0
        for i, n in enumerate(self.sizes):
            part = events.slice(start, n)
            self.files.append(os.path.join(data_dir, f"batch-{i:04d}.parquet"))
            pq.write_table(part, self.files[-1])
            ts = part.column("ts")
            self.ts_range.append((ts[0].as_py(), ts[n - 1].as_py()))
            start += n
        self.input_bytes = sum(os.path.getsize(f) for f in self.files)
        self.data_dir = data_dir
        self.schema = self.run.spark.read.parquet(self.files[0]).schema

    def instrument(self, tr: Tracer) -> None:
        from retail_sales_etl_spark.load.lakehouse import LakehouseTable
        from retail_sales_etl_spark.streaming import events

        def pruned(rec, out):
            rec["kept"], rec["total"] = len(out[0]), out[1]

        for sink in SINKS:
            tr.wrap(events, sink, f"streaming.events.{sink}")
        for fn in LAKEHOUSE_OPS:
            tr.wrap(LakehouseTable, fn, f"load.lakehouse.{fn}")
        tr.wrap(LakehouseTable, "prune_files", "load.lakehouse.prune_files", pruned)
        for fn in LAKEHOUSE_METADATA:
            tr.wrap(LakehouseTable, fn, f"load.lakehouse.{fn}")

    def batch(self, i: int):
        return self.run.spark.read.schema(self.schema).parquet(self.files[i])

    def read(self, i: int, fed: int, con) -> float:
        """The two reader queries after batch ``i``, checked against the
        oracle when ``con`` is given.  Returns the seconds spent checking."""
        from pyspark.sql import functions as F

        from retail_sales_etl_spark.load.lakehouse import LakehouseTable

        spark = self.run.spark
        lo, hi = self.ts_range[self.read_batch[i]]
        t = time.perf_counter()
        ranged = (
            LakehouseTable(spark, self.raw_path).read_where("ts", lo, hi)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(25,6)")).alias("total_value"))
            .collect()
        )
        rollup = (
            LakehouseTable(spark, self.ivm_path).read()
            .groupBy("event_type")
            .agg(F.sum("n_events").alias("n_events"),
                 F.sum("total_value").alias("total_value"))
            .collect()
        )
        c = time.perf_counter()
        self.reads.append(c - t)
        if con is None:
            return 0.0
        self.run.check(f"range read after batch {i}", ["event_type", "n", "total_value"],
                       ranged, con, self.RANGE_SQL.format(n=fed, lo=lo, hi=hi))
        self.run.check(f"rollup after batch {i}", ["event_type", "n_events", "total_value"],
                       rollup, con, self.ROLLUP_SQL.format(n=fed))
        return time.perf_counter() - c

    def one_pass(self, k: int) -> dict:
        """Pass 0 also checks every read; that time is taken out of the
        pass."""
        from retail_sales_etl_spark.load.lakehouse import LakehouseTable
        from retail_sales_etl_spark.streaming import events

        run = self.run
        base = os.path.join(run.run_dir, "ingest", f"pass{k}")
        self.raw_path, self.ivm_path = f"{base}/raw", f"{base}/ivm"
        con = oracle.connect(self.data_dir, ["events"]) if k == 0 else None
        lat, self.reads, batch_jobs = [], [], []
        fed = 0
        checking = 0.0
        j0 = run.jobs()
        t0 = time.perf_counter()
        for i in range(len(self.files)):
            run.tracer.context["batch"] = i
            df = self.batch(i)
            t = time.perf_counter()
            try:
                ja = run.jobs()
                a = events.lakehouse_batch_sink(df, i, self.raw_path)
                jb = run.jobs()
                b = events.ivm_lakehouse_sink(df, i, self.ivm_path)
                batch_jobs.append((jb - ja, run.jobs() - jb))
                ok = a is True and b is True
            except Exception:  # noqa: BLE001 - a failed batch is counted, not fatal
                traceback.print_exc()
                ok = False
            lat.append(time.perf_counter() - t)
            run.op(ok, f"batch {i} in pass {k}")
            fed += self.sizes[i]
            if i in self.replay_after:
                j = self.replay_after[i]
                try:
                    again = self.batch(j)
                    ok = (events.lakehouse_batch_sink(again, j, self.raw_path) is False
                          and events.ivm_lakehouse_sink(again, j, self.ivm_path) is False)
                except Exception:  # noqa: BLE001
                    traceback.print_exc()
                    ok = False
                run.op(ok, f"replay of batch {j} after batch {i} in pass {k}")
            if i == self.optimize_after:
                try:
                    LakehouseTable(run.spark, self.raw_path).optimize()
                    ok = True
                except Exception:  # noqa: BLE001
                    traceback.print_exc()
                    ok = False
                run.op(ok, f"optimize after batch {i} in pass {k}")
            if (i + 1) % INGEST_READ_EVERY == 0 or i == len(self.files) - 1:
                try:
                    checking += self.read(i, fed, con)
                    ok = True
                except Exception:  # noqa: BLE001
                    traceback.print_exc()
                    ok = False
                run.op(ok, f"reads after batch {i} in pass {k}")
        wall = time.perf_counter() - t0 - checking
        run.tracer.context.pop("batch", None)
        if con is not None:
            con.close()
        self.fed = fed
        self.lat = lat
        log_files = sum(dir_stats(os.path.join(p, "_log"))[0]
                        for p in (self.raw_path, self.ivm_path))
        return {"wall": wall, "ops": lat, "jobs": run.jobs() - j0, "rows": fed,
                "reads": self.reads, "exact": [batch_jobs, log_files]}

    def check(self) -> None:
        """The append table holds exactly the events fed."""
        from retail_sales_etl_spark.load.lakehouse import LakehouseTable

        live = LakehouseTable(self.run.spark, self.raw_path).live_rows()
        if live != self.fed:
            self.run.failed += 1
            self.run.note(f"check live_rows: {live} != {self.fed} events fed")

    def layer_metrics(self, spans: list[dict]) -> dict[str, float]:
        m = {}
        metadata = {f"load.lakehouse.{fn}" for fn in LAKEHOUSE_METADATA}
        tot = layer_totals(
            spans, lambda s: "load.lakehouse.metadata" if s["name"] in metadata else s["name"]
        )
        zero = {"s": 0.0, "jobs": 0}
        for sink in SINKS:
            t = tot.get(f"streaming.events.{sink}", zero)
            m[f"streaming.events.{sink}_s"] = t["s"]
            m[f"streaming.events.{sink}_jobs"] = t["jobs"]
        for op in LAKEHOUSE_OPS:
            m[f"load.lakehouse.{op}_s"] = tot.get(f"load.lakehouse.{op}", zero)["s"]
        m["load.lakehouse.metadata_s"] = tot.get("load.lakehouse.metadata", zero)["s"]
        m["load.lakehouse.commit_retries"] = sum(
            1 for s in spans
            if s["name"] in ("load.lakehouse.write", "load.lakehouse.merge")
            and s.get("error") in ("ConcurrentWriteError", "DuplicateCommitError")
        )
        logs = data = size = 0
        for p in (self.raw_path, self.ivm_path):
            logs += dir_stats(os.path.join(p, "_log"))[0]
            n, b = dir_stats(p, skip="_log")
            data += n
            size += b
        m["load.lakehouse.log_files"] = logs
        m["load.lakehouse.data_files"] = data
        m["load.lakehouse.bytes_per_input_byte"] = size / self.input_bytes
        prunes = [s for s in spans if "kept" in s]
        total = sum(s["total"] for s in prunes)
        m["load.lakehouse.files_read_ratio"] = (
            sum(s["kept"] for s in prunes) / total if total else 0.0
        )
        sink_calls = [s for s in spans if s["name"].startswith("streaming.events.")]
        m["streaming.replay_skip_ratio"] = (
            sum(1 for s in sink_calls if s.get("result") is False) / len(sink_calls)
        )
        m["ingest.read_p50_s"] = median(self.reads)
        m["ingest.batch_p50_s"] = median(self.lat)
        m["ingest.batch_max_s"] = max(self.lat)
        return m


WORKLOADS = {
    "etl_star_load": EtlStarLoad,
    "query_mix": QueryMix,
    "lakehouse_ingest": LakehouseIngest,
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    ap.add_argument("--scale", type=float, default=None)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--t0", type=float, required=True, help="process start, epoch s")
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", default=None)
    args = ap.parse_args()

    run = Run(args)
    run.start_session()
    session_s = time.time() - args.t0
    wl = WORKLOADS[args.workload](run)
    wl.stage(os.path.join(run.run_dir, "data"))
    setup_s = time.time() - args.t0
    run.note(f"seed {args.seed}: session {session_s:.3f} s, setup {setup_s:.3f} s")

    # The measured pass: the first in this fresh JVM.  More passes, in
    # the warmed JVM, only while --seconds last; a traced run adds an
    # untraced and a traced warm pass, to compare.
    t0 = time.perf_counter()
    passes = [wl.one_pass(0)]
    while time.perf_counter() - t0 < args.seconds or (args.trace and len(passes) < 2):
        passes.append(wl.one_pass(len(passes)))
    warm_walls = [p["wall"] for p in passes[1:]]
    run.note(f"cold pass {passes[0]['wall']:.3f} s, warm passes {warm_walls}")
    layer = {}
    if args.trace:
        tr = run.tracer
        wl.instrument(tr)
        tr.context["pass"] = len(passes)
        tr.enabled = True
        try:
            passes.append(wl.one_pass(len(passes)))
        finally:
            tr.enabled = False
            tr.restore()
        layer = wl.layer_metrics(tr.spans)
        if args.spans:
            tr.write_jsonl(args.spans)
    t = time.perf_counter()
    wl.check()
    run.note(f"final check took {time.perf_counter() - t:.3f} s")

    # Job counts (and, for ingest, per-batch sink jobs and log files)
    # must repeat exactly across the warm passes.
    exact = [(p["jobs"], p["exact"]) for p in passes[1:]]
    repeat = all(e == exact[0] for e in exact)
    if not repeat:
        run.note(f"FLAG exact counts differ across warm passes: {exact}")
    error_rate = run.failed / run.attempted
    if args.trace:
        layer["spark.jobs_per_pass"] = passes[-1]["jobs"]
        layer["bench.trace_overhead_s"] = passes[-1]["wall"] - median(warm_walls)
        layer["bench.counts_repeat"] = int(repeat)
        layer["bench.error_rate"] = error_rate
        metrics = {n: (layer.get(n, 0), u) for n, u in per_layer_units().items()}
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (passes[0]["wall"], "s"),
            "peak_rss_mb": (run.peak_rss_mb(), "MB"),
        }
    info = {
        "seed": args.seed,
        "warm_pass_s": warm_walls,
        "jobs_per_pass": [p["jobs"] for p in passes],
        "error_rate": error_rate,
        "counts_repeat": repeat,
        "op_p50_s": median(passes[0]["ops"]),
    }
    if isinstance(wl, LakehouseIngest):
        info["read_p50_s"] = median(passes[0]["reads"])
        # Every pass feeds the same events, so this restates cold_pass_s.
        info["rows_per_s"] = passes[0]["rows"] / passes[0]["wall"]
        info["batch_jobs"] = passes[-1]["exact"][0]
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "info": info,
    }
    with open(args.result, "w", encoding="utf-8") as f:
        json.dump(result, f)
    run.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
