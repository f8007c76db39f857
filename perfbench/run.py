"""Benchmark of the retail ETL engine: the star-schema ETL pipeline, the
analytic query mix and lakehouse streaming ingest.

Run from the repository root:

    python3 perfbench/run.py --workload etl_star_load --seed 1 --seconds 1 --trace 0

Each workload runs in a fresh Python process and JVM (``worker.py``) on
Spark ``local[min(4, cores)]``, one operation at a time.  The measured
pass is the first one in that JVM; more (warm) passes follow only while
``--seconds`` last.  Every run
makes its inputs from ``--seed``, works in its own directory under
``.perfbench_tmp/`` (temp files, Spark scratch, warehouses; deleted on
exit), checks its outputs against DuckDB, and prints a human-readable
summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` adds an
untraced and a traced warm pass, with spans around the engine's module
calls, reports the per-layer metrics and writes the spans to
``.perfbench_out/``.  The exit code is
non-zero when a check fails or the run breaks.  ``--workload all`` runs
the three workloads in turn.  ``--smoke`` shrinks the inputs;
``--corrupt`` alters one checked result, to show that
the gate fails.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

WORKLOADS = ["etl_star_load", "query_mix", "lakehouse_ingest"]
WORKER_TIMEOUT_S = 165
TMP_ROOT = ".perfbench_tmp"
OUT_DIR = ".perfbench_out"

# What each generic end-to-end metric is called on each workload, for the
# human-readable summary (e.g. cold_pass_s is etl_cold_s on etl_star_load).
ALIASES = {
    "etl_star_load": {"cold_pass_s": "etl_cold_s", "op_p50_s": "etl_pipeline_p50_s"},
    "query_mix": {"cold_pass_s": "query_mix_cold_s", "op_p50_s": "query_p50_s"},
    "lakehouse_ingest": {"cold_pass_s": "ingest_cold_s", "op_p50_s": "ingest_batch_p50_s"},
}


def stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group (its JVM) and
    wait, boundedly, until none of it is running."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_workload(args, workload: str, root: str) -> dict | None:
    """One worker process; returns its result, or None if it broke."""
    run_dir = os.path.join(root, TMP_ROOT, f"{workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    result_path = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        # spark-submit's launcher JVM; the driver JVM gets the same
        # options from spark.driver.extraJavaOptions.
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONHASHSEED="0",
    )
    cmd = [
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "worker.py"),
        "--workload", workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--t0", repr(T0), "--result", result_path,
    ]
    if args.trace:
        os.makedirs(os.path.join(root, OUT_DIR), exist_ok=True)
        cmd += ["--spans", os.path.join(root, OUT_DIR, f"spans-{workload}-seed{args.seed}.jsonl")]
    cmd += ["--smoke"] * args.smoke + ["--corrupt"] * args.corrupt
    if args.scale:
        cmd += ["--scale", str(args.scale)]
    try:
        # The worker's stdout goes to our stderr: only this process
        # writes the result to stdout.
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr,
                                start_new_session=True)
        try:
            proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: {workload} timed out", file=sys.stderr)
        finally:
            stop_group(proc)
        if proc.returncode != 0 or not os.path.exists(result_path):
            print(f"perfbench: {workload} worker exited {proc.returncode}", file=sys.stderr)
            return None
        with open(result_path, encoding="utf-8") as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, TMP_ROOT))
        except OSError:
            pass


def summary(workload: str, res: dict) -> list[str]:
    info = res["info"]
    lines = [
        f"perfbench: workload={workload} seed={info['seed']} correct={res['correct']} "
        f"attempted={res['attempted']} failed={res['failed']} "
        f"error_rate={info['error_rate']:.4g} counts_repeat={info['counts_repeat']}",
        f"  jobs per pass {info['jobs_per_pass']}; warm passes "
        + (", ".join(f"{x:.3f} s" for x in info["warm_pass_s"]) or "none"),
    ]
    if "batch_jobs" in info:
        lines.append(f"  sink jobs per batch (append, rollup) {info['batch_jobs']}")
    alias = ALIASES[workload]
    for name, m in res["metrics"].items():
        label = alias.get(name, name)
        lines.append(f"  {label:<44} {m['value']:>14.6g} {m['unit']}")
    if "op_p50_s" in info:
        label = f"{alias['op_p50_s']} (not bounded)"
        lines.append(f"  {label:<44} {info['op_p50_s']:>14.6g} s")
    if "read_p50_s" in info:
        lines.append(f"  {'ingest_read_p50_s (not bounded)':<44} "
                     f"{info['read_p50_s']:>14.6g} s")
        lines.append(f"  {'ingest_rows_per_s (cold_pass_s restated)':<44} "
                     f"{info['rows_per_s']:>14.6g} 1/s")
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"], required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="scale 0.001 inputs and three ingest batches")
    ap.add_argument("--corrupt", action="store_true",
                    help="alter one checked result, so the run must fail")
    ap.add_argument("--scale", type=float, default=None,
                    help="star-schema input scale (default: the benchmark's own)")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "retail_sales_etl_spark")):
        print("perfbench: run from the repository root (no retail_sales_etl_spark/ here)",
              file=sys.stderr)
        return 1
    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    results = {}
    for wl in workloads:
        res = run_workload(args, wl, root)
        if res is None:
            return 1
        results[wl] = res
        for line in summary(wl, res):
            print(line, flush=True)

    if len(results) == 1:
        (res,) = results.values()
        out = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
    else:
        out = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{wl}.{k}": v for wl, r in results.items()
                        for k, v in r["metrics"].items()},
        }
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
