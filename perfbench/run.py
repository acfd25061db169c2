"""Run one benchmark workload and print its metrics as JSON.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The inputs are the sf0.1 tables under
``perfbench/data/``; ``--seed`` drives everything each workload derives
from them. Everything runs in this one Python process with a
``local[nproc]`` session; scratch files go to ``perfbench/_work/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it holds the run's detail (the end-to-end metrics in
both modes, tail percentile, sample counts, check problems, host).
A traced run also writes its spans and per-stage records to
``perfbench/_work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

END_TO_END = {
    "setup_s": "s",
    "op_s.p50": "s",
    "op_s.tail": "s",
    "rows_per_s": "rows/s",
}

SPARK_LAYER = {
    "spark.exec_s": ("s", "exec_s"),
    "spark.jobs": ("count", "jobs"),
    "spark.stages": ("count", "stages"),
    "spark.tasks": ("count", "tasks"),
    "spark.executor_run_ms": ("ms", "executor_run_ms"),
    "spark.executor_cpu_ms": ("ms", "executor_cpu_ms"),
    "spark.shuffle_read_bytes": ("bytes", "shuffle_read_bytes"),
    "spark.shuffle_write_bytes": ("bytes", "shuffle_write_bytes"),
    "spark.spill_bytes": ("bytes", "spill_bytes"),
    "spark.serial_cpu_stages": ("count", "serial_cpu_stages"),
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric, in BENCHMARK.json order, with its unit."""
    import workloads as W

    units = {
        "process.peak_rss_mb": "MB",
        "session.get_session_s": "s",
        "io.load_table_calls": "count",
        "io.load_table_s": "s",
        "testbed.build_s": "s",
        "spark.plan_s": "s",
    }
    units.update({name: unit for name, (unit, _) in SPARK_LAYER.items()})
    units["spark.cpu_busy_frac"] = "ratio"
    units["spark.task_skew"] = "ratio"
    units.update({f"{q}.exec_s": "s" for q in W.ANALYTICS + W.CURATION})
    units.update({f"pipelines.{t}_s": "s" for t in W.ETL_TASKS})
    units.update({
        "pipelines.backfill_rows_per_s": "rows/s",
        "pipelines.merge_write_s": "s",
        "pipelines.jobs_per_tick": "count",
        "pipelines.rows_merged": "count",
        "pipelines.bytes_written": "bytes",
        "pipelines.write_amp": "ratio",
        "incremental.bookmark_s": "s",
        "snapshots.commit_s": "s",
        "snapshots.versions": "count",
        "snapshots.bytes_written": "bytes",
        "snapshots.write_amp": "ratio",
        "streaming.add_batch_ms": "ms",
        "streaming.planning_ms": "ms",
        "streaming.offset_log_ms": "ms",
        "streaming.latest_offset_ms": "ms",
        "streaming.batches": "count",
        "streaming.start_stop_s": "s",
    })
    return units


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _install_tracer(tracer) -> None:
    from dex_data_ingestor_spark import io, snapshots
    from dex_data_ingestor_spark.operators.incremental import Bookmark
    from dex_data_ingestor_spark.plans.pipelines import DexWarehouse

    tracer.wrap(io, "load_table", "io.load_table")
    tracer.wrap(DexWarehouse, "merge_write", "pipelines.merge_write")
    tracer.wrap(Bookmark, "get_last_run", "incremental.bookmark")
    tracer.wrap(Bookmark, "set_last_run", "incremental.bookmark")
    tracer.wrap(snapshots, "snapshot_write", "snapshots.commit")
    tracer.wrap(snapshots, "snapshot_append", "snapshots.commit")


def _stop() -> None:
    """Stop the active session and the JVM behind it, and wait until
    the JVM has exited; a no-op when none is running."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args) -> tuple[dict, dict]:
    import pyspark

    import tracing
    import workloads as W

    cores = _nproc()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # keep every scratch file of Spark, the JVM and Python in the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    tempfile.tempdir = tmp

    # the package, imported before any wrapper is installed
    from dex_data_ingestor_spark.session import get_session
    from dex_data_ingestor_spark.plans import pipelines, testbed  # noqa: F401
    from dex_data_ingestor_spark.streaming import jobs  # noqa: F401
    from tests.oracle_check import compare, duck_connection

    tracer = tracing.Tracer() if args.trace else None
    if tracer:
        _install_tracer(tracer)
    confs = {
        "spark.ui.enabled": "false",
        # -XX:-UsePerfData: no /tmp/hsperfdata file, which ignores tmpdir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
    }
    log_dir = os.path.join(run_dir, "eventlog")
    if tracer:
        os.makedirs(log_dir)
        confs.update(tracing.event_log_confs(log_dir))

    run_fn, tables = W.WORKLOADS[args.workload]
    t = time.time()
    spark = get_session(
        app_name=f"perfbench-{args.workload}", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_confs=confs,
    )
    session_s = time.time() - t
    W.setup_tables(spark, tables)

    ctx = W.Ctx(spark, os.path.join(run_dir, "w"), args.seed, args.seconds, tracer)
    con = duck_connection(W.INPUTS)
    res = run_fn(ctx, con, compare)
    con.close()

    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    rss = tracing.rss_peak_mb([os.getpid()] + ([jvm.pid] if jvm else []))
    app_id = spark.sparkContext.applicationId
    _stop()  # also flushes the event log

    ops = res.ops or [0.0]
    tail_v, tail_pct = tracing.tail(ops)
    e2e = {
        # process start until the warm-up pass has ended
        "setup_s": res.setup_end - T_START,
        "op_s.p50": tracing.median(ops),
        "op_s.tail": tail_v,
        "rows_per_s": res.rows / res.rows_s if res.rows_s else 0.0,
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "pyspark": pyspark.__version__,
        "sf": W.SF, "session_s": session_s,
        "ops": len(res.ops), "op_samples_s": res.ops, "tail_pct": tail_pct,
        "failed_frac": res.failed / max(res.attempted, 1), "peak_rss_mb": rss,
        "e2e": e2e, "info": res.info, "problems": res.problems[:20],
    }
    metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

    if tracer:
        n = max(len(res.ops), 1)
        lo, hi = (res.windows[0][0], res.windows[-1][1]) if res.windows else (0.0, 0.0)
        log_path = tracing.find_event_log(log_dir, app_id)
        folded = tracing.fold_event_log(log_path, res.windows, cores)
        layer = {
            "process.peak_rss_mb": rss,
            "session.get_session_s": session_s,
            "io.load_table_calls": tracer.count("io.load_table", lo, hi) / n,
            "io.load_table_s": tracer.total("io.load_table", lo, hi) / n,
            "spark.cpu_busy_frac": folded["cpu_busy_frac"],
            "spark.task_skew": folded["task_skew"],
        }
        for name, windows in res.job_windows.items():
            layer[name] = tracing.fold_event_log(log_path, windows, cores)["jobs"] / len(windows)
        for name, (_, key) in SPARK_LAYER.items():
            layer[name] = folded[key] / n
        layer.update(res.layer)
        units = per_layer_units()
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in units.items()}
        with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"detail": detail, "spans": tracer.spans,
                       "stages": folded["stage_records"]}, f)
        tracer.unwrap_all()

    shutil.rmtree(run_dir, ignore_errors=True)
    result = {
        "correct": res.failed == 0 and bool(res.ops),
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }
    return detail, result


def main(argv: list[str]) -> int:
    import workloads

    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import dex_data_ingestor_spark  # noqa: F401
        import tests.oracle_check  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not here ({exc}); run from a checkout root",
              file=sys.stderr)
        return 2
    try:
        detail, result = run(args)
    finally:
        _stop()
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path[1:1] = [ROOT]
    sys.exit(main(sys.argv[1:]))
