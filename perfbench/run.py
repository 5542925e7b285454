"""Repository benchmark: one command, three workloads, end-to-end metrics
with a correctness check on every run, and a traced run for the
per-layer metrics. See perfbench/README.md.

    python3 perfbench/run.py --workload etl_small_files --seed 1 --seconds 1 --trace 0

Run from the repository root. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; the lines
before it print every metric with its unit, quartiles and sample count,
and the window telemetry. Exit code 1 when any output is wrong, 2 when
the engine is not next to the benchmark.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: ROADMAP limit above which a window's numbers are not comparable
STEAL_LIMIT_PPM = 20_000

#: bounded end-to-end metrics: CPU seconds of the benchmark's process tree
#: (driver JVM, its Python workers, the driver Python), which load from
#: other tenants of the host moves about half as much as wall time
END_TO_END = {"setup_s": "s", "cpu_s": "s", "op_cpu_s_p50": "s"}
#: printed with every untraced run but not bounded: on a shared box,
#: other tenants move wall time by up to ~50 % from one run to the next
WALL = {"setup_wall_s": "s", "wall_s": "s", "rows_per_s": "1/s", "op_s_p50": "s"}
#: Spark local[N]: two cores of the box run tasks, the rest stay free for
#: the driver's Python, JIT and GC threads
LOCAL_N = 2


def _per_layer_names() -> dict[str, str]:
    from workloads import QUERIES

    names = {
        "plans.batch.checkpoint_s": "s", "plans.batch.self_s": "s",
        "plans.pipeline.self_s": "s", "plans.pipeline.jobs_per_file": "count",
        "sources.detect_file_type_s": "s", "sources.read_any_s": "s",
        "operators.schema_inference.infer_schema_s": "s",
        "operators.schema_inference.infer_schema_jobs": "count",
        "operators.cast.cast_and_split_s": "s",
        "operators.merge.merge_counts_s": "s", "operators.merge.merge_counts_jobs": "count",
        "operators.merge.dedup_last_wins_s": "s", "operators.merge.merge_upsert_s": "s",
        "operators.scd.scd2_apply_changes_s": "s", "operators.quality.run_checks_s": "s",
        "sinks.writer.write_s": "s", "sinks.writer.overwrite_snapshot_s": "s",
        "sinks.writer.bytes_written_mb": "MB", "sinks.writer.write_amp": "ratio",
        "sinks.writer.read_s": "s", "sinks.writer.read_calls": "count",
        "sinks.metadata.s": "s", "sinks.metadata.jobs": "count",
        "sinks.metadata.files_written": "count",
    }
    for q in QUERIES:
        names.update({f"entry.{q}.build_s": "s", f"entry.{q}.exec_s": "s",
                      f"entry.{q}.jobs": "count", f"entry.{q}.shuffle_mb": "MB",
                      f"catalyst.{q}.plan_ms": "ms"})
    names.update({
        "spark.jobs": "count", "spark.tasks": "count", "spark.idle_s": "s",
        "spark.critical_task_s": "s", "spark.input_mb": "MB",
        "spark.executor_run_s": "s", "spark.shuffle_write_mb": "MB",
        "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB", "spark.gc_s": "s",
        "host.steal_ppm": "ppm", "host.busy_ppm": "ppm", "host.peak_rss_mb": "MB",
        "trace.wall_s": "s", "trace.overhead_s": "s",
    })
    return names


def _engine_present() -> bool:
    return all(os.path.exists(os.path.join(ROOT, p)) for p in (
        "__spark_entry__.py", "bench.py", os.path.join("nspc_etl_basic_spark", "__init__.py")))


def _driver_mem() -> str:
    """A sixth of the box's memory, between 1 and 4 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(fh.readline().split()[1])
    except (OSError, ValueError, IndexError):
        return "2g"
    return f"{max(1, min(4, kb // (6 * 1024 * 1024)))}g"


def _configure_env(tmp: str) -> None:
    """Keep every file Spark, Python workers and the engine write under
    ``tmp``, and let Python workers import the engine."""
    jtmp = os.path.join(tmp, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    os.environ["TMPDIR"] = jtmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = _driver_mem()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # -UsePerfData: no hsperfdata file in the system temp directory
        f"--driver-java-options \"-Djava.io.tmpdir={jtmp} -Dderby.system.home={tmp} "
        "-XX:-UsePerfData\" "
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'spark-warehouse')} "
        "--conf spark.ui.retainedJobs=5000 --conf spark.ui.retainedStages=10000 "
        "pyspark-shell")
    import tempfile

    tempfile.tempdir = jtmp


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, ValueError):
        pass
    return 0.0


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not _engine_present():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _configure_env(tmp)
    cwd = os.getcwd()
    os.chdir(tmp)  # spark-warehouse/ and derby.log land here, not in the checkout
    try:
        record, metrics, ok, attempted, failed = _run(args, tmp, WORKLOADS[args.workload])
    finally:
        os.chdir(cwd)
        _stop_spark()
        shutil.rmtree(tmp, ignore_errors=True)
        parent = os.path.dirname(tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    print(json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if ok else 1


def _stop_spark() -> None:
    """Stop the session, then the JVM: the gateway exits when its stdin
    closes; wait for it."""
    try:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession
    except ImportError:
        return
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is not None and proc.poll() is None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _run(args, tmp: str, cls):
    import bench  # cpu-tick telemetry and the session factory bench.py uses
    import tracing

    cpus = max(1, min(LOCAL_N, os.cpu_count() or 1))
    wl = cls(args.seed, os.path.join(tmp, "work"))
    os.makedirs(wl.root)
    t, c = time.perf_counter(), tracing.tree_cpu_s(os.getpid())
    wl.generate()
    gen_s = time.perf_counter() - t
    gen_cpu_s = tracing.tree_cpu_s(os.getpid()) - c

    attempted = failed = 0
    problems: list[str] = []

    def tally(r):
        nonlocal attempted, failed
        attempted += r.attempted
        failed += r.failed
        problems.extend(r.problems)

    spark = bench.build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    tally(wl.run(spark, warmup=True))
    setup_wall_s = time.perf_counter() - PROCESS_START - gen_s
    setup_cpu_s = tracing.tree_cpu_s(os.getpid()) - gen_cpu_s

    passes = []
    c0 = bench._cpu_ticks()
    t_window = time.perf_counter()
    while True:
        r = wl.run(spark)
        tally(r)
        passes.append(r)
        if time.perf_counter() - t_window >= args.seconds:
            break
    c1 = bench._cpu_ticks()
    steal = bench._ppm(c1[0] - c0[0], c1[2] - c0[2])
    busy = bench._ppm(c1[1] - c0[1], c1[2] - c0[2])

    walls = [r.wall_s for r in passes]
    ops = [x for r in passes for x in r.op_s]
    rates = [r.rows / r.wall_s for r in passes if r.wall_s > 0]
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
    samples = {
        "setup_s": [setup_cpu_s], "cpu_s": [r.cpu_s for r in passes],
        "op_cpu_s_p50": [x for r in passes for x in r.op_cpu_s] or [0.0],
        "setup_wall_s": [setup_wall_s], "wall_s": walls, "rows_per_s": rates or [0.0],
        "op_s_p50": ops or [0.0],
    }

    metrics: dict[str, dict] = {}
    if args.trace:
        layer = _traced_pass(spark, wl, tally)
        # against the untraced pass right after it: the first timed passes
        # are still warming up, so an earlier pass would hide the overhead
        after = wl.run(spark)
        tally(after)
        layer["trace.overhead_s"] = layer["trace.wall_s"] - after.wall_s
        layer.update({"host.steal_ppm": steal, "host.busy_ppm": busy,
                      "host.peak_rss_mb": rss})
        for name, unit in _per_layer_names().items():
            v = float(layer.get(name, 0.0))
            metrics[name] = {"value": v, "unit": unit}
            print(f"{name} = {v:.6g} {unit}")
    else:
        for name, unit in {**END_TO_END, **WALL}.items():
            q1, med, q3 = _quartiles(samples[name])
            if name in END_TO_END:
                metrics[name] = {"value": med, "unit": unit}
            print(f"{name} = {med:.6g} {unit} (q1 {q1:.6g}, q3 {q3:.6g}, "
                  f"n {len(samples[name])})")
    error_rate = failed / attempted if attempted else 1.0
    print(f"error_rate = {error_rate:.6g} ratio (failed {failed} of {attempted})")
    for p in problems[:20]:
        print(f"problem: {p}")

    import pyspark

    record = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "passes": len(passes), "nproc": os.cpu_count(),
        "local_n": cpus, "spark_version": pyspark.__version__,
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "steal_ppm": steal, "busy_ppm": busy,
        "steal_over_limit": steal > STEAL_LIMIT_PPM,
        "inputs_s": round(gen_s, 3), "error_rate": error_rate, "peak_rss_mb": round(rss, 1),
        "pass_walls": [round(w, 3) for w in walls],
        "pass_cpu_s": [round(r.cpu_s, 3) for r in passes],
        "setup_cpu_s": round(setup_cpu_s, 3), "setup_wall_s": round(setup_wall_s, 3),
    }
    if steal > STEAL_LIMIT_PPM:
        print(f"WARNING: steal {steal} ppm is above the {STEAL_LIMIT_PPM} ppm limit; "
              "this window's timings are not comparable")
    return record, metrics, failed == 0, attempted, failed


def _traced_pass(spark, wl, tally) -> dict[str, float]:
    """One pass with every layer wrapped; the spans go to
    ``.perfbench_out/`` and the per-layer figures are returned."""
    import tracing

    rec = tracing.Recorder(spark, run_id=f"{wl.name}-{wl.seed}-{os.getpid()}")
    rec.install()
    j0 = tracing.next_job_id(spark)
    try:
        r = wl.run(spark, rec=rec)
    finally:
        rec.restore()
    j1 = tracing.next_job_id(spark)
    tally(r)

    out = tracing.etl_layer_metrics(rec)
    out.update(getattr(wl, "entry_metrics", {}))
    out.update(tracing.spark_pass_metrics(spark, j0, j1, r.wall_s))
    out["sinks.writer.bytes_written_mb"] = r.bytes_added / tracing.MB
    out["sinks.writer.write_amp"] = r.bytes_added / r.in_bytes if r.in_bytes else 0.0
    out["sinks.metadata.files_written"] = r.meta_files
    out["trace.wall_s"] = r.wall_s

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    rec.dump(os.path.join(out_dir, f"spans-{wl.name}-{wl.seed}.jsonl"))
    return out


if __name__ == "__main__":
    sys.exit(main())
