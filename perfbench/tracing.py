"""Traced-run tooling: spans around the engine's layer calls, Spark job
attribution by job-id ranges, and per-pass figures from Spark's status
store.

Only the traced run installs the wrappers, and only for one pass. They
replace module attributes at the names ``plans/pipeline.py`` and
``plans/batch.py`` call, so the engine itself is unchanged. A span
records the next Spark job id at entry and exit; a job belongs to the
innermost span open when it was submitted, and a span's inclusive job
count is the width of its id range.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    parent: int | None
    run_id: str
    start: float
    job_lo: int
    end: float = 0.0
    job_hi: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return self.job_hi - self.job_lo


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of process ``root`` and every process
    under it (the driver JVM and its Python workers hang below the
    benchmark's own process). The kernel leaves hypervisor steal out of
    these counters."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(f[1])
        ticks[int(d)] = int(f[11]) + int(f[12])
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def next_job_id(spark) -> int:
    nid = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return nid if isinstance(nid, int) else nid.get()


class Recorder:
    """In-memory span list plus the patches that feed it."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(name, parent, self.run_id, time.perf_counter(), next_job_id(self.spark))
        self.spans.append(s)
        self._open.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.job_hi = next_job_id(self.spark)
            s.end = time.perf_counter()
            self._open.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap every layer call the ETL plans make."""
        from nspc_etl_basic_spark.operators import quality, scd
        from nspc_etl_basic_spark.plans import batch, pipeline
        from nspc_etl_basic_spark.sinks.metadata import MetadataStore
        from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse
        from nspc_etl_basic_spark.sources import reader

        self.wrap(batch, "process_file", "plans.pipeline.process_file")
        for m in ("get_or_create_batch_job", "get_pending_files"):
            self.wrap(batch.BatchJobManager, m, "plans.batch.checkpoint")
        self.wrap(reader, "detect_file_type", "sources.detect_file_type")
        self.wrap(pipeline, "read_any", "sources.read_any")
        self.wrap(pipeline, "infer_schema", "operators.schema_inference.infer_schema")
        self.wrap(pipeline, "cast_and_split", "operators.cast.cast_and_split")
        for fn in ("dedup_last_wins", "merge_counts", "merge_upsert"):
            self.wrap(pipeline, fn, f"operators.merge.{fn}")
        for fn in ("scd2_from_feed", "scd2_apply_changes"):
            self.wrap(scd, fn, f"operators.scd.{fn}")
        self.wrap(quality, "run_checks", "operators.quality.run_checks")
        for m in ("write", "overwrite_snapshot", "read"):
            self.wrap(ParquetWarehouse, m, f"sinks.writer.{m}")
        for m in ("write_statistics", "write_invalid_rows", "write_quality_results",
                  "append_batch_event", "current_batches", "completed_files"):
            self.wrap(MetadataStore, m, "sinks.metadata")

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---- aggregation -------------------------------------------------

    def self_seconds(self, i: int) -> float:
        s = self.spans[i]
        return s.seconds - sum(c.seconds for c in self.spans if c.parent == i)

    def total(self, name: str, *, self_time: bool = False) -> float:
        return sum(self.self_seconds(i) if self_time else s.seconds
                   for i, s in enumerate(self.spans) if s.name == name)

    def jobs(self, name: str) -> int:
        return sum(s.jobs for s in self.spans if s.name == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def under(self, i: int, prefix: str) -> bool:
        p = self.spans[i].parent
        while p is not None:
            if self.spans[p].name.startswith(prefix):
                return True
            p = self.spans[p].parent
        return False

    def dump(self, path: str) -> None:
        import json

        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w", encoding="utf-8") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "parent": s.parent, "run_id": s.run_id,
                    "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
                    "jobs": s.jobs,
                }) + "\n")


def etl_layer_metrics(rec: Recorder) -> dict[str, float]:
    """Per-layer figures of one traced ETL pass, by metric name."""
    reads = [i for i, s in enumerate(rec.spans)
             if s.name == "sinks.writer.read" and not rec.under(i, "sinks.metadata")]
    files = rec.calls("plans.pipeline.process_file")
    return {
        "plans.batch.checkpoint_s": rec.total("plans.batch.checkpoint"),
        "plans.batch.self_s": rec.total("plans.batch.process_directory", self_time=True),
        "plans.pipeline.self_s": rec.total("plans.pipeline.process_file", self_time=True),
        "plans.pipeline.jobs_per_file":
            rec.jobs("plans.pipeline.process_file") / files if files else 0.0,
        "sources.detect_file_type_s": rec.total("sources.detect_file_type"),
        "sources.read_any_s": rec.total("sources.read_any", self_time=True),
        "operators.schema_inference.infer_schema_s":
            rec.total("operators.schema_inference.infer_schema"),
        "operators.schema_inference.infer_schema_jobs":
            rec.jobs("operators.schema_inference.infer_schema"),
        "operators.cast.cast_and_split_s": rec.total("operators.cast.cast_and_split"),
        "operators.merge.merge_counts_s": rec.total("operators.merge.merge_counts"),
        "operators.merge.merge_counts_jobs": rec.jobs("operators.merge.merge_counts"),
        "operators.merge.dedup_last_wins_s": rec.total("operators.merge.dedup_last_wins"),
        "operators.merge.merge_upsert_s": rec.total("operators.merge.merge_upsert"),
        "operators.scd.scd2_apply_changes_s": rec.total("operators.scd.scd2_apply_changes"),
        "operators.quality.run_checks_s": rec.total("operators.quality.run_checks"),
        "sinks.writer.write_s": rec.total("sinks.writer.write"),
        "sinks.writer.overwrite_snapshot_s": rec.total("sinks.writer.overwrite_snapshot"),
        "sinks.writer.read_s": sum(rec.spans[i].seconds for i in reads),
        "sinks.writer.read_calls": len(reads),
        "sinks.metadata.s": rec.total("sinks.metadata"),
        "sinks.metadata.jobs": rec.jobs("sinks.metadata"),
    }


class WarehouseBytes:
    """Bytes added under a warehouse, summed after every call so version
    directories that a later commit garbage-collects still count."""

    def __init__(self, root: str):
        self.root = root
        self.seen: set[tuple[str, int]] = set()
        self.added = 0

    def scan(self) -> None:
        for d, _, files in os.walk(self.root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    key = (p, os.path.getsize(p))
                except OSError:
                    continue
                if key not in self.seen:
                    self.seen.add(key)
                    self.added += key[1]


def metadata_files(warehouse: str) -> int:
    """Data files in the append-only metadata tables of a warehouse."""
    n = 0
    for t in ("EtlJobStatistics", "EtlJobError", "EtlQualityCheck", "EtlBatchJobStatistics"):
        d = os.path.join(warehouse, t)
        if os.path.isdir(d):
            n += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    return n


# ---- Spark status store --------------------------------------------------

MB = 1024 * 1024


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_pass_metrics(spark, job_lo: int, job_hi: int, wall_s: float) -> dict[str, float]:
    """Jobs, tasks, idle time and stage totals for jobs [job_lo, job_hi)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    intervals, stage_ids, tasks, n_jobs = [], set(), 0, 0
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if not job_lo <= j.jobId() < job_hi:
            continue
        n_jobs += 1
        tasks += j.numTasks()
        a, b = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
        if a is not None and b is not None:
            intervals.append((a, b))
        sids = j.stageIds()
        stage_ids.update(sids.apply(k) for k in range(sids.size()))
    busy, cur = 0.0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur:
                busy += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur:
        busy += cur[1] - cur[0]
    out = dict.fromkeys(("executor_run_s", "input_mb", "shuffle_write_mb",
                         "shuffle_read_mb", "spill_mb", "gc_s", "critical_task_s"), 0.0)
    q = spark.sparkContext._gateway.new_array(spark._jvm.double, 1)
    q[0] = 1.0
    stages = store.stageList(None, False, False,
                             spark.sparkContext._gateway.new_array(spark._jvm.double, 0), None)
    for i in range(stages.size()):
        sd = stages.apply(i)
        if sd.stageId() not in stage_ids:
            continue
        out["executor_run_s"] += sd.executorRunTime() / 1000.0
        out["input_mb"] += sd.inputBytes() / MB
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
        out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
        out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        out["gc_s"] += sd.jvmGcTime() / 1000.0
        if sd.numCompleteTasks() > 0:
            summary = store.taskSummary(sd.stageId(), sd.attemptId(), q)
            if summary.isDefined():
                out["critical_task_s"] += summary.get().duration().apply(0) / 1000.0
    metrics = {f"spark.{k}": v for k, v in out.items()}
    metrics.update({"spark.jobs": n_jobs, "spark.tasks": tasks,
                    "spark.idle_s": max(wall_s - busy, 0.0)})
    return metrics


def shuffle_mb(spark, job_lo: int, job_hi: int) -> float:
    """Shuffle bytes written by jobs [job_lo, job_hi), in MB."""
    return spark_pass_metrics(spark, job_lo, job_hi, 0.0)["spark.shuffle_write_mb"]


def catalyst_plan_ms(df) -> float:
    """Analysis + optimization + planning ms of ``df``'s query execution
    (forces physical planning when it has not happened yet)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for p in ("analysis", "optimization", "planning"):
        ph = phases.get(p)
        if ph.isDefined():
            total += ph.get().durationMs()
    return total
