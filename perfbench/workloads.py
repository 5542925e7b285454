"""The three workloads. Each one generates its inputs from the seed, runs a
warm-up pass (also verified), then timed passes in a closed loop with a
single client, each on a fresh warehouse and input directory, and checks
every engine output against the plain-Python model in ``inputs.py`` or,
for the queries, against the DuckDB oracle.

A pass returns its wall time and CPU seconds, the same per operation, its
input rows and the number of operations attempted and failed. An operation fails when its
status, its table contents, its statistics row, its quality results or
its query result differ from the expectation, or when it raises.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import inputs
import tracing

MERGE_TARGET_ROWS = 20_000
MERGE_WARMUP_ROWS = 1_000

#: driver-contract queries timed by operator_queries, with the tables each
#: reads (for rows_per_s). Three of the eleven the benchmark was specified
#: with: the corpus_* oracles take 30-40 s even on a 500-document corpus,
#: and the rest do not fit the per-run time budget (see README.md).
QUERIES = {
    "dedup_setjoin_exact": ("documents",),
    "text_bm25_topk": ("documents",),
    "lineitem_copurchase": ("lineitem",),
}


@dataclass
class PassResult:
    wall_s: float
    op_s: list[float]
    rows: int
    attempted: int
    failed: int
    problems: list[str] = field(default_factory=list)
    in_bytes: int = 0
    meta_files: int = 0
    bytes_added: int = 0
    cpu_s: float = 0.0
    op_cpu_s: list[float] = field(default_factory=list)


def _rows(path: str) -> list[dict]:
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return []
    return ds.dataset(path, format="parquet").to_table().to_pylist()


def _same(a: dict, b: dict) -> bool:
    if a.keys() != b.keys():
        return False
    for k, v in a.items():
        w = b[k]
        if hasattr(w, "tzinfo") and getattr(w, "tzinfo", None) is not None:
            w = w.replace(tzinfo=None)
        if v != w:
            return False
    return True


def _table_dir(spark, wh: str, table: str) -> str:
    from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse

    return ParquetWarehouse(spark, wh).data_path(table)


def _stats_by_file(wh: str) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in _rows(os.path.join(wh, "EtlJobStatistics")):
        out.setdefault(r["SourceFile"], []).append(r)
    return out


def _stat_ok(row: dict, status: str, read: int, ins: int, upd: int, failed: int) -> bool:
    return (row["JobStatus"], row["RowsRead"], row["RowsInserted"],
            row["RowsUpdated"], row["RowsFailed"]) == (status, read, ins, upd, failed)


class Workload:
    name = ""

    def __init__(self, seed: int, root: str):
        self.seed = seed
        self.root = root
        self.n_pass = 0

    def fresh_dir(self) -> str:
        self.n_pass += 1
        d = os.path.join(self.root, f"pass{self.n_pass:03d}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def run(self, spark, warmup: bool = False, rec=None) -> PassResult:
        """One pass in a fresh directory; ``rec`` (a tracing.Recorder) marks
        the traced pass, which also sums the bytes written."""
        d = self.fresh_dir()
        try:
            return self.run_pass(spark, d, warmup, rec)
        finally:
            shutil.rmtree(d, ignore_errors=True)


class SmallFiles(Workload):
    """One ``process_directory`` call per pass over the small-file batch
    (drop_recreate + strict + quality checks, one retry per failed file)."""

    name = "etl_small_files"

    def generate(self) -> None:
        self.src = os.path.join(self.root, "inputs")
        self.specs = inputs.small_files(self.seed, self.src)
        # warm-up: the first file alone (a run can afford only a short one)
        self.warm_specs = self.specs[:1]

    def run_pass(self, spark, d, warmup, rec) -> PassResult:
        from nspc_etl_basic_spark.config import load_config
        from nspc_etl_basic_spark.plans import batch

        specs = self.warm_specs if warmup else self.specs
        inp, wh = os.path.join(d, "in"), os.path.join(d, "wh")
        os.makedirs(inp)
        for s in specs:
            shutil.copy(os.path.join(self.src, s["file"]), inp)
        cfg = load_config(overrides={
            "database": {"warehouse_path": wh},
            "loader": {"table_mode": "drop_recreate", "transaction_mode": "strict",
                       "max_retries": 1},
            "quality": {"checks": inputs.QUALITY_CHECKS, "action": "log"},
        })
        wb = tracing.WarehouseBytes(wh) if rec else None
        lat: list[float] = []
        op_cpu: list[float] = []
        inner = batch.process_file

        def timed(*a, **k):
            c, t = tracing.tree_cpu_s(os.getpid()), time.perf_counter()
            try:
                return inner(*a, **k)
            finally:
                lat.append(time.perf_counter() - t)
                op_cpu.append(tracing.tree_cpu_s(os.getpid()) - c)
                if wb:
                    wb.scan()

        attempted = sum(1 if s["ok"] else 2 for s in specs) + 1
        rows = sum(s["rows_read"] for s in specs)
        batch.process_file = timed
        try:
            c0, t0 = tracing.tree_cpu_s(os.getpid()), time.perf_counter()
            with rec.span("plans.batch.process_directory") if rec else nullcontext():
                res = batch.process_directory(spark, inp, cfg, move_files=True)
            wall = time.perf_counter() - t0
            cpu = tracing.tree_cpu_s(os.getpid()) - c0
        except Exception:  # noqa: BLE001 — a crash fails every operation
            return PassResult(0.0, lat, rows, attempted, attempted,
                              [traceback.format_exc(limit=3)])
        finally:
            batch.process_file = inner
        problems = self.verify(spark, specs, res, inp, wh)
        failed = sum(n for _, n in problems)
        return PassResult(wall, lat, rows, attempted, failed, [p for p, _ in problems],
                          sum(os.path.getsize(os.path.join(self.src, s["file"]))
                              for s in specs),
                          tracing.metadata_files(wh), wb.added if wb else 0, cpu, op_cpu)

    def verify(self, spark, specs, res, inp, wh) -> list[tuple[str, int]]:
        problems: list[tuple[str, int]] = []
        stats = _stats_by_file(wh)
        quality: dict[str, dict] = {}
        for r in _rows(os.path.join(wh, "EtlQualityCheck")):
            quality.setdefault(r["TableName"], {})[r["CheckName"]] = r["Value"]
        for s in specs:
            calls = 1 if s["ok"] else 2
            got = stats.get(s["file"], [])
            status = "Completed" if s["ok"] else "Failed"
            inserted = s["rows_read"] if s["ok"] else 0
            why = None
            if len(got) != calls or not all(
                _stat_ok(r, status, s["rows_read"], inserted, 0, s["rows_failed"])
                and r["BatchJobID"] == res.batch_job_id for r in got
            ):
                why = "statistics"
            elif not os.path.exists(os.path.join(
                    inp, "processed" if s["ok"] else "error", s["file"])):
                why = "file not moved"
            elif s["ok"]:
                actual = sorted(_rows(_table_dir(spark, wh, s["table"])),
                                key=lambda r: r["id"])
                if len(actual) != len(s["rows"]) or not all(
                        _same(e, a) for e, a in zip(s["rows"], actual)):
                    why = "table contents"
                elif quality.get(s["table"]) != s["quality"]:
                    why = "quality results"
            elif os.path.isdir(os.path.join(wh, s["table"])) and _rows(
                    _table_dir(spark, wh, s["table"])):
                why = "rejected file left a table"
            if why:
                problems.append((f"{s['file']}: {why}", calls))
        n_ok = sum(1 for s in specs if s["ok"])
        status = "Completed" if n_ok == len(specs) else "CompletedWithErrors"
        if (res.status, res.total_files, res.files_processed, res.files_failed) != (
                status, len(specs), n_ok, len(specs) - n_ok):
            problems.append(("batch result", 1))
        return problems


class Merge(Workload):
    """A fixed ``process_file`` sequence on persistent targets: a large
    drop_recreate load, a quarter-size tolerant jsonl upsert (duplicate
    keys, invalid rows), and an scd2 base plus change feed."""

    name = "etl_merge"

    def generate(self) -> None:
        self.src = os.path.join(self.root, "inputs")
        self.warm_src = os.path.join(self.root, "warm_inputs")
        self.steps = inputs.merge_files(self.seed, self.src, MERGE_TARGET_ROWS)
        # warm-up: the load alone, on a small target
        self.warm_steps = inputs.merge_files(self.seed, self.warm_src, MERGE_WARMUP_ROWS)[:1]

    def run_pass(self, spark, d, warmup, rec) -> PassResult:
        from nspc_etl_basic_spark.config import load_config
        from nspc_etl_basic_spark.plans import pipeline

        steps, src = (self.warm_steps, self.warm_src) if warmup else (self.steps, self.src)
        inp, wh = os.path.join(d, "in"), os.path.join(d, "wh")
        shutil.copytree(src, inp)
        wb = tracing.WarehouseBytes(wh) if rec else None
        lat: list[float] = []
        cpu: list[float] = []
        problems: list[tuple[str, str]] = []
        for step in steps:
            cfg = load_config(overrides={
                "database": {"warehouse_path": wh},
                "loader": {"table_mode": step["mode"], "transaction_mode": step["txn"],
                           "override_table_name": step["table"],
                           "primary_key_columns": ["id"],
                           "scd2": {"ts_column": "ts"}},
            })
            path = os.path.join(inp, step["file"])
            c, t = tracing.tree_cpu_s(os.getpid()), time.perf_counter()
            try:
                with rec.span("plans.pipeline.process_file") if rec else nullcontext():
                    r = pipeline.process_file(spark, path, cfg, move_files=False)
            except Exception:  # noqa: BLE001
                problems.append((step["file"], traceback.format_exc(limit=3)))
                continue
            finally:
                lat.append(time.perf_counter() - t)
                cpu.append(tracing.tree_cpu_s(os.getpid()) - c)
            if wb:
                wb.scan()
            why = self.check_step(spark, wh, step, r)
            if why:
                problems.append((step["file"], why))
        stats = _stats_by_file(wh)
        for step in steps:
            got = stats.get(step["file"], [])
            if len(got) != 1 or not _stat_ok(
                    got[0], step["status"], step["rows_read"], step["rows_inserted"],
                    step["rows_updated"], step["rows_failed"]):
                problems.append((step["file"], "statistics"))
        n_err = len(_rows(os.path.join(wh, "EtlJobError")))
        tolerant = [s for s in steps if s["txn"] == "tolerant"]
        if n_err != sum(s["rows_failed"] for s in tolerant):
            problems += [(s["file"], f"{n_err} EtlJobError rows") for s in tolerant]
        return PassResult(sum(lat), lat, sum(s["rows_read"] for s in steps), len(steps),
                          len({f for f, _ in problems}),
                          [f"{f}: {why}" for f, why in problems],
                          sum(os.path.getsize(os.path.join(src, s["file"])) for s in steps),
                          tracing.metadata_files(wh), wb.added if wb else 0, sum(cpu), cpu)

    @staticmethod
    def check_step(spark, wh, step, r) -> str | None:
        got = (r.status, r.rows_read, r.rows_inserted, r.rows_updated, r.rows_failed)
        want = (step["status"], step["rows_read"], step["rows_inserted"],
                step["rows_updated"], step["rows_failed"])
        if got != want:
            return f"result {got} != {want} ({r.error_message})"
        actual = _rows(_table_dir(spark, wh, step["table"]))
        if step["mode"] == "scd2":
            expected = [
                {"id": k, "tier": a[0], "region": a[1], "score": a[2],
                 "valid_from": ts, "valid_to": to, "is_current": to is None}
                for k, iv in step["state"].items() for ts, a, to in iv
            ]
            key = lambda row: (row["id"], row["valid_from"])  # noqa: E731
        else:
            expected = list(step["state"].values())
            key = lambda row: row["id"]  # noqa: E731
        expected.sort(key=key)
        actual.sort(key=key)
        if len(actual) != len(expected) or not all(
                _same(e, a) for e, a in zip(expected, actual)):
            return "table contents"
        return None


class Queries(Workload):
    """Driver-contract operator queries through the ``noop`` sink with
    ``clearCache`` between queries (the ``bench.py`` method). The warm-up
    pass collects every result and checks it against the DuckDB oracle
    run on the same generated tables."""

    name = "operator_queries"

    def generate(self) -> None:
        self.src = os.path.join(self.root, "inputs")
        self.table_rows = inputs.query_tables(self.seed, self.src)
        self.expected = oracle_digests(self.src, list(QUERIES))

    def run_pass(self, spark, d, warmup, rec) -> PassResult:
        import __spark_entry__ as entry

        qs = entry.queries()
        lat: list[float] = []
        problems: list[str] = []
        self.entry_metrics: dict[str, float] = {}
        t_pass, cpu = time.perf_counter(), []
        for q in QUERIES:
            c = tracing.tree_cpu_s(os.getpid())
            try:
                if warmup:
                    t = time.perf_counter()
                    df = qs[q](spark, self.src)
                    got = digest(df.collect(), df.columns)
                    lat.append(time.perf_counter() - t)
                    if got != self.expected[q]:
                        problems.append(f"{q}: result differs from the oracle")
                elif rec:
                    lat.append(self.traced_query(spark, qs[q], q))
                else:
                    t = time.perf_counter()
                    qs[q](spark, self.src).write.mode("overwrite").format("noop").save()
                    lat.append(time.perf_counter() - t)
            except Exception:  # noqa: BLE001
                problems.append(f"{q}: {traceback.format_exc(limit=3)}")
            cpu.append(tracing.tree_cpu_s(os.getpid()) - c)
            spark.catalog.clearCache()
        wall = time.perf_counter() - t_pass if rec else sum(lat)
        rows = sum(self.table_rows[t] for tabs in QUERIES.values() for t in tabs)
        return PassResult(wall, lat, rows, len(QUERIES), len(problems), problems,
                          cpu_s=sum(cpu), op_cpu_s=cpu)

    def traced_query(self, spark, fn, q) -> float:
        j0 = tracing.next_job_id(spark)
        t0 = time.perf_counter()
        df = fn(spark, self.src)
        t1 = time.perf_counter()
        j1 = tracing.next_job_id(spark)
        plan_ms = tracing.catalyst_plan_ms(df)
        j2 = tracing.next_job_id(spark)
        t2 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        t3 = time.perf_counter()
        j3 = tracing.next_job_id(spark)
        self.entry_metrics.update({
            f"entry.{q}.build_s": t1 - t0,
            f"entry.{q}.exec_s": t3 - t2,
            f"entry.{q}.jobs": (j1 - j0) + (j3 - j2),
            f"entry.{q}.shuffle_mb": tracing.shuffle_mb(spark, j0, j3),
            f"catalyst.{q}.plan_ms": plan_ms,
        })
        return (t1 - t0) + (t3 - t2)


# ---- DuckDB oracle ----------------------------------------------------------


def _norm(v):
    """Value normalization of tests/test_parity.py::_norm."""
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bool):
        return "1" if v else "0"
    return str(v)


def digest(rows, cols) -> str:
    """Order-free digest of a result: columns sorted by name, rows sorted,
    values normalized (the tests/test_parity.py::_table rule)."""
    import hashlib

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    table = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for t in table:
        h.update(repr(t).encode())
    return h.hexdigest()


def oracle_digests(src: str, names: list[str]) -> dict[str, str]:
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET memory_limit='1GB'")
        con.execute("SET threads=2")
        for f in sorted(os.listdir(src)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(src, f)}')")
        out = {}
        for q in names:
            res = con.execute(sql[q])
            out[q] = digest(res.fetchall(), [c[0] for c in res.description])
        return out
    finally:
        con.close()


WORKLOADS = {w.name: w for w in (SmallFiles, Merge, Queries)}
