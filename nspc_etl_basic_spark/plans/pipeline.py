"""Per-file load pipeline (reference ``process_file``, loader.py:1386-1500).

Spark lifecycle (SURVEY.md §3.1): path -> spark.read (lazy) -> inference
aggregation job -> StructType -> cast/validate projection -> validity split
-> write job -> metadata append (driver-side, no Spark job) -> file
lifecycle move. Driver-orchestrated, with a measured 8.5 Spark jobs per
file for the benchmark's small strict drop_recreate loads and 10.75 per
file for its merge mix (``perfbench/run.py --trace 1``,
``plans.pipeline.jobs_per_file``). No statistic has a Spark action of its
own: rows read and rows failed come from one validation aggregate (the
one job strict mode needs before the sink), and the merge/scd2
inserted/updated counts are ``DataFrame.observe`` metrics of the snapshot
write. The per-file granularity is semantic (one file -> one table,
retry/resume unit), so we keep the driver loop and parallelize WITHIN
each file via Spark.

Transaction semantics:
  strict   = all-or-nothing: any invalid row -> no write, file -> error/
             (H3, loader.py:965-1012)
  tolerant = invalid rows <= max-row-errors -> write valid split, log
             invalid rows; beyond threshold -> no write, file -> error/
             (H4/G2, loader.py:1014-1068)
Upsert adds: E1 last-wins dedup -> D1 merge snapshot -> D2 true
inserted/updated split (H5/H6, loader.py:1169-1270).
"""

from __future__ import annotations

import datetime as _dt
import logging
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from nspc_etl_basic_spark.config import load_config
from nspc_etl_basic_spark.naming import generate_table_name
from nspc_etl_basic_spark.operators.cast import cast_and_split, validation_counts
from nspc_etl_basic_spark.operators.merge import (
    MergeObservations,
    RowCount,
    dedup_last_wins,
    merge_counts,
    merge_upsert,
)
from nspc_etl_basic_spark.operators.schema_inference import infer_schema
from nspc_etl_basic_spark.sinks.metadata import MetadataStore
from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse, jdbc_write
from nspc_etl_basic_spark.sources.reader import SEQ_COL, read_any

logger = logging.getLogger(__name__)


def _jdbc_options(db_cfg: dict) -> dict:
    return {
        k: db_cfg[k] for k in ("driver", "user", "password") if db_cfg.get(k)
    }


def _jdbc_target_schema(spark, url: str, table: str, opts: dict):
    """Schema of an existing JDBC table, or None when it doesn't exist —
    the JDBC twin of ``warehouse.exists + .read().schema`` (the existing
    table's DDL governs the cast, reference
    test_upsert_operations.py:698-734)."""
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    try:
        return reader.load().schema
    except Exception:  # noqa: BLE001 — missing table surfaces as an analysis error
        return None


@dataclass
class FileLoadResult:
    status: str  # Completed | Failed
    table_name: str = ""
    rows_read: int = 0
    rows_inserted: int = 0
    rows_updated: int = 0
    rows_failed: int = 0
    error_message: str | None = None
    job_run_id: str = ""
    duration_seconds: float = 0.0
    moved_to: str | None = None
    details: dict = field(default_factory=dict)


def _ensure_subdirs(src_dir: str) -> None:
    """H7: error/ processed/ logs/ alongside the source (loader.py:491-496)."""
    for sub in ("error", "processed", "logs"):
        os.makedirs(os.path.join(src_dir, sub), exist_ok=True)


class _FileLogging:
    """Per-file log artifact: ``logs/process_<stem>_<jobid>.log`` next to
    the source (reference ``setup_file_specific_logging``, loader.py:69-101).
    Attaches a FileHandler to the package logger for the duration of one
    ``process_file`` call; engine log lines (this module, merge, sinks)
    propagate into it."""

    def __init__(self, src_dir: str, stem: str, job_run_id: str, enabled: bool):
        self.enabled = enabled
        self.path = os.path.join(src_dir, "logs", f"process_{stem}_{job_run_id}.log")
        self._handler: logging.FileHandler | None = None
        self._pkg = logging.getLogger("nspc_etl_basic_spark")
        self._prior_level: int | None = None

    def __enter__(self) -> "_FileLogging":
        if not self.enabled:
            return self
        try:
            handler = logging.FileHandler(self.path, encoding="utf-8")
        except OSError:
            return self
        handler.setFormatter(
            logging.Formatter("%(asctime)s - %(levelname)s - %(message)s")
        )
        handler.setLevel(logging.INFO)
        if self._pkg.getEffectiveLevel() > logging.INFO:
            self._prior_level = self._pkg.level
            self._pkg.setLevel(logging.INFO)
        self._pkg.addHandler(handler)
        self._handler = handler
        return self

    def __exit__(self, *exc_info) -> None:
        if self._handler is not None:
            self._pkg.removeHandler(self._handler)
            self._handler.close()
        if self._prior_level is not None:
            self._pkg.setLevel(self._prior_level)


def _write_failed_rows_txt(
    src_dir: str, stem: str, job_run_id: str, invalid_rows: list
) -> str | None:
    """Failed-row detail artifact ``logs/<stem>_<jobid>.txt`` (reference
    loader.py:1049-1058): one dict per failed row. The caller passes
    COLLECTED rows — bounded by max-row-errors on the only path that
    writes this file, so the driver-side materialization is capped."""
    path = os.path.join(src_dir, "logs", f"{stem}_{job_run_id}.txt")
    try:
        with open(path, "w", encoding="utf-8") as fh:
            for r in invalid_rows:
                d = {k: v for k, v in r.asDict().items() if not k.startswith("__")}
                d["errors"] = list(r["__errors"] or [])
                fh.write(f"{d}\n")
        return path
    except OSError:
        return None


def _move_file(path: str, dest_sub: str) -> str | None:
    try:
        src_dir = os.path.dirname(os.path.abspath(path))
        dest = os.path.join(src_dir, dest_sub, os.path.basename(path))
        shutil.move(path, dest)
        return dest
    except OSError:
        return None


def process_file(
    spark: SparkSession,
    file_path: str,
    config: dict | None = None,
    warehouse: ParquetWarehouse | None = None,
    batch_job_id: str | None = None,
    move_files: bool = True,
    dry_run: bool = False,
) -> FileLoadResult:
    """Load one file (see module docstring). ``dry_run=True`` runs the
    FULL read -> schema-authority -> cast/validate -> quality-gate
    chain and reports what a real load would do (inferred sql_types,
    rows read/failed, quality values, status ``Validated``), but
    touches NOTHING: no sink write, no metadata/statistics rows, no
    file move. Validation failures still fail (status ``Failed`` with
    the same error a real load would raise) — the preflight a batch
    owner runs on a new feed before pointing it at a live table."""
    if dry_run:
        move_files = False
    config = config or load_config()
    t0 = time.time()
    job_run_id = config.get("job_run_id") or str(uuid.uuid4())
    start_ts = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    loader_cfg = config["loader"]
    mode = loader_cfg.get("table_mode", "drop_recreate")
    txn = loader_cfg.get("transaction_mode", "strict")
    max_row_errors = int(loader_cfg.get("max-row-errors", 100))
    pk_cols = list(loader_cfg.get("primary_key_columns", ["id"]))

    if warehouse is None:
        warehouse = ParquetWarehouse(
            spark, config["database"].get("warehouse_path", "warehouse")
        )
    meta = MetadataStore(warehouse, config)

    # reference reads loader.override_table_name (loader.py:1440-1442);
    # accept the top-level spelling too for backward compatibility
    table_name = (
        loader_cfg.get("override_table_name")
        or config.get("override_table_name")
        or generate_table_name(file_path)
    )
    src_dir = os.path.dirname(os.path.abspath(file_path))
    if move_files:
        _ensure_subdirs(src_dir)
    stem = os.path.splitext(os.path.basename(file_path))[0]
    log_artifacts = move_files and bool(
        config.get("logging", {}).get("enabled", True)
    )
    flog = _FileLogging(src_dir, stem, job_run_id, enabled=log_artifacts)
    flog.__enter__()

    result = FileLoadResult(status="Failed", table_name=table_name, job_run_id=job_run_id)
    logger.info("processing %s -> table %s (mode=%s, txn=%s, job=%s)",
                file_path, table_name, mode, txn, job_run_id)

    src = None
    try:
        # cached before its first job: inference, the validation
        # aggregate, the invalid-row sinks and the write all scan it
        src = df = read_any(spark, file_path, with_seq=True).cache()
        file_cols = [c for c in df.columns if not c.startswith("__")]

        # Schema authority (reference parity): for append/upsert into an
        # EXISTING table the target's schema governs the cast — the
        # reference inserts into the existing DDL and the database rejects
        # mismatches (e.g. 'invalid' into an INT column, the strict-rollback
        # scenario test_upsert_operations.py:698-734). Fresh tables get
        # file inference. With ``database.type: jdbc`` the authority is the
        # JDBC table itself (the reference's actual deployment shape).
        db_cfg = config.get("database", {})
        use_jdbc = db_cfg.get("type") == "jdbc" and db_cfg.get("url")
        if use_jdbc and mode == "scd2":
            # fail up front with a clear message instead of a KeyError
            # deep in the jdbc writer after the full read/cast work
            raise ValueError(
                "table_mode 'scd2' is not supported with database.type "
                "'jdbc' — the SCD2 fold targets the parquet warehouse"
            )
        jdbc_opts = _jdbc_options(db_cfg) if use_jdbc else {}
        # bucketed layout: upserts go through the differential merge
        # (sinks/bucketed_merge.py) — per-file cost proportional to the
        # batch's buckets, not the table. The config knob for large,
        # frequently-merged targets where the snapshot rewrite stops
        # being runnable per file.
        bucketed = None
        if (
            not use_jdbc
            and mode == "upsert"
            and db_cfg.get("layout") == "bucketed"
        ):
            from nspc_etl_basic_spark.sinks.bucketed_merge import BucketedTable

            bucketed = BucketedTable(
                spark,
                os.path.join(warehouse.path, table_name),
                pk_cols,
                n_buckets=int(db_cfg.get("n_buckets", 64)),
            )
        jdbc_struct = None
        if use_jdbc and mode in ("append", "upsert"):
            jdbc_struct = _jdbc_target_schema(
                spark, db_cfg["url"], table_name, jdbc_opts
            )
        if use_jdbc:
            existing = jdbc_struct is not None
        elif bucketed is not None:
            existing = bucketed.exists()
        else:
            existing = mode in ("append", "upsert", "scd2") and warehouse.exists(
                table_name
            )
        # the one read of the snapshot target: schema authority here,
        # merge/scd2 input at the sink
        target = None
        extra: list[str] = []
        if existing:
            if use_jdbc:
                target_struct = jdbc_struct
            elif bucketed is not None:
                target_struct = bucketed.read().schema
            else:
                target = warehouse.read(table_name)
                target_struct = target.schema
            if mode == "scd2":
                # the stored table carries interval columns instead of the
                # feed's ts column: schema authority for the feed is the
                # attr columns plus valid_from RENAMED back to ts_column
                from pyspark.sql import types as _T

                scd2_ts = (loader_cfg.get("scd2", {}) or {}).get("ts_column")
                fields = []
                for f in target_struct.fields:
                    if f.name in ("valid_to", "is_current"):
                        continue
                    if f.name == "valid_from":
                        if not scd2_ts:
                            raise ValueError(
                                "scd2 mode requires loader.scd2.ts_column"
                            )
                        fields.append(
                            _T.StructField(scd2_ts, f.dataType, f.nullable)
                        )
                    else:
                        fields.append(f)
                target_struct = _T.StructType(fields)
            # raised after the validation aggregate: a header-only file
            # stays an empty-file no-op whatever its header names
            extra = [c for c in file_cols if c not in target_struct.names]
            # missing target columns -> NULL (SQL INSERT column-list rule)
            for c in target_struct.names:
                if c not in file_cols:
                    df = df.withColumn(c, F.lit(None).cast("string"))
            struct = target_struct
            result.details["sql_types"] = {
                f.name: f.dataType.simpleString() for f in target_struct.fields
            }
        else:
            schema = infer_schema(df, table_name=table_name, config=config)
            struct = schema.struct
            result.details["sql_types"] = schema.sql_types

        valid, invalid, checked = cast_and_split(df, struct)
        rows_read, invalid_count = validation_counts(checked)
        result.rows_read = rows_read

        if rows_read == 0 or not file_cols:
            # A5: empty file — valid no-op in upsert mode (loader.py:1420-1432)
            if mode == "upsert":
                result.status = "Validated" if dry_run else "Completed"
                if move_files:
                    result.moved_to = _move_file(file_path, "processed")
                return result
            raise ValueError(f"Empty file: {file_path}")
        if extra:
            raise ValueError(
                f"columns {extra} not in existing table '{table_name}'"
            )
        result.rows_failed = invalid_count

        if txn == "strict" and invalid_count > 0:
            raise ValueError(
                f"strict mode: {invalid_count} row(s) failed validation"
            )
        if txn == "tolerant" and invalid_count > max_row_errors:
            raise ValueError(
                f"tolerant mode: {invalid_count} failed rows exceed "
                f"max-row-errors={max_row_errors}"
            )

        if invalid_count > 0 and not dry_run:
            meta.write_invalid_rows(invalid, job_run_id, table_name, invalid_count)
            logger.info("%d invalid row(s) recorded for %s", invalid_count, table_name)
            if log_artifacts:
                # bounded: tolerant mode capped this at max-row-errors above
                txt = _write_failed_rows_txt(
                    src_dir, stem, job_run_id, invalid.collect()
                )
                if txt:
                    logger.info("failed-row detail written to %s", txt)

        # declarative quality gate (quality.checks): one aggregate pass
        # over the VALID rows; results always recorded, action 'fail'
        # aborts before the sink (target untouched — strict-rollback
        # semantics match the cast-validation path above)
        q_cfg = config.get("quality", {}) or {}
        q_specs = q_cfg.get("checks") or []
        if q_specs:
            from nspc_etl_basic_spark.operators.quality import (
                checks_from_config,
                run_checks,
            )

            q_rows = [
                r.asDict()
                for r in run_checks(valid, checks_from_config(q_specs)).collect()
            ]
            if not dry_run:
                meta.write_quality_results(q_rows, job_run_id, table_name)
            failed_checks = [r["check_name"] for r in q_rows if not r["passed"]]
            result.details["quality"] = {
                r["check_name"]: r["value"] for r in q_rows
            }
            if failed_checks:
                logger.warning(
                    "quality checks failed for %s: %s", table_name, failed_checks
                )
                if q_cfg.get("action", "log") == "fail":
                    raise ValueError(
                        f"quality gate: checks failed: {failed_checks}"
                    )

        if dry_run:
            # preflight stops here: everything a real load would have
            # validated has run; nothing has been written or moved
            result.status = "Validated"
            logger.info(
                "dry-run validated %s: %d read, %d failed (no writes)",
                table_name, result.rows_read, result.rows_failed,
            )
            return result

        if use_jdbc:
            # reference deployment shape: data lands in the database; the
            # metadata/statistics tables stay in the parquet warehouse
            # (the reference keeps those in the same DB — a config knob a
            # real deployment can flip by pointing the warehouse at JDBC)
            h1_types = result.details.get("sql_types")
            if mode == "upsert":
                from nspc_etl_basic_spark.sinks.jdbc_merge import jdbc_upsert

                counts = jdbc_upsert(
                    spark, valid, db_cfg["url"], table_name, pk_cols,
                    sql_types=None if existing else h1_types,
                    options=jdbc_opts,
                    dialect=db_cfg.get("dialect", "ansi"),
                    batch_size=int(loader_cfg.get("batch_size", 1000)),
                )
                result.rows_inserted = counts.inserted
                result.rows_updated = counts.updated
            else:
                clean = valid.select(
                    [c for c in valid.columns if not c.startswith("__")]
                )
                jdbc_write(
                    clean, db_cfg["url"], table_name, mode=mode,
                    sql_types=None if existing else h1_types,
                    options=jdbc_opts,
                    batch_size=int(loader_cfg.get("batch_size", 1000)),
                )
                result.rows_inserted = rows_read - invalid_count
        elif bucketed is not None:
            deduped = dedup_last_wins(valid, pk_cols, order_col=SEQ_COL)
            deduped = deduped.select(
                [c for c in deduped.columns if not c.startswith("__")]
            )
            counts = bucketed.merge(deduped)
            result.rows_inserted = counts.inserted
            result.rows_updated = counts.updated
        elif mode == "scd2":
            # fifth table mode (round-4 extension): the file is a CDC
            # change feed; the target is a Type-2 dimension history.
            # (key, ts) uniqueness comes from last-wins dedup on input
            # order — the same E1 rule the upsert path applies.
            from nspc_etl_basic_spark.operators.scd import (
                scd2_apply_changes,
                scd2_from_feed,
            )

            scfg = loader_cfg.get("scd2", {}) or {}
            ts_col = scfg.get("ts_column")
            if not ts_col:
                raise ValueError("scd2 mode requires loader.scd2.ts_column")
            attr_cols = list(scfg.get("attr_columns") or [
                c for c in valid.columns
                if not c.startswith("__") and c not in pk_cols and c != ts_col
            ])
            feed = dedup_last_wins(
                valid, pk_cols + [ts_col], order_col=SEQ_COL
            ).select(*pk_cols, ts_col, *attr_cols, SEQ_COL)
            # both row counts are observed on the snapshot write; the
            # target feeds two joins, and its observation still reports
            # the table's rows once
            prev, committed = None, RowCount()
            if target is not None:
                prev = RowCount()
                out = scd2_apply_changes(
                    prev.on(target),
                    feed,
                    pk_cols, ts_col, attr_cols,
                    tiebreak_cols=[SEQ_COL],
                )
            else:
                out = scd2_from_feed(
                    feed, pk_cols, ts_col, attr_cols, tiebreak_cols=[SEQ_COL]
                )
            warehouse.overwrite_snapshot(committed.on(out), table_name)
            # history rows actually ADDED (a replayed file nets 0), not
            # the feed size — the job-statistics contract everywhere else
            prev_rows = prev.value if prev is not None else 0
            result.rows_inserted = max(committed.value - prev_rows, 0)
        elif mode == "upsert":
            deduped = dedup_last_wins(valid, pk_cols, order_col=SEQ_COL)
            if target is not None:
                observed = MergeObservations()
                merged = merge_upsert(target, deduped, pk_cols, observed=observed)
                warehouse.overwrite_snapshot(merged, table_name)
                counts = merge_counts(observed)
                result.rows_inserted = counts.inserted
                result.rows_updated = counts.updated
            else:
                written = RowCount()
                warehouse.write(
                    written.on(deduped), table_name, mode="drop_recreate"
                )
                result.rows_inserted = written.value
        else:
            warehouse.write(valid, table_name, mode=mode)
            result.rows_inserted = rows_read - invalid_count

        # optional file-level min/max stats maintenance (sinks/
        # stats_index.py): database.stats_columns lists the predicate
        # columns; the index is rebuilt after every commit so pruned
        # reads stay consistent with the current version (the sidecar
        # lives inside the version dir)
        stats_cols = db_cfg.get("stats_columns") or []
        if stats_cols and not use_jdbc and bucketed is None:
            have = set(warehouse.read(table_name).columns)
            cols = [c for c in stats_cols if c in have]
            if cols:
                warehouse.analyze(table_name, cols)
                result.details["stats_index"] = cols

        result.status = "Completed"
        logger.info(
            "completed %s: %d read, %d inserted, %d updated, %d failed",
            table_name, result.rows_read, result.rows_inserted,
            result.rows_updated, result.rows_failed,
        )
        if move_files:
            result.moved_to = _move_file(file_path, "processed")
    except Exception as exc:  # noqa: BLE001 — per-file failure is data, not a crash
        logger.exception("load failed for %s", file_path)
        result.status = "Failed"
        result.error_message = str(exc)
        if move_files and os.path.exists(file_path):
            result.moved_to = _move_file(file_path, "error")
    finally:
        flog.__exit__()
        if src is not None:
            src.unpersist()
        result.duration_seconds = time.time() - t0
        if not dry_run and config.get("job_statistics", {}).get("enabled", True):
            end_ts = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
            meta.write_statistics(
                {
                    "JobRunID": job_run_id,
                    "JobStartTime": start_ts,
                    "JobEndTime": end_ts,
                    "JobDurationSeconds": int(result.duration_seconds),
                    "JobStatus": result.status,
                    "SourceFile": os.path.basename(file_path),
                    "TargetTable": table_name,
                    "RowsRead": result.rows_read,
                    "RowsInserted": result.rows_inserted,
                    "RowsUpdated": result.rows_updated,
                    "RowsFailed": result.rows_failed,
                    "ErrorMessage": result.error_message,
                    "BatchJobID": batch_job_id,
                }
            )
    return result
