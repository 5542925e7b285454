"""Job/batch/error metadata sinks (SURVEY.md §2 H8-H10, D3-D4 support).

Append-only Parquet tables with the reference's exact column sets:
  - EtlJobStatistics  (loader.py:511-525, 12 cols + BatchJobID)
  - EtlJobError       (loader.py:548-557)
  - EtlBatchJobStatistics (loader.py:574-587 + enhanced cols :253-291)

Batch resume needs "latest state per BatchJobID"; with an append-only
store that is a last-write-wins read (highest EventSeq) rather than SQL
UPDATE — the Spark-native equivalent of the reference's in-place updates.

Driver-sized traffic never starts a Spark job. A statistics, error,
quality or batch append is a handful of rows the driver already holds:
it is written with pyarrow as a hidden ``.part-<uuid>.parquet.tmp`` in
the table directory, then ``os.replace``d to ``part-<uuid>.parquet``.
Spark, pyarrow datasets and ``ParquetWarehouse.exists`` skip the hidden
name, so a crash mid-write leaves no visible partial file. The replace is
atomic on a local (POSIX) filesystem, the same assumption the snapshot
sink's ``_current`` flip makes. The checkpoint lookups
(``completed_files``, ``latest_batch_events``) read with
``pyarrow.dataset`` and return plain rows. Only corpus-sized traffic
(``write_invalid_rows``) and the DataFrame readers use Spark.

Timestamps are stored as ``timestamp[us, UTC]``: the engine's naive
datetimes are UTC by construction, and the UTC annotation makes Spark read
the column back as ``TimestampType`` (not ``TIMESTAMP_NTZ``). Files Spark
wrote earlier (INT96 timestamps) read through the same explicit arrow
schema, so mixed-writer tables unify.
"""

from __future__ import annotations

import datetime as _dt
import os
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse

JOB_STATS_SCHEMA = T.StructType(
    [
        T.StructField("JobRunID", T.StringType(), False),
        T.StructField("JobStartTime", T.TimestampType(), True),
        T.StructField("JobEndTime", T.TimestampType(), True),
        T.StructField("JobDurationSeconds", T.LongType(), True),
        T.StructField("JobStatus", T.StringType(), True),
        T.StructField("SourceFile", T.StringType(), True),
        T.StructField("TargetTable", T.StringType(), True),
        T.StructField("RowsRead", T.LongType(), True),
        T.StructField("RowsInserted", T.LongType(), True),
        T.StructField("RowsUpdated", T.LongType(), True),
        T.StructField("RowsFailed", T.LongType(), True),
        T.StructField("ErrorMessage", T.StringType(), True),
        T.StructField("BatchJobID", T.StringType(), True),
    ]
)

ERROR_LOG_SCHEMA = T.StructType(
    [
        T.StructField("ErrorID", T.StringType(), False),
        T.StructField("JobRunID", T.StringType(), True),
        T.StructField("TableName", T.StringType(), True),
        T.StructField("ColumnName", T.StringType(), True),
        T.StructField("ErrorType", T.StringType(), True),
        T.StructField("ErrorMessage", T.StringType(), True),
        T.StructField("ErrorTimestamp", T.TimestampType(), True),
    ]
)

BATCH_STATS_SCHEMA = T.StructType(
    [
        T.StructField("BatchJobID", T.StringType(), False),
        T.StructField("DirectoryPath", T.StringType(), True),
        T.StructField("TotalFiles", T.LongType(), True),
        T.StructField("FilesProcessed", T.LongType(), True),
        T.StructField("FilesFailed", T.LongType(), True),
        T.StructField("BatchStartTime", T.TimestampType(), True),
        T.StructField("BatchEndTime", T.TimestampType(), True),
        T.StructField("BatchStatus", T.StringType(), True),
        T.StructField("IsResumed", T.BooleanType(), True),
        T.StructField("OriginalBatchJobID", T.StringType(), True),
        # append-only versioning: highest EventSeq per BatchJobID is current
        T.StructField("EventSeq", T.LongType(), False),
    ]
)


QUALITY_SCHEMA = T.StructType(
    [
        T.StructField("JobRunID", T.StringType(), False),
        T.StructField("TableName", T.StringType(), True),
        T.StructField("CheckName", T.StringType(), False),
        T.StructField("Value", T.DoubleType(), True),
        T.StructField("Lo", T.DoubleType(), True),
        T.StructField("Hi", T.DoubleType(), True),
        T.StructField("Passed", T.BooleanType(), True),
        T.StructField("CheckTimestamp", T.TimestampType(), True),
    ]
)


_ARROW_TYPES = {
    T.StringType(): pa.string(),
    T.LongType(): pa.int64(),
    T.DoubleType(): pa.float64(),
    T.BooleanType(): pa.bool_(),
    T.TimestampType(): pa.timestamp("us", tz="UTC"),
}


def _arrow_schema(struct: T.StructType) -> pa.Schema:
    return pa.schema(
        [pa.field(f.name, _ARROW_TYPES[f.dataType], f.nullable) for f in struct.fields]
    )


def _naive_utc(table: pa.Table) -> pa.Table:
    """``table`` with UTC timestamps as naive UTC — the engine's datetime
    convention — so plain rows compare with ``datetime.now(utc)`` values."""
    return table.cast(
        pa.schema(
            [
                f.with_type(pa.timestamp(f.type.unit)) if pa.types.is_timestamp(f.type) else f
                for f in table.schema
            ]
        )
    )


class MetadataStore:
    def __init__(self, warehouse: ParquetWarehouse, config: dict | None = None):
        self.wh = warehouse
        cfg = config or {}
        self.stats_table = cfg.get("job_statistics", {}).get("table_name", "EtlJobStatistics")
        self.error_table = cfg.get("error_logging", {}).get("table_name", "EtlJobError")
        self.batch_table = cfg.get("batch_processing", {}).get(
            "batch_table_name", "EtlBatchJobStatistics"
        )
        self.quality_table = (cfg.get("quality") or {}).get(
            "table_name", "EtlQualityCheck"
        )

    # ---- driver-side append and lookup (no Spark job)
    def _append(self, table: str, schema: T.StructType, rows: list[dict]) -> None:
        """Write ``rows`` as one new parquet file of ``table``: hidden
        temp name first, then an atomic rename to the visible name. Keys
        outside ``schema`` are dropped; missing ones are NULL."""
        data = pa.Table.from_pylist(rows, schema=_arrow_schema(schema))
        # parquet writes a NULL in a required column as a corrupt file
        for f in data.schema:
            if not f.nullable and data.column(f.name).null_count:
                raise ValueError(f"{table}.{f.name} is not nullable, but got None")
        table_dir = self.wh.table_path(table)
        os.makedirs(table_dir, exist_ok=True)
        name = f"part-{uuid.uuid4()}.parquet"
        tmp = os.path.join(table_dir, f".{name}.tmp")
        try:
            pq.write_table(data, tmp)
            os.replace(tmp, os.path.join(table_dir, name))
        except BaseException:
            if os.path.exists(tmp):
                os.remove(tmp)
            raise

    def _scan(
        self, table: str, schema: T.StructType, columns: list[str], **where
    ) -> list[dict]:
        """Rows of ``table`` whose columns equal ``where``, projected to
        ``columns``, read on the driver."""
        if not self.wh.exists(table):
            return []
        pred = None
        for col, value in where.items():
            term = ds.field(col) == value
            pred = term if pred is None else pred & term
        found = ds.dataset(
            self.wh.data_path(table), format="parquet", schema=_arrow_schema(schema)
        ).to_table(columns=columns, filter=pred)
        return _naive_utc(found).to_pylist()

    # ---- H8: job statistics
    def write_statistics(self, stats: dict) -> None:
        self._append(self.stats_table, JOB_STATS_SCHEMA, [stats])

    def read_statistics(self) -> DataFrame:
        if not self.wh.exists(self.stats_table):
            return self.wh.spark.createDataFrame([], schema=JOB_STATS_SCHEMA)
        return self.wh.read(self.stats_table)

    # ---- H9: error log
    def write_error_log(
        self,
        job_run_id: str,
        table_name: str,
        column_name: str,
        error_type: str,
        error_message: str,
    ) -> None:
        row = {
            "ErrorID": str(uuid.uuid4()),
            "JobRunID": job_run_id,
            "TableName": table_name,
            "ColumnName": column_name,
            "ErrorType": error_type,
            "ErrorMessage": error_message,
            "ErrorTimestamp": _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None),
        }
        self._append(self.error_table, ERROR_LOG_SCHEMA, [row])

    def write_invalid_rows(
        self, invalid: DataFrame, job_run_id: str, table_name: str, invalid_count: int
    ) -> int:
        """Distributed error sink: one EtlJobError row per invalid source
        row (G2's failed-row log), written as a single Spark job — no
        driver-side iteration. ``invalid_count`` is the caller's count of
        ``invalid`` (the validation gate already ran it)."""
        from nspc_etl_basic_spark.operators.cast import ERROR_COL

        if invalid_count == 0:
            return 0
        rows = invalid.select(
            F.expr("uuid()").alias("ErrorID"),
            F.lit(job_run_id).alias("JobRunID"),
            F.lit(table_name).alias("TableName"),
            F.array_join(F.col(ERROR_COL), "; ").alias("ColumnName"),
            F.lit("CAST_VALIDATION").alias("ErrorType"),
            F.to_json(F.struct(*[c for c in invalid.columns if c != ERROR_COL])).alias(
                "ErrorMessage"
            ),
            F.current_timestamp().alias("ErrorTimestamp"),
        )
        rows.write.mode("append").parquet(self.wh.table_path(self.error_table))
        return invalid_count

    def read_error_log(self) -> DataFrame:
        if not self.wh.exists(self.error_table):
            return self.wh.spark.createDataFrame([], schema=ERROR_LOG_SCHEMA)
        return self.wh.read(self.error_table)

    # ---- quality-check results (round-4 extension; same append-only shape)
    def write_quality_results(
        self, results: list[dict], job_run_id: str, table_name: str
    ) -> None:
        now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        rows = [
            {
                "JobRunID": job_run_id,
                "TableName": table_name,
                "CheckName": r["check_name"],
                "Value": r["value"],
                "Lo": r["lo"],
                "Hi": r["hi"],
                "Passed": r["passed"],
                "CheckTimestamp": now,
            }
            for r in results
        ]
        self._append(self.quality_table, QUALITY_SCHEMA, rows)

    def read_quality_results(self) -> DataFrame:
        if not self.wh.exists(self.quality_table):
            return self.wh.spark.createDataFrame([], schema=QUALITY_SCHEMA)
        return self.wh.read(self.quality_table)

    # ---- H10: batch statistics (append-only, last EventSeq wins)
    def append_batch_event(self, event: dict) -> None:
        self._append(self.batch_table, BATCH_STATS_SCHEMA, [event])

    def current_batches(self) -> DataFrame:
        """Latest event per BatchJobID (reference's UPDATE-in-place read
        model, loader.py:1601-1638, expressed as last-write-wins)."""
        if not self.wh.exists(self.batch_table):
            return self.wh.spark.createDataFrame([], schema=BATCH_STATS_SCHEMA)
        df = self.wh.read(self.batch_table)
        w = Window.partitionBy("BatchJobID").orderBy(F.col("EventSeq").desc())
        return df.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")

    def latest_batch_events(self, columns: list[str], **where) -> list[dict]:
        """``current_batches()`` read on the driver, as plain rows: the
        highest-EventSeq event per BatchJobID among the events whose
        columns equal ``where``. Every event of a batch carries the same
        BatchJobID and DirectoryPath, so filtering on either before the
        last-wins pick selects whole batches."""
        latest: dict[str, dict] = {}
        cols = list(dict.fromkeys(["BatchJobID", "EventSeq", *columns]))
        for r in self._scan(self.batch_table, BATCH_STATS_SCHEMA, cols, **where):
            cur = latest.get(r["BatchJobID"])
            if cur is None or r["EventSeq"] > cur["EventSeq"]:
                latest[r["BatchJobID"]] = r
        return list(latest.values())

    # ---- D3: completed-file set for checkpoint anti-join
    def completed_files(self, batch_job_id: str) -> set[str]:
        rows = self._scan(
            self.stats_table, JOB_STATS_SCHEMA, ["SourceFile"],
            BatchJobID=batch_job_id, JobStatus="Completed",
        )
        return {r["SourceFile"] for r in rows}
