"""MetadataStore's driver-side appends and checkpoint lookups: what they
write reads back through Spark exactly as the old one-row
``createDataFrame`` + parquet-write path did, tables that mix
Spark-written (INT96) and driver-written files stay readable and
resumable, a failed write leaves no visible file, and a directory batch
launches no Spark job from the metadata store."""

from __future__ import annotations

import datetime as _dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nspc_etl_basic_spark import load_config
from nspc_etl_basic_spark.plans.batch import BatchJobManager, process_directory
from nspc_etl_basic_spark.sinks import metadata as md
from nspc_etl_basic_spark.sinks.metadata import (
    BATCH_STATS_SCHEMA,
    ERROR_LOG_SCHEMA,
    JOB_STATS_SCHEMA,
    QUALITY_SCHEMA,
    MetadataStore,
)
from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse

T0 = _dt.datetime(2026, 3, 4, 5, 6, 7, 123456)


def _store(spark, tmp_path, name="wh"):
    return MetadataStore(ParquetWarehouse(spark, str(tmp_path / name)), {})


def _spark_write(spark, path, rows, schema):
    """The old one-row write path, kept here as the reference."""
    spark.createDataFrame(rows, schema=schema).write.mode("append").parquet(path)


def _visible(path):
    return sorted(
        f for f in os.listdir(path) if not f.startswith((".", "_"))
    ) if os.path.isdir(path) else []


def _now_utc():
    return _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)


def _spark_types(df_or_schema):
    schema = getattr(df_or_schema, "schema", df_or_schema)
    return [(f.name, f.dataType) for f in schema.fields]


def _sorted_rows(df, key):
    return sorted((r.asDict() for r in df.collect()), key=lambda r: r[key])


def _stats_row(job, status="Completed", batch="b1", source="a.csv", **over):
    return {
        "JobRunID": job, "JobStartTime": T0,
        "JobEndTime": T0 + _dt.timedelta(seconds=3), "JobDurationSeconds": 3,
        "JobStatus": status, "SourceFile": source, "TargetTable": "a_csv",
        "RowsRead": 10, "RowsInserted": 9, "RowsUpdated": 0, "RowsFailed": 1,
        "ErrorMessage": None, "BatchJobID": batch, **over,
    }


def _batch_event(batch, seq, directory="/data/in", **over):
    return {
        "BatchJobID": batch, "DirectoryPath": directory, "TotalFiles": 3,
        "FilesProcessed": 1, "FilesFailed": 0, "BatchStartTime": _now_utc(),
        "BatchEndTime": None, "BatchStatus": "InProgress", "IsResumed": None,
        "OriginalBatchJobID": None, "EventSeq": seq, **over,
    }


# ---- (a) round trip --------------------------------------------------


def test_appends_read_back_like_the_spark_write_path(spark, tmp_path):
    meta = _store(spark, tmp_path)
    ref = str(tmp_path / "ref")

    stats = [_stats_row("j1"), _stats_row("j2", status="Failed", ErrorMessage="boom",
                                          RowsInserted=None, BatchJobID=None)]
    for r in stats:
        meta.write_statistics(r)
    _spark_write(spark, f"{ref}/stats", stats, JOB_STATS_SCHEMA)

    events = [
        _batch_event("b1", 1_760_000_000_000_000_001),
        _batch_event("b1", 1_760_000_000_000_000_002, BatchStatus="Completed",
                     BatchEndTime=T0, IsResumed=True, OriginalBatchJobID="b1"),
    ]
    for e in events:
        meta.append_batch_event(e)
    _spark_write(spark, f"{ref}/batch", events, BATCH_STATS_SCHEMA)

    before = _now_utc()
    meta.write_quality_results(
        [
            {"check_name": "id_unique", "value": 1.0, "lo": 1.0, "hi": None, "passed": True},
            {"check_name": "qty_max", "value": None, "lo": None, "hi": 100.0, "passed": None},
        ],
        "j1", "a_csv",
    )
    meta.write_error_log("j1", "a_csv", "qty", "CAST", "bad value 'x'")
    after = _now_utc()

    # same Spark types (TimestampType, not TIMESTAMP_NTZ) and same values
    for got, want, key in [
        (meta.read_statistics(), spark.read.parquet(f"{ref}/stats"), "JobRunID"),
        (spark.read.parquet(meta.wh.table_path(meta.batch_table)),
         spark.read.parquet(f"{ref}/batch"), "EventSeq"),
    ]:
        assert got.schema == want.schema
        assert _sorted_rows(got, key) == _sorted_rows(want, key)
    assert _spark_types(meta.read_statistics()) == _spark_types(JOB_STATS_SCHEMA)
    (cur,) = meta.current_batches().collect()
    assert cur.asDict() == events[1]

    quality = meta.read_quality_results()
    assert _spark_types(quality) == _spark_types(QUALITY_SCHEMA)
    q = {r.CheckName: r for r in quality.collect()}
    assert (q["id_unique"].Value, q["id_unique"].Lo, q["id_unique"].Hi,
            q["id_unique"].Passed) == (1.0, 1.0, None, True)
    assert (q["qty_max"].Value, q["qty_max"].Lo, q["qty_max"].Hi,
            q["qty_max"].Passed) == (None, None, 100.0, None)
    assert all(before <= r.CheckTimestamp <= after for r in q.values())

    errors = meta.read_error_log()
    assert _spark_types(errors) == _spark_types(ERROR_LOG_SCHEMA)
    (e,) = errors.collect()
    assert (e.JobRunID, e.TableName, e.ColumnName, e.ErrorType, e.ErrorMessage) == (
        "j1", "a_csv", "qty", "CAST", "bad value 'x'"
    )
    assert len(e.ErrorID) == 36 and before <= e.ErrorTimestamp <= after

    # every append is one visible part file, nothing hidden left behind
    for table in (meta.stats_table, meta.batch_table, meta.quality_table, meta.error_table):
        path = meta.wh.table_path(table)
        assert sorted(os.listdir(path)) == _visible(path)
        assert all(f.startswith("part-") and f.endswith(".parquet") for f in _visible(path))
    assert len(_visible(meta.wh.table_path(meta.stats_table))) == 2


# ---- (b) mixed writers -----------------------------------------------


def test_spark_written_and_driver_written_files_mix(spark, tmp_path):
    meta = _store(spark, tmp_path)
    src = tmp_path / "in"
    src.mkdir()
    for name in ("one.csv", "two.csv"):
        (src / name).write_text("id,v\n1,a\n2,b\n")
    directory = str(src)

    # the older files were written by Spark (INT96 timestamps): one file
    # completed in an interrupted batch of three
    _spark_write(
        spark, meta.wh.table_path(meta.stats_table),
        [_stats_row("old", batch="b1", source="one.csv")], JOB_STATS_SCHEMA,
    )
    _spark_write(
        spark, meta.wh.table_path(meta.batch_table),
        [_batch_event("b1", 10, directory=directory)], BATCH_STATS_SCHEMA,
    )
    spark_files = _visible(meta.wh.table_path(meta.stats_table))
    ts_col = pq.ParquetFile(
        os.path.join(meta.wh.table_path(meta.stats_table), spark_files[-1])
    ).schema.column(1)
    assert ts_col.name == "JobStartTime" and ts_col.physical_type == "INT96"

    # driver-written rows after them
    meta.write_statistics(_stats_row("new", status="Failed", batch="b1", source="two.csv"))
    meta.write_statistics(_stats_row("other", batch="b2", source="two.csv"))

    stats = {r.JobRunID: r for r in meta.read_statistics().collect()}
    assert set(stats) == {"old", "new", "other"}
    assert stats["old"].JobStartTime == T0 and stats["new"].JobStartTime == T0
    assert meta.completed_files("b1") == {"one.csv"}
    assert meta.completed_files("b2") == {"two.csv"}
    assert meta.completed_files("missing") == set()

    # resume across the boundary: the Spark-written InProgress event is
    # still the batch's latest, so the batch resumes and skips one.csv
    manager = BatchJobManager(meta, directory, {})
    assert manager.get_or_create_batch_job() == ("b1", True)
    res = process_directory(
        spark, directory,
        load_config(overrides={"database": {"warehouse_path": meta.wh.path}}),
        move_files=False,
    )
    assert res.is_resumed and res.batch_job_id == "b1"
    assert res.pending_processed == 1
    assert res.files_processed == 2 and res.status == "Completed"
    assert meta.completed_files("b1") == {"one.csv", "two.csv"}

    # the driver-written Completed event now wins over the Spark one
    (cur,) = meta.latest_batch_events(["BatchStatus", "FilesProcessed"], BatchJobID="b1")
    assert (cur["BatchStatus"], cur["FilesProcessed"]) == ("Completed", 2)
    assert [r.BatchStatus for r in meta.current_batches().collect()] == ["Completed"]
    assert manager.get_or_create_batch_job()[1] is False


def test_batch_lookup_last_event_wins_and_filters(spark, tmp_path):
    meta = _store(spark, tmp_path)
    stale = _now_utc() - _dt.timedelta(hours=48)
    meta.append_batch_event(_batch_event("b1", 2, BatchStatus="Completed"))
    meta.append_batch_event(_batch_event("b1", 1))  # older event, written later
    meta.append_batch_event(_batch_event("b2", 1, BatchStartTime=stale))
    meta.append_batch_event(_batch_event("b3", 1, directory="/elsewhere"))

    rows = meta.latest_batch_events(["BatchStatus", "BatchStartTime"], DirectoryPath="/data/in")
    by_id = {r["BatchJobID"]: r for r in rows}
    assert set(by_id) == {"b1", "b2"}
    assert by_id["b1"]["BatchStatus"] == "Completed"
    # naive UTC, the engine's datetime convention
    assert by_id["b2"]["BatchStartTime"] == stale
    # b1 is done, b2 is older than max_resume_age_hours: start fresh
    bid, resumed = BatchJobManager(meta, "/data/in", {}).get_or_create_batch_job()
    assert not resumed and bid not in by_id
    assert MetadataStore(meta.wh, {}).latest_batch_events([], BatchJobID="none") == []


# ---- (c) failed writes -----------------------------------------------


def test_failed_append_leaves_no_visible_file(spark, tmp_path, monkeypatch):
    meta = _store(spark, tmp_path)
    path = meta.wh.table_path(meta.stats_table)

    with pytest.raises((pa.ArrowInvalid, pa.ArrowTypeError)):
        meta.write_statistics(_stats_row("j1", RowsRead="ten"))
    # a NULL in a required column would make parquet write a corrupt file
    with pytest.raises(ValueError, match="JobRunID is not nullable"):
        meta.write_statistics(_stats_row(None))
    with pytest.raises(ValueError, match="EventSeq is not nullable"):
        meta.append_batch_event(_batch_event("b1", None))
    assert _visible(path) == [] and not meta.wh.exists(meta.stats_table)
    assert not meta.wh.exists(meta.batch_table)

    meta.write_statistics(_stats_row("j1"))
    before = os.listdir(path)
    assert meta.wh.exists(meta.stats_table)

    def torn_write(table, where, **kwargs):
        with open(where, "wb") as fh:
            fh.write(b"PAR1 partial")
        raise OSError("disk full")

    monkeypatch.setattr(md.pq, "write_table", torn_write)
    with pytest.raises(OSError, match="disk full"):
        meta.write_statistics(_stats_row("j2"))
    monkeypatch.undo()

    assert os.listdir(path) == before
    assert meta.wh.exists(meta.stats_table)
    assert [r.JobRunID for r in meta.read_statistics().collect()] == ["j1"]


# ---- (d) no Spark jobs ------------------------------------------------


def test_directory_batch_metadata_launches_no_spark_job(spark, tmp_path, monkeypatch):
    src = tmp_path / "in"
    src.mkdir()
    (src / "one.csv").write_text("id,name\n1,a\n2,b\n")
    (src / "two.csv").write_text("id,qty\n1,10\n2,20\n3,30\n")
    cfg = load_config(
        overrides={
            "database": {"warehouse_path": str(tmp_path / "wh")},
            "quality": {"checks": [{"name": "id_unique", "type": "uniqueness",
                                    "columns": ["id"], "lo": 1.0}]},
        }
    )
    sc = spark.sparkContext._jsc.sc()
    jobs: dict[str, list[int]] = {}

    def bracket(owner, attr):
        orig = getattr(owner, attr)

        def counted(*args, **kwargs):
            lo = sc.dagScheduler().nextJobId()
            try:
                return orig(*args, **kwargs)
            finally:
                jobs.setdefault(attr, []).append(sc.dagScheduler().nextJobId() - lo)

        monkeypatch.setattr(owner, attr, counted)

    for attr in ("write_statistics", "write_quality_results", "append_batch_event",
                 "completed_files", "latest_batch_events"):
        bracket(MetadataStore, attr)
    for attr in ("get_or_create_batch_job", "get_pending_files"):
        bracket(BatchJobManager, attr)

    for _ in range(2):  # a fresh batch, then one over a populated store
        res = process_directory(spark, str(src), cfg, move_files=False)
        assert res.status == "Completed" and res.files_processed == 2

    assert {k: len(v) for k, v in jobs.items()} == {
        "get_or_create_batch_job": 2, "latest_batch_events": 2,
        "get_pending_files": 2, "completed_files": 2,
        "append_batch_event": 4, "write_quality_results": 4, "write_statistics": 4,
    }
    assert {k: sum(v) for k, v in jobs.items()} == dict.fromkeys(jobs, 0)
