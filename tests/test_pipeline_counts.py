"""Job statistics taken from jobs that run anyway.

``process_file`` gets ``RowsRead``/``RowsFailed`` from one validation
aggregate and the merge/scd2 ``RowsInserted``/``RowsUpdated`` from
``DataFrame.observe`` counts on the snapshot write. These tests pin the
numbers for each table mode, the Spark job count of an upsert into an
existing table, and the observation semantics the scd2 count relies on.
"""

from __future__ import annotations

from nspc_etl_basic_spark import load_config
from nspc_etl_basic_spark.operators.merge import RowCount
from nspc_etl_basic_spark.operators.scd import scd2_apply_changes, scd2_from_feed
from nspc_etl_basic_spark.plans import pipeline
from nspc_etl_basic_spark.plans.pipeline import process_file
from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse

SEED = "id,name,value\n1,alpha,10\n2,beta,20\n3,gamma,30\n"


def _cfg(tmp_path, table, **loader):
    return load_config(
        overrides={
            "database": {"warehouse_path": str(tmp_path / "wh")},
            "loader": {"primary_key_columns": ["id"], **loader},
            "override_table_name": table,
        }
    )


def _run(spark, tmp_path, table, name, text, **loader):
    path = tmp_path / name
    path.write_text(text)
    return process_file(spark, str(path), _cfg(tmp_path, table, **loader),
                        move_files=False)


def _stats(spark, tmp_path):
    """(status, RowsRead, RowsInserted, RowsUpdated, RowsFailed) per file,
    in load order."""
    rows = (
        spark.read.parquet(str(tmp_path / "wh" / "EtlJobStatistics"))
        .orderBy("JobStartTime").collect()
    )
    return [(r.JobStatus, r.RowsRead, r.RowsInserted, r.RowsUpdated, r.RowsFailed)
            for r in rows]


def _table(spark, tmp_path, table, *cols):
    df = ParquetWarehouse(spark, str(tmp_path / "wh")).read(table)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_upsert_statistics_exact(spark, tmp_path):
    upsert = dict(table_mode="upsert", transaction_mode="tolerant",
                  **{"max-row-errors": 10})
    _run(spark, tmp_path, "t", "seed.csv", SEED, **upsert)
    # duplicate keys 2 and 4 (last wins), two invalid rows, keys 4 and 6 new
    _run(spark, tmp_path, "t", "u1.csv",
         "id,name,value\n2,b1,21\n4,d1,40\n2,b2,22\n5,bad,not_a_number\n"
         "4,d2,41\n6,f,60\nx,bad,1\n", **upsert)
    # every row invalid: the merge writes the target back unchanged
    _run(spark, tmp_path, "t", "u2.csv", "id,name,value\n7,bad,nan_x\ny,bad,2\n",
         **upsert)
    _run(spark, tmp_path, "t", "u3.csv", "id,name,value\n2,ok,22\n3,bad,nan_x\n",
         table_mode="upsert", transaction_mode="strict")
    # upsert into a table that does not exist yet: deduped rows inserted
    _run(spark, tmp_path, "n", "new.csv", "id,v\n1,a\n1,b\n2,c\n",
         table_mode="upsert")
    assert _stats(spark, tmp_path) == [
        ("Completed", 3, 3, 0, 0),
        ("Completed", 7, 2, 1, 2),
        ("Completed", 2, 0, 0, 2),
        ("Failed", 2, 0, 0, 1),
        ("Completed", 3, 2, 0, 0),
    ]
    assert _table(spark, tmp_path, "t", "id", "name", "value") == [
        (1, "alpha", 10), (2, "b2", 22), (3, "gamma", 30), (4, "d2", 41),
        (6, "f", 60),
    ]
    assert _table(spark, tmp_path, "n", "id", "v") == [(1, "b"), (2, "c")]


def test_scd2_statistics_exact(spark, tmp_path):
    scd2 = dict(table_mode="scd2", scd2={"ts_column": "ts"})
    base = "id,ts,status\n1,2024-01-01,NEW\n1,2024-02-01,SHIP\n2,2024-01-05,NEW\n"
    change = "id,ts,status\n1,2024-03-01,DONE\n3,2024-03-02,NEW\n"
    _run(spark, tmp_path, "dim", "base.csv", base, **scd2)
    _run(spark, tmp_path, "dim", "change.csv", change, **scd2)
    _run(spark, tmp_path, "dim", "replay.csv", change, **scd2)
    assert _stats(spark, tmp_path) == [
        ("Completed", 3, 3, 0, 0),
        ("Completed", 2, 2, 0, 0),
        ("Completed", 2, 0, 0, 0),  # a replayed feed adds no history
    ]
    assert len(_table(spark, tmp_path, "dim", "id", "valid_from")) == 5


def test_upsert_into_existing_table_job_count(spark, tmp_path, monkeypatch):
    """No job comes from ``merge_counts``, and the whole file costs a
    fixed, repeatable number of jobs: 10 on this input, where a Spark
    action per statistic cost 20."""
    sc = spark.sparkContext._jsc.sc()
    merge_counts_jobs: list[int] = []
    orig = pipeline.merge_counts

    def counted(*args, **kwargs):
        lo = sc.dagScheduler().nextJobId()
        try:
            return orig(*args, **kwargs)
        finally:
            merge_counts_jobs.append(sc.dagScheduler().nextJobId() - lo)

    monkeypatch.setattr(pipeline, "merge_counts", counted)
    upsert = dict(table_mode="upsert", transaction_mode="tolerant",
                  **{"max-row-errors": 10})
    text = "id,name,value\n2,b1,21\n4,d1,40\n2,b2,22\n5,bad,not_a_number\n"
    results, totals = [], []
    for run in ("a", "b"):
        (tmp_path / run).mkdir()
        _run(spark, tmp_path / run, "t", "seed.csv", SEED, **upsert)
        lo = sc.dagScheduler().nextJobId()
        results.append(_run(spark, tmp_path / run, "t", "u.csv", text, **upsert))
        totals.append(sc.dagScheduler().nextJobId() - lo)
    assert [(r.rows_inserted, r.rows_updated, r.rows_failed) for r in results] == [
        (1, 1, 1), (1, 1, 1),
    ]
    assert merge_counts_jobs == [0, 0]
    assert totals[0] == totals[1]
    assert totals[0] <= 10, totals


def test_observed_target_feeding_two_joins_counts_once(spark, tmp_path):
    """``scd2_apply_changes`` scans the existing table for its anti-join
    and its semi-join. An observation on that input reports the table's
    row count, not the sum over both scans."""
    feed = spark.createDataFrame(
        [(k, f"2024-01-{d:02d}", f"s{d}") for k in range(50) for d in (1, 2, 3, 4)],
        "id INT, ts STRING, status STRING",
    ).selectExpr("id", "CAST(ts AS TIMESTAMP) ts", "status")
    path = str(tmp_path / "hist")
    scd2_from_feed(feed, ["id"], "ts", ["status"]).write.parquet(path)
    existing = spark.read.parquet(path)
    batch = spark.createDataFrame(
        [(k, "2024-02-01", "late") for k in range(0, 50, 5)],
        "id INT, ts STRING, status STRING",
    ).selectExpr("id", "CAST(ts AS TIMESTAMP) ts", "status")

    prev, committed = RowCount(), RowCount()
    out = committed.on(
        scd2_apply_changes(prev.on(existing), batch, ["id"], "ts", ["status"])
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("CollectMetrics") == 3  # target twice, output once
    out.write.parquet(str(tmp_path / "next"))
    assert prev.value == 200
    assert committed.value == 210
