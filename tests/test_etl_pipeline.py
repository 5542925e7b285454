"""Reference-parity ETL scenarios (SURVEY.md §5): the 13 upsert scenarios
of test_upsert_operations.py and the date-format matrix of
test_date_formats.py, replayed against process_file + ParquetWarehouse.

Oracle pattern is the reference's own: load, then read the full table and
diff against expected rows sorted by primary key."""

from __future__ import annotations

import datetime
import os

import pytest

from nspc_etl_basic_spark import load_config
from nspc_etl_basic_spark.naming import generate_table_name
from nspc_etl_basic_spark.plans.pipeline import process_file
from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse


def _write(path, text):
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(text)
    return str(path)


def _cfg(tmp_path, **loader):
    return load_config(
        overrides={
            "database": {"warehouse_path": str(tmp_path / "wh")},
            "loader": loader,
        }
    )


def _load(spark, tmp_path, name, text, **loader):
    cfg = _cfg(tmp_path, **loader)
    path = _write(tmp_path / name, text)
    return process_file(spark, path, cfg, move_files=False), cfg


def _rows(spark, tmp_path, table, order="id"):
    # resolve through the warehouse: snapshot tables live behind the
    # _current manifest pointer, not as flat parquet in the table dir
    df = ParquetWarehouse(spark, str(tmp_path / "wh")).read(table)
    return [tuple(r) for r in df.orderBy(order).collect()]


UPSERT = dict(table_mode="upsert", primary_key_columns=["id"])
INITIAL = "id,name,value\n1,alpha,10\n2,beta,20\n3,gamma,30\n"


# ---------------------------------------------------------------------------
# type inference + date formats
# ---------------------------------------------------------------------------

def test_inference_types(spark, tmp_path):
    r, _ = _load(
        spark, tmp_path, "t.csv",
        "i,d,ts,s\n1,1.5,2024-01-02 03:04:05,hello\n-2,2.25,2024-02-03,world\n",
    )
    assert r.status == "Completed"
    assert r.details["sql_types"] == {
        "i": "INT", "d": "DECIMAL(18,4)", "ts": "DATETIME2", "s": "NVARCHAR(50)",
    }


@pytest.mark.parametrize(
    "value,expected",
    [
        ("2024-03-04 05:06:07", datetime.datetime(2024, 3, 4, 5, 6, 7)),
        ("2024-03-04", datetime.datetime(2024, 3, 4)),
        ("03/04/2024 05:06:07", datetime.datetime(2024, 3, 4, 5, 6, 7)),
        ("03/04/2024", datetime.datetime(2024, 3, 4)),
        ("04-03-2024 05:06:07", datetime.datetime(2024, 3, 4, 5, 6, 7)),
        ("04-03-2024", datetime.datetime(2024, 3, 4)),
    ],
)
def test_date_format_patterns(spark, tmp_path, value, expected):
    """B3: all six strptime patterns, in the reference's order (US MM/dd
    before European dd-MM)."""
    r, _ = _load(spark, tmp_path, "d.csv", f"id,when\n1,{value}\n")
    assert r.details["sql_types"]["when"] == "DATETIME2"
    assert _rows(spark, tmp_path, "d_csv") == [(1, expected)]


def test_invalid_dates_become_string_column(spark, tmp_path):
    """A column with unparseable date values falls through to NVARCHAR."""
    r, _ = _load(
        spark, tmp_path, "bad.csv",
        "id,when\n1,2024-13-45\n2,not a date\n",
    )
    assert r.details["sql_types"]["when"].startswith("NVARCHAR")
    assert r.status == "Completed"


def test_legacy_never_datetime_flag(spark, tmp_path):
    """Config flag reproduces the reference's accidental CSV-dates-stay-
    NVARCHAR behavior (TEST_RESULTS_SUMMARY.md:57-69)."""
    r, _ = _load(
        spark, tmp_path, "leg.csv",
        "id,when\n1,2024-01-02\n",
        legacy_string_columns_never_datetime=True,
    )
    assert r.details["sql_types"]["when"] == "NVARCHAR(50)"


def test_psv_and_json_formats(spark, tmp_path):
    r, _ = _load(spark, tmp_path, "p.psv", "id|name\n1|alpha\n2|beta\n")
    assert r.status == "Completed"
    assert _rows(spark, tmp_path, "p_psv") == [(1, "alpha"), (2, "beta")]

    r2, _ = _load(
        spark, tmp_path, "j.json",
        '[{"id": 1, "name": "alpha"}, {"id": 2, "name": "beta"}]',
    )
    assert r2.status == "Completed"
    assert _rows(spark, tmp_path, "j_json") == [(1, "alpha"), (2, "beta")]


def test_sniffer_size_cap_skips_driver_json_parse(tmp_path):
    """Oversized JSON-looking files must not be json.load'ed on the driver
    (OOM hazard); the first-line shape decides instead."""
    from nspc_etl_basic_spark.sources.sniffer import detect_file_type

    big = tmp_path / "big.json"
    big.write_text('[{"id": 1}, {"id": 2}]')
    # under the cap: full parse path
    assert detect_file_type(str(big)) == "json"
    # over the cap: no whole-file parse — even a file whose TAIL is broken
    # JSON is classified by its head shape
    broken = tmp_path / "broken.json"
    broken.write_text('[{"id": 1}' + " " * 64 + "oops")
    assert detect_file_type(str(broken), max_json_sniff_bytes=10) == "json"
    # same broken file under the default cap falls through the parse and
    # lands on the extension fallback
    assert detect_file_type(str(broken)) == "json"


def test_nvarchar_bucketing(spark, tmp_path):
    long_val = "x" * 120
    r, _ = _load(spark, tmp_path, "buck.csv", f"id,s\n1,{long_val}\n")
    assert r.details["sql_types"]["s"] == "NVARCHAR(255)"


def test_table_naming():
    assert generate_table_name("/x/dates_iso_format.csv") == "dates_iso_format_csv"
    assert generate_table_name("data_0001") == "data"
    assert generate_table_name("9lives.csv") == "t_lives_csv"


# ---------------------------------------------------------------------------
# upsert scenario matrix (reference test_upsert_operations.py:228-787)
# ---------------------------------------------------------------------------

def _seed(spark, tmp_path):
    r, _ = _load(spark, tmp_path, "seed.csv", INITIAL, **UPSERT)
    assert r.status == "Completed" and r.rows_inserted == 3
    return "seed_csv"


def _load_into(spark, tmp_path, table, text, name="next.csv", **extra_loader):
    cfg = load_config(
        overrides={
            "database": {"warehouse_path": str(tmp_path / "wh")},
            "loader": {**UPSERT, **extra_loader},
            "override_table_name": table,
        }
    )
    path = _write(tmp_path / name, text)
    return process_file(spark, path, cfg, move_files=False)


def test_upsert_update_only(spark, tmp_path):
    t = _seed(spark, tmp_path)
    r = _load_into(spark, tmp_path, t, "id,name,value\n1,ALPHA,11\n2,BETA,22\n")
    assert (r.rows_updated, r.rows_inserted) == (2, 0)
    assert _rows(spark, tmp_path, t) == [(1, "ALPHA", 11), (2, "BETA", 22), (3, "gamma", 30)]


def test_upsert_insert_only(spark, tmp_path):
    t = _seed(spark, tmp_path)
    r = _load_into(spark, tmp_path, t, "id,name,value\n4,delta,40\n5,eps,50\n")
    assert (r.rows_updated, r.rows_inserted) == (0, 2)
    assert len(_rows(spark, tmp_path, t)) == 5


def test_upsert_mixed(spark, tmp_path):
    t = _seed(spark, tmp_path)
    r = _load_into(spark, tmp_path, t, "id,name,value\n2,BETA,22\n4,delta,40\n")
    assert (r.rows_updated, r.rows_inserted) == (1, 1)
    assert _rows(spark, tmp_path, t) == [
        (1, "alpha", 10), (2, "BETA", 22), (3, "gamma", 30), (4, "delta", 40),
    ]


def test_upsert_empty_file_is_noop(spark, tmp_path):
    t = _seed(spark, tmp_path)
    r = _load_into(spark, tmp_path, t, "id,name,value\n")
    assert r.status == "Completed"
    assert len(_rows(spark, tmp_path, t)) == 3


def test_upsert_header_only_unknown_column_is_noop(spark, tmp_path):
    """An empty upsert file is a no-op even when its header names a
    column the target lacks: the unknown-column check waits for the row
    count. A dry run of an empty upsert file validates."""
    t = _seed(spark, tmp_path)
    before = _rows(spark, tmp_path, t)
    r = _load_into(spark, tmp_path, t, "id,name,value,extra\n")
    assert (r.status, r.rows_read, r.error_message) == ("Completed", 0, None)
    assert _rows(spark, tmp_path, t) == before

    cfg = load_config(
        overrides={
            "database": {"warehouse_path": str(tmp_path / "wh")},
            "loader": UPSERT,
            "override_table_name": t,
        }
    )
    path = _write(tmp_path / "dry.csv", "id,name,value,extra\n")
    r2 = process_file(spark, path, cfg, move_files=False, dry_run=True)
    assert (r2.status, r2.rows_read) == ("Validated", 0)
    # with rows, the unknown column still fails the file
    r3 = _load_into(spark, tmp_path, t, "id,name,value,extra\n4,d,40,x\n")
    assert r3.status == "Failed" and "['extra'] not in existing table" in r3.error_message
    assert _rows(spark, tmp_path, t) == before


def test_upsert_duplicate_pks_last_wins(spark, tmp_path):
    t = _seed(spark, tmp_path)
    r = _load_into(
        spark, tmp_path, t,
        "id,name,value\n4,first,1\n4,second,2\n4,third,3\n",
    )
    assert (r.rows_updated, r.rows_inserted) == (0, 1)
    assert _rows(spark, tmp_path, t)[-1] == (4, "third", 3)


def test_upsert_nulls(spark, tmp_path):
    t = _seed(spark, tmp_path)
    r = _load_into(spark, tmp_path, t, "id,name,value\n2,,\n")
    assert r.status == "Completed" and r.rows_updated == 1
    assert _rows(spark, tmp_path, t)[1] == (2, None, None)


def test_upsert_unicode(spark, tmp_path):
    t = _seed(spark, tmp_path)
    r = _load_into(spark, tmp_path, t, "id,name,value\n2,héllo wörld 你好,22\n")
    assert r.status == "Completed"
    assert _rows(spark, tmp_path, t)[1] == (2, "héllo wörld 你好", 22)


def test_upsert_strict_rollback_on_bad_value(spark, tmp_path):
    """Constraint-violation parity: a non-integer into the INT column in
    strict mode fails the file and leaves the target untouched
    (reference test_upsert_operations.py:698-734)."""
    t = _seed(spark, tmp_path)
    before = _rows(spark, tmp_path, t)
    r = _load_into(
        spark, tmp_path, t,
        "id,name,value\n2,ok,22\n3,bad,not_a_number\n",
        transaction_mode="strict",
    )
    assert r.status == "Failed" and r.rows_failed == 1
    assert _rows(spark, tmp_path, t) == before


def test_upsert_tolerant_partial(spark, tmp_path):
    """Tolerant mode merges the good rows and records the bad ones."""
    t = _seed(spark, tmp_path)
    r = _load_into(
        spark, tmp_path, t,
        "id,name,value\n2,ok,22\n3,bad,not_a_number\n4,new,44\n",
        transaction_mode="tolerant",
    )
    assert r.status == "Completed"
    assert (r.rows_updated, r.rows_inserted, r.rows_failed) == (1, 1, 1)
    assert _rows(spark, tmp_path, t) == [
        (1, "alpha", 10), (2, "ok", 22), (3, "gamma", 30), (4, "new", 44),
    ]
    err = spark.read.parquet(str(tmp_path / "wh" / "EtlJobError"))
    assert err.count() >= 1


def test_upsert_tolerant_threshold_rejects_file(spark, tmp_path):
    t = _seed(spark, tmp_path)
    bad_rows = "".join(f"{100+i},bad,not_a_number\n" for i in range(5))
    r = _load_into(
        spark, tmp_path, t, "id,name,value\n" + bad_rows,
        transaction_mode="tolerant", **{"max-row-errors": 3},
    )
    assert r.status == "Failed"
    assert len(_rows(spark, tmp_path, t)) == 3


def test_upsert_boundary_values(spark, tmp_path):
    """Boundary-value parity (reference test_upsert_operations.py:541-601)
    under the engine's declared bounds: int64 extremes and DECIMAL(18,4)
    extremes round-trip; an int64 overflow is a cast failure that rejects
    the file in strict mode, leaving the target untouched."""
    from decimal import Decimal

    r, _ = _load(spark, tmp_path, "bv.csv", "id,big,dec\n1,0,0.0001\n", **UPSERT)
    assert r.details["sql_types"] == {
        "id": "INT", "big": "INT", "dec": "DECIMAL(18,4)",
    }
    t = "bv_csv"
    r2 = _load_into(
        spark, tmp_path, t,
        "id,big,dec\n"
        "2,9223372036854775807,99999999999999.9999\n"
        "3,-9223372036854775808,-99999999999999.9999\n",
    )
    assert (r2.rows_inserted, r2.rows_updated) == (2, 0)
    assert _rows(spark, tmp_path, t) == [
        (1, 0, Decimal("0.0001")),
        (2, 9223372036854775807, Decimal("99999999999999.9999")),
        (3, -9223372036854775808, Decimal("-99999999999999.9999")),
    ]
    before = _rows(spark, tmp_path, t)
    r3 = _load_into(
        spark, tmp_path, t,
        "id,big,dec\n4,9223372036854775808,1\n",
        transaction_mode="strict",
    )
    assert r3.status == "Failed"
    assert _rows(spark, tmp_path, t) == before


def test_upsert_large_dataset_budget(spark, tmp_path):
    """The reference's 1500-row perf scenario
    (test_upsert_operations.py:479-539, hard assert < 300 s): a 1500-row
    file (500 updates + 1000 inserts) merged into a 1000-row table. The
    join-based merge makes the budget trivial — asserted anyway so the
    parity matrix carries the same gate."""
    import time

    hdr = "id,name,value\n"
    initial = hdr + "".join(f"{i},n{i},{i * 2}\n" for i in range(1000))
    r, _ = _load(spark, tmp_path, "big.csv", initial, **UPSERT)
    assert r.rows_inserted == 1000
    upsert = hdr + "".join(f"{i},u{i},{i * 3}\n" for i in range(500, 2000))
    t0 = time.monotonic()
    r2 = _load_into(spark, tmp_path, "big_csv", upsert)
    elapsed = time.monotonic() - t0
    assert (r2.rows_updated, r2.rows_inserted) == (500, 1000)
    assert elapsed < 300
    rows = _rows(spark, tmp_path, "big_csv")
    assert len(rows) == 2000
    assert rows[0] == (0, "n0", 0)
    assert rows[700] == (700, "u700", 2100)
    assert rows[1999] == (1999, "u1999", 5997)


def test_upsert_multiformat(spark, tmp_path):
    t = _seed(spark, tmp_path)
    r1 = _load_into(spark, tmp_path, t, "id|name|value\n4|psv|40\n", name="n.psv")
    r2 = _load_into(
        spark, tmp_path, t,
        '[{"id": 5, "name": "json", "value": 50}]', name="n.json",
    )
    assert r1.status == r2.status == "Completed"
    rows = _rows(spark, tmp_path, t)
    assert rows[-2:] == [(4, "psv", 40), (5, "json", 50)]


def test_statistics_recorded(spark, tmp_path):
    t = _seed(spark, tmp_path)
    _load_into(spark, tmp_path, t, "id,name,value\n2,BETA,22\n4,delta,40\n")
    stats = spark.read.parquet(str(tmp_path / "wh" / "EtlJobStatistics"))
    rows = stats.orderBy("JobStartTime").collect()
    assert len(rows) == 2
    last = rows[-1]
    assert last.JobStatus == "Completed"
    assert (last.RowsRead, last.RowsInserted, last.RowsUpdated) == (2, 1, 1)
    assert last.TargetTable == t


# ---------------------------------------------------------------------------
# table modes + lifecycle
# ---------------------------------------------------------------------------

def test_mode_append_and_fail(spark, tmp_path):
    _load(spark, tmp_path, "a.csv", "id,v\n1,10\n")
    r2, _ = _load(spark, tmp_path, "a.csv", "id,v\n2,20\n", table_mode="append")
    assert r2.status == "Completed"
    assert len(_rows(spark, tmp_path, "a_csv")) == 2
    r3, _ = _load(spark, tmp_path, "a.csv", "id,v\n3,30\n", table_mode="fail")
    assert r3.status == "Failed" and "fail" in (r3.error_message or "")


def test_file_lifecycle_moves(spark, tmp_path):
    cfg = _cfg(tmp_path)
    good = _write(tmp_path / "good.csv", "id,v\n1,10\n")
    r = process_file(spark, good, cfg, move_files=True)
    assert r.status == "Completed"
    assert not os.path.exists(good)
    assert os.path.exists(tmp_path / "processed" / "good.csv")

    bad = _write(tmp_path / "bad.csv", "id\n")  # header-only, insert mode
    r2 = process_file(spark, bad, cfg, move_files=True)
    assert r2.status == "Failed"
    assert os.path.exists(tmp_path / "error" / "bad.csv")

    # per-file log artifact exists for every processed file
    logs = os.listdir(tmp_path / "logs")
    assert any(f == f"process_good_{r.job_run_id}.log" for f in logs)
    assert any(f == f"process_bad_{r2.job_run_id}.log" for f in logs)
    log_text = (tmp_path / "logs" / f"process_good_{r.job_run_id}.log").read_text()
    assert "completed good_csv" in log_text


def test_failed_row_txt_artifact(spark, tmp_path):
    """Tolerant partial load writes logs/<stem>_<jobid>.txt with one dict
    per failed row (reference loader.py:1049-1058)."""
    cfg = _cfg(
        tmp_path,
        transaction_mode="tolerant",
        **{"max-row-errors": 10},
    )
    # seed a typed table so the second file's bad int fails the cast
    src = _write(tmp_path / "m.csv", "id,v\n1,10\n")
    assert process_file(spark, src, cfg, move_files=True).status == "Completed"
    cfg2 = _cfg(
        tmp_path,
        transaction_mode="tolerant",
        table_mode="append",
        override_table_name="m_csv",
        **{"max-row-errors": 10},
    )
    src2 = _write(tmp_path / "m2.csv", "id,v\n2,20\nnot_int,30\n")
    r = process_file(spark, src2, cfg2, move_files=True)
    assert r.status == "Completed" and r.rows_failed == 1
    txt = tmp_path / "logs" / f"m2_{r.job_run_id}.txt"
    assert txt.exists()
    content = txt.read_text()
    assert "not_int" in content and "errors" in content


def test_merge_changes_feed_and_snapshot_consistency(spark):
    """CDF legs are exactly the merge's touched rows, and
    target - preimages + inserts + postimages == merge_upsert snapshot."""
    from nspc_etl_basic_spark.operators.merge import merge_changes, merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, s string, v long"
    )
    source = spark.createDataFrame(
        [(2, "B", 99), (4, "d", 40)], "id long, s string, v long"
    )
    feed = merge_changes(target, source, ["id"]).collect()
    by_op = {}
    for r in feed:
        by_op.setdefault(r.op, []).append((r.id, r.s, r.v))

    assert by_op["insert"] == [(4, "d", 40)]
    assert by_op["update_preimage"] == [(2, "b", 20)]
    assert by_op["update_postimage"] == [(2, "B", 99)]

    snap = {(r.id, r.s, r.v) for r in merge_upsert(target, source, ["id"]).collect()}
    pre = set(by_op["update_preimage"])
    rebuilt = (
        {(r.id, r.s, r.v) for r in target.collect()} - pre
    ) | set(by_op["insert"]) | set(by_op["update_postimage"])
    assert rebuilt == snap


def test_merge_changes_no_overlap_is_all_inserts(spark):
    from nspc_etl_basic_spark.operators.merge import merge_changes

    target = spark.createDataFrame([(1, 1)], "id long, v long")
    source = spark.createDataFrame([(2, 2), (3, 3)], "id long, v long")
    for bc in (None, False):
        ops = sorted(
            r.op for r in merge_changes(target, source, ["id"], bc).collect()
        )
        assert ops == ["insert", "insert"]
