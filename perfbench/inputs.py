"""Seeded inputs for the three workloads, and the plain-Python model of
what the engine must produce from them.

Everything here is a pure function of the seed: the same seed writes the
same bytes. The engine only ever sees the written files; the expected
tables and job statistics are computed here without Spark, from the same
rows, by the loader's documented rules:

* type inference samples the first 1000 rows (datetime > integer >
  decimal > string; all six datetime patterns land as timestamps);
* empty strings load as NULL;
* a non-empty value that fails its column's INT/DECIMAL cast makes the
  row invalid: strict files are rejected whole (target unchanged),
  tolerant files drop the row;
* upserts keep the LAST valid occurrence of a key;
* scd2 feeds dedupe (key, ts) last-wins, compress unchanged attributes
  and close each interval at the key's next change.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random
from decimal import Decimal

DEC4 = Decimal("0.0001")

#: words for generated names: ASCII, accents, CJK, Cyrillic, Arabic. None
#: parses as a number or a date, none contains a delimiter or a quote.
WORDS = [
    "alpha", "bravo", "delta", "echo", "kilo", "lima", "oscar", "tango",
    "José", "Zoë", "Łukasz", "Ærø", "李明", "王芳", "東京", "Иван",
    "Мария", "Сергей", "محمد", "فاطمة", "Ωmega", "Ünal", "Çelik", "Søren",
]
DEPARTMENTS = ["sales", "ops", "eng", "legal", "hr", "finance"]

# ---------------------------------------------------------------------------
# etl_small_files: one directory per pass, formats rotating, three schemas
# covering the loader's six datetime patterns
# ---------------------------------------------------------------------------

SMALL_SCHEMAS = {
    "iso": [("id", "int"), ("name", "text"), ("birth_date", "%Y-%m-%d"),
            ("last_login", "%Y-%m-%d %H:%M:%S"), ("amount", "dec"),
            ("qty", "int")],
    "us": [("id", "int"), ("employee_name", "text"), ("hire_date", "%m/%d/%Y"),
           ("review_date", "%m/%d/%Y %H:%M:%S"), ("salary", "dec"),
           ("qty", "int")],
    "eu": [("id", "int"), ("customer_name", "text"),
           ("registration_date", "%d-%m-%Y"),
           ("last_order_date", "%d-%m-%Y %H:%M:%S"), ("amount", "dec"),
           ("qty", "int")],
}
FORMATS = ["csv", "json", "jsonl", "psv", "tsv"]
SMALL_FILES = 3
#: files whose trailing rows break the INT column after the 1000-row
#: inference sample, so strict validation rejects them
SMALL_BAD = (1,)

QUALITY_CHECKS = [
    {"name": "id_complete", "type": "completeness", "column": "id", "lo": 1.0},
    {"name": "qty_min", "type": "min", "column": "qty", "lo": 0},
    {"name": "qty_max", "type": "max", "column": "qty", "hi": 1000},
]


def _text(rng: random.Random, empty_share: float = 0.05) -> str:
    if rng.random() < empty_share:
        return ""
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 3)))


def _when(rng: random.Random, fmt: str, empty_share: float = 0.03) -> str:
    if rng.random() < empty_share:
        return ""
    t = dt.datetime(1950, 1, 1) + dt.timedelta(seconds=rng.randrange(2_500_000_000))
    if "%H" not in fmt:
        t = t.replace(hour=0, minute=0, second=0)
    return t.strftime(fmt)


def _dec(rng: random.Random) -> str:
    return f"{rng.randint(-50_000, 5_000_000) / 100:.2f}"


def _small_value(rng: random.Random, kind: str, i: int) -> str:
    if kind == "int":
        return str(rng.randint(0, 900)) if i else ""
    if kind == "text":
        return _text(rng)
    if kind == "dec":
        return _dec(rng)
    return _when(rng, kind)


def _typed(kind: str, raw: str):
    """Value the loader must store for ``raw`` in a column of ``kind``."""
    if raw.strip() == "":
        return None
    if kind == "int":
        return int(raw)
    if kind == "dec":
        return Decimal(raw).quantize(DEC4)
    if kind == "text":
        return raw
    return dt.datetime.strptime(raw, kind)


def _write(path: str, fmt: str, cols: list[str], rows: list[list[str]]) -> None:
    if fmt in ("csv", "psv", "tsv"):
        sep = {"csv": ",", "psv": "|", "tsv": "\t"}[fmt]
        with open(path, "w", encoding="utf-8", newline="") as fh:
            w = csv.writer(fh, delimiter=sep, lineterminator="\n")
            w.writerow(cols)
            w.writerows(rows)
        return
    records = [dict(zip(cols, r)) for r in rows]
    with open(path, "w", encoding="utf-8") as fh:
        if fmt == "json":
            json.dump(records, fh, ensure_ascii=False)
        else:
            for rec in records:
                fh.write(json.dumps(rec, ensure_ascii=False) + "\n")


def small_files(seed: int, out_dir: str, n_files: int = SMALL_FILES) -> list[dict]:
    """Write the small-file batch; return one expectation dict per file."""
    rng = random.Random(f"small-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    specs = []
    names = sorted(SMALL_SCHEMAS)
    for i in range(n_files):
        schema_name = names[i % len(names)]
        schema = SMALL_SCHEMAS[schema_name]
        fmt = FORMATS[i % len(FORMATS)]
        bad = i in SMALL_BAD
        n = 1200 if bad else 700
        cols = [c for c, _ in schema]
        rows = []
        for r in range(n):
            row = [str(r + 1) if c == "id" else _small_value(rng, k, r)
                   for c, k in schema]
            rows.append(row)
        n_invalid = 0
        if bad:
            n_invalid = rng.randint(1, 3)
            for r in range(n - n_invalid, n):
                rows[r][cols.index("qty")] = "n/a"
        fname = f"f{i:02d}_{schema_name}.{fmt}"
        _write(os.path.join(out_dir, fname), fmt, cols, rows)
        expected_rows = None
        quality = None
        if not bad:
            expected_rows = [
                {c: _typed(k, v) for (c, k), v in zip(schema, row)} for row in rows
            ]
            qty = [r["qty"] for r in expected_rows if r["qty"] is not None]
            quality = {"id_complete": 1.0, "qty_min": float(min(qty)),
                       "qty_max": float(max(qty))}
        specs.append({
            "file": fname,
            "table": fname.replace(".", "_"),
            "rows_read": n,
            "rows_failed": n_invalid,
            "ok": not bad,
            "rows": expected_rows,
            "quality": quality,
        })
    return specs


# ---------------------------------------------------------------------------
# etl_merge: a large canonical-shape target, a quarter-size upsert, and an
# scd2 dimension with one change feed
# ---------------------------------------------------------------------------

PEOPLE = [("id", "int"), ("name", "text"), ("email", "text"), ("age", "int"),
          ("department", "text"), ("salary", "dec"),
          ("created_date", "%Y-%m-%d"), ("is_active", "text")]
SCD = [("id", "int"), ("ts", "%Y-%m-%d %H:%M:%S"), ("tier", "text"),
       ("region", "text"), ("score", "int")]
TIERS = ["bronze", "silver", "gold", "platinum"]
REGIONS = ["north", "south", "east", "west"]


def _person(rng: random.Random, pid: int) -> list[str]:
    return [
        str(pid),
        _text(rng),
        f"user{pid}.{rng.randint(0, 9999)}@example.org",
        "" if rng.random() < 0.03 else str(rng.randint(18, 80)),
        rng.choice(DEPARTMENTS),
        _dec(rng),
        _when(rng, "%Y-%m-%d", empty_share=0.0),
        rng.choice(["true", "false"]),
    ]


def _upsert_rows(rng, n, id_hi, n_invalid):
    """``n`` rows: 60 % existing keys, 40 % new ones, 5 % repeated keys
    later in the file (last wins), ``n_invalid`` non-numeric ages."""
    rows = []
    for _ in range(n):
        pid = rng.randint(1, id_hi) if rng.random() < 0.6 else rng.randint(id_hi + 1, id_hi * 2)
        rows.append(_person(rng, pid))
    for _ in range(n // 20):
        dup = list(rows[rng.randrange(len(rows))])
        rows.insert(rng.randint(len(rows) // 2, len(rows)), _person(rng, int(dup[0])))
    for r in rng.sample(range(len(rows)), n_invalid):
        rows[r][3] = "abc"
    return rows


def _parse_row(schema, row):
    """Typed row, or None when an INT/DECIMAL value fails its cast."""
    out = {}
    for (c, k), v in zip(schema, row):
        if k in ("int", "dec") and v.strip():
            try:
                out[c] = int(v) if k == "int" else Decimal(v).quantize(DEC4)
            except (ValueError, ArithmeticError):  # InvalidOperation is one
                return None
        else:
            out[c] = _typed(k, v)
    return out


def _scd_feed(rng, keys, start, events_per_key):
    rows = []
    for k in keys:
        t = start + dt.timedelta(minutes=rng.randint(0, 10_000))
        state = [rng.choice(TIERS), rng.choice(REGIONS), rng.randint(0, 99)]
        for _ in range(events_per_key):
            if rng.random() < 0.7:  # a change; else a repeat to compress
                j = rng.randrange(3)
                state[j] = (rng.choice(TIERS), rng.choice(REGIONS), rng.randint(0, 99))[j]
            rows.append([str(k), t.strftime("%Y-%m-%d %H:%M:%S"), state[0], state[1], str(state[2])])
            t += dt.timedelta(minutes=rng.randint(1, 5_000))
    # a re-delivered (key, ts) with new attributes: the later row wins
    for _ in range(len(keys) // 20):
        dup = list(rows[rng.randrange(len(rows))])
        dup[2] = rng.choice(TIERS)
        rows.append(dup)
    rng.shuffle(rows)
    return rows


def _scd_history(events_by_key):
    """Type-2 intervals from per-key [(ts, attrs)] change events."""
    out = {}
    for k, events in events_by_key.items():
        events = sorted(events)
        kept = []
        for ts, attrs in events:
            if not kept or kept[-1][1] != attrs:
                kept.append((ts, attrs))
        out[k] = [
            (ts, attrs, kept[i + 1][0] if i + 1 < len(kept) else None)
            for i, (ts, attrs) in enumerate(kept)
        ]
    return out


def _scd_events(rows):
    """Last-wins per (key, ts) in file order -> {key: [(ts, attrs)]}."""
    last = {}
    for r in rows:
        p = _parse_row(SCD, r)
        last[(p["id"], p["ts"])] = (p["tier"], p["region"], p["score"])
    by_key: dict = {}
    for (k, ts), attrs in last.items():
        by_key.setdefault(k, []).append((ts, attrs))
    return by_key


def merge_files(seed: int, out_dir: str, n_target: int) -> list[dict]:
    """Write the merge sequence; return the ordered steps with their
    expected status, statistics and resulting table state."""
    rng = random.Random(f"merge-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    cols = [c for c, _ in PEOPLE]
    steps = []

    base = [_person(rng, i) for i in range(1, n_target + 1)]
    rng.shuffle(base)
    _write(os.path.join(out_dir, "base.csv"), "csv", cols, base)
    target = {}
    for r in base:
        p = _parse_row(PEOPLE, r)
        target[p["id"]] = p
    steps.append({"file": "base.csv", "table": "people", "mode": "drop_recreate",
                  "txn": "strict", "status": "Completed", "rows_read": len(base),
                  "rows_inserted": len(base), "rows_updated": 0, "rows_failed": 0,
                  "state": dict(target)})

    quarter = n_target // 4
    for fname, fmt, txn, n_invalid in [("upsert.jsonl", "jsonl", "tolerant", 17)]:
        rows = _upsert_rows(rng, quarter, n_target, n_invalid)
        _write(os.path.join(out_dir, fname), fmt, cols, rows)
        valid = [p for p in (_parse_row(PEOPLE, r) for r in rows) if p is not None]
        latest = {}
        for p in valid:
            latest[p["id"]] = p
        updated = sum(1 for k in latest if k in target)
        target.update(latest)
        steps.append({"file": fname, "table": "people", "mode": "upsert", "txn": txn,
                      "status": "Completed", "rows_read": len(rows),
                      "rows_inserted": len(latest) - updated, "rows_updated": updated,
                      "rows_failed": len(rows) - len(valid), "state": dict(target)})

    scd_cols = [c for c, _ in SCD]
    keys = list(range(1, quarter // 4 + 1))
    start = dt.datetime(2024, 1, 1)
    feed1 = _scd_feed(rng, keys, start, 3)
    _write(os.path.join(out_dir, "dim_base.csv"), "csv", scd_cols, feed1)
    events = _scd_events(feed1)
    hist = _scd_history(events)
    n1 = sum(len(v) for v in hist.values())
    steps.append({"file": "dim_base.csv", "table": "dim", "mode": "scd2",
                  "txn": "strict", "status": "Completed", "rows_read": len(feed1),
                  "rows_inserted": n1, "rows_updated": 0, "rows_failed": 0,
                  "state": hist})

    # change feed for half the keys, strictly after each key's history
    changed = sorted(rng.sample(keys, len(keys) // 2))
    feed2 = _scd_feed(rng, changed, start + dt.timedelta(days=400), 2)
    _write(os.path.join(out_dir, "dim_changes.jsonl"), "jsonl", scd_cols, feed2)
    reopened = {k: [(ts, attrs) for ts, attrs, _ in v] for k, v in hist.items()}
    for k, evs in _scd_events(feed2).items():
        reopened.setdefault(k, []).extend(evs)
    hist2 = _scd_history(reopened)
    n2 = sum(len(v) for v in hist2.values())
    steps.append({"file": "dim_changes.jsonl", "table": "dim", "mode": "scd2",
                  "txn": "strict", "status": "Completed", "rows_read": len(feed2),
                  "rows_inserted": n2 - n1, "rows_updated": 0, "rows_failed": 0,
                  "state": hist2})
    return steps


# ---------------------------------------------------------------------------
# operator_queries: a template corpus and line items with the shapes the
# driver-contract queries read
# ---------------------------------------------------------------------------

VOCAB = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()


def query_tables(seed: int, out_dir: str, n_docs: int = 500,
                 n_orders: int = 1500) -> dict[str, int]:
    """Write the query inputs as parquet; return rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"queries-{seed}")
    os.makedirs(out_dir, exist_ok=True)

    texts = []
    for i in range(n_docs):
        if i and i < n_docs // 2 and rng.random() < 0.08:
            # planted near-duplicate of an earlier low-id document
            words = texts[rng.randrange(i)].split()
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = "dup"
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(8, 90))]
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(["en", "en", "fr", "es", "de", "zh"]) for _ in texts],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    okeys, pkeys = [], []
    for o in range(1, n_orders + 1):
        for _ in range(1 + o % 8):
            okeys.append(o)
            pkeys.append(rng.randint(1, 200))
    lineitem = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(pkeys, pa.int64()),
        "l_quantity": [float(rng.randint(1, 50)) for _ in okeys],
    })

    tables = {"documents": docs, "lineitem": lineitem}
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tab.num_rows for name, tab in tables.items()}
