"""Table sinks + table-mode semantics (SURVEY.md §2 H1-H7).

Primary store is a Parquet warehouse directory (one subdir per table) —
matches the driver's parquet testdata and the DuckDB oracle. A JDBC writer
with ``createTableColumnTypes`` DDL parity hangs off the same interface for
reference-compatible SQL Server targets.

Mode mapping (reference ``handle_existing_table``, loader.py:895-932):
  drop_recreate -> versioned snapshot commit | append -> append |
  fail -> error | upsert -> snapshot rewrite via operators.merge.

Snapshot commit protocol (object-store safe)
--------------------------------------------
The reference's transaction rollback must become "never expose a
half-written snapshot" (SURVEY.md §7.2 item 1). Directory renames are NOT
atomic (or even available) on S3/GCS, so snapshot tables use a
manifest-pointer commit instead:

    wh/<table>/
        _current            tiny JSON manifest: {"version": "v_..."}
        v_<ts>_<rand>/      immutable parquet data dirs, one per commit

A commit (1) writes the full new snapshot into a FRESH version dir —
readers cannot see it, nothing references it yet; (2) flips the
``_current`` pointer. Locally the flip is write-temp + ``os.replace``
(atomic POSIX); on an object store it maps to a single-object PUT, which
is atomic read-after-write on S3/GCS. A crash anywhere before the flip
leaves an orphan version dir and a fully intact previous snapshot; a
reader mid-plan on the previous version keeps its files because GC
retains ``keep_versions`` committed versions (plus any version newer than
current, so an in-flight commit is never collected).

Single writer per table is assumed — the same model as the reference
(one loader process owns a target table); concurrent READERS are the
party the protocol protects.

Append-only tables (the EtlJob* metadata sinks) keep the plain flat-dir
layout: each append adds one new immutable file. ``MetadataStore`` writes
its driver-sized appends with pyarrow, no Spark job: a hidden
``.part-<uuid>.parquet.tmp`` in the table dir, then ``os.replace`` to
``part-<uuid>.parquet``. Readers (Spark, pyarrow, ``exists()``) skip the
hidden name, so they never see a partial file. The rename is atomic on a
local POSIX filesystem only; an object-store warehouse would need a
single-object PUT here instead, as for ``_current``. ``read()`` /
``exists()`` resolve the manifest when present and fall back to the plain
path, so legacy/unversioned tables keep working.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

MANIFEST_NAME = "_current"
VERSION_PREFIX = "v_"

#: BucketedTable's manifest name (sinks/bucketed_merge.py). A directory
#: holding one is a BUCKETED table; running the snapshot sink over it
#: would ignore its rows and cross-GC its version dirs.
_BUCKETED_MANIFEST = "_current_buckets"


class TableExistsError(RuntimeError):
    pass


HISTORY_DIR = "_manifest_history"


class ParquetWarehouse:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keep_versions: int = 2,
        keep_history: int = 2,
    ):
        self.spark = spark
        self.path = path
        #: committed versions retained after each commit (>=1). 2 keeps the
        #: previous snapshot alive for readers that resolved it just before
        #: a pointer flip.
        self.keep_versions = max(1, int(keep_versions))
        #: committed manifests retained for time-travel reads; every
        #: version dir a retained manifest references survives GC. The
        #: default matches keep_versions: unlike BucketedTable (whose
        #: versions hold only touched buckets), EVERY snapshot version
        #: is a full table copy, so deep history here is a deliberate,
        #: storage-priced opt-in.
        self.keep_history = max(1, int(keep_history))
        os.makedirs(path, exist_ok=True)

    def table_path(self, name: str) -> str:
        return os.path.join(self.path, name)

    # ------------------------------------------------------------------
    # manifest resolution
    # ------------------------------------------------------------------

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.table_path(name), MANIFEST_NAME)

    def current_version(self, name: str) -> str | None:
        """Version dir name the manifest points at, or None (plain table)."""
        try:
            with open(self._manifest_path(name), encoding="utf-8") as fh:
                v = json.load(fh).get("version")
        except (OSError, ValueError):
            return None
        return v if isinstance(v, str) and v.startswith(VERSION_PREFIX) else None

    def data_path(self, name: str) -> str:
        """Directory Spark should scan: the current version for versioned
        tables, the table dir itself for plain (append/legacy) tables."""
        v = self.current_version(name)
        if v:
            return os.path.join(self.table_path(name), v)
        return self.table_path(name)

    @staticmethod
    def _has_data(p: str) -> bool:
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p)
        )

    def exists(self, name: str) -> bool:
        return self._has_data(self.data_path(name))

    def _history_manifests(self, name: str) -> dict[int, dict]:
        """Retained committed manifests for ``name``, by version_id."""
        hdir = os.path.join(self.table_path(name), HISTORY_DIR)
        out: dict[int, dict] = {}
        if not os.path.isdir(hdir):
            return out
        for f in os.listdir(hdir):
            if f.startswith("m_") and f.endswith(".json"):
                try:
                    with open(os.path.join(hdir, f), encoding="utf-8") as fh:
                        m = json.load(fh)
                    out[int(m["version_id"])] = m
                except (OSError, ValueError, KeyError):
                    continue
        return out

    def versions(self, name: str) -> list[dict]:
        """Time-travel catalog: retained commits, oldest first."""
        hist = self._history_manifests(name)
        return [
            {"version_id": k, "committed_at": hist[k].get("committed_at")}
            for k in sorted(hist)
        ]

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Current snapshot, or the table as of commit ``version`` —
        same scan cost either way (a historical read is just a different
        version dir; dirs referenced by retained history survive GC)."""
        if version is None:
            return self.spark.read.parquet(self.data_path(name))
        m = self._history_manifests(name).get(int(version))
        if m is None:
            raise FileNotFoundError(
                f"version {version} of '{name}' not retained "
                f"(keep_history={self.keep_history}; see versions())"
            )
        return self.spark.read.parquet(
            os.path.join(self.table_path(name), m["version"])
        )

    # ------------------------------------------------------------------
    # commits
    # ------------------------------------------------------------------

    @staticmethod
    def _check_not_bucketed(table_dir: str) -> None:
        """Refuse to run the snapshot sink over a BucketedTable root:
        ``exists()`` would report the bucketed rows missing (no top-level
        parquet), a snapshot commit would then shadow them, and each
        layout's GC would delete ``v_*`` dirs the other's manifest still
        references — silent data loss both ways."""
        if os.path.exists(os.path.join(table_dir, _BUCKETED_MANIFEST)):
            raise ValueError(
                f"{table_dir} is a BucketedTable (has {_BUCKETED_MANIFEST}); "
                "refusing snapshot-layout writes over it — flip "
                "database.layout back to 'bucketed' for this table or "
                "migrate it into a fresh snapshot root first."
            )

    @staticmethod
    def _strip_engine_cols(df: DataFrame) -> DataFrame:
        drop_engine_cols = [c for c in df.columns if c.startswith("__")]
        return df.drop(*drop_engine_cols) if drop_engine_cols else df

    def _commit_version(self, df: DataFrame, name: str) -> str:
        """Write ``df`` as a fresh immutable version dir, then atomically
        flip the ``_current`` pointer. Returns the committed version name.

        ``df`` may read from the table's CURRENT files (the upsert merge
        does): the new version dir is disjoint from them, so the write
        materializes the plan before anything old is touched."""
        table_dir = self.table_path(name)
        self._check_not_bucketed(table_dir)
        os.makedirs(table_dir, exist_ok=True)
        version = f"{VERSION_PREFIX}{time.time_ns():020d}_{uuid.uuid4().hex[:8]}"
        df.write.mode("error").parquet(os.path.join(table_dir, version))

        prev_hist = self._history_manifests(name)
        version_id = (max(prev_hist) + 1) if prev_hist else 0
        manifest = {
            "version": version,
            "version_id": version_id,
            "committed_at": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            "table": name,
        }
        tmp = f"{self._manifest_path(name)}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        # the commit point: single small-file replace (object store: PUT)
        os.replace(tmp, self._manifest_path(name))
        # history AFTER the flip (a crash between flip and copy loses one
        # time-travel entry, never current-state correctness)
        hdir = os.path.join(table_dir, HISTORY_DIR)
        os.makedirs(hdir, exist_ok=True)
        with open(
            os.path.join(hdir, f"m_{version_id:08d}.json"), "w",
            encoding="utf-8",
        ) as fh:
            json.dump(manifest, fh)
        self._gc(name, version)
        return version

    def _gc(self, name: str, current: str) -> None:
        """Best-effort cleanup AFTER a successful commit — never part of
        the commit itself, safe to crash anywhere in here.

        Removes: committed-or-orphaned version dirs older than the
        ``keep_versions`` newest up to ``current`` (version names sort by
        commit wall-clock), and legacy plain-layout data files superseded
        by the first versioned commit. Version dirs NEWER than ``current``
        are never touched (single-writer model makes them impossible, but
        cheap paranoia)."""
        table_dir = self.table_path(name)
        # rotate history beyond the retention window, then protect every
        # version dir a retained manifest still references
        hdir = os.path.join(table_dir, HISTORY_DIR)
        hist = self._history_manifests(name)
        for vid in sorted(hist)[: -self.keep_history]:
            try:
                os.remove(os.path.join(hdir, f"m_{vid:08d}.json"))
            except OSError:
                pass
            hist.pop(vid, None)
        referenced = {m["version"] for m in hist.values()}
        referenced.add(current)
        versions = sorted(
            d
            for d in os.listdir(table_dir)
            if d.startswith(VERSION_PREFIX)
            and os.path.isdir(os.path.join(table_dir, d))
        )
        if current in versions:
            upto = versions.index(current) + 1
            for stale in versions[: max(0, upto - self.keep_versions)]:
                if stale not in referenced:
                    shutil.rmtree(os.path.join(table_dir, stale), ignore_errors=True)
        # legacy flat files from the pre-versioned layout are unreferenced
        # once a manifest exists
        for f in os.listdir(table_dir):
            if f.endswith(".parquet") or f in ("_SUCCESS",) or f.startswith("."):
                try:
                    os.remove(os.path.join(table_dir, f))
                except OSError:
                    pass

    # ------------------------------------------------------------------
    # mode dispatch
    # ------------------------------------------------------------------

    def write(self, df: DataFrame, name: str, mode: str = "drop_recreate") -> None:
        """H2 dispatcher for the non-merge modes."""
        df = self._strip_engine_cols(df)
        if mode == "drop_recreate":
            self._commit_version(df, name)
        elif mode == "append":
            # append-only tables stay plain flat-dir (new immutable files —
            # already object-store safe); appending to a VERSIONED table
            # adds files to its current version dir
            self._check_not_bucketed(self.table_path(name))
            target = self.data_path(name)
            df.write.mode("append").parquet(target)
        elif mode == "fail":
            if self.exists(name):
                raise TableExistsError(f"table '{name}' exists and table_mode is 'fail'")
            self._commit_version(df, name)
        else:
            raise ValueError(f"unknown table mode: {mode}")

    def overwrite_snapshot(self, df: DataFrame, name: str) -> None:
        """All-or-nothing snapshot replacement for the upsert path — the
        manifest-pointer commit (see module docstring)."""
        self._commit_version(self._strip_engine_cols(df), name)

    def append_evolve(self, df: DataFrame, name: str) -> dict:
        """Append with schema evolution: new columns appear (existing
        rows read them as null), missing columns null-fill, and types
        widen per ``evolve_schema``'s lossless lattice; narrowing or
        incompatible changes raise instead of corrupting.

        Mechanics: when the evolved schema equals the current one, this
        is a plain append (new immutable files into the current version
        dir — no rewrite). When the schema actually changes, the table
        is rewritten once through the normal manifest commit (old rows
        cast + null-extended), keeping every data file self-consistent
        so the read path stays mergeSchema-free. That is the honest
        snapshot-store trade: metadata-only evolution needs a
        column-mapping table format (Delta/Iceberg) — the upgrade path
        — but schema changes are RARE events; paying one rewrite per
        change keeps scans simple forever after. Returns a report dict
        {added, widened, rewrite}.
        """
        df = self._strip_engine_cols(df)
        if not self.exists(name):
            self._commit_version(df, name)
            return {
                "added": [f.name for f in df.schema.fields],
                "widened": [],
                "rewrite": False,
            }
        cur = self.read(name)
        target, report = evolve_schema(cur.schema, df.schema)
        batch = _conform(df, target)
        if [
            (f.name, f.dataType) for f in cur.schema.fields
        ] == [(f.name, f.dataType) for f in target.fields]:
            self._check_not_bucketed(self.table_path(name))
            batch.write.mode("append").parquet(self.data_path(name))
            report["rewrite"] = False
        else:
            self._commit_version(
                _conform(cur, target).unionByName(batch), name
            )
            report["rewrite"] = True
        return report

    def compact(self, name: str, target_file_mb: int = 256) -> str | None:
        """Small-file compaction: rewrite the current snapshot into
        ``ceil(total_bytes / target)`` files and commit it as a fresh
        version (same manifest flip — concurrent readers keep their
        version's files, a crash mid-compaction leaves the table
        untouched). Uses ``coalesce`` — file-count reduction needs no
        shuffle. Continuous per-file ingest at 100 TB rates produces
        thousands of small files per table; compaction restores scan
        efficiency (parquet footer overhead, task-per-file scheduling)
        without pausing readers. No-op (returns None) when the table is
        already at or below the target file count."""
        data = self.data_path(name)
        files = [
            os.path.join(dp, f)
            for dp, _dirs, fs in os.walk(data)
            for f in fs
            if f.endswith(".parquet")
        ]
        if not files:
            return None
        total = sum(os.path.getsize(f) for f in files)
        target = max(1, -(-total // (target_file_mb * 1024 * 1024)))
        if len(files) <= target:
            return None
        # carry the stats index across compaction: a pruned-read user
        # shouldn't silently lose file skipping because maintenance ran
        from .stats_index import load_stats_index

        prev_index = load_stats_index(data)
        df = self.read(name).coalesce(int(target))
        version = self._commit_version(df, name)
        if prev_index and prev_index.get("columns"):
            self.analyze(name, prev_index["columns"])
        return version

    def analyze(self, name: str, cols: list[str]) -> dict:
        """Build the file-level min/max stats index for the CURRENT
        version (sinks/stats_index.py) — one column-pruned pass; the
        sidecar lives inside the version dir, so it is immutable with
        the data, GC'd with it, and consistent under time travel."""
        from .stats_index import build_stats_index

        return build_stats_index(self.spark, self.data_path(name), cols)

    def read_pruned(self, name: str, col: str, lo=None, hi=None) -> DataFrame:
        """Range read ``lo <= col <= hi`` that drops non-matching files
        on the DRIVER before the scan is planned (Delta/Iceberg-style
        manifest pruning). Correct with or without an index — the
        predicate is re-applied to whatever is read."""
        from .stats_index import pruned_scan

        return pruned_scan(self.spark, self.data_path(name), col, lo, hi)

    def vacuum(self, name: str, retain_versions: int = 1) -> dict:
        """Explicit storage reclaim, independent of any commit: shrink
        the retained time-travel history to the newest
        ``retain_versions`` committed versions (the current version is
        always retained) and delete every version dir no retained
        manifest references. Returns ``{"removed_dirs", "bytes_reclaimed",
        "retained_versions"}``.

        Commit-time GC already bounds storage at ``keep_versions``; this
        is the operator a storage review runs — at 100 TB a snapshot
        table's history multiplies the table's footprint per retained
        version, and reclaim must be an explicit, auditable action
        (Delta VACUUM semantics), not a side effect of the next write.
        Safety matches ``_gc``: the manifest flip already happened for
        everything we delete, in-flight readers of a deleted version
        keep their open files (POSIX) but new time-travel reads of
        vacuumed versions fail with the retention message.
        """
        if retain_versions < 1:
            raise ValueError(
                f"retain_versions must be >= 1, got {retain_versions}"
            )
        table_dir = self.table_path(name)
        self._check_not_bucketed(table_dir)
        current = self.current_version(name)
        if current is None:
            return {
                "removed_dirs": 0,
                "bytes_reclaimed": 0,
                "retained_versions": 0,
            }
        hdir = os.path.join(table_dir, HISTORY_DIR)
        hist = self._history_manifests(name)
        for vid in sorted(hist)[:-retain_versions]:
            if hist[vid].get("version") == current:
                continue  # never drop the manifest of the live version
            try:
                os.remove(os.path.join(hdir, f"m_{vid:08d}.json"))
            except OSError:
                pass
            hist.pop(vid, None)
        referenced = {m["version"] for m in hist.values()}
        referenced.add(current)
        removed = 0
        reclaimed = 0
        for d in sorted(os.listdir(table_dir)):
            p = os.path.join(table_dir, d)
            if (
                d.startswith(VERSION_PREFIX)
                and os.path.isdir(p)
                and d not in referenced
            ):
                reclaimed += sum(
                    os.path.getsize(os.path.join(dp, f))
                    for dp, _dirs, fs in os.walk(p)
                    for f in fs
                )
                shutil.rmtree(p, ignore_errors=True)
                removed += 1
        return {
            "removed_dirs": removed,
            "bytes_reclaimed": reclaimed,
            "retained_versions": len(referenced),
        }

    def drop(self, name: str) -> None:
        shutil.rmtree(self.table_path(name), ignore_errors=True)


#: H1 (SQL Server spelling) -> Spark-parseable DDL. Spark validates
#: ``createTableColumnTypes`` with its OWN SQL parser (CatalystSqlParser),
#: so NVARCHAR/DATETIME2 must be expressed as the equivalent Spark types;
#: the target database's dialect then renders them (e.g. VARCHAR(50) ->
#: NVARCHAR(50) under the SQL Server dialect's string handling).
_H1_TYPE_RE = re.compile(r"^NVARCHAR\((\d+)\)$|^NVARCHAR\(MAX\)$", re.IGNORECASE)


class SchemaEvolutionError(ValueError):
    """Raised when an append's schema cannot evolve losslessly into the
    table's (narrowing, or no join in the widening lattice)."""


#: integer widening order; a join picks the wider member
_INT_RANK = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def _join_type(a, b):
    """Least lossless common type of two Spark types, or raise.

    Lattice (everything else is refused, loudly):
      byte < short < integer < long          (integer widening)
      float < double                          (binary widening)
      {byte, short, integer} < double         (exact in 53-bit mantissa;
                                               long -> double is LOSSY
                                               and therefore refused)
      decimal(p1,s1) v decimal(p2,s2) = decimal(max int digits + max
      scale) when it fits in 38
      null (all-null column) joins with anything
    """
    from pyspark.sql import types as T

    if a == b:
        return a
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    ra, rb = _INT_RANK.get(a.typeName()), _INT_RANK.get(b.typeName())
    if ra is not None and rb is not None:
        return a if ra >= rb else b
    flt = (T.FloatType, T.DoubleType)
    if isinstance(a, flt) and isinstance(b, flt):
        return T.DoubleType()
    for x, y in ((a, b), (b, a)):
        rx = _INT_RANK.get(x.typeName())
        if rx is not None and rx <= 2 and isinstance(y, flt):
            return T.DoubleType()
    if isinstance(a, T.DecimalType) and isinstance(b, T.DecimalType):
        scale = max(a.scale, b.scale)
        intd = max(a.precision - a.scale, b.precision - b.scale)
        if intd + scale <= 38:
            return T.DecimalType(intd + scale, scale)
    raise SchemaEvolutionError(
        f"cannot evolve {a.simpleString()} <-> {b.simpleString()}: "
        "no lossless join (narrowing and lossy widenings are refused)"
    )


def evolve_schema(current, incoming):
    """Resolve the evolved table schema for an append: current columns
    keep their position (types joined with the incoming batch's),
    incoming-only columns append at the end as nullable. Returns
    ``(StructType, report)`` with report = {added, widened, rewrite}."""
    from pyspark.sql import types as T

    inc = {f.name: f for f in incoming.fields}
    fields, widened = [], []
    for f in current.fields:
        b = inc.get(f.name)
        if b is None:
            fields.append(f)
            continue
        joined = _join_type(f.dataType, b.dataType)
        if joined != f.dataType:
            widened.append(
                (f.name, f.dataType.simpleString(), joined.simpleString())
            )
        fields.append(
            T.StructField(f.name, joined, f.nullable or b.nullable)
        )
    have = {f.name for f in current.fields}
    added = [f.name for f in incoming.fields if f.name not in have]
    for f in incoming.fields:
        if f.name not in have:
            fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(fields), {
        "added": added,
        "widened": widened,
        "rewrite": False,
    }


def _conform(df: DataFrame, target) -> DataFrame:
    """Project ``df`` onto ``target``: cast present columns, null-fill
    absent ones — column order exactly ``target``'s."""
    from pyspark.sql import functions as F

    have = set(df.columns)
    return df.select(
        *[
            (
                F.col(f.name).cast(f.dataType)
                if f.name in have
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in target.fields
        ]
    )


def h1_to_spark_ddl(sql_type: str) -> str:
    """Translate one inferred H1 DDL type to Spark-parser-safe DDL."""
    t = sql_type.strip().upper()
    m = _H1_TYPE_RE.match(t)
    if m:
        return f"VARCHAR({m.group(1)})" if m.group(1) else "STRING"
    if t == "DATETIME2":
        return "TIMESTAMP"
    return t  # INT / DECIMAL(18,4) are already valid Spark DDL


def jdbc_write(
    df: DataFrame,
    url: str,
    table: str,
    mode: str,
    sql_types: dict[str, str] | None = None,
    options: dict | None = None,
    batch_size: int = 1000,
) -> None:
    """Optional JDBC sink with reference DDL parity: the inferred NVARCHAR
    length buckets / DATETIME2 / DECIMAL(18,4) types (H1) are forwarded via
    ``createTableColumnTypes`` so the created table matches the reference's
    generated DDL (loader.py:868-893) — translated via :func:`h1_to_spark_ddl`
    because Spark parses the option with its own SQL parser. ``batchsize``
    mirrors ``loader.batch_size`` (src/loader_config.yaml:14)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    writer = writer.option("batchsize", str(batch_size))
    if sql_types:
        writer = writer.option(
            "createTableColumnTypes",
            ", ".join(f"{c} {h1_to_spark_ddl(t)}" for c, t in sql_types.items()),
        )
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    spark_mode = {"drop_recreate": "overwrite", "append": "append", "fail": "error"}[mode]
    writer.mode(spark_mode).save()
