"""Key-based merge (upsert) and last-wins dedup (SURVEY.md §2 D1, D2, E1).

The reference upserts row-at-a-time (MERGE per row, loader.py:1272-1299, or
UPDATE-then-INSERT, loader.py:1301-1338). The Spark-native plan replaces the
per-row round-trips with ONE join-based snapshot rewrite:

    merged = target.join(source, pk, 'left_anti').unionByName(source)

i.e. keep target rows whose key is absent from the source, then take every
source row (source wins on matched keys). Equivalent to SQL MERGE with
UPDATE-all-columns + INSERT semantics.

Scale notes:
  - the anti-join shuffles both sides on the PK unless the source is small —
    for file-sized sources against a large target we ``broadcast(source)``
    so the 100 TB target never shuffles (broadcast-anti-join + union is a
    map-only plan over the target);
  - insert/update split (D2 semantics — the reference's batch path
    miscounts, acknowledged at loader.py:1294-1297; we compute the true
    split) rides on the snapshot write itself: ``DataFrame.observe``
    counts the target, the anti-join's kept rows and the written rows
    while the write runs, so the split costs no Spark job of its own;
  - last-wins dedup (E1) windows on the per-file ``__seq`` order BEFORE any
    shuffle, because input order is semantic (SURVEY.md §7.2 item 1).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nspc_etl_basic_spark.sources.reader import SEQ_COL


@dataclass
class MergeCounts:
    inserted: int
    updated: int


class RowCount:
    """A row count taken on a job that runs anyway: ``on(df)`` attaches a
    ``count(*)`` observation (unnamed, so a UUID name) and ``value`` reads
    it once an action over the returned frame has finished.

    The observed subtree must run in that action — ``value`` blocks until
    the metric arrives. Spark keeps one value per observation name, so a
    subtree the physical plan runs twice still reports its own row count,
    not the sum over both runs."""

    def __init__(self) -> None:
        self._obs = Observation()

    def on(self, df: DataFrame) -> DataFrame:
        return df.observe(self._obs, F.count(F.lit(1)).alias("rows"))

    @property
    def value(self) -> int:
        return int(self._obs.get["rows"])


@dataclass
class MergeObservations:
    """The counts ``merge_upsert`` attaches to its snapshot: target rows
    (the stream side of the anti-join, scanned once), target rows the
    anti-join kept, and rows written."""

    target: RowCount = field(default_factory=RowCount)
    kept: RowCount = field(default_factory=RowCount)
    written: RowCount = field(default_factory=RowCount)


def dedup_last_wins(df: DataFrame, pk_cols: list[str], order_col: str = SEQ_COL) -> DataFrame:
    """E1: within one source file, the LAST occurrence of a duplicate key
    wins (pinned by reference test_upsert_operations.py:361-395 and config
    ``duplicate_keys_in_source: 'last_wins'``).

    ``order_col`` must capture input row order assigned at read time
    (reader's ``__seq``); falls back to synthesizing one when absent —
    callers that shuffled first lose order guarantees, so don't.
    """
    work = df
    if order_col not in df.columns:
        work = df.withColumn(order_col, F.monotonically_increasing_id())
    w = Window.partitionBy(*[F.col(c) for c in pk_cols]).orderBy(F.col(order_col).desc())
    return (
        work.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    pk_cols: list[str],
    broadcast_source: bool | None = None,
    observed: MergeObservations | None = None,
) -> DataFrame:
    """D1: join-based MERGE — returns the post-merge snapshot.

    Column sets must match (caller aligns via ``unionByName`` contract).
    ``broadcast_source=None`` auto-broadcasts (file-sized sources vs large
    targets is the reference's only workload shape); pass False for
    symmetric-size merges so Catalyst/AQE picks a shuffled join.

    ``observed`` attaches the row counts ``merge_counts`` reads once the
    snapshot is written. The source is never observed: it is both the
    broadcast side and a union leg, so the plan runs it twice.
    """
    src = source.select(*target.columns)
    if observed is not None:
        target = observed.target.on(target)
    join_side = F.broadcast(src) if broadcast_source is not False else src
    kept = target.join(join_side, on=pk_cols, how="left_anti")
    if observed is None:
        return kept.unionByName(src)
    return observed.written.on(observed.kept.on(kept).unionByName(src))


def merge_counts(observed: MergeObservations) -> MergeCounts:
    """D2 semantics: the true inserted/updated split (the reference's
    per-row path returns this; its batch MERGE path admits to counting
    everything as updates — we implement the correct split, SURVEY.md
    §4.1 'deviation-to-correctness').

    Reads the counts ``merge_upsert(..., observed=...)`` attached, so call
    it after the snapshot write returns; it runs no Spark job. The target
    snapshot keeps the PK unique (anti-join + E1 dedup), so every target
    row the anti-join dropped is one updated key, and every written row
    beyond the target's is an inserted key."""
    target = observed.target.value
    return MergeCounts(
        inserted=observed.written.value - target,
        updated=target - observed.kept.value,
    )


def merge_changes(
    target: DataFrame,
    source: DataFrame,
    pk_cols: list[str],
    broadcast_source: bool | None = None,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """Change-data-feed for the join-based MERGE (Delta CDF semantics):
    every row the merge touches, tagged ``op`` ∈ {'insert',
    'update_preimage', 'update_postimage'} — the audit/replication feed
    a downstream consumer (streaming SCD2 fold, incremental cache
    invalidation, CDC export) reads instead of diffing snapshots.

    ``merge_upsert`` + this feed share semantics by construction: the
    post-merge snapshot equals target minus preimages plus inserts plus
    postimages (pinned by pytest).

    Scale (file-sized source vs 100 TB target, the reference workload):
    the matched-key set is built by scanning ONLY the target's
    column-pruned pk columns against a broadcast of the source keys —
    small by construction (≤ |source|) — then every feed leg is a
    map-only broadcast semi/anti join: the target is never shuffled,
    never broadcast, and its non-key columns are read once (for the
    preimage leg). The matched-key table is cached (it anchors three
    broadcasts); pass ``broadcast_source=False`` for symmetric-size
    merges to let AQE pick shuffled joins instead.

    Cache lifecycle: the feed is lazy, so this function cannot
    unpersist the matched-key cache itself. One-shot callers can let it
    age out, but REPEATED callers (the per-micro-batch streaming folds)
    must pass ``caches`` — the cached handle is appended to it, and the
    caller unpersists after materializing the feed, or cached plans
    accumulate in executor storage for the life of the stream.
    """
    src = source.select(*target.columns)
    if broadcast_source is False:
        tkeys = target.select(*pk_cols)
        inserts = src.join(tkeys, pk_cols, "left_anti")
        pre = target.join(src.select(*pk_cols), pk_cols, "left_semi")
        post = src.join(tkeys, pk_cols, "left_semi")
    else:
        src_keys = src.select(*pk_cols).distinct()
        matched = (
            target.select(*pk_cols)
            .join(F.broadcast(src_keys), pk_cols, "left_semi")
            .cache()
        )
        if caches is not None:
            caches.append(matched)
        inserts = src.join(F.broadcast(matched), pk_cols, "left_anti")
        pre = target.join(F.broadcast(matched), pk_cols, "left_semi")
        post = src.join(F.broadcast(matched), pk_cols, "left_semi")
    return (
        inserts.select(F.lit("insert").alias("op"), "*")
        .unionByName(pre.select(F.lit("update_preimage").alias("op"), "*"))
        .unionByName(post.select(F.lit("update_postimage").alias("op"), "*"))
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, pk_cols: list[str]
) -> DataFrame:
    """After-the-fact change extraction between two table versions
    (Delta's ``table_changes`` read over snapshots): op-tagged rows with
    ``op`` ∈ {'insert', 'delete', 'update_preimage',
    'update_postimage'}. Unlike ``merge_changes`` — which tags every
    MATCHED row because the merge touched it — a diff only reports rows
    whose content actually differs (null-safe comparison over the
    non-key columns), so replaying the diff onto ``old`` reconstructs
    ``new`` exactly and minimally.

    Use ``merge_changes`` when you control the write (the feed is free
    — map-only broadcast legs); use this when you only have the two
    versions (audit, late-built downstream, divergence checks). The
    price of not having captured changes at write time is honest: one
    full-outer join co-partitioned on the pk — both snapshots shuffle
    once on their key, the scan reads only pk + compared columns, and
    skew/AQE handling is the ordinary join path's. There is no cheaper
    general diff: any algorithm must look at both sides' content.
    """
    val_cols = [c for c in old.columns if c not in pk_cols]
    if old.columns != new.columns:
        new = new.select(*old.columns)
    o = old.select(
        *pk_cols,
        F.lit(True).alias("__in_old"),
        *[F.col(c).alias(f"__o_{c}") for c in val_cols],
    )
    n = new.select(
        *pk_cols,
        F.lit(True).alias("__in_new"),
        *[F.col(c).alias(f"__n_{c}") for c in val_cols],
    )
    j = o.join(n, pk_cols, "full_outer")
    same = F.lit(True)
    for c in val_cols:
        same = same & F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    inserted = F.col("__in_old").isNull()
    deleted = F.col("__in_new").isNull()
    changed = ~inserted & ~deleted & ~same

    def _leg(op: str, side: str, cond) -> DataFrame:
        return j.where(cond).select(
            F.lit(op).alias("op"),
            *pk_cols,
            *[F.col(f"__{side}_{c}").alias(c) for c in val_cols],
        )

    return (
        _leg("insert", "n", inserted)
        .unionByName(_leg("delete", "o", deleted))
        .unionByName(_leg("update_preimage", "o", changed))
        .unionByName(_leg("update_postimage", "n", changed))
    )
