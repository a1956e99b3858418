"""Versioned upsert store: append-only snapshots + time-travel reads.

The CDC/bucketed upsert sinks (`streaming/ingest.py`) keep the LATEST
state — correct for serving, but a training pipeline also needs the
question those sinks can't answer: *"read the corpus exactly as it was
when run X trained"*.  Reproducibility at 100 TB is a data-versioning
problem, and the production answer (Delta/Iceberg time travel) is a
commit log + manifest, not copies of the table.  This module is that
shape, miniaturized on parquet:

- `snapshot_commit`  — append the batch as a NEW immutable changelog
  partition ``log/snap=N/`` and COMMIT by appending one row to the
  ``_snapshots`` manifest.  The manifest row IS the commit point: a
  crash after the data write but before the manifest append leaves an
  uncommitted partition readers never select (the retried commit
  overwrites it in place).  Batches carry an optional ``batch_id`` for
  exactly-once under redelivery: a batch_id already in the manifest is
  a no-op.  An EMPTY batch commits as a data-less snapshot (manifest
  row with n_rows = 0, no log partition) so a quiet changelog interval
  still advances the version counter.
- `read_as_of`       — the store's state at snapshot S: union the
  compacted base (if any) with the log partitions in (horizon, S]
  (partition-pruned on the ``snap`` directory column), resolve
  last-writer-wins per key by (seq, snap) with a deterministic
  hash tie-break, drop tombstones.  ``snap=None`` reads the latest
  COMMITTED snapshot — never a half-committed one.
- `compact_snapshots` — fold everything ≤ ``upto_snap`` into a new
  base generation ``base_g{G}`` (winners keep their ORIGINAL
  (snap, seq, op) columns, so the merge stays uniform afterwards) and
  commit via the shared generation-manifest protocol
  (`storage/manifest.py` — one ``_commits`` append, object-store
  safe, crash leaves readers on the old generation).  Compaction SETS
  THE TIME-TRAVEL HORIZON: as-of reads below ``upto_snap`` raise, and
  the folded log partitions are GC'd best-effort.  This bounds read
  amplification exactly like Delta checkpoints / LSM levels: a reader
  touches one base + (S - horizon) tail partitions, never the full
  history.  With ``drop_tombstones_below_seq`` it ALSO applies the
  redelivery-horizon retention policy: tombstones older than the seq
  watermark are dropped from the base, and the watermark is persisted
  (append-only ``_retention`` log) so `snapshot_commit` REJECTS any
  later batch carrying ops below it — a dropped tombstone can never
  be out-raced by a late redelivered upsert, because that upsert can
  no longer enter the store (the Kafka/CDC retention contract).

Layout under ``{store_dir}/``::

    log/snap=N/   immutable changelog partitions (one per commit)
    _snapshots/   (snap INT, n_rows BIGINT, batch_id STRING) — THE
                  commit log; max(snap) is the current table version
    base_g{G}/    compacted prefix (created by compact_snapshots)
    _commits/     (seq, gen, tomb_gen) — generation manifest for the
                  base; ``tomb_gen`` carries the horizon (upto_snap)
    _retention/   (watermark BIGINT) — append-only seq watermarks
                  (max wins); absent until a retention compact

Semantics: seq-authoritative last-writer-wins with persisted
tombstones, identical to `upsert_cdc_by_key_bucketed` — including
resurrect-after-delete when a later-seq upsert lands after a
tombstone, and the same MapType exclusion from the hash tie-break
(xxhash64 cannot hash maps).  Scale shape: a commit writes O(batch)
in a handful of Spark jobs (the manifest probe is ONE two-value
aggregate over the row-per-commit manifest — per-commit driver cost
stays O(1) however old the store gets); an as-of read scans base +
pruned tail partitions; compaction is one bounded fold at a cadence.
Reads require at least one DATA-BEARING commit: a store whose only
commits are empty snapshots is legal (the counter advances, fsck
reports n_state=0) but has no schema to serve, so `read_as_of` /
`snapshot_lookup` raise ValueError("empty store") on it by design.
Cites the reference's ES upsert story (addReddit.py:63-64 — O8)
extended with the versioning ES lacks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..storage.manifest import (
    append_commit as _append_commit,
    fs_delete as _fs_delete,
    fs_list as _fs_list,
    local_rows_df as _local_rows,
    manifest_state as _state,
    read_parquet_pinned as _read_pinned,
    repartition_for_layout as _layout,
    try_read_parquet as _try_read,
)

# Log partitions are sub-partitioned by a key-hash bucket so point
# lookups prune on disk (the bucket is a pure key function — merge
# semantics never see it).  Fixed at store-creation time, like the CDC
# sink's n_buckets.
N_LOOKUP_BUCKETS = 16

# fixed schemas of the store's own state (the log and base_g* carry the
# user's changelog schema and keep schema inference)
_SNAPSHOTS_DDL = "snap int, n_rows long, batch_id string"
_RETENTION_DDL = "watermark long"


class EmptyFoldError(ValueError):
    """`compact_snapshots` found NOTHING to fold into a base (only
    empty snapshots below the target, or retention dropped every
    winner).  The store is untouched.  A dedicated type so schedulers
    (`snapshot_maintain`) dispatch on the CLASS, never on message text
    — rewording the message can't silently change their behavior."""


class UnclassifiableNullError(ValueError):
    """Retention was requested but the folded state holds rows with
    NULL op/seq, which the watermark cannot classify.  Raised BEFORE
    any write (the store is untouched), so a scheduler may safely
    retry the fold without retention."""


class UnsafeWatermarkError(ValueError):
    """The requested retention watermark is unsafe: the uncompacted
    tail still holds ops with seq NULL or below it, so dropping
    tombstones under them could resurrect deleted keys.  The store is
    untouched."""


def _manifest(spark: SparkSession, store_dir: str) -> DataFrame | None:
    """The ``_snapshots`` manifest with its fixed schema, or None before
    the first commit (a directory a crashed first commit left without a
    data file reads as an empty frame)."""
    return _read_pinned(spark, f"{store_dir}/_snapshots", _SNAPSHOTS_DDL)


def current_snapshot(spark: SparkSession, store_dir: str) -> int:
    """Latest COMMITTED snapshot id (0 = empty store)."""
    m = _manifest(spark, store_dir)
    if m is None:
        return 0
    return int(m.agg(F.max("snap")).first()[0] or 0)


def _base_state(spark: SparkSession, store_dir: str) -> tuple[int, int]:
    """(generation, horizon): the committed compaction generation and
    the snapshot id it folded up to (0, 0) before any compaction."""
    gen, horizon, _ = _state(spark, store_dir)
    return gen, horizon


def _retention_watermark(spark: SparkSession, store_dir: str) -> int | None:
    """The active seq retention watermark (max over the append-only
    ``_retention`` log), or None when no retention compact has run —
    including a log directory that a crashed first write left without
    a data file.  No Spark job at all on stores that never configured
    retention (the directory probe is driver-side)."""
    r = _read_pinned(spark, f"{store_dir}/_retention", _RETENTION_DDL)
    if r is None:
        return None
    wm = r.agg(F.max("watermark")).first()[0]
    return None if wm is None else int(wm)


def snapshot_commit(
    batch_df: DataFrame,
    store_dir: str,
    key: str,
    seq_col: str,
    op_col: str = "op",
    batch_id: str | None = None,
) -> int:
    """Commit one changelog batch as the next snapshot; returns its id.
    Rows must carry ``key``, ``seq_col`` and ``op_col`` ('U' upsert /
    'D' tombstone).  With ``batch_id``, redelivery of an
    already-committed batch is a no-op (exactly-once under foreachBatch
    retries).  On a store with a retention watermark (see
    `compact_snapshots`), a batch carrying ANY row with seq below the
    watermark raises — its tombstone history may already be dropped,
    so admitting it could silently resurrect deleted keys.  An empty
    batch commits as a data-less snapshot (n_rows = 0, no log
    partition)."""
    spark = batch_df.sparkSession
    for c in (key, seq_col, op_col):
        if c not in batch_df.columns:
            raise ValueError(f"snapshot_commit: batch is missing column {c!r}")
    # ONE manifest probe, AGGREGATED Spark-side: resolves the latest id
    # and the exactly-once batch_id check in a single two-value row, so
    # per-commit driver cost stays O(1) however many lifetime commits
    # the store accumulates (a .collect() of the row-per-commit
    # manifest would grow linearly with store age)
    m = _manifest(spark, store_dir)
    latest = 0
    if m is not None:
        dup = (
            F.max((F.col("batch_id") == batch_id).cast("int"))
            if batch_id is not None
            else F.lit(0)
        )
        row = m.agg(F.max("snap").alias("latest"), dup.alias("dup")).first()
        latest = int(row["latest"] or 0)
        if row["dup"]:
            return latest
    wm = _retention_watermark(spark, store_dir)
    if wm is not None:
        n_late = (
            batch_df.filter(F.col(seq_col) < wm).limit(1).count()
        )
        if n_late:
            raise ValueError(
                f"snapshot_commit: batch carries op(s) with {seq_col} below "
                f"the retention watermark {wm} — tombstones below it may "
                f"already be dropped, so this late redelivery is rejected "
                f"(re-emit with current seqs if the rows are still wanted)"
            )
    snap = latest + 1
    # a crashed previous attempt at this snap left an uncommitted dir;
    # overwrite installs the retried batch in its place.  The log
    # partition is sub-partitioned by a key-hash bucket so point
    # lookups (`snapshot_lookup`) prune on disk — the bucket is a pure
    # function of the key, so merge semantics are unchanged.  The
    # layout repartition keeps it at one file per bucket directory.
    bucketed = batch_df.withColumn(
        "bucket",
        F.pmod(F.xxhash64(F.col(key)), F.lit(N_LOOKUP_BUCKETS)).cast("int"),
    )
    _layout(bucketed, ["bucket"], 1, key).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(f"{store_dir}/log/snap={snap}")
    # read BACK what landed (the manifest must describe the on-disk
    # partition); an empty batch writes a file-less dir — commit it as
    # an explicit empty snapshot and drop the stub dir
    landed = _try_read(spark, f"{store_dir}/log/snap={snap}")
    if landed is None:
        n = 0
        _fs_delete(spark, f"{store_dir}/log/snap={snap}")
    else:
        n = landed.count()
    # THE commit point: one single-row manifest append
    _local_rows(
        spark, _SNAPSHOTS_DDL, [(snap, n, batch_id)]
    ).coalesce(1).write.mode("append").parquet(f"{store_dir}/_snapshots")
    return snap


def _merged_state(
    spark: SparkSession,
    store_dir: str,
    snap: int,
    key: str,
    seq_col: str,
    op_col: str,
) -> DataFrame:
    """All live-or-tombstone winner rows as of `snap` (tombstones kept —
    compaction persists them; readers filter)."""
    gen, horizon = _base_state(spark, store_dir)
    if snap < horizon:
        raise ValueError(
            f"read_as_of: snapshot {snap} is below the compaction horizon "
            f"{horizon} — its history was folded; retain a longer horizon "
            f"if older time travel is required"
        )
    parts = []
    if gen > 0:
        parts.append(spark.read.parquet(f"{store_dir}/base_g{gen}"))
    tail = _try_read(spark, f"{store_dir}/log")
    if tail is not None:
        parts.append(
            tail.filter((F.col("snap") > horizon) & (F.col("snap") <= snap))
        )
    if not parts:
        raise ValueError(f"read_as_of: empty store at {store_dir}")
    allrows = parts[0]
    for p in parts[1:]:
        allrows = allrows.unionByName(p)
    return _merge_rows(allrows, key, seq_col, op_col)


def _merge_rows(
    allrows: DataFrame, key: str, seq_col: str, op_col: str
) -> DataFrame:
    """SEQ-authoritative last-writer-wins over changelog rows: winner
    per key by (seq desc, snap desc, op, deterministic hash).  The seq
    ranks FIRST — a late-arriving old op committed in a LATER snapshot
    must still lose to a higher-seq row from an earlier one (the CDC
    sink's contract: an old upsert can never resurrect a deleted key);
    the snapshot id only breaks exact seq ties (a redelivered op
    re-committed verbatim resolves to the newer physical row, same
    content).  MapType payload columns are excluded from the hash
    tie-break exactly as in `upsert_cdc_by_key_bucketed` — xxhash64
    cannot hash maps; the tie-break stays deterministic over the
    hashable columns."""
    by_name = {f.name: f.dataType for f in allrows.schema.fields}
    payload = sorted(
        c
        for c in allrows.columns
        if c not in {key, seq_col, op_col, "snap", "bucket"}
        and not isinstance(by_name[c], T.MapType)
    )
    row_hash = F.xxhash64(
        *[F.col(c) for c in [key, seq_col, op_col, *payload]]
    )
    w = Window.partitionBy(key).orderBy(
        F.col(seq_col).desc(),
        F.col("snap").desc(),
        F.col(op_col).asc(),
        row_hash.asc(),
    )
    return (
        allrows.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def read_as_of(
    spark: SparkSession,
    store_dir: str,
    snap: int | None = None,
    key: str = "id",
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """The table exactly as of snapshot ``snap`` (default: the latest
    COMMITTED snapshot).  Tombstoned keys are absent; a later-seq
    upsert after a tombstone resurrects the key (seq-authoritative,
    same contract as the CDC sink).  A ``snap`` above the committed
    maximum raises — a reproducibility read must never silently serve
    a different table version than the one requested.

    Requires at least one DATA-BEARING commit: a store whose only
    commits are empty snapshots is a legal state (the version counter
    advances; `snapshot_fsck` reports it as n_state = 0) but carries
    no row schema, so there is nothing well-typed to return — reads on
    it raise ValueError("empty store") by design rather than guess a
    schema."""
    committed = current_snapshot(spark, store_dir)
    if snap is not None and snap > committed:
        raise ValueError(
            f"read_as_of: snapshot {snap} is not committed (latest is "
            f"{committed}) — refusing to silently serve a different version"
        )
    s = committed if snap is None else snap
    merged = _merged_state(spark, store_dir, s, key, seq_col, op_col)
    return merged.filter(F.col(op_col) != "D").drop(op_col, "snap", "bucket")


def compact_snapshots(
    spark: SparkSession,
    store_dir: str,
    upto_snap: int,
    key: str = "id",
    seq_col: str = "seq",
    op_col: str = "op",
    drop_tombstones_below_seq: int | None = None,
) -> DataFrame:
    """Fold snapshots ≤ ``upto_snap`` into a fresh base generation and
    commit (one ``_commits`` append — readers atomically move to the
    new base + shorter tail).  Winner rows RETAIN their original
    (snap, seq, op) columns so later merges stay uniform; tombstones
    are kept in the base by default (a still-later upsert in the tail
    must lose to nothing).

    ``drop_tombstones_below_seq`` is the redelivery-horizon retention
    policy: tombstone winners with seq below the watermark are dropped
    from the new base, and the watermark is persisted so
    `snapshot_commit` rejects any later batch carrying ops below it —
    the pair is what makes the drop safe (nothing a dropped tombstone
    was guarding against can ever enter the store again).  The compact
    itself refuses the watermark if the REMAINING tail already holds
    ops below it (they would out-merge nothing after the drop).  The
    watermark append lands BEFORE the generation commit: a crash
    between the two leaves a store that rejects stale ingest but still
    has every tombstone — safe in both halves.

    Superseded artifacts (the old base generation and the folded log
    partitions) are NOT deleted here (round 14, store-family
    contract): a reader that resolved the manifest just before the
    commit may still be scanning them — every read filters the log by
    its resolved horizon and reads exactly its resolved base
    generation, so concurrent reads answer from entirely the pre- or
    entirely the post-compact state, never a mix.  `snapshot_gc` is
    the destructive reclaim step (run by `snapshot_maintain` as the
    scheduler path, or manually after readers drain).  Returns a
    one-row (new_base_gen, horizon, n_rows) receipt."""
    committed = current_snapshot(spark, store_dir)
    if upto_snap > committed:
        raise ValueError(
            f"compact_snapshots: upto_snap {upto_snap} exceeds the committed "
            f"snapshot {committed}"
        )
    gen, horizon, seq = _state(spark, store_dir)
    if upto_snap < horizon:
        raise ValueError(
            f"compact_snapshots: upto_snap {upto_snap} is below the existing "
            f"horizon {horizon}"
        )
    folded = _merged_state(spark, store_dir, upto_snap, key, seq_col, op_col)
    if drop_tombstones_below_seq is not None:
        wm = int(drop_tombstones_below_seq)
        # the policy is meaningless over NULL op/seq rows (a NULL op is
        # neither upsert nor tombstone; a NULL-seq tombstone has no
        # position against the watermark) — fail fast rather than
        # guess, and keep the drop filter null-SAFE below so such rows
        # can never be silently deleted either way
        n_null = (
            folded.filter(F.col(op_col).isNull() | F.col(seq_col).isNull())
            .limit(1)
            .count()
        )
        if n_null:
            raise UnclassifiableNullError(
                f"compact_snapshots: retention requested but the folded "
                f"state holds row(s) with NULL {op_col!r}/{seq_col!r} — "
                f"the watermark cannot classify them; clean the changelog "
                f"first"
            )
        tail = _try_read(spark, f"{store_dir}/log")
        if tail is not None and upto_snap < committed:
            # a NULL-seq tail op is UNCLASSIFIABLE against the
            # watermark — and the merge ranks NULL seq lowest, so a
            # dropped tombstone could be out-merged by it: refuse, same
            # as a provably-below op
            n_below = (
                tail.filter(
                    (F.col("snap") > upto_snap)
                    & (F.col("snap") <= committed)
                    & (
                        F.col(seq_col).isNull()
                        | (F.col(seq_col) < wm)
                    )
                )
                .limit(1)
                .count()
            )
            if n_below:
                raise UnsafeWatermarkError(
                    f"compact_snapshots: the uncompacted tail still holds "
                    f"op(s) with {seq_col} NULL or below the requested "
                    f"retention watermark {wm} — dropping tombstones under "
                    f"them could resurrect deleted keys; pick a lower "
                    f"watermark or compact further first"
                )
        # null-safe: a row only drops when it is PROVABLY a tombstone
        # below the watermark (NULL op / NULL seq rows are kept — and
        # already rejected above)
        folded = folded.filter(
            ~(
                F.col(op_col).eqNullSafe(F.lit("D"))
                & F.coalesce(F.col(seq_col) < wm, F.lit(False))
            )
        )
    new_gen = gen + 1
    # the base keeps the bucket sub-partitioning so point lookups prune
    # the compacted prefix exactly like the log tail
    _layout(folded, ["bucket"], 1, key).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(f"{store_dir}/base_g{new_gen}")
    # pre-commit readability gate (the shared store discipline): an
    # EMPTY folded state (only empty snapshots, or retention dropped
    # every winner) writes a file-less dir — committing it would brick
    # every later read's base scan; clean up and refuse instead (the
    # store stays exactly as it was)
    landed = _try_read(spark, f"{store_dir}/base_g{new_gen}")
    if landed is None:
        _fs_delete(spark, f"{store_dir}/base_g{new_gen}")
        raise EmptyFoldError(
            "compact_snapshots: the folded state is empty — nothing to "
            "fold into a base (only empty snapshots below the target, or "
            "retention dropped every winner); compact after real data "
            "lands"
        )
    n = landed.count()
    if drop_tombstones_below_seq is not None:
        # watermark BEFORE the flip (see docstring: both crash halves safe)
        _local_rows(
            spark, _RETENTION_DDL, [(int(drop_tombstones_below_seq),)]
        ).coalesce(1).write.mode("append").parquet(f"{store_dir}/_retention")
    # THE commit: (gen, horizon) flip in one manifest append.  The old
    # base and the folded log partitions stay on disk for reader grace
    # (docstring) — `snapshot_gc` reclaims them.
    _append_commit(spark, store_dir, seq + 1, new_gen, upto_snap)
    return _local_rows(
        spark,
        "base_gen int, horizon int, n_rows long",
        [(new_gen, upto_snap, n)],
    )


def snapshot_gc(spark: SparkSession, store_dir: str) -> list[str]:
    """Reclaim SUPERSEDED store artifacts — the old base generations
    and the at-or-below-horizon log partitions `compact_snapshots`
    leaves behind for reader grace, plus anything a crashed compact
    orphaned (readers never see either: the manifest's (gen, horizon)
    is the single source of truth — reads scan exactly base_g{gen} and
    the log partitions above the horizon).  This is the DESTRUCTIVE
    half of the compact protocol: run it only after in-flight readers
    that resolved the pre-compact manifest have drained.  Returns the
    removed names."""
    import re

    gen, horizon = _base_state(spark, store_dir)
    removed = []
    base_re = re.compile(r"^base_g(\d+)$")
    for name in _fs_list(spark, store_dir):
        m = base_re.match(name)
        if m and int(m.group(1)) != gen:
            _fs_delete(spark, f"{store_dir}/{name}")
            removed.append(name)
    snap_re = re.compile(r"^snap=(\d+)$")
    for name in _fs_list(spark, f"{store_dir}/log"):
        m = snap_re.match(name)
        if m and int(m.group(1)) <= horizon:
            _fs_delete(spark, f"{store_dir}/log/{name}")
            removed.append(f"log/{name}")
    return sorted(removed)


def snapshot_maintain(
    spark: SparkSession,
    store_dir: str,
    keep_snapshots: int = 1,
    drop_tombstones: bool = True,
    retention_lag: int = 0,
    key: str = "id",
    seq_col: str = "seq",
    op_col: str = "op",
    run_gc: bool = True,
) -> DataFrame:
    """Auto-maintenance — the verb a scheduler calls at a cadence, so
    operators never hand-pick compaction horizons or retention
    watermarks: folds everything except the newest ``keep_snapshots``
    commits, and (with ``drop_tombstones``) DERIVES the retention
    watermark from the store itself: (minimum seq still present in the
    surviving tail) - ``retention_lag``.  Every tail op is >= the
    derived value by construction, so the unsafe-watermark guard can
    never fire on the store's own contents; commit-time rejection of
    older ingest then holds automatically, exactly as with an explicit
    watermark.

    ``retention_lag`` is the ingest-disorder allowance — the exact
    analogue of an event-time watermark delay: with the default 0, the
    derived watermark ratchets to the tail's minimum seq, which REJECTS
    any future batch carrying a lower seq (strict cross-batch seq
    monotonicity — fine for monotone CDC feeds, an ingest outage for
    disordered ones).  Set it to your cross-batch seq-disorder bound
    and late-but-legitimate ingest keeps flowing while tombstones
    older than the bound still reclaim.

    Safety degradations (scheduler verbs must make progress, never
    corrupt): if the surviving tail holds NULL-seq ops, NO watermark is
    derived this cadence (a NULL-seq op out-merges any tombstone under
    seq-authoritative ordering, so dropping tombstones near it is
    unsafe — the fold still happens, tombstones are kept); if the fold
    range holds no data at all (empty snapshots only), the verb no-ops
    with the current (base_gen, horizon, n_rows=-1) receipt.  The
    Delta OPTIMIZE/VACUUM-on-a-schedule story, miniaturized.

    Reclaim contract: `snapshot_gc` runs on EVERY call including the
    no-op paths (a crashed compact's orphaned base generation is
    reclaimed the next tick, not only after the next successful fold),
    because the scheduled cadence IS the reader-drain point — schedule
    maintain at an interval longer than your longest-running read,
    exactly the Delta VACUUM retention reasoning.  Deployments with
    readers that outlive the cadence pass ``run_gc=False`` and reclaim
    explicitly after a drain."""
    committed = current_snapshot(spark, store_dir)
    gen, horizon = _base_state(spark, store_dir)
    upto = committed - keep_snapshots

    def _receipt_after_gc(rec: DataFrame) -> DataFrame:
        if run_gc:
            snapshot_gc(spark, store_dir)
        return rec

    noop = _local_rows(
        spark,
        "base_gen int, horizon int, n_rows long",
        [(gen, horizon, -1)],
    )
    if upto <= horizon:
        return _receipt_after_gc(noop)
    # manifest pre-check: a fold over ONLY empty snapshots (no base,
    # zero recorded rows below the target) has no compactable state —
    # no-op instead of writing a file-less base
    m = _manifest(spark, store_dir)
    if gen == 0 and m is not None:
        folded_rows = sum(
            int(r["n_rows"])
            for r in m.collect()
            if horizon < int(r["snap"]) <= upto
        )
        if folded_rows == 0:
            return _receipt_after_gc(noop)
    wm = None
    if drop_tombstones:
        tail = _try_read(spark, f"{store_dir}/log")
        if tail is not None:
            row = (
                tail.filter(
                    (F.col("snap") > upto) & (F.col("snap") <= committed)
                )
                .agg(
                    F.min(seq_col).alias("m"),
                    F.sum(
                        F.when(F.col(seq_col).isNull(), 1).otherwise(0)
                    ).alias("n_null"),
                )
                .first()
            )
            if row["m"] is not None and not (row["n_null"] or 0):
                wm = int(row["m"]) - int(retention_lag)
    try:
        rec = compact_snapshots(
            spark,
            store_dir,
            upto,
            key=key,
            seq_col=seq_col,
            op_col=op_col,
            drop_tombstones_below_seq=wm,
        )
    except EmptyFoldError:
        # retention dropped every winner — nothing to fold
        return _receipt_after_gc(noop)
    except UnclassifiableNullError:
        # the FOLDED state holds NULL op/seq rows the watermark cannot
        # classify — fold without retention this cadence (progress over
        # drops; the check runs before any write, so nothing landed).
        # Dispatch is on the exception TYPE, never message text, so a
        # reworded message can't silently change maintenance behavior.
        rec = compact_snapshots(
            spark, store_dir, upto,
            key=key, seq_col=seq_col, op_col=op_col,
        )
    # the scheduler path owns the reclaim decision: compact defers
    # old-generation deletion for reader grace; the cadence call is the
    # drain point, so gc here (the receipt frame is a literal — safe to
    # reclaim before it is collected)
    return _receipt_after_gc(rec)


def snapshot_lookup(
    spark: SparkSession,
    store_dir: str,
    keys: list,
    snap: int | None = None,
    key: str = "id",
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Point time-travel lookup — the serving-path read: resolve a
    (small) key batch at snapshot ``snap`` touching ONLY the bucket
    sub-partitions those keys hash into, in both the compacted base
    and the log tail (static partition pruning on the ``bucket``
    directory column; the routing collect is bounded by
    min(|keys|, N_LOOKUP_BUCKETS)).  The routing frame is built with
    the store key column's ACTUAL type read from the committed schema
    — xxhash64 hashes int, long and string inputs differently, so
    hashing the caller's python literals as anything else would route
    to the wrong buckets and silently drop rows.  Because the bucket
    is a pure key function, the within-bucket merge is exact —
    byte-identical to filtering a full `read_as_of` (pinned by test).
    The Delta/Iceberg point-read story: scan cost per lookup is
    |buckets touched| / N_LOOKUP_BUCKETS of the state, regardless of
    table size."""
    committed = current_snapshot(spark, store_dir)
    if snap is not None and snap > committed:
        raise ValueError(
            f"snapshot_lookup: snapshot {snap} is not committed (latest is "
            f"{committed}) — refusing to silently serve a different version"
        )
    s = committed if snap is None else snap
    gen, horizon = _base_state(spark, store_dir)
    if s < horizon:
        raise ValueError(
            f"snapshot_lookup: snapshot {s} is below the compaction "
            f"horizon {horizon}"
        )
    base_df = (
        spark.read.parquet(f"{store_dir}/base_g{gen}") if gen > 0 else None
    )
    tail = _try_read(spark, f"{store_dir}/log")
    src = tail if tail is not None else base_df
    if src is None:
        raise ValueError(f"snapshot_lookup: empty store at {store_dir}")
    # the store's real key type — both hash sides MUST agree (see above)
    ktype = src.schema[key].dataType
    kdf = _local_rows(
        spark, f"{key} {ktype.simpleString()}", [(k,) for k in keys]
    )
    buckets = [
        r["b"]
        for r in kdf.select(
            F.pmod(F.xxhash64(F.col(key)), F.lit(N_LOOKUP_BUCKETS))
            .cast("int")
            .alias("b")
        )
        .distinct()
        .collect()
    ]
    parts = []
    if base_df is not None:
        parts.append(base_df.filter(F.col("bucket").isin(buckets)))
    if tail is not None:
        parts.append(
            tail.filter(
                (F.col("snap") > horizon)
                & (F.col("snap") <= s)
                & F.col("bucket").isin(buckets)
            )
        )
    allrows = parts[0]
    for p in parts[1:]:
        allrows = allrows.unionByName(p)
    # membership test through the SAME typed frame the routing hashed —
    # a raw isin(keys) here would compare the caller's python literals
    # against the store column under Spark's coercion rules, which can
    # coerce or null-drop rows AFTER routing already succeeded (e.g.
    # int keys against a string-keyed store); the broadcast semi-join
    # on kdf uses the identical casted values for both hash and match
    allrows = allrows.join(F.broadcast(kdf), key, "semi")
    merged = _merge_rows(allrows, key, seq_col, op_col)
    return merged.filter(F.col(op_col) != "D").drop(op_col, "snap", "bucket")


def snapshot_fsck(
    spark: SparkSession,
    store_dir: str,
    key: str = "id",
    seq_col: str = "seq",
    op_col: str = "op",
    state_sample: int = 3,
) -> DataFrame:
    """Store integrity audit — one row per COMMITTED snapshot:
    ``n_rows_manifest`` (what the commit recorded), ``n_rows_log``
    (what the log partition actually holds on disk), and ``n_state``
    (live keys as of that snapshot).  A truncated or double-written
    log partition shows up as a manifest/log mismatch; a merge
    regression shows up in n_state.

    Single-pass shape (round-12): the on-disk counts for EVERY audited
    snapshot come from ONE grouped count over the whole ``log/`` tail
    (partition-column groupBy — a 1000-commit store is one Spark job,
    not 1000), and the expensive full-merge ``n_state`` is computed
    only for the HIGHEST ``state_sample`` snapshots (the versions
    production reads actually serve); older rows carry NULL n_state.
    Pass ``state_sample`` >= the commit count for the exhaustive
    audit.  On a COMPACTED store only snapshots above the horizon are
    audited — the folded log partitions are gone by design (their
    history lives in the base, whose row count the per-commit manifest
    rows no longer describe).  Everything is read through the same
    resolvers probes use."""
    m = _manifest(spark, store_dir)
    if m is None:
        raise ValueError(f"snapshot_fsck: no manifest at {store_dir}")
    gen, horizon = _base_state(spark, store_dir)
    mrows = sorted(m.collect(), key=lambda r: r["snap"])
    audited = [r for r in mrows if int(r["snap"]) > horizon]
    # ONE grouped count over the log tail for every on-disk row count
    tail = _try_read(spark, f"{store_dir}/log")
    log_counts: dict[int, int] = {}
    if tail is not None:
        log_counts = {
            int(r["snap"]): int(r["n"])
            for r in tail.filter(F.col("snap") > horizon)
            .groupBy("snap")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    base_df = (
        spark.read.parquet(f"{store_dir}/base_g{gen}") if gen > 0 else None
    )
    sampled = {int(r["snap"]) for r in audited[-state_sample:]} if state_sample > 0 else set()
    rows = []
    for r in audited:
        s = int(r["snap"])
        n_state = None
        if s in sampled:
            parts = [] if base_df is None else [base_df]
            if tail is not None:
                parts.append(
                    tail.filter(
                        (F.col("snap") > horizon) & (F.col("snap") <= s)
                    )
                )
            if not parts:
                n_state = 0  # manifest-only store (all commits empty)
            else:
                allrows = parts[0]
                for p in parts[1:]:
                    allrows = allrows.unionByName(p)
                n_state = (
                    _merge_rows(allrows, key, seq_col, op_col)
                    .filter(F.col(op_col) != "D")
                    .count()
                )
        rows.append((s, int(r["n_rows"]), log_counts.get(s, 0), n_state))
    return _local_rows(
        spark,
        "snap int, n_rows_manifest long, n_rows_log long, n_state long",
        rows,
    )


def snapshot_diff(
    spark: SparkSession,
    store_dir: str,
    from_snap: int,
    to_snap: int,
    key: str = "id",
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Row-level diff between two table versions — the audit question a
    versioned store exists to answer ("what changed between the corpus
    run A trained on and run B's?").  Returns one row per changed key:
    ``change`` ∈ {'added', 'deleted', 'updated'} plus ``<c>_before`` /
    ``<c>_after`` for every payload column c.  Derived entirely from
    two `read_as_of` views, so it sees exactly what readers see
    (including resurrect-after-delete, which surfaces as 'added').
    Scale shape: one full-outer join of the two states on the key —
    the canonical snapshot-diff plan (same as ann_index_version_diff's
    cell-transition matrix)."""
    a = read_as_of(spark, store_dir, from_snap, key, seq_col, op_col)
    b = read_as_of(spark, store_dir, to_snap, key, seq_col, op_col)
    payload = sorted(c for c in a.columns if c not in {key, seq_col})
    a = a.select(
        F.col(key).alias("_ka"),
        *[F.col(c).alias(f"{c}_before") for c in payload],
    )
    b = b.select(
        F.col(key).alias("_kb"),
        *[F.col(c).alias(f"{c}_after") for c in payload],
    )
    j = a.join(b, a["_ka"] == b["_kb"], "full_outer")
    changed = F.lit(False)
    for c in payload:
        changed = changed | ~(
            F.col(f"{c}_before").eqNullSafe(F.col(f"{c}_after"))
        )
    return (
        j.select(
            F.coalesce("_ka", "_kb").alias(key),
            F.when(F.col("_ka").isNull(), F.lit("added"))
            .when(F.col("_kb").isNull(), F.lit("deleted"))
            .when(changed, F.lit("updated"))
            .alias("change"),
            *[F.col(f"{c}_before") for c in payload],
            *[F.col(f"{c}_after") for c in payload],
        )
        .filter(F.col("change").isNotNull())
    )


def start_snapshot_stream(
    changelog_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    key: str = "id",
    seq_col: str = "seq",
    op_col: str = "op",
    available_now: bool = True,
):
    """Wire a changelog stream to the snapshot store: each micro-batch
    becomes ONE committed snapshot, with the Structured-Streaming
    batch_id as the exactly-once key — a redelivered batch (foreachBatch
    retry after a sink-side crash) finds its batch_id in the manifest
    and no-ops, so the snapshot history never forks or duplicates.
    EMPTY micro-batches are skipped entirely (no data, no manifest
    row) — availableNow drains and trigger gaps produce them
    routinely, and committing each would churn the version counter."""

    def sink(bdf, bid):
        if bdf.isEmpty():
            return
        snapshot_commit(bdf, store_dir, key, seq_col, op_col, batch_id=f"sb-{bid}")

    writer = changelog_stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
