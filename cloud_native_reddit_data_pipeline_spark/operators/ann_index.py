"""Persistent ANN index: build once, probe many (round-10 hardening of
the fused `similarity.ivf_topk` / `similarity.pq_adc_topk` forms).

Production ANN never re-derives its index per query — centroids, the
inverted file, and the PQ codebook are built ONCE and persisted; a probe
loads metadata and touches only the probed cells.  This module splits
the fused operators into exactly that shape:

- `ann_index_build`  — derive IVF centroids + cell assignments + PQ
  codebook/codes from the corpus and persist all four artifacts as
  parquet under ``{index_dir}/{version}/``; returns a per-cell manifest.
- `ann_index_probe`  — IVF probe straight off the persisted artifacts:
  centroid scoring on the (tiny) centroid table, **static partition
  pruning** of the cell-partitioned inverted file down to the probed
  cells, exact cosine re-rank.  Byte-identical to the fused
  `similarity.ivf_topk` (pinned by tests/test_ann_index.py).
- `ann_index_probe_dpp` — the same probe with the probe-cell set kept
  as a DataFrame end-to-end: the inverted-file scan is pruned by
  Spark's **dynamic partition pruning** (a DynamicPruningExpression on
  the ``cell`` partition column, fed by the broadcast probe side)
  instead of a driver-collected cell list.  Byte-identical to
  `ann_index_probe`; the serving path with zero driver-side routing.
  `ann_index_probe_vectors_dpp` is the same plan for CALLER-SUPPLIED
  query vectors (the true serving case: fresh query embeddings that
  never lived in the index), keeping them distributed end-to-end.
- `ann_index_probe_pq` — ADC probe off the persisted codes + codebook,
  no re-encode.  Byte-identical to `similarity.pq_adc_topk`.  The
  per-query distance table is computed AS A SPARK EXPRESSION over the
  broadcast codebook (exact decimal(30,12) arithmetic — the same e12
  integers as the old driver-side Decimal loop it replaced), so driver
  work is O(1), not O(|queries|).

Layout under ``{index_dir}/{version}/``::

    centroids/     (centroid_id BIGINT, cv ARRAY<FLOAT>)         ~KB
    cells/         (vec_id BIGINT, embedding ARRAY<FLOAT>)
                   partitioned by cell INT (the inverted file)
    codes/         (vec_id BIGINT, code0..code{m-1} INT)          4B/vec
                   partitioned by cell INT (round-13: the PQ codes
                   share the inverted layout, so the IVF-PQ probes
                   prune code I/O on disk exactly like the vectors —
                   PartitionFilters on the static path, a
                   DynamicPruningExpression on the DPP path; the
                   corpus-wide `ann_index_probe_pq` is unaffected,
                   its exhaustive ADC is the semantics)
    codebook/      (sub INT, code INT, vals ARRAY<DECIMAL(9,6)>)  ~KB
    tombstones/    (vec_id BIGINT)  — append-only delete log
    _commits/      (seq BIGINT, gen INT, tomb_gen INT) — generation
                   manifest (see below); absent until the first
                   compaction / tombstone rewrite

**Object-store-safe commits.**  The generation-manifest protocol and
its toolkit live in `storage/manifest.py` (shared with the search and
dedup indexes and the snapshot store, and unit-tested there):
generation and tombstone directory names, the delete log and its
anti-join, the append id guard, the commit gate and GC.  Compaction
writes a brand-new generation directory, commits with ONE
``_commits`` row append, and readers resolve max-seq — never a rename
on the read path, so a crash at any point leaves readers on a complete
generation, on local disk and object stores alike.  Single writer per
index version assumed.

Scale shape: the build is the fused form's first half (one broadcast
centroid scoring pass + one partitionBy write — the shuffle is the
partitioned write itself, exactly the shuffle an inverted layout is FOR,
laid out as ``files_per_cell`` files per cell directory so file count
tracks the knob, not the task count).  A probe reads the centroid table
(KBs), prunes the inverted file to ``n_probe x |queries|`` cell
directories on DISK (PartitionFilters for the static form,
DynamicPruningExpression for the DPP form — never a post-scan filter),
and re-ranks only those rows — corpus scan cost is 1/n_centroids per
probed cell regardless of corpus size.

Constant-factor discipline (round-12): every verb resolves manifest
state ONCE per call and loads the tombstone log ONCE per call (the
resolved frame threads through every anti-join in that verb), append's
two id guards run as ONE Spark job, and partitioned writes repartition
by the directory column first so a 32-task write does not scatter 32
small files into every directory.

Float discipline: embeddings persist as the original ARRAY<FLOAT> (bit
round-trip through parquet), so probe-side cosines see the exact same
doubles as the fused form; the codebook persists at DECIMAL(9,6) (exact
round-trip), so ADC distances are the same e12 integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine
from ..storage.manifest import (
    anti_tombstones as _anti_tombstones,
    append_tombstones as _append_tombstones,
    commit_generation as _commit_generation,
    count_tombstones as _count_tombstones,
    gc_generations as _gc_generations,
    gen_dir as _gen_dir,
    guard_hits as _id_guard,
    load_tombstones as _load_tombstones,
    local_rows_df as _local_rows,
    manifest_state as _state,
    max_files_per_leaf_dir as _max_files,
    repartition_for_layout as _layout,
    reset_version_dir as _reset_version_dir,
    run_concurrent as _run_concurrent,
    store_base as _base,
    tomb_dir as _tomb_dir,
)
from .clustering import _quantize as _pq_quantize
from .similarity import _pq_encode_df, _pq_seed_codebook


def _assign_cells(scored: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Winner centroid per vector from the scored cross product —
    highest ccos, lowest centroid_id on ties (the exact
    similarity.ivf_topk assignment rule) — as a MAP-SIDE-COMBINABLE
    max_by aggregate instead of a window row_number: no per-partition
    sort, partial aggregation before the shuffle (at corpus scale the
    assignment pass combines n_centroids-to-1 on the map side; the
    window form shuffles and sorts every scored row)."""
    return (
        scored.groupBy(id_col)
        .agg(
            F.max_by(
                F.struct(
                    F.col(vec_col).alias("v"),
                    F.col("centroid_id").alias("c"),
                ),
                F.struct(
                    F.col("ccos").alias("s"),
                    (-F.col("centroid_id")).alias("nc"),
                ),
            ).alias("_w")
        )
        .select(
            id_col,
            F.col("_w.v").alias(vec_col),
            F.col("_w.c").cast("int").alias("cell"),
        )
    )


# generation-addressed components (storage/manifest.gen_dir)
_COMPONENTS = ("cells", "codes")


def _quantize_keep_cell(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """`clustering._quantize` with the ``cell`` column riding along, so
    the PQ encode's output can be written straight into the
    cell-partitioned codes layout (one pass, no re-join against the
    assignment).  The quantized values are bit-identical to the plain
    form: the same float→DECIMAL(9,6) cast per element."""
    from .clustering import QUANT

    return df.select(
        F.col(id_col),
        F.col("cell").cast("int").alias("cell"),
        F.transform(F.col(vec_col), lambda v: v.cast(QUANT)).alias("xd"),
    )


def resolve_dirs(
    spark: SparkSession, index_dir: str, version: str = "v1"
) -> dict[str, str]:
    """Public resolver: the CURRENT committed directory for each index
    component (audits / fsck read through this, never hard-coded
    paths, so they see exactly what probes see)."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    return {
        "centroids": f"{base}/centroids",
        "cells": _gen_dir(base, "cells", gen),
        "codes": _gen_dir(base, "codes", gen),
        "codebook": f"{base}/codebook",
        "tombstones": _tomb_dir(base, tomb_gen),
    }


# ---------------------------------------------------------------------------
# Build
# ---------------------------------------------------------------------------
def ann_index_build(
    emb: DataFrame,
    index_dir: str,
    n_centroids: int = 16,
    m: int = 4,
    k_codes: int = 16,
    version: str = "v1",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_cell: int = 1,
) -> DataFrame:
    """Build and persist the ANN index; returns the per-cell manifest
    ``(cell, n_vectors, min_vec_id, max_vec_id)`` read back from the
    persisted inverted file (so the gate proves what is ON DISK, not
    what was computed in flight).  ``files_per_cell`` controls the
    write layout: each cell directory gets at most that many files
    (raise it on a large cluster for write parallelism within hot
    cells; the default keeps file count = cell count)."""
    from ..sources.tables import fan_out

    spark = emb.sparkSession
    base = _base(index_dir, version)
    _reset_version_dir(spark, base)
    emb = fan_out(emb)

    # -- IVF half: centroids + cell assignment (same derivation, same
    #    rounding, same tie-break as similarity.ivf_topk) --------------
    # the n_centroids-row centroid frame is materialized ONCE with an
    # eager localCheckpoint: the scoring broadcast and the persisted
    # centroid table both read the checkpoint, so the corpus is scanned
    # exactly once for centroid extraction (a broadcast side that
    # re-executed `scan emb + filter` would be a corpus scan inside a
    # broadcast exchange at 100 TB), and the tiny centroid write no
    # longer serializes ahead of the corpus-sized inverted-file write.
    # Values are identical to the old write-then-read-back form:
    # ARRAY<FLOAT> round-trips parquet bit-exact.
    cents = (
        emb.filter(F.col(id_col) < n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cv")
        )
        .localCheckpoint(eager=True)
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("centroid_id"),
        F.round(cosine(F.col(vec_col), F.col("cv")), 6).alias("ccos"),
    )
    assigned = _assign_cells(scored, id_col, vec_col)
    # the partitionBy write IS the inverted layout: one directory per
    # cell, so probes prune on disk; the layout repartition keeps it at
    # files_per_cell files per directory instead of one per write task.
    # Both writes land in the freshly reset version dir with no readers
    # until build returns, so they may overlap (no ordering contract).
    _run_concurrent(
        lambda: cents.coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{base}/centroids"),
        lambda: _layout(assigned, ["cell"], files_per_cell, id_col)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{base}/cells"),
    )

    # -- PQ half: seed codebook + codes ------------------------------
    # quantize off the PERSISTED inverted file (embeddings round-trip
    # parquet bit-exact, so xd is identical to quantizing `emb`): one
    # pruned-column scan instead of re-running the centroid-scoring
    # aggregation, and the cell column rides along so the codes land
    # in the same cell-partitioned layout the vectors use — IVF-PQ
    # probes then prune code I/O on disk too
    quant = _quantize_keep_cell(
        spark.read.parquet(f"{base}/cells"), id_col, vec_col
    )
    codebook = _pq_seed_codebook(quant, id_col, m, k_codes)
    dsub = len(codebook[0][0])
    cb_rows = [
        (s, c, codebook[s][c])
        for s in range(m)
        for c in range(k_codes)
    ]
    # codes encode uses the in-memory codebook list, not the persisted
    # table — the (tiny) codebook write and the codes write are
    # independent and overlap
    _run_concurrent(
        lambda: _local_rows(
            spark, "sub int, code int, vals array<decimal(9,6)>", cb_rows
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{base}/codebook"),
        lambda: _layout(
            _pq_encode_df(quant, codebook, dsub),
            ["cell"],
            files_per_cell,
            id_col,
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{base}/codes"),
    )

    return (
        spark.read.parquet(f"{base}/cells")
        .groupBy(F.col("cell").cast("int").alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min(id_col).alias("min_vec_id"),
            F.max(id_col).alias("max_vec_id"),
        )
    )


# ---------------------------------------------------------------------------
# Append
# ---------------------------------------------------------------------------
def ann_index_append(
    spark: SparkSession,
    new_vecs: DataFrame,
    index_dir: str,
    version: str = "v1",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assert_unique: bool = True,
) -> DataFrame:
    """Incremental index maintenance — the third production verb after
    build/probe: assign NEW vectors to the EXISTING centroids (an IVF
    index never moves centroids on ingest; drift is handled by a
    periodic rebuild under a new version key), append them to the
    cell-partitioned inverted file, and PQ-encode them against the
    PERSISTED codebook.  Because cell assignment and codes use the
    frozen artifacts, build(A) + append(B) leaves the exact same store
    as build(A ∪ B) whenever the seed rows live in A — pinned
    byte-identical by tests/test_ann_index.py.  Returns the per-cell
    appended-count manifest.

    Id discipline: an incoming id that is currently TOMBSTONED always
    fails fast — the dead physical row still lives in the inverted file
    until the next compact, so "clearing" the tombstone would resurrect
    the OLD vector alongside the new one; the contract is explicit:
    ``ann_index_compact`` first, then re-insert (checked against the
    tombstone-sized delete log, so it is always on).  Separately, with
    ``assert_unique`` (the default) the append also fails fast if any
    incoming id already lives LIVE in the index — a duplicate id would
    double probe candidates and ADC distance sums (a one-column pruned
    scan of the inverted file's id column; callers with an external
    uniqueness guarantee can skip it at very large scale).  Both
    guards resolve in ONE Spark job (a union of the tombstone log and
    the inverted file's id column, semi-joined against the broadcast
    incoming-id set).

    Scale shape: one broadcast centroid scoring pass over ONLY the new
    rows + one partitioned append (no touch of existing cell files);
    the PQ encode is the same narrow broadcast-codebook map."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    cells_dir = _gen_dir(base, "cells", gen)
    codes_dir = _gen_dir(base, "codes", gen)
    cents = spark.read.parquet(f"{base}/centroids")

    new_ids = new_vecs.select(F.col(id_col).alias("vec_id")).distinct()
    tombs = _load_tombstones(spark, base, tomb_gen, "vec_id")
    live_ids = (
        spark.read.parquet(cells_dir).select(F.col(id_col).alias("vec_id"))
        if assert_unique
        else None
    )

    scored = new_vecs.select(id_col, vec_col).crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("centroid_id"),
        F.round(cosine(F.col(vec_col), F.col("cv")), 6).alias("ccos"),
    )
    # materialize the batch assignment once (batch-sized, eager executor-
    # local checkpoint): it is written to the inverted file, PQ-encoded
    # for the codes append, AND aggregated into the returned receipt —
    # without the checkpoint the broadcast scoring pass runs three times
    # per append (the same discipline as search_index_append's postings/
    # doclens checkpoints).  The guard scan (store-proportional) and the
    # checkpoint (batch-proportional) are independent READ-ONLY jobs and
    # overlap; store writes start only after both finish and the guard
    # passes, so nothing is ever written for a rejected batch.
    hits, assigned = _run_concurrent(
        lambda: _id_guard(new_ids, tombs, live_ids, "vec_id"),
        lambda: _assign_cells(scored, id_col, vec_col).localCheckpoint(
            eager=True
        ),
    )
    if hits.get("dead"):
        raise ValueError(
            f"ann_index_append: {hits['dead']} incoming id(s) are "
            f"tombstoned — their dead rows still live in the inverted "
            f"file; run ann_index_compact to reclaim them, then re-insert"
        )
    if hits.get("live"):
        raise ValueError(
            f"ann_index_append: {hits['live']} incoming id(s) already "
            f"present in the index — duplicate ids double probe "
            f"candidates; pass assert_unique=False only with an external "
            f"uniqueness guarantee"
        )
    _layout(assigned, ["cell"], 1, id_col).write.mode("append").partitionBy(
        "cell"
    ).parquet(cells_dir)

    cb_rows = spark.read.parquet(f"{base}/codebook").collect()
    m = 1 + max(r["sub"] for r in cb_rows)
    k_codes = 1 + max(r["code"] for r in cb_rows)
    codebook = [[None] * k_codes for _ in range(m)]
    for r in cb_rows:
        codebook[r["sub"]][r["code"]] = list(r["vals"])
    dsub = len(codebook[0][0])
    # encode from the (checkpointed) ASSIGNED frame so the cell rides
    # along into the cell-partitioned codes layout with no re-join
    # against the assignment
    quant = _quantize_keep_cell(assigned, id_col, vec_col)
    _layout(
        _pq_encode_df(quant, codebook, dsub), ["cell"], 1, id_col
    ).write.mode("append").partitionBy("cell").parquet(codes_dir)

    return assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_appended"))


# ---------------------------------------------------------------------------
# Delete (tombstones)
# ---------------------------------------------------------------------------
def ann_index_delete(
    spark: SparkSession,
    index_dir: str,
    delete_ids: list[int],
    version: str = "v1",
) -> DataFrame:
    """Tombstone deletion — the fifth index verb: deletes never rewrite
    the inverted file in place (that would be a full compaction per
    delete batch); ids append to the CURRENT tombstone generation and
    every probe anti-joins it (the broadcast is tombstone-sized).
    Space is reclaimed by the NEXT `ann_index_compact`, whose fresh
    generation starts with an empty delete log — the LSM delete story.
    Only ids the log does not hold yet are appended, so a repeated
    delete adds nothing.  Returns the one-row (n_tombstones_added,
    n_tombstones_total) receipt."""
    base = _base(index_dir, version)
    _, tomb_gen, _ = _state(spark, base)
    fresh, total = _append_tombstones(
        spark, base, tomb_gen, "vec_id", delete_ids
    )
    return _local_rows(
        spark,
        "n_tombstones_added long, n_tombstones_total long",
        [(len(fresh), total)],
    )


# ---------------------------------------------------------------------------
# Compact
# ---------------------------------------------------------------------------
def ann_index_compact(
    spark: SparkSession,
    index_dir: str,
    version: str = "v1",
    files_per_cell: int = 1,
) -> DataFrame:
    """Compact the inverted file — the fourth index verb: after many
    appends each cell directory accumulates small files (one per
    append), and probe latency becomes file-open bound.  Rewrites every
    cell partition down to ``files_per_cell`` files with IDENTICAL live
    contents (probe results are pinned byte-identical by test), drops
    tombstoned rows, and COMMITS by appending one row to the ``_commits``
    manifest pointing readers at the new generation directories — never
    a rename: the swap is a single manifest append, so a crash at ANY
    point leaves probes on a complete generation (old before the
    commit, new after), on local disk and object stores alike.  The new
    generation has no tombstone directory, which IS the truncation of
    the delete log.  Superseded generation dirs are left for
    `ann_index_gc` (reader grace: a probe that resolved the manifest
    before the commit may still be scanning them).  Returns the
    per-cell (cell, n_vectors) manifest read back from the compacted
    store.

    Scale shape: one read + one partitioned write of the index (NOT
    the corpus — the index is the corpus's vectors, but compaction
    runs offline at a cadence, amortized like the build).  The
    tombstone log is loaded once and reused by both rewrites; the
    pre-commit readability gate is driver-side schema resolution, not
    a data scan."""
    base = _base(index_dir, version)
    gen, tomb_gen, seq = _state(spark, base)
    new_gen = gen + 1
    tombs = _load_tombstones(spark, base, tomb_gen, "vec_id")

    cells = _anti_tombstones(
        spark.read.parquet(_gen_dir(base, "cells", gen)), tombs, "vec_id"
    )
    codes = _anti_tombstones(
        spark.read.parquet(_gen_dir(base, "codes", gen)), tombs, "vec_id"
    )
    # the two rewrites are independent and land in the UNCOMMITTED new
    # generation (the manifest append below is the atomic flip, so
    # their relative order is crash-irrelevant) — submit them on
    # concurrent driver threads so the codes rewrite back-fills the
    # cells rewrite's task tail instead of idling behind it
    _run_concurrent(
        lambda: _layout(cells, ["cell"], files_per_cell, "vec_id")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(_gen_dir(base, "cells", new_gen)),
        lambda: _layout(codes, ["cell"], files_per_cell, "vec_id")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(_gen_dir(base, "codes", new_gen)),
    )

    # gate + commit; the superseded generation stays for probes that
    # resolved the old manifest (snapshot isolation, pinned by the
    # serve-during-compact test) until `ann_index_gc` reclaims it
    new_dirs = [_gen_dir(base, c, new_gen) for c in _COMPONENTS]
    _commit_generation(
        spark, base, seq, new_gen, tomb_gen, new_dirs, "ann_index_compact"
    )

    return (
        spark.read.parquet(_gen_dir(base, "cells", new_gen))
        .groupBy(F.col("cell").cast("int").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def ann_index_stats(
    spark: SparkSession, index_dir: str, version: str = "v1"
) -> DataFrame:
    """Index monitoring — the query an ops dashboard runs at a cadence:
    per cell, physical row count, live count, and tombstoned-but-
    unreclaimed count (the compaction-debt signal: when n_dead/n_rows
    crosses a threshold, schedule `ann_index_compact`).  Cell skew
    shows up directly as the n_rows spread (a hot cell bounds probe
    latency).  One pruned scan of the inverted file's (id, cell)
    columns + one broadcast tombstone join; never touches vectors."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    cells = spark.read.parquet(_gen_dir(base, "cells", gen)).select(
        "vec_id", F.col("cell").cast("int").alias("cell")
    )
    t = _load_tombstones(spark, base, tomb_gen, "vec_id")
    if t is None:
        dead = F.lit(0)
    else:
        # distinct ids: a repeated id in the log must not multiply rows
        cells = cells.join(
            F.broadcast(t.distinct().withColumn("_dead", F.lit(1))),
            "vec_id",
            "left",
        )
        dead = F.coalesce(F.col("_dead"), F.lit(0))
    return cells.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(dead).alias("n_dead"),
        (F.count(F.lit(1)) - F.sum(dead)).alias("n_live"),
    )


def ann_index_gc(
    spark: SparkSession, index_dir: str, version: str = "v1"
) -> list[str]:
    """Reclaim SUPERSEDED generation directories — the ones
    `ann_index_compact` leaves behind for reader grace, plus anything
    a crashed compact orphaned (readers never see either: the manifest
    is the single source of truth).  This is the DESTRUCTIVE half of
    the compact protocol: run it only after in-flight probes of the
    old generation have drained (a probe that resolved the manifest
    before the compact commit still scans the old directories).  Lists
    the version root through the Hadoop FS API, keeps exactly the
    directories the current manifest references, deletes every other
    cells/codes/tombstones generation.  Returns the removed names."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    keep = [_gen_dir(base, c, gen) for c in _COMPONENTS]
    return _gc_generations(spark, base, keep + [_tomb_dir(base, tomb_gen)])


def ann_index_maintain(
    spark: SparkSession,
    index_dir: str,
    version: str = "v1",
    max_dead_ratio: float = 0.2,
    max_files_per_cell: int = 4,
    files_per_cell: int = 1,
    run_gc: bool = True,
) -> DataFrame:
    """Auto-maintenance — the verb a scheduler calls at a cadence
    (round-13: the index twin of `snapshots.snapshot_maintain`), so
    operators never hand-pick compaction moments: derives the two
    compaction-debt signals from the store itself — the tombstone
    ratio (reclaimable rows per `ann_index_stats`' n_dead story) and
    the small-files count per cell directory (append leaves one file
    per batch per cell; probe latency goes file-open bound) — and runs
    `ann_index_compact` + `ann_index_gc` when either crosses its
    threshold.  Idempotent: the compacted generation has an empty
    delete log and ``files_per_cell`` files per cell, so an immediate
    second call no-ops.  Probe results are untouched by construction
    (compaction is pinned byte-identical).  Returns a one-row receipt
    (action, reason, and each signal as measured BEFORE the action).

    A fully-tombstoned index still raises from the compact (there is
    nothing to compact TO — that store needs a rebuild decision, not a
    cadence job); every other state makes progress.  Cost: one
    metadata-cheap count of the inverted file, one tombstone count,
    one driver-side file listing (bounded by the file count this verb
    itself keeps small), plus the compact when triggered.

    Reclaim contract: gc runs on EVERY call (even a no-op cadence — a
    crashed compact's orphaned generation is reclaimed the next tick),
    because the scheduled cadence IS the drain point: schedule
    maintain at an interval longer than your longest-running probe
    (the Delta VACUUM retention reasoning).  Deployments with probes
    that outlive the cadence pass ``run_gc=False`` and reclaim
    explicitly via `ann_index_gc` after a drain."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    cells_dir = _gen_dir(base, "cells", gen)
    n_rows = spark.read.parquet(cells_dir).count()
    tombs = _load_tombstones(spark, base, tomb_gen, "vec_id")
    n_dead = _count_tombstones(tombs)
    dead_ratio = n_dead / max(n_rows, 1)
    max_files = _max_files(spark, cells_dir, 1)

    reasons = []
    if dead_ratio > max_dead_ratio:
        reasons.append("dead_ratio")
    if max_files > max_files_per_cell:
        reasons.append("file_count")
    if reasons:
        ann_index_compact(spark, index_dir, version, files_per_cell).collect()
    n_gc = len(ann_index_gc(spark, index_dir, version)) if run_gc else 0
    return _local_rows(
        spark,
        "action string, reason string, n_rows long, n_dead long, "
        "dead_ratio double, max_files_per_cell int, n_gc_removed int",
        [
            (
                "compacted" if reasons else "noop",
                ",".join(reasons) or "none",
                n_rows,
                n_dead,
                round(dead_ratio, 6),
                max_files,
                n_gc,
            )
        ],
    )


# ---------------------------------------------------------------------------
# Probe (static pruning)
# ---------------------------------------------------------------------------
def ann_index_probe(
    spark: SparkSession,
    index_dir: str,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = 4,
    version: str = "v1",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe off the persisted index — NO rebuild: centroids and the
    inverted file are read as-is; only ``n_probe`` cell directories per
    query are scanned (static partition pruning via the collected probe
    cell list).  Result is byte-identical to ``similarity.ivf_topk`` on
    the same corpus/params."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    cells = spark.read.parquet(_gen_dir(base, "cells", gen))
    qdf = cells.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    return _probe_vectors_static(
        spark, base, gen, tomb_gen, qdf, k, n_probe, id_col, vec_col
    )


def _probe_cells_df(
    qdf: DataFrame, cents: DataFrame, n_probe: int
) -> DataFrame:
    """(query_id, qv, cell) — the n_probe nearest centroids per query,
    same rounding and tie-break as the build-side assignment."""
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("ccos"), F.asc("centroid_id")
    )
    return (
        qdf.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qv",
            "centroid_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("ccos"),
        )
        .withColumn("_rk", F.row_number().over(w_probe))
        .filter(F.col("_rk") <= n_probe)
        .select("query_id", "qv", F.col("centroid_id").cast("int").alias("cell"))
    )


def _rerank_topk(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", "rk")
    )


def _probe_vectors_static(
    spark: SparkSession,
    base: str,
    gen: int,
    tomb_gen: int,
    qdf: DataFrame,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared static-pruning probe body: manifest state is resolved by
    the CALLER (exactly once per verb), so the member-id wrapper does
    not pay a second resolution on top of the vector form's."""
    cents = spark.read.parquet(f"{base}/centroids")
    cells = spark.read.parquet(_gen_dir(base, "cells", gen))
    probes = _probe_cells_df(qdf, cents, n_probe)
    # cell-list routing metadata (≤ |queries| x n_probe values):
    # collected so the inverted-file read prunes partitions STATICALLY
    # (PartitionFilters in the scan, not a post-hoc filter) — the
    # query-router pattern.  Only the cell ids transit the driver; the
    # probe frame itself stays JVM-side and is broadcast as-is (a
    # re-parallelized driver copy would route every later action
    # through Python workers).
    probe_cells = sorted(
        int(r["cell"]) for r in probes.select("cell").distinct().collect()
    )
    tombs = _load_tombstones(spark, base, tomb_gen, "vec_id")
    pruned = _anti_tombstones(
        cells.filter(F.col("cell").isin(probe_cells)),
        tombs, id_col,
    )
    cand = (
        pruned
        .join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col(vec_col)), 4).alias("cos"),
        )
    )
    return _rerank_topk(cand, k)


def ann_index_probe_vectors(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    version: str = "v1",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe with CALLER-SUPPLIED query vectors — ``queries`` is
    (query_id, qv) — the serving-path form: query vectors arrive from
    outside (a request stream, a batch of fresh embeddings) and never
    need to live in the index.  `ann_index_probe` is the corpus-member
    convenience wrapper.  A query whose id matches a corpus vector is
    self-excluded, so member probes stay byte-identical to the fused
    form.  For very large offline query batches where the
    |Q| x n_probe routing collect should not transit the driver, use
    `ann_index_probe_vectors_dpp`."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    qdf = queries.select(F.col(queries.columns[0]).alias("query_id"),
                         F.col(queries.columns[1]).alias("qv"))
    return _probe_vectors_static(
        spark, base, gen, tomb_gen, qdf, k, n_probe, id_col, vec_col
    )


def ann_index_probe_vectors_filtered(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    allowed: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    version: str = "v1",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Filtered ANN probe with CALLER-SUPPLIED query vectors — the
    serving form of `ann_index_probe_filtered` (metadata predicate +
    vector search for fresh query embeddings that never lived in the
    index).  ``queries`` is (query_id, qv); semantics, rounding and
    tie-breaks match the member-id form exactly (pinned by test:
    member vectors passed externally give byte-identical results)."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    qdf = queries.select(F.col(queries.columns[0]).alias("query_id"),
                         F.col(queries.columns[1]).alias("qv"))
    return _probe_filtered_impl(
        spark, base, gen, tomb_gen, qdf, allowed, k, n_probe, id_col, vec_col
    )


def ann_index_probe_filtered(
    spark: SparkSession,
    index_dir: str,
    query_ids: list[int],
    allowed: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    version: str = "v1",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Filtered ANN probe — metadata predicate + vector search ("top-k
    among documents WHERE <predicate>"), the most common production
    retrieval shape.  `allowed` is a one-column (vec_id) DataFrame of
    ids passing the metadata predicate; candidates from the probed
    cells semi-join it BEFORE the cosine re-rank (post-filtering, the
    standard IVF approach: cells are probed by vector geometry alone,
    then the predicate prunes candidates — recall under very selective
    predicates is recovered by raising n_probe, exactly the FAISS
    IDSelector trade).  Same rounding/tie-break as the unfiltered
    probe, so results equal the unfiltered probe's rows restricted and
    re-ranked within the allowed set.

    Scale shape: the semi-join key set is predicate-sized; for
    selective predicates it broadcasts, otherwise it is a shuffle join
    on the already cell-pruned candidate slice (n_probe/|cells| of the
    corpus), never the full index."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    cells = spark.read.parquet(_gen_dir(base, "cells", gen))
    qdf = cells.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    return _probe_filtered_impl(
        spark, base, gen, tomb_gen, qdf, allowed, k, n_probe, id_col, vec_col
    )


def _probe_filtered_impl(
    spark: SparkSession,
    base: str,
    gen: int,
    tomb_gen: int,
    qdf: DataFrame,
    allowed: DataFrame,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    cents = spark.read.parquet(f"{base}/centroids")
    cells = spark.read.parquet(_gen_dir(base, "cells", gen))
    probes = _probe_cells_df(qdf, cents, n_probe)
    probe_cells = sorted(
        int(r["cell"]) for r in probes.select("cell").distinct().collect()
    )
    tombs = _load_tombstones(spark, base, tomb_gen, "vec_id")
    pruned = _anti_tombstones(
        cells.filter(F.col("cell").isin(probe_cells)),
        tombs, id_col,
    )
    allowed_ids = allowed.select(
        F.col(allowed.columns[0]).cast("long").alias(id_col)
    ).distinct()
    cand = (
        pruned.join(allowed_ids, id_col, "semi")
        .join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col(vec_col)), 4).alias("cos"),
        )
    )
    return _rerank_topk(cand, k)


# ---------------------------------------------------------------------------
# Probe (dynamic partition pruning)
# ---------------------------------------------------------------------------
def _probe_dpp_impl(
    spark: SparkSession,
    base: str,
    gen: int,
    tomb_gen: int,
    qdf: DataFrame,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared DPP probe body: the probe-cell set stays a DataFrame
    end-to-end; the broadcast join against the cell-partitioned
    inverted file lets Spark insert a DynamicPruningExpression on the
    ``cell`` partition column (fed by the reused broadcast of the
    probe side), so the scan touches only the probed cell directories
    with ZERO driver-side routing (no collect anywhere in the plan)."""
    cents = spark.read.parquet(f"{base}/centroids")
    cells = spark.read.parquet(_gen_dir(base, "cells", gen))
    probes = _probe_cells_df(qdf, cents, n_probe)
    tombs = _load_tombstones(spark, base, tomb_gen, "vec_id")
    live = _anti_tombstones(cells, tombs, id_col)
    cand = (
        live.join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col(vec_col)), 4).alias("cos"),
        )
    )
    return _rerank_topk(cand, k)


def ann_index_probe_dpp(
    spark: SparkSession,
    index_dir: str,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = 4,
    version: str = "v1",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe with the probe-cell set kept as a DATAFRAME end-to-end
    (DynamicPruningExpression on the ``cell`` partition column instead
    of a driver-collected cell list).  Byte-identical to
    `ann_index_probe` (pinned by test + sweep); the variant for very
    large offline query batches where even |Q| x n_probe routing rows
    should not transit the driver.  Member-id form; for caller-supplied
    query vectors use `ann_index_probe_vectors_dpp`."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    cells = spark.read.parquet(_gen_dir(base, "cells", gen))
    qdf = cells.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    return _probe_dpp_impl(
        spark, base, gen, tomb_gen, qdf, k, n_probe, id_col, vec_col
    )


def ann_index_probe_vectors_dpp(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    version: str = "v1",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """DPP probe with CALLER-SUPPLIED query vectors — the true serving
    case (fresh query embeddings that never lived in the index) with
    ZERO driver-side routing: ``queries`` is (query_id, qv) and stays
    distributed end-to-end; the inverted-file scan is pruned by a
    DynamicPruningExpression fed by the broadcast probe side, exactly
    as the member-id DPP form.  Byte-identical to
    `ann_index_probe_vectors` on the same queries (pinned by
    tests/test_ann_index.py, which also asserts the
    DynamicPruningExpression and the absence of collects)."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    qdf = queries.select(F.col(queries.columns[0]).alias("query_id"),
                         F.col(queries.columns[1]).alias("qv"))
    return _probe_dpp_impl(
        spark, base, gen, tomb_gen, qdf, k, n_probe, id_col, vec_col
    )


# ---------------------------------------------------------------------------
# Probe (PQ / ADC)
# ---------------------------------------------------------------------------
def ann_index_probe_pq(
    spark: SparkSession,
    index_dir: str,
    query_ids: list[int],
    topk: int = 5,
    version: str = "v1",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC probe off the persisted PQ codes + codebook — no re-encode.
    The per-query distance table is ONE Spark expression: quantized
    query subvectors x the broadcast codebook, exact decimal(30,12)
    zip_with/aggregate arithmetic over the round-tripped DECIMAL(9,6)
    entries — the same e12 BIGINTs as the fused
    ``similarity.pq_adc_topk`` (and as the driver-side Decimal loop
    this replaced; prec-50 vs 30,12 agree because every product is
    exactly scale-12).  Driver work is O(1): no |Q|-proportional
    Python loop, no collect of query vectors.  The codes table is
    cell-partitioned (round-13 layout), but this probe scans ALL of it
    on purpose — exhaustive ADC over the corpus IS its semantics (the
    brute-force twin); the cell-pruned form is `ann_index_probe_ivfpq`
    and friends."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    cells = spark.read.parquet(_gen_dir(base, "cells", gen))
    tombs = _load_tombstones(spark, base, tomb_gen, "vec_id")
    codes = _anti_tombstones(
        spark.read.parquet(_gen_dir(base, "codes", gen)), tombs, id_col
    )
    m = sum(1 for c in codes.columns if c.startswith("code"))

    qquant = _pq_quantize(
        cells.filter(F.col(id_col).isin(query_ids)), id_col, vec_col
    )
    # distance table as data: |Q| x m x k_codes rows, built by a
    # broadcast nested-loop of the (tiny) codebook against the (tiny)
    # quantized query set — all exact decimal, all JVM-side
    dtable = _adc_dtable(spark, base, qquant, id_col)

    encoded = codes.select(
        id_col,
        F.posexplode(F.array(*[F.col(f"code{s}") for s in range(m)])).alias(
            "sub", "code"
        ),
    )
    adc = (
        encoded.join(F.broadcast(dtable), ["sub", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("d_e12").alias("adc_e12"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_e12", "neighbor_id")
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
        .select("query_id", "neighbor_id", "adc_e12", "rk")
    )


def _adc_dtable(
    spark: SparkSession, base: str, queries_quant: DataFrame, id_col: str
) -> DataFrame:
    """Per-query ADC distance table as ONE Spark expression over the
    broadcast codebook: |Q| x m x k_codes rows of exact decimal(30,12)
    zip_with/aggregate arithmetic, the same e12 BIGINTs as the fused
    forms.  Driver work is O(1)."""
    cb = spark.read.parquet(f"{base}/codebook")
    return (
        queries_quant.crossJoin(F.broadcast(cb))
        .select(
            F.col(id_col).alias("query_id"),
            "sub",
            "code",
            F.expr(
                "CAST(aggregate("
                "  zip_with(slice(xd, sub * size(vals) + 1, size(vals)), vals,"
                "           (a, b) -> (a - b) * (a - b)),"
                "  CAST(0 AS DECIMAL(30,12)),"
                "  (acc, x) -> CAST(acc + x AS DECIMAL(30,12))"
                ") * 1000000000000 AS BIGINT)"
            ).alias("d_e12"),
        )
    )


def _probe_ivfpq_impl(
    spark: SparkSession,
    base: str,
    gen: int,
    tomb_gen: int,
    qdf: DataFrame,
    topk: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    dpp: bool,
) -> DataFrame:
    """Shared IVF-PQ probe body — the FAISS production serving shape:
    the IVF half bounds WHICH vectors are scored (live members of each
    query's ``n_probe`` nearest cells) and PQ asymmetric distance
    bounds HOW MUCH each costs (m code lookups off the persisted
    codes, no re-encode).  Because the codes share the inverted
    cell-partitioned layout (round-13), BOTH scans prune on disk:
    with ``dpp=False`` the collected probe-cell list lands as
    PartitionFilters on the cells AND codes scans; with ``dpp=True``
    the probe-cell set stays a DataFrame end-to-end and both scans are
    pruned by a DynamicPruningExpression fed from the broadcast probe
    side — zero driver-side routing, the serving path for external
    query batches.  Byte-identical across all four public forms and to
    the fused ``similarity.ivf_pq_topk`` (pinned by test): same
    decimal-quantized arithmetic, same e12 BIGINT distances, same
    tie-breaks."""
    cents = spark.read.parquet(f"{base}/centroids")
    cells = spark.read.parquet(_gen_dir(base, "cells", gen))
    codes = spark.read.parquet(_gen_dir(base, "codes", gen))
    probes = _probe_cells_df(qdf, cents, n_probe)
    tombs = _load_tombstones(spark, base, tomb_gen, "vec_id")
    if dpp:
        # both scans prune via DynamicPruningExpression: the cells scan
        # from the inner broadcast join below, the codes scan from this
        # broadcast semi-join on its partition column
        cells_slice = cells
        codes_slice = codes.join(
            F.broadcast(probes.select("cell").distinct()), "cell", "semi"
        )
    else:
        # cell-list routing metadata (≤ |queries| x n_probe values)
        # collected so BOTH partitioned scans prune statically
        probe_cells = sorted(
            int(r["cell"]) for r in probes.select("cell").distinct().collect()
        )
        cells_slice = cells.filter(F.col("cell").isin(probe_cells))
        codes_slice = codes.filter(F.col("cell").isin(probe_cells))
    cand = (
        _anti_tombstones(cells_slice.select(id_col, "cell"), tombs, id_col)
        .join(F.broadcast(probes.select("query_id", "cell")), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
    )

    m = sum(1 for c in codes.columns if c.startswith("code"))
    # quantize the SAME query frame the routing used (rename back to
    # the store's column names) — one query-lookup scan, not two
    qquant = _pq_quantize(
        qdf.select(
            F.col("query_id").alias(id_col), F.col("qv").alias(vec_col)
        ),
        id_col,
        vec_col,
    )
    dtable = _adc_dtable(spark, base, qquant, id_col)
    encoded = codes_slice.select(
        id_col,
        F.posexplode(F.array(*[F.col(f"code{s}") for s in range(m)])).alias(
            "sub", "code"
        ),
    )
    adc = (
        cand.join(encoded, id_col)
        .join(F.broadcast(dtable), ["query_id", "sub", "code"])
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("d_e12").alias("adc_e12"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_e12", "neighbor_id")
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
        .select("query_id", "neighbor_id", "adc_e12", "rk")
    )


def _member_qdf(
    cells: DataFrame, query_ids: list[int], id_col: str, vec_col: str
) -> DataFrame:
    """Member-id query frame: look the query vectors up in the
    inverted file itself (the convenience form; serving passes caller
    vectors)."""
    return cells.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )


def _caller_qdf(queries: DataFrame) -> DataFrame:
    """Caller-vector query frame: first column = query id, second =
    query vector (the convention every *_vectors probe shares)."""
    return queries.select(
        F.col(queries.columns[0]).alias("query_id"),
        F.col(queries.columns[1]).alias("qv"),
    )


def ann_index_probe_ivfpq(
    spark: SparkSession,
    index_dir: str,
    query_ids: list[int],
    topk: int = 5,
    n_probe: int = 4,
    version: str = "v1",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ composite probe off the persisted store, member-id form
    with static pruning — see `_probe_ivfpq_impl` for the shared plan.
    vs `ann_index_probe_pq`, which ADC-scores the WHOLE code table by
    design (the exhaustive-ADC twin): here both the candidate set AND
    the code I/O are bounded to the ~n_probe/n_centroids cell slice,
    pruned on disk (the round-12 layout gap — a full codes scan
    semi-bounded only by the join — is closed by the cell-partitioned
    codes layout).  The serving matrix: `_dpp` keeps routing off the
    driver, `_vectors` takes caller-supplied query embeddings,
    `_vectors_dpp` does both."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    qdf = _member_qdf(
        spark.read.parquet(_gen_dir(base, "cells", gen)),
        query_ids,
        id_col,
        vec_col,
    )
    return _probe_ivfpq_impl(
        spark, base, gen, tomb_gen, qdf, topk, n_probe, id_col, vec_col,
        dpp=False,
    )


def ann_index_probe_ivfpq_dpp(
    spark: SparkSession,
    index_dir: str,
    query_ids: list[int],
    topk: int = 5,
    n_probe: int = 4,
    version: str = "v1",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ probe, member-id form with DYNAMIC partition pruning:
    the probe-cell set stays a DataFrame end-to-end and both the
    inverted-file and codes scans carry a DynamicPruningExpression —
    zero driver-side routing (no collect anywhere in the plan).
    Byte-identical to `ann_index_probe_ivfpq` (pinned by test)."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    qdf = _member_qdf(
        spark.read.parquet(_gen_dir(base, "cells", gen)),
        query_ids,
        id_col,
        vec_col,
    )
    return _probe_ivfpq_impl(
        spark, base, gen, tomb_gen, qdf, topk, n_probe, id_col, vec_col,
        dpp=True,
    )


def ann_index_probe_ivfpq_vectors(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    topk: int = 5,
    n_probe: int = 4,
    version: str = "v1",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ probe with CALLER-SUPPLIED query vectors (``queries`` =
    (query_id, qv)) — the serving form: fresh query embeddings that
    never lived in the index.  Member vectors passed externally give
    byte-identical results to the member-id form (pinned by test)."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    return _probe_ivfpq_impl(
        spark, base, gen, tomb_gen, _caller_qdf(queries), topk, n_probe,
        id_col, vec_col, dpp=False,
    )


def ann_index_probe_ivfpq_vectors_dpp(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    topk: int = 5,
    n_probe: int = 4,
    version: str = "v1",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ probe, caller vectors + dynamic partition pruning — the
    full production serving shape: external query embeddings stay
    distributed end-to-end and BOTH store scans (inverted file, codes)
    prune via DynamicPruningExpression with zero driver routing.
    Byte-identical to every other IVF-PQ form on the same queries."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    return _probe_ivfpq_impl(
        spark, base, gen, tomb_gen, _caller_qdf(queries), topk, n_probe,
        id_col, vec_col, dpp=True,
    )
