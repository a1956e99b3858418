"""Persistent ANN index: build once, probe many — the persisted form of
the fused `similarity.ivf_topk` / `pq_adc_topk` / `ivf_pq_topk`.

Production ANN never re-derives its index per query: centroids, the
inverted file and the PQ codebook are built ONCE and persisted, and a
probe touches only the cells it routes to.  Store verbs: `ann_index_build`,
`ann_index_append`, `ann_index_delete`, `ann_index_compact`,
`ann_index_gc`, `ann_index_maintain`, `ann_index_stats`, `resolve_dirs`.

Three probe verbs, each byte-identical to its fused reference (pinned
by tests/test_ann_index.py):

- `ann_index_probe` — IVF: centroid scoring, the probed cells of the
  inverted file, exact cosine re-rank (`similarity.ivf_topk`).  An
  ``allowed`` id frame makes it the filtered probe (metadata predicate
  + vector search).
- `ann_index_probe_ivfpq` — IVF-PQ: the same routing bounds the
  candidates, PQ asymmetric distances off the persisted codes score
  them (`similarity.ivf_pq_topk`).
- `ann_index_probe_pq` — exhaustive ADC over every live code
  (`similarity.pq_adc_topk`); no routing by design.

Each takes ``queries`` as a list of member ids or as a caller
(query_id, qv) frame of fresh embeddings.  The PQ distance table is one
exact decimal(30,12) Spark expression over the broadcast codebook, so
driver work is O(1) in the number of queries.

One routing: dynamic partition pruning.  The probe-cell set stays a
DataFrame; its broadcast join against the cell-partitioned inverted
file (and, for IVF-PQ, a broadcast semi-join against the codes) lets
Spark put a DynamicPruningExpression on the ``cell`` partition column,
so a probe opens ``n_probe x |queries|`` cell directories at most and
no routing list transits the driver.

Layout under ``{index_dir}/{version}/`` — the column names are fixed;
build and append take ``vec_id`` / ``embedding`` from their input::

    centroids/     (centroid_id BIGINT, cv ARRAY<FLOAT>)         ~KB
    cells/         (vec_id BIGINT, embedding ARRAY<FLOAT>)
                   partitioned by cell INT (the inverted file)
    codes/         (vec_id BIGINT, code0..code{m-1} INT)          4B/vec
                   partitioned by cell INT (the inverted layout)
    codebook/      (sub INT, code INT, vals ARRAY<DECIMAL(9,6)>)  ~KB
    tombstones/    (vec_id BIGINT)  — append-only delete log
    _commits/      (seq BIGINT, gen INT, tomb_gen INT) — generation
                   manifest; absent until the first compaction

Every component but ``codes`` is read with its fixed schema, so no
footer-inference job runs.  The codes width ``m`` is the codebook's,
which is only known after reading it, so that one read infers.

**Object-store-safe commits.**  The generation-manifest protocol and
its toolkit live in `storage/manifest.py` (shared with the search and
dedup indexes and the snapshot store, and unit-tested there).
Compaction writes a brand-new generation directory, commits with ONE
``_commits`` row append, and readers resolve max-seq — never a rename
on the read path, so a crash at any point leaves readers on a complete
generation, on local disk and object stores alike.  Single writer per
index version assumed.

Scale shape: the build is the fused form's first half (one broadcast
centroid scoring pass + one partitionBy write laid out as
``files_per_cell`` files per cell directory).  Every verb resolves
manifest state ONCE and loads the tombstone log ONCE per call; append's
two id guards run as ONE Spark job.

Float discipline: embeddings persist as ARRAY<FLOAT> (bit round-trip
through parquet), so probe-side cosines see the exact same doubles as
the fused form; the codebook persists at DECIMAL(9,6) (exact
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
    read_component as _read_component,
    repartition_for_layout as _layout,
    reset_version_dir as _reset_version_dir,
    run_concurrent as _run_concurrent,
    store_base as _base,
    tomb_dir as _tomb_dir,
)
from .clustering import _quantize as _pq_quantize
from .similarity import _pq_encode_df, _pq_seed_codebook


# generation-addressed components (storage/manifest.gen_dir)
_COMPONENTS = ("cells", "codes")

# fixed component schemas, read pinned (no footer-inference job)
_CENTROIDS_DDL = "centroid_id long, cv array<float>"
_CELLS_DDL = "vec_id long, embedding array<float>, cell int"
_CODEBOOK_DDL = "sub int, code int, vals array<decimal(9,6)>"


def _centroids(spark: SparkSession, base: str) -> DataFrame:
    return _read_component(spark, f"{base}/centroids", _CENTROIDS_DDL)


def _cells(spark: SparkSession, base: str, gen: int) -> DataFrame:
    return _read_component(spark, _gen_dir(base, "cells", gen), _CELLS_DDL)


def _codebook(spark: SparkSession, base: str) -> DataFrame:
    return _read_component(spark, f"{base}/codebook", _CODEBOOK_DDL)


def _codes(spark: SparkSession, base: str, gen: int) -> DataFrame:
    # the one inferred read: codes carry m code columns and m is the
    # codebook's, which only a job over the codebook reveals — no
    # cheaper than the one-task footer-inference job it would replace
    return spark.read.parquet(_gen_dir(base, "codes", gen))


def _vectors(df: DataFrame) -> DataFrame:
    """The store's two input columns at their persisted types."""
    return df.select(
        F.col("vec_id").cast("long"), F.col("embedding").cast("array<float>")
    )


def _assign_cells(scored: DataFrame) -> DataFrame:
    """Winner centroid per vector from the scored cross product —
    highest ccos, lowest centroid_id on ties (the exact
    similarity.ivf_topk assignment rule) — as a MAP-SIDE-COMBINABLE
    max_by aggregate instead of a window row_number: no per-partition
    sort, partial aggregation before the shuffle (at corpus scale the
    assignment pass combines n_centroids-to-1 on the map side; the
    window form shuffles and sorts every scored row)."""
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct(
                    F.col("embedding").alias("v"),
                    F.col("centroid_id").alias("c"),
                ),
                F.struct(
                    F.col("ccos").alias("s"),
                    (-F.col("centroid_id")).alias("nc"),
                ),
            ).alias("_w")
        )
        .select(
            "vec_id",
            F.col("_w.v").alias("embedding"),
            F.col("_w.c").cast("int").alias("cell"),
        )
    )


def _score_centroids(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Every (vector, centroid) pair with its 6-decimal cosine — the
    input of `_assign_cells`; ``cents`` is tiny and broadcast."""
    return vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "centroid_id",
        F.round(cosine(F.col("embedding"), F.col("cv")), 6).alias("ccos"),
    )


def _quantize_keep_cell(df: DataFrame) -> DataFrame:
    """`clustering._quantize` with the ``cell`` column riding along, so
    the PQ encode's output can be written straight into the
    cell-partitioned codes layout (one pass, no re-join against the
    assignment).  The quantized values are bit-identical to the plain
    form: the same float→DECIMAL(9,6) cast per element."""
    from .clustering import QUANT

    return df.select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.transform(F.col("embedding"), lambda v: v.cast(QUANT)).alias("xd"),
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
    files_per_cell: int = 1,
) -> DataFrame:
    """Build and persist the ANN index over ``emb``'s ``vec_id`` /
    ``embedding`` columns; returns the per-cell manifest
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
    emb = _vectors(fan_out(emb))

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
        emb.filter(F.col("vec_id") < n_centroids)
        .select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
        )
        .localCheckpoint(eager=True)
    )
    assigned = _assign_cells(_score_centroids(emb, cents))
    # the partitionBy write IS the inverted layout: one directory per
    # cell, so probes prune on disk; the layout repartition keeps it at
    # files_per_cell files per directory instead of one per write task.
    # Both writes land in the freshly reset version dir with no readers
    # until build returns, so they may overlap (no ordering contract).
    _run_concurrent(
        lambda: cents.coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{base}/centroids"),
        lambda: _layout(assigned, ["cell"], files_per_cell, "vec_id")
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
    quant = _quantize_keep_cell(_cells(spark, base, 0))
    codebook = _pq_seed_codebook(quant, "vec_id", m, k_codes)
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
        lambda: _local_rows(spark, _CODEBOOK_DDL, cb_rows)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{base}/codebook"),
        lambda: _layout(
            _pq_encode_df(quant, codebook, dsub),
            ["cell"],
            files_per_cell,
            "vec_id",
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{base}/codes"),
    )

    return (
        _cells(spark, base, 0)
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
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
    new_vecs = _vectors(new_vecs)

    new_ids = new_vecs.select("vec_id").distinct()
    tombs = _load_tombstones(spark, base, tomb_gen, "vec_id")
    live_ids = (
        _cells(spark, base, gen).select("vec_id") if assert_unique else None
    )
    scored = _score_centroids(new_vecs, _centroids(spark, base))
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
        lambda: _assign_cells(scored).localCheckpoint(eager=True),
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
    _layout(assigned, ["cell"], 1, "vec_id").write.mode("append").partitionBy(
        "cell"
    ).parquet(cells_dir)

    cb_rows = _codebook(spark, base).collect()
    m = 1 + max(r["sub"] for r in cb_rows)
    k_codes = 1 + max(r["code"] for r in cb_rows)
    codebook = [[None] * k_codes for _ in range(m)]
    for r in cb_rows:
        codebook[r["sub"]][r["code"]] = list(r["vals"])
    dsub = len(codebook[0][0])
    # encode from the (checkpointed) ASSIGNED frame so the cell rides
    # along into the cell-partitioned codes layout with no re-join
    # against the assignment
    quant = _quantize_keep_cell(assigned)
    _layout(
        _pq_encode_df(quant, codebook, dsub), ["cell"], 1, "vec_id"
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

    cells = _anti_tombstones(_cells(spark, base, gen), tombs, "vec_id")
    codes = _anti_tombstones(_codes(spark, base, gen), tombs, "vec_id")
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
        _cells(spark, base, new_gen)
        .groupBy("cell")
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
    cells = _cells(spark, base, gen).select("vec_id", "cell")
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
    n_rows = _cells(spark, base, gen).count()
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
# Probe
# ---------------------------------------------------------------------------
def _query_frame(cells: DataFrame, queries: list[int] | DataFrame) -> DataFrame:
    """(query_id, qv) for either query shape: a caller frame's first
    two columns as given, or a list of member ids looked up in the
    inverted file itself."""
    if isinstance(queries, DataFrame):
        return queries.select(
            F.col(queries.columns[0]).alias("query_id"),
            F.col(queries.columns[1]).alias("qv"),
        )
    return cells.filter(F.col("vec_id").isin(list(queries))).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
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


def _routed(
    spark: SparkSession,
    index_dir: str,
    version: str,
    queries: list[int] | DataFrame,
    n_probe: int,
) -> tuple[str, int, DataFrame, DataFrame, DataFrame]:
    """The routing half shared by the two IVF verbs: manifest state
    resolved once, the query frame, its probe cells, and the live
    (tombstone-filtered) inverted file.  Returns (base, gen, qdf,
    probes, live); the caller joins ``live`` to the BROADCAST probes on
    ``cell``, which is what lets Spark prune the scan dynamically."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    cells = _cells(spark, base, gen)
    qdf = _query_frame(cells, queries)
    probes = _probe_cells_df(qdf, _centroids(spark, base), n_probe)
    live = _anti_tombstones(
        cells, _load_tombstones(spark, base, tomb_gen, "vec_id"), "vec_id"
    )
    return base, gen, qdf, probes, live


def _rerank_topk(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", "rk")
    )


def ann_index_probe(
    spark: SparkSession,
    index_dir: str,
    queries: list[int] | DataFrame,
    k: int = 5,
    n_probe: int = 4,
    allowed: DataFrame | None = None,
    version: str = "v1",
) -> DataFrame:
    """IVF probe off the persisted index — NO rebuild: centroids score
    the queries, the inverted file is scanned only in each query's
    ``n_probe`` nearest cell directories, and the survivors are
    re-ranked by exact cosine.  ``queries`` is a list of member ids or
    a caller (query_id, qv) frame of fresh embeddings that never lived
    in the index; a query whose id matches a corpus vector is
    self-excluded, so member probes are byte-identical to the fused
    ``similarity.ivf_topk`` and member vectors passed as a frame give
    the member-id rows.

    ``allowed`` — a one-column frame of ids passing a metadata
    predicate — turns it into the filtered probe ("top-k among
    documents WHERE <predicate>", the common production retrieval
    shape): candidates of the probed cells semi-join it BEFORE the
    re-rank (IVF post-filtering: cells are chosen by geometry alone, so
    recall under very selective predicates is recovered by raising
    n_probe — the FAISS IDSelector trade).  Tombstoned ids never
    appear, allowed or not.

    Scale shape: the inverted-file scan is pruned by dynamic partition
    pruning — the probe-cell set stays a DataFrame, and its broadcast
    feeds a DynamicPruningExpression on the ``cell`` partition column —
    so the scan opens only the probed cell directories and no routing
    data transits the driver."""
    _, _, _, probes, live = _routed(spark, index_dir, version, queries, n_probe)
    if allowed is not None:
        live = live.join(
            allowed.select(
                F.col(allowed.columns[0]).cast("long").alias("vec_id")
            ).distinct(),
            "vec_id",
            "semi",
        )
    cand = (
        live.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("embedding")), 4).alias("cos"),
        )
    )
    return _rerank_topk(cand, k)


def ann_index_probe_ivfpq(
    spark: SparkSession,
    index_dir: str,
    queries: list[int] | DataFrame,
    topk: int = 5,
    n_probe: int = 4,
    version: str = "v1",
) -> DataFrame:
    """IVF-PQ probe — the FAISS production serving shape: the IVF half
    bounds WHICH vectors are scored (live members of each query's
    ``n_probe`` nearest cells) and PQ asymmetric distance bounds HOW
    MUCH each costs (m code lookups off the persisted codes, no
    re-encode).  ``queries`` follows `ann_index_probe`.  The codes
    share the inverted cell-partitioned layout, so BOTH scans prune on
    disk through a DynamicPruningExpression fed from the broadcast
    probe side.  Byte-identical to the fused ``similarity.ivf_pq_topk``:
    same decimal-quantized arithmetic, same e12 BIGINT distances, same
    tie-breaks."""
    base, gen, qdf, probes, live = _routed(
        spark, index_dir, version, queries, n_probe
    )
    cand = (
        live.select("vec_id", "cell")
        .join(F.broadcast(probes.select("query_id", "cell")), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    codes = _codes(spark, base, gen).join(
        F.broadcast(probes.select("cell").distinct()), "cell", "semi"
    )
    return _adc_topk(spark, base, qdf, codes, topk, cand)


def ann_index_probe_pq(
    spark: SparkSession,
    index_dir: str,
    queries: list[int] | DataFrame,
    topk: int = 5,
    version: str = "v1",
) -> DataFrame:
    """ADC probe off the persisted PQ codes + codebook — no re-encode;
    byte-identical to the fused ``similarity.pq_adc_topk``.  It scans
    ALL live codes on purpose: exhaustive ADC over the corpus IS its
    semantics (the brute-force twin of `ann_index_probe_ivfpq`).
    ``queries`` follows `ann_index_probe`."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    codes = _anti_tombstones(
        _codes(spark, base, gen),
        _load_tombstones(spark, base, tomb_gen, "vec_id"),
        "vec_id",
    )
    qdf = _query_frame(_cells(spark, base, gen), queries)
    return _adc_topk(spark, base, qdf, codes, topk)


def _adc_topk(
    spark: SparkSession,
    base: str,
    qdf: DataFrame,
    codes: DataFrame,
    topk: int,
    cand: DataFrame | None = None,
) -> DataFrame:
    """The ADC ranking of both PQ verbs: the per-query distance table
    joined to the exploded codes, summed per neighbour, ranked by
    (adc_e12, neighbor_id).  ``cand`` holds the (query_id, vec_id)
    pairs the IVF-PQ probe routed; without it every code row is scored
    against every query (self excluded)."""
    m = sum(1 for c in codes.columns if c.startswith("code"))
    dtable = _adc_dtable(spark, base, _pq_quantize(qdf, "query_id", "qv"))
    encoded = codes.select(
        "vec_id",
        F.posexplode(F.array(*[F.col(f"code{s}") for s in range(m)])).alias(
            "sub", "code"
        ),
    )
    if cand is None:
        scored = encoded.join(F.broadcast(dtable), ["sub", "code"]).filter(
            F.col("vec_id") != F.col("query_id")
        )
    else:
        scored = cand.join(encoded, "vec_id").join(
            F.broadcast(dtable), ["query_id", "sub", "code"]
        )
    adc = scored.groupBy("query_id", F.col("vec_id").alias("neighbor_id")).agg(
        F.sum("d_e12").alias("adc_e12")
    )
    w = Window.partitionBy("query_id").orderBy("adc_e12", "neighbor_id")
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
        .select("query_id", "neighbor_id", "adc_e12", "rk")
    )


def _adc_dtable(
    spark: SparkSession, base: str, queries_quant: DataFrame
) -> DataFrame:
    """Per-query ADC distance table as ONE Spark expression over the
    broadcast codebook: |Q| x m x k_codes rows of exact decimal(30,12)
    zip_with/aggregate arithmetic (every product is exactly scale-12),
    the same e12 BIGINTs as the fused forms.  Driver work is O(1)."""
    return (
        queries_quant.crossJoin(F.broadcast(_codebook(spark, base)))
        .select(
            "query_id",
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
