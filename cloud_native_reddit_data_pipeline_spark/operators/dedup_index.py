"""Persistent MinHash-LSH dedup index: build once, probe at ingest.

The fused near-dup operators (`dedup.minhash_signatures` →
`dedup.lsh_candidate_pairs`) re-derive signatures for the WHOLE corpus
per run — correct for offline dedup sweeps, wrong shape for the
production ingest path, where a (comparatively tiny) batch of incoming
documents must be checked against a 100 TB corpus that was already
signed.  This module persists the signature + band artifacts once and
gives the ingest path index verbs, mirroring `ann_index.py`'s
lifecycle (same generation-manifest commit protocol, shared via
`storage/manifest.py` — see that module's docstring for the
object-store-safe commit story):

- `dedup_index_build`   — MinHash-sign the corpus, band the signatures,
  persist both as parquet under ``{index_dir}/{version}/``; the band
  table is partitioned by ``(band, pfx)`` (pfx = first hex char of the
  band key, 16 buckets/band) so probes prune on disk.  Returns the
  per-(band, pfx) manifest read back from the store.
- `dedup_index_probe`   — sign ONLY the incoming batch, join its band
  keys against the persisted band table (classic LSH candidate
  generation — never all-pairs), then estimate Jaccard from signature
  agreement using the persisted signatures (no raw text of the corpus
  is ever touched).  The partition-pruning routing set is bounded by
  ``bands × 16`` rows REGARDLESS of batch size — unlike vector-probe
  routing there is no |queries|-proportional driver state.
- `dedup_index_append`  — sign + band the new documents and append to
  the current generation (signatures are per-document, so
  build(A) + append(B) is byte-identical to build(A ∪ B) — no frozen
  global artifact to drift from, unlike IVF centroids).  Tombstoned
  ids fail fast (compact first — clearing the tombstone would
  resurrect the dead physical rows); live duplicate ids fail fast
  under ``assert_unique`` (both guards resolve in ONE Spark job).
  **Torn-append window**: the two halves (bands, then sigs) are two
  parquet appends with no joint commit point — a crash between them
  leaves the new documents visible to banding but without signature
  rows, so probes simply UNDER-REPORT them (the candidate rows drop at
  the inner signature join; no phantom or wrong pair can surface) and
  `dedup_index_fsck` flags the store (ids_match = false).  Bands are
  deliberately written FIRST (by build AND append — round 14): the
  reverse order would leave signed documents invisible to banding —
  the same under-report, but undetectable by the band-side join audit
  — and the resulting store-wide invariant (sigs ids ⊆ bands ids)
  lets the append's duplicate guard scan the band table alone.  The
  append guard counts band-side ids as live, so a blind re-run fails
  fast instead of doubling the band half; `dedup_index_compact` HEALS
  the store (its rewrite keeps only ids present in both halves), after
  which the append can be re-run cleanly.
- `dedup_index_delete`  — tombstone append (LSM delete); probes
  anti-join the (broadcast, tombstone-sized) delete log.
- `dedup_index_compact` — rewrite live rows into a fresh generation
  directory pair and COMMIT with one ``_commits`` manifest append
  (the fresh generation has no tombstone dir = log truncation);
  superseded generations wait for `dedup_index_gc`.  Crash-at-any-point
  leaves probes on a complete generation.
- `dedup_index_stats`   — ops monitoring: per-(band, pfx) physical /
  live row counts, distinct keys, and the max live bucket size (the
  hot-bucket skew monitor — a degenerate band key is the one thing
  that turns an LSH join quadratic).

Layout under ``{index_dir}/{version}/``::

    sigs/        (doc_id BIGINT, h0..h{n-1} BIGINT)     [sigs_gN]
    bands/       (doc_id BIGINT, key STRING)
                 partitioned by band INT, pfx STRING    [bands_gN]
    tombstones/  (doc_id BIGINT) — append-only delete log
    _meta/       (num_hashes INT, bands INT, shingle_n INT) — one row;
                 the index is self-describing, probe/append never
                 re-pass hyperparameters
    _commits/    (seq BIGINT, gen INT, tomb_gen INT) — generation
                 manifest (shared protocol, storage/manifest.py)

Scale shape: the build is the fused pipeline's signature half (explode
→ map-side-combined min() aggregates) plus one partitioned write laid
out at ``files_per_partition`` files per (band, pfx) directory (the
layout repartition keeps file count tracking the knob, not the write
task count).  A probe signs |batch| documents, prunes the band table
to at most ``bands × 16`` (band, pfx) directories on disk, hash-joins
on (band, key) inside them, and touches signature rows only for the
banded candidates — corpus cost is proportional to candidates, not
corpus.  At very large batch sizes pass ``prune=False`` and the same
plan degrades gracefully to the full shuffle hash join on (band, key),
which is the canonical offline shape.  Every verb resolves manifest
state once and loads the tombstone log once per call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import materialize_and_release
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
    read_parquet_pinned as _read_pinned,
    repartition_for_layout as _layout,
    reset_version_dir as _reset_version_dir,
    run_concurrent as _run_concurrent,
    store_base as _base,
    tomb_dir as _tomb_dir,
)
from .dedup import lsh_band_keys, minhash_signatures


# generation-addressed components (storage/manifest.gen_dir)
_COMPONENTS = ("sigs", "bands")

_META_DDL = "num_hashes int, bands int, shingle_n int"
_BANDS_DDL = "doc_id long, key string, band int, pfx string"


def _bands(spark: SparkSession, base: str, gen: int) -> DataFrame:
    return _read_component(spark, _gen_dir(base, "bands", gen), _BANDS_DDL)


def _sigs(spark: SparkSession, base: str, gen: int, num_hashes: int) -> DataFrame:
    """The signature table at its fixed width (``num_hashes`` from
    `_meta`; 0 reads the id column alone).  Band and sig reads run no
    footer-inference job."""
    cols = ["doc_id long"] + [f"h{i} long" for i in range(num_hashes)]
    return _read_component(spark, _gen_dir(base, "sigs", gen), ", ".join(cols))


def resolve_dedup_dirs(
    spark: SparkSession, index_dir: str, version: str = "v1"
) -> dict[str, str]:
    """Public resolver: the CURRENT committed directory per component
    (audits read through this, so they see exactly what probes see)."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    return {
        "sigs": _gen_dir(base, "sigs", gen),
        "bands": _gen_dir(base, "bands", gen),
        "tombstones": _tomb_dir(base, tomb_gen),
        "meta": f"{base}/_meta",
    }


def _meta(spark: SparkSession, base: str) -> tuple[int, int, int]:
    meta = _read_pinned(spark, f"{base}/_meta", _META_DDL)
    rows = [] if meta is None else meta.collect()
    if not rows:
        raise FileNotFoundError(f"dedup_index: no index at {base} (no _meta)")
    row = rows[0]
    return int(row["num_hashes"]), int(row["bands"]), int(row["shingle_n"])


def _banded(
    docs: DataFrame, id_col: str, text_col: str,
    num_hashes: int, bands: int, shingle_n: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(signatures, band rows+pfx, raw-persisted handle) for a document
    frame — the shared signing front-end of build / probe / append.
    The raw signature frame is PERSISTED so the explode→min-aggregate
    sign pass (the dominant cost) runs once even though both outputs
    derive from it; the caller unpersists the returned handle when its
    writes/joins are done (in a try/finally — a failed write must not
    leak the pin for the session lifetime)."""
    raw = minhash_signatures(
        docs, id_col, text_col, num_hashes=num_hashes, shingle_n=shingle_n
    ).persist()
    banded = lsh_band_keys(raw, id_col, num_hashes=num_hashes, bands=bands).select(
        F.col(id_col).alias("doc_id"),
        F.col("key"),
        F.col("band"),
        F.substring("key", 1, 1).alias("pfx"),
    )
    return raw.withColumnRenamed(id_col, "doc_id"), banded, raw


def _band_manifest(bands_df: DataFrame) -> DataFrame:
    return bands_df.groupBy(
        F.col("band").cast("int").alias("band"),
        F.col("pfx").cast("string").alias("pfx"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("key").alias("n_keys"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Build
# ---------------------------------------------------------------------------
def dedup_index_build(
    docs: DataFrame,
    index_dir: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    version: str = "v1",
    id_col: str = "doc_id",
    text_col: str = "text",
    files_per_partition: int = 1,
) -> DataFrame:
    """Sign + band the corpus and persist; returns the per-(band, pfx)
    manifest read BACK from the persisted band table (the gate proves
    what is on disk, not an in-flight frame)."""
    spark = docs.sparkSession
    base = _base(index_dir, version)
    # a (re)build owns the version dir: reset manifest + generations so
    # the fresh gen-0 store is what readers resolve (storage/manifest)
    _reset_version_dir(spark, base)

    _local_rows(
        spark, _META_DDL, [(num_hashes, bands, shingle_n)]
    ).coalesce(1).write.mode("overwrite").parquet(f"{base}/_meta")

    sigs, banded, raw = _banded(
        docs, id_col, text_col, num_hashes, bands, shingle_n
    )
    try:
        # bands FIRST (same order as append — round 14): every write
        # path then maintains bands ⊇ sigs on ids, which is what lets
        # the append guard check the band table ALONE (one store-wide
        # id-column scan per append instead of two).  The partitionBy
        # write IS the probe-pruning layout: one directory per (band,
        # first-hex-char-of-key) — 16 buckets per band, laid out at
        # files_per_partition files per directory; the sigs rows derive
        # from the sign pass CACHED by the bands write.
        _layout(banded, ["band", "pfx"], files_per_partition, "doc_id").write.mode(
            "overwrite"
        ).partitionBy("band", "pfx").parquet(_gen_dir(base, "bands", 0))
        sigs.write.mode("overwrite").parquet(_gen_dir(base, "sigs", 0))
    finally:
        raw.unpersist()
    return _band_manifest(_bands(spark, base, 0))


# ---------------------------------------------------------------------------
# Probe
# ---------------------------------------------------------------------------
def dedup_index_probe(
    spark: SparkSession,
    probe_docs: DataFrame,
    index_dir: str,
    min_agree: int = 0,
    version: str = "v1",
    id_col: str = "doc_id",
    text_col: str = "text",
    exclude_self: bool = True,
    prune: bool = True,
) -> DataFrame:
    """Near-dup check of an incoming batch against the persisted corpus
    index.  Returns ``(probe_id, index_id, n_agree, est_jaccard)`` —
    one row per LSH band collision pair with ≥ ``min_agree`` agreeing
    MinHash components; ``est_jaccard = n_agree / num_hashes`` is the
    classic unbiased signature estimate.  Tombstoned corpus ids never
    appear.  With ``prune`` (default) the band-table scan is pruned on
    disk to the probe batch's (band, pfx) set — a collect bounded by
    ``bands × 16`` rows regardless of batch size."""
    base = _base(index_dir, version)
    num_hashes, bands, shingle_n = _meta(spark, base)
    gen, tomb_gen, _ = _state(spark, base)

    psigs, pband, praw = _banded(
        probe_docs, id_col, text_col, num_hashes, bands, shingle_n
    )
    try:
        idx_bands = _bands(spark, base, gen)
        if prune:
            combos = pband.select("band", "pfx").distinct().collect()  # ≤ bands×16
            pred = None
            for r in combos:
                c = (F.col("band") == int(r["band"])) & (F.col("pfx") == r["pfx"])
                pred = c if pred is None else (pred | c)
            if pred is None:  # empty probe batch
                idx_bands = idx_bands.filter(F.lit(False))
            else:
                idx_bands = idx_bands.filter(pred)

        cand = (
            pband.alias("p")
            .join(
                idx_bands.alias("i"),
                (F.col("p.band") == F.col("i.band"))
                & (F.col("p.key") == F.col("i.key")),
            )
            .select(
                F.col("p.doc_id").alias("probe_id"),
                F.col("i.doc_id").alias("index_id"),
            )
        )
        if exclude_self:
            cand = cand.filter(F.col("probe_id") != F.col("index_id"))
        cand = cand.distinct()
        tombs = _load_tombstones(spark, base, tomb_gen, "doc_id")
        cand = _anti_tombstones(cand, tombs, "index_id")

        isigs = _sigs(spark, base, gen, num_hashes)
        agree = sum(
            F.when(F.col(f"p.h{i}") == F.col(f"i.h{i}"), 1).otherwise(0)
            for i in range(num_hashes)
        )
        out = (
            cand.join(psigs.alias("p"), F.col("probe_id") == F.col("p.doc_id"))
            .join(isigs.alias("i"), F.col("index_id") == F.col("i.doc_id"))
            .select(
                "probe_id",
                "index_id",
                agree.cast("int").alias("n_agree"),
                (agree.cast("double") / F.lit(float(num_hashes))).alias(
                    "est_jaccard"
                ),
            )
        )
        if min_agree > 0:
            out = out.filter(F.col("n_agree") >= min_agree)
        # eager executor-local checkpoint (NOT a driver collect): the
        # probe-side sign pipeline runs once, then its cache is released
        return materialize_and_release(out, praw)
    except BaseException:
        praw.unpersist()
        raise


# ---------------------------------------------------------------------------
# Append
# ---------------------------------------------------------------------------
def dedup_index_append(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    version: str = "v1",
    id_col: str = "doc_id",
    text_col: str = "text",
    assert_unique: bool = True,
) -> DataFrame:
    """Sign + band the NEW documents and append to the current
    generation.  Signatures are a pure per-document function, so
    build(A) + append(B) leaves the exact same store as build(A ∪ B) —
    pinned byte-identical by tests/test_dedup_index.py.  Returns the
    per-(band, pfx) appended-count manifest.

    Id discipline (same contract as ann_index_append): a tombstoned id
    fails fast — its dead rows still live in sigs/bands until the next
    compact, so clearing the tombstone would resurrect them next to
    the new rows; a live duplicate id fails fast under
    ``assert_unique``, which checks the BAND table only — sigs ids ⊆
    bands ids is a store invariant (bands are written FIRST by both
    build and append; compact keeps only ids present in both halves;
    fsck's ``ids_match`` pins it at rest), so the band-side check
    catches every duplicate INCLUDING the torn-append case (a torn
    append leaves the ids band-side), at one store-wide id-column scan
    instead of two.  Both guards resolve in ONE Spark job (distinct-doc
    counts over a union semi-join).

    Crash window: bands append first, sigs second — see the module
    docstring's torn-append note (a crash between the halves makes
    probes under-report the new docs only, and fsck flags it).  The
    heal path: `dedup_index_compact` drops the orphaned band half
    (its rewrite keeps only doc ids present in BOTH tables), after
    which the append can be re-run cleanly."""
    base = _base(index_dir, version)
    num_hashes, bands, shingle_n = _meta(spark, base)
    gen, tomb_gen, _ = _state(spark, base)

    new_ids = new_docs.select(F.col(id_col).alias("doc_id")).distinct()
    tombs = _load_tombstones(spark, base, tomb_gen, "doc_id")
    # band side ONLY: bands ⊇ sigs on ids at all times (bands are
    # written first by build and append; compact intersects), so a
    # sigs-side scan can never catch an id this one misses — one
    # store-wide id-column scan saved per append (round 14; the
    # invariant is pinned by tests and audited by fsck ids_match)
    live_ids = _bands(spark, base, gen) if assert_unique else None

    sigs, banded, raw = _banded(
        new_docs, id_col, text_col, num_hashes, bands, shingle_n
    )
    try:
        # the guard scan (store-proportional) and the sign-pass cache
        # warm (batch-proportional) are independent READ-ONLY jobs and
        # overlap; the store writes below start only after both finish
        # and the guard passes, so nothing is written for a rejected
        # batch (and the finally releases the pin on the raise path)
        hits, _ = _run_concurrent(
            lambda: _id_guard(new_ids, tombs, live_ids, "doc_id"), raw.count
        )
        if hits.get("dead"):
            raise ValueError(
                f"dedup_index_append: {hits['dead']} incoming id(s) are "
                f"tombstoned — their dead rows still live in the index; run "
                f"dedup_index_compact to reclaim them, then re-insert"
            )
        if hits.get("live"):
            raise ValueError(
                f"dedup_index_append: {hits['live']} incoming id(s) already "
                f"present in the index (in either store half — a torn "
                f"append counts) — duplicate ids double candidate rows; "
                f"run dedup_index_compact to heal a torn store, or pass "
                f"assert_unique=False only with an external uniqueness "
                f"guarantee"
            )
        # bands FIRST (see module docstring: a torn append then only
        # under-reports, and is band-side detectable by fsck)
        _layout(banded, ["band", "pfx"], 1, "doc_id").write.mode(
            "append"
        ).partitionBy("band", "pfx").parquet(_gen_dir(base, "bands", gen))
        sigs.write.mode("append").parquet(_gen_dir(base, "sigs", gen))
        manifest = _band_manifest(banded).localCheckpoint(eager=True)
    finally:
        raw.unpersist()
    return manifest


# ---------------------------------------------------------------------------
# Delete (tombstones)
# ---------------------------------------------------------------------------
def dedup_index_delete(
    spark: SparkSession,
    index_dir: str,
    delete_ids: list[int],
    version: str = "v1",
) -> DataFrame:
    """Tombstone deletion: ids the log does not hold yet append to the
    CURRENT tombstone generation (a repeated delete adds nothing);
    probes anti-join it; space is reclaimed by the next compact (LSM
    delete story).  Returns the one-row receipt."""
    base = _base(index_dir, version)
    _, tomb_gen, _ = _state(spark, base)
    fresh, total = _append_tombstones(
        spark, base, tomb_gen, "doc_id", delete_ids
    )
    return _local_rows(
        spark,
        "n_tombstones_added long, n_tombstones_total long",
        [(len(fresh), total)],
    )


# ---------------------------------------------------------------------------
# Compact
# ---------------------------------------------------------------------------
def dedup_index_compact(
    spark: SparkSession,
    index_dir: str,
    version: str = "v1",
    files_per_partition: int = 1,
) -> DataFrame:
    """Rewrite live rows into a fresh generation directory pair and
    COMMIT by appending one row to the ``_commits`` manifest (shared
    protocol, storage/manifest.py — never a rename, crash-safe on
    object stores; the fresh generation has no tombstone dir, which IS
    the delete-log truncation).  Superseded generations are left for
    `dedup_index_gc`.  Returns the per-(band, pfx) manifest read BACK from the compacted
    store (the receipt proves what is ON DISK — same gate discipline
    as build/append).

    The rewrite also HEALS a torn append: only doc ids present in BOTH
    live halves survive (an inner-consistency semi-join each way), so
    an orphaned band half from a crash between the append's two writes
    is dropped here — after which the interrupted append can be re-run
    cleanly (its guard counts band-side ids as live until then).  The
    tombstone log is loaded once and reused by both rewrites."""
    base = _base(index_dir, version)
    num_hashes, _, _ = _meta(spark, base)
    gen, tomb_gen, seq = _state(spark, base)
    new_gen = gen + 1
    tombs = _load_tombstones(spark, base, tomb_gen, "doc_id")

    bands = _bands(spark, base, gen)
    bands_live = _anti_tombstones(bands, tombs, "doc_id")
    sigs_live = _anti_tombstones(
        _sigs(spark, base, gen, num_hashes), tombs, "doc_id"
    )
    # torn-append heal: keep only ids covered by BOTH halves (co-keyed
    # semi-joins on doc_id — one extra shuffle each, amortized like the
    # rewrite itself; on a consistent store they are no-ops)
    bands_live = bands_live.join(
        sigs_live.select("doc_id").distinct(), "doc_id", "semi"
    )
    sigs_whole = sigs_live.join(
        bands.select("doc_id").distinct(), "doc_id", "semi"
    )
    # both rewrites land in the UNCOMMITTED new generation (the
    # manifest append below is the atomic flip — intra-generation write
    # order is crash-irrelevant), so they run on concurrent driver
    # threads and the wall is the slower leg, not the sum
    _run_concurrent(
        lambda: _layout(bands_live, ["band", "pfx"], files_per_partition, "doc_id")
        .write.mode("overwrite")
        .partitionBy("band", "pfx")
        .parquet(_gen_dir(base, "bands", new_gen)),
        lambda: sigs_whole.coalesce(files_per_partition)
        .write.mode("overwrite")
        .parquet(_gen_dir(base, "sigs", new_gen)),
    )

    # gate + commit; the superseded generation stays for probes that
    # resolved the old manifest (snapshot isolation) until
    # `dedup_index_gc` reclaims it
    new_dirs = [_gen_dir(base, c, new_gen) for c in _COMPONENTS]
    _commit_generation(
        spark, base, seq, new_gen, tomb_gen, new_dirs, "dedup_index_compact"
    )

    return _band_manifest(_bands(spark, base, new_gen))


def dedup_index_gc(
    spark: SparkSession, index_dir: str, version: str = "v1"
) -> list[str]:
    """Reclaim SUPERSEDED generation directories — the ones
    `dedup_index_compact` leaves behind for reader grace, plus anything
    a crashed compact orphaned (readers never see either, but they hold
    space).  Run it after in-flight probes drain.  Same contract as
    `ann_index_gc`:
    the manifest is the single source of truth, so nothing referenced
    can be collected.  Returns the removed names."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    keep = [_gen_dir(base, c, gen) for c in _COMPONENTS]
    return _gc_generations(spark, base, keep + [_tomb_dir(base, tomb_gen)])


def dedup_index_maintain(
    spark: SparkSession,
    index_dir: str,
    version: str = "v1",
    max_dead_ratio: float = 0.2,
    max_files_per_partition: int = 4,
    files_per_partition: int = 1,
    run_gc: bool = True,
) -> DataFrame:
    """Auto-maintenance — the scheduler verb (round-13: the dedup twin
    of `ann_index_maintain` / `snapshots.snapshot_maintain`): derives
    three compaction-debt signals from the store itself and runs
    `dedup_index_compact` + `dedup_index_gc` when any trips:

    - **torn append** (the documented bands-first crash window,
      module docstring): ids covered by only ONE store half — the
      check `dedup_index_fsck` runs as its ids_match audit, wired here
      to the HEAL it already documents (compact's rewrite keeps only
      ids present in both halves), so a crashed ingest self-repairs at
      the next cadence instead of waiting for an operator to connect
      fsck output to the compact verb by hand;
    - **tombstone ratio** over live documents;
    - **small files** per (band, pfx) directory (one per append batch).

    Idempotent: the compacted generation is whole (zero orphans), has
    an empty delete log and ``files_per_partition`` files per
    directory, so an immediate second call no-ops.  Returns a one-row
    receipt with each signal as measured BEFORE the action.  Cost: one
    two-sided coverage aggregate (orphans + doc count in a single
    job), one tombstone count, one driver-side file listing, plus the
    compact when triggered."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    sigs_ids = _sigs(spark, base, gen, 0)
    band_ids = _bands(spark, base, gen).select("doc_id")
    # orphan ids (torn-append detector) + distinct doc count in ONE job
    sides = sigs_ids.select(
        "doc_id", F.lit(1).alias("_s"), F.lit(0).alias("_b")
    ).unionByName(
        band_ids.select("doc_id", F.lit(0).alias("_s"), F.lit(1).alias("_b"))
    )
    cov = (
        sides.groupBy("doc_id")
        .agg(F.max("_s").alias("s"), F.max("_b").alias("b"))
        .agg(
            F.sum(
                F.when(F.col("s") + F.col("b") < 2, 1).otherwise(0)
            ).alias("orphans"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .first()
    )
    n_orphans, n_docs = int(cov["orphans"]), int(cov["n_docs"])
    tombs = _load_tombstones(spark, base, tomb_gen, "doc_id")
    n_dead = _count_tombstones(tombs)
    dead_ratio = n_dead / max(n_docs, 1)
    max_files = _max_files(spark, _gen_dir(base, "bands", gen), 2)

    reasons = []
    if n_orphans > 0:
        reasons.append("torn_append")
    if dead_ratio > max_dead_ratio:
        reasons.append("dead_ratio")
    if max_files > max_files_per_partition:
        reasons.append("file_count")
    if reasons:
        dedup_index_compact(
            spark, index_dir, version, files_per_partition
        ).collect()
    # reclaim contract (round 14, store-family): gc on EVERY cadence —
    # a crashed compact's orphans are reclaimed the next tick, and the
    # scheduled cadence is the reader-drain point (schedule maintain at
    # an interval longer than the longest probe; pass run_gc=False and
    # gc explicitly otherwise)
    n_gc = len(dedup_index_gc(spark, index_dir, version)) if run_gc else 0
    return _local_rows(
        spark,
        "action string, reason string, n_docs long, n_orphan_ids long, "
        "n_dead long, dead_ratio double, max_files_per_partition int, "
        "n_gc_removed int",
        [
            (
                "compacted" if reasons else "noop",
                ",".join(reasons) or "none",
                n_docs,
                n_orphans,
                n_dead,
                round(dead_ratio, 6),
                max_files,
                n_gc,
            )
        ],
    )


def dedup_index_fsck(
    spark: SparkSession, index_dir: str, version: str = "v1"
) -> DataFrame:
    """Integrity audit (fsck) — the persisted components must agree:
    the signature table and the band table cover the SAME document set
    (checked by real anti-joins in both directions — this is also the
    detector for a torn append, whose bands-first ordering leaves
    band-only documents), every document carries EXACTLY ``bands``
    band rows and ``bands`` distinct band ids, every band id is within
    [0, bands), and every pfx is the first hex char of its key.  All
    reads resolve through the generation manifest, so fsck audits
    exactly what probes see.  Returns one hard-gated row — a lost
    append half, a duplicated band row, or a corrupted partition value
    flips a boolean."""
    base = _base(index_dir, version)
    _, bands_n, _ = _meta(spark, base)
    gen, _, _ = _state(spark, base)
    sigs = _sigs(spark, base, gen, 0)
    bnd = _bands(spark, base, gen)

    n_sig_docs = sigs.distinct().count()
    bdocs = bnd.select("doc_id").distinct()
    only_one_side = (
        sigs.join(bdocs, "doc_id", "left_anti").count()
        + bdocs.join(sigs, "doc_id", "left_anti").count()
    )
    per_doc = bnd.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("band").alias("n_bands"),
    )
    rows_ok = (
        per_doc.filter(
            (F.col("n_rows") != bands_n) | (F.col("n_bands") != bands_n)
        ).count()
        == 0
    )
    band_range_ok = (
        bnd.filter(
            (F.col("band").cast("int") < 0)
            | (F.col("band").cast("int") >= bands_n)
        ).count()
        == 0
    )
    pfx_ok = (
        bnd.filter(F.col("pfx") != F.substring("key", 1, 1)).count() == 0
    )
    return _local_rows(
        spark,
        "n_docs long, ids_match boolean, rows_per_doc_ok boolean, "
        "band_range_ok boolean, pfx_ok boolean",
        [
            (
                n_sig_docs,
                bool(only_one_side == 0),
                bool(rows_ok),
                bool(band_range_ok),
                bool(pfx_ok),
            )
        ],
    )


def dedup_index_manifest(
    spark: SparkSession, index_dir: str, version: str = "v1"
) -> DataFrame:
    """Per-(band, pfx) manifest of the CURRENT committed band table,
    read back from disk through the generation resolver."""
    base = _base(index_dir, version)
    gen, _, _ = _state(spark, base)
    return _band_manifest(_bands(spark, base, gen))


# ---------------------------------------------------------------------------
# Stats
# ---------------------------------------------------------------------------
def dedup_index_stats(
    spark: SparkSession, index_dir: str, version: str = "v1"
) -> DataFrame:
    """Ops monitoring: per-(band, pfx) physical vs live row counts,
    live distinct keys, and the max LIVE bucket size — the hot-bucket
    skew monitor (one degenerate band key is the thing that turns an
    LSH self-join quadratic; production dedup services alert on it)."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    bands_df = _bands(spark, base, gen)
    tombs = _load_tombstones(spark, base, tomb_gen, "doc_id")
    live = _anti_tombstones(bands_df, tombs, "doc_id")

    phys = bands_df.groupBy("band", "pfx").agg(
        F.count(F.lit(1)).alias("n_rows_physical")
    )
    per_key = live.groupBy("band", "pfx", "key").agg(
        F.count(F.lit(1)).alias("n_in_bucket")
    )
    lv = per_key.groupBy("band", "pfx").agg(
        F.sum("n_in_bucket").alias("n_rows_live"),
        F.count(F.lit(1)).alias("n_keys_live"),
        F.max("n_in_bucket").alias("max_bucket_live"),
    )
    return (
        phys.join(lv, ["band", "pfx"], "left")
        .select(
            F.col("band").cast("int").alias("band"),
            F.col("pfx").cast("string").alias("pfx"),
            "n_rows_physical",
            F.coalesce("n_rows_live", F.lit(0)).alias("n_rows_live"),
            F.coalesce("n_keys_live", F.lit(0)).alias("n_keys_live"),
            F.coalesce("max_bucket_live", F.lit(0)).alias("max_bucket_live"),
        )
    )
