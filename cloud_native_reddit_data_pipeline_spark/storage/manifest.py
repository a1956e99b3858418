"""Generation-manifest commit protocol shared by the persistent stores.

Four stores persist mutable state as immutable parquet directory
generations with a single append-only ``_commits`` manifest as the
commit point: the BM25 search index (`operators/search_index.py`), the
ANN index (`operators/ann_index.py`), the MinHash-LSH dedup index
(`operators/dedup_index.py`), and the versioned snapshot store
(`streaming/snapshots.py`).  This module is the protocol they all
consume, pinned by its own unit tests (tests/test_storage_manifest.py),
not only transitively through the stores.

The three indexes also share one copy of the generation-store toolkit:
directory names (`gen_dir`, `tomb_dir`), fixed-schema component reads
(`read_parquet_pinned`, `read_component`), the LSM delete log
(`load_tombstones`, `anti_tombstones`, `append_tombstones`,
`count_tombstones`), the append id guard (`guard_hits`), the compact
commit (`commit_generation`) and reclamation (`gc_generations`,
`reset_version_dir`).  Each store keeps its layouts, its append write
order (doclens → postings, bands → sigs), maintain signals, fsck and
(search) the reader snapshot.  The snapshot store uses only the commit
row (``gen`` = base generation, ``tomb_gen`` = horizon) and its own GC.

The protocol (the Iceberg/Delta commit pattern, miniaturized):

- A writer prepares a COMPLETE new generation directory (never touching
  the directories readers currently resolve), then commits by appending
  ONE row ``(seq, gen, tomb_gen)`` to ``{base}/_commits``.
- Readers resolve the max-``seq`` row and look only at that
  generation's directories.  A crash before the append leaves readers
  on the old, fully-consistent generation; a crash after it leaves
  them on the new one.  No rename is ever on the read path, so the
  protocol works identically on local disk, HDFS, and S3-style object
  stores where rename is copy+delete.
- Superseded generations are garbage-collected best-effort through the
  Hadoop FileSystem API — correctness never depends on the GC.
- Single writer per store version assumed (one maintenance job owns a
  store), as in any LSM store — and a VIOLATED assumption is detected,
  not silently absorbed: the reader's max-seq resolution is
  deterministic on seq ties (highest ``gen`` wins, then ``tomb_gen``),
  and `append_commit` re-reads the manifest after its append — a
  writer whose row did not win its own seq raises
  `CommitConflictError`, so at most one of two racing maintenance jobs
  believes it committed (the optimistic-concurrency check Delta/Iceberg
  perform at their commit point; here detect-and-fail, no retry loop).

Existence checks go through the Hadoop FileSystem API (`fs_list`,
`read_parquet_pinned`) or by ATTEMPTING reads (`try_read_parquet`),
never by local-filesystem stats, so visibility is identical across
file://, hdfs:// and s3a:// schemes.
"""

from __future__ import annotations

import logging
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)


class CommitConflictError(ValueError):
    """Two writers raced a commit at the same seq and this writer LOST
    (its row is not the deterministic winner) — the store stays
    consistent on the other writer's generation; this writer's prepared
    generation is invisible and collectable by GC.  Subclasses
    ValueError so callers treating commit failures generically keep
    working."""


def store_base(index_dir: str, version: str) -> str:
    """Root directory of one store version: ``{index_dir}/{version}``."""
    return f"{index_dir}/{version}"


def try_read_parquet(spark: SparkSession, path: str) -> DataFrame | None:
    """Read parquet at `path` with its schema INFERRED, or None if it
    does not exist or holds no data files — resolved by ATTEMPTING the
    read (AnalysisException), never by a local filesystem stat, so
    visibility is identical on file://, hdfs:// and s3a:// store dirs.
    Schema resolution is forced: a driver-side file listing plus a
    footer read, which Spark runs as a one-task job (``parquet at
    <unknown>:0``, ~25-30 ms); no data pages are scanned.

    Only two kinds of caller remain: the snapshot store's ``log`` and
    ``base_g*`` reads, whose schema is the user's changelog schema, and
    `verify_readable`, where a file-less directory must read as None.
    Every store state with a fixed schema (manifests, _meta, tombstone
    logs, retention watermarks, index components) is read through
    `read_parquet_pinned`, which runs no job.  The ANN ``codes`` read
    infers too (its width is the codebook's), but never returns None,
    so it calls ``spark.read.parquet`` directly."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
        df.schema  # force plan resolution (the read itself is lazy)
        return df
    except AnalysisException:
        return None


def read_parquet_pinned(
    spark: SparkSession, path: str, schema_ddl: str
) -> DataFrame | None:
    """Read parquet at `path` with a FIXED schema, or None if the path
    does not exist — existence comes from the Hadoop FileSystem API (any
    scheme), so a missing path raises and logs nothing.  With the schema
    given, Spark lists the files on the driver and runs no footer-
    inference job; a directory with no data files reads as an empty
    frame (use `verify_readable` where that must count as unreadable).
    Partition columns of a ``partitionBy`` layout go in the DDL like any
    other column."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p):
        return None
    return spark.read.schema(schema_ddl).parquet(path)


def read_component(spark: SparkSession, path: str, schema_ddl: str) -> DataFrame:
    """`read_parquet_pinned` for a component every committed generation
    holds: a missing directory means there is no store at that path and
    raises FileNotFoundError."""
    df = read_parquet_pinned(spark, path, schema_ddl)
    if df is None:
        raise FileNotFoundError(f"no store component at {path}")
    return df


def fs_delete(spark: SparkSession, path: str) -> None:
    """Best-effort recursive delete through the Hadoop FileSystem API
    (works on any supported scheme).  GC only — correctness never
    depends on it."""
    try:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(p):
            fs.delete(p, True)
    except Exception:
        pass


def fs_list(spark: SparkSession, path: str) -> list[str]:
    """Child names of `path` through the Hadoop FileSystem API (any
    scheme); [] if the path does not exist."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def local_rows_df(spark: SparkSession, schema_ddl: str, rows: list) -> DataFrame:
    """Small driver-side row list as a JVM-NATIVE literal frame.

    ``spark.createDataFrame(rows, ...)`` parallelizes driver data
    through Python-pickled RDD partitions, so EVERY later action on the
    frame (and anything joined to it) round-trips Python workers —
    measured ~0.7 s of fixed overhead per tiny write on local[32].
    The store verbs emit many such frames (manifest commit rows,
    tombstone batches, receipts), where that overhead dominates the
    verb.  This builds the same rows as literal expressions
    (explode of an array of structs), which stay entirely JVM-side.

    Supports atomic and array-of-atomic columns; intended for frames
    bounded by O(1000) rows (routing/receipt/manifest scale — a plan
    with millions of literal nodes would stress analysis; big data
    belongs in real distributed frames, not literals)."""
    from pyspark.errors import PySparkException
    from pyspark.sql.types import ArrayType, _parse_datatype_string

    schema = _parse_datatype_string(schema_ddl)

    # the zero-row frame (a JVM Range scan — no Python RDD anywhere)
    # carries nullable fields: unioning the literal rows into it keeps
    # every field nullable, so files appended to one directory over
    # time never disagree on parquet requiredness (bare literals are
    # non-nullable)
    empty = spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )
    if not rows:
        return empty

    def _element_at_frame():
        # ONE array literal per COLUMN (a single Literal node each,
        # however many rows) indexed by a JVM range — literal-count in
        # the plan is O(columns), so analysis/codegen stays flat as
        # receipts/batches grow
        idx = (F.col("__lrd_i") + 1).cast("int")
        cols = []
        for j, f in enumerate(schema.fields):
            vals = [row[j] for row in rows]
            if all(v is None for v in vals):
                expr = F.lit(None).cast(f.dataType)
            else:
                expr = F.element_at(F.lit(vals), idx).cast(f.dataType)
            cols.append(expr.alias(f.name))
        return (
            spark.range(len(rows))
            .select(F.col("id").alias("__lrd_i"))
            .select(*cols)
        )

    def _struct_frame():
        # fallback for value shapes lit() can't infer (e.g. a mix of
        # None and arrays in one column): one struct per row
        def _cell(value, field):
            if value is None:
                expr = F.lit(None).cast(field.dataType)
            elif isinstance(field.dataType, ArrayType):
                arr = (
                    F.array(*[F.lit(x) for x in value])
                    if len(value)
                    else F.array()
                )
                expr = arr.cast(field.dataType)
            else:
                expr = F.lit(value).cast(field.dataType)
            return expr.alias(field.name)

        structs = [
            F.struct(*[_cell(v, f) for v, f in zip(row, schema.fields)])
            for row in rows
        ]
        return (
            spark.range(1)
            .select(F.explode(F.array(*structs)).alias("_r"))
            .select("_r.*")
        )

    try:
        lit_rows = _element_at_frame()
        lit_rows.schema  # force analysis so inference errors surface here
    except (PySparkException, TypeError, ValueError) as e:
        # only the EXPECTED failure class falls back to the O(rows)
        # per-row-struct plan: lit()/cast type-inference errors
        # (PySparkTypeError / AnalysisException are PySparkException
        # subclasses; plain TypeError/ValueError from python-side value
        # coercion).  Anything else (py4j faults, genuine bugs) raises —
        # a silent fallback here would mask them AND switch to a plan
        # with O(rows) literal nodes.
        _log.debug(
            "local_rows_df: element_at literal form failed (%s: %s); "
            "falling back to the per-row struct form",
            type(e).__name__,
            e,
        )
        lit_rows = _struct_frame()
    return empty.unionByName(lit_rows)


_COMMITS_DDL = "seq long, gen int, tomb_gen int"


def manifest_state(spark: SparkSession, base: str) -> tuple[int, int, int]:
    """(gen, tomb_gen, seq) of the current committed generation — the
    max-seq row of the ``_commits`` manifest, or (0, 0, -1) for a
    freshly-built store (no manifest yet, or only the file-less
    directory a crashed first commit leaves).  A missing manifest is
    found by a driver-side existence check (no Spark job, no
    exception); an existing one is read with its fixed schema in one
    tiny Spark job (the manifest is one row per commit).  Resolution is DETERMINISTIC even
    if two racing writers landed the same seq (a violated single-writer
    assumption): ties break to the highest ``gen``, then ``tomb_gen`` —
    never parquet file order — so every reader resolves the same
    winner; `append_commit`'s post-append check makes the losing
    writer raise."""
    commits = read_parquet_pinned(spark, f"{base}/_commits", _COMMITS_DDL)
    if commits is None:
        return 0, 0, -1
    rows = commits.orderBy(
        F.desc("seq"), F.desc("gen"), F.desc("tomb_gen")
    ).limit(1).collect()
    if not rows:
        return 0, 0, -1
    row = rows[0]
    return int(row["gen"]), int(row["tomb_gen"]), int(row["seq"])


def append_commit(
    spark: SparkSession, base: str, seq: int, gen: int, tomb_gen: int
) -> None:
    """THE commit point: one single-row parquet append to ``_commits``.
    Everything before this call is invisible to readers; everything
    after is durable.  Kept as a module-level seam so crash-mid-compact
    tests can fail it deliberately.

    Concurrent-writer detection: after the append, the manifest is
    re-read at THIS seq — if another writer's row is present and wins
    the deterministic tie-break (`manifest_state`'s
    (seq, gen, tomb_gen) ordering), this writer LOST the race and
    raises `CommitConflictError` (its generation is invisible to every
    reader and collectable by GC, so the store stays consistent; the
    caller must re-resolve state and redo its maintenance).  A
    duplicate row with identical coordinates (an idempotent retry of
    the same commit) is not a conflict."""
    local_rows_df(
        spark, _COMMITS_DDL, [(seq, gen, tomb_gen)]
    ).coalesce(1).write.mode("append").parquet(f"{base}/_commits")
    rivals = [
        (int(r["gen"]), int(r["tomb_gen"]))
        for r in spark.read.schema(_COMMITS_DDL)
        .parquet(f"{base}/_commits")
        .filter(F.col("seq") == seq)
        .select("gen", "tomb_gen")
        .distinct()
        .collect()
    ]
    if len(rivals) > 1 and max(rivals) != (gen, tomb_gen):
        raise CommitConflictError(
            f"append_commit: another writer committed seq {seq} with "
            f"coordinates {max(rivals)} and wins the deterministic "
            f"tie-break over this writer's ({gen}, {tomb_gen}) — the "
            f"single-writer assumption was violated; this commit is "
            f"invisible to readers (store stays consistent); re-resolve "
            f"manifest state and redo the maintenance"
        )


# Every generation-addressed index component (search, ANN, dedup).
# `gen_dir` accepts no other name, so GC and rebuild collect every
# component a store writes.  One-offs (centroids, codebook, _meta) are
# overwritten in place by a rebuild.
GENERATION_COMPONENTS = (
    "postings", "doclens", "terms", "stats",  # search index
    "cells", "codes",  # ANN index
    "sigs", "bands",  # dedup index
)
_GENERATIONS = (
    rf"^({'|'.join(GENERATION_COMPONENTS)})(_g\d+)?$|^tombstones(_t\d+)?$"
)
# a rebuild also clears the manifest; GC never does
_COLLECTABLE = _GENERATIONS + r"|^_commits$"


def gen_dir(base: str, name: str, gen: int) -> str:
    """Directory of component `name` in generation `gen`: the bare name
    for the build's generation 0, ``{name}_g{gen}`` for each compacted
    one."""
    if name not in GENERATION_COMPONENTS:
        raise ValueError(f"gen_dir: {name!r} is not in GENERATION_COMPONENTS")
    return f"{base}/{name}" + (f"_g{gen}" if gen else "")


def tomb_dir(base: str, tomb_gen: int) -> str:
    """Directory of the append-only delete log of tombstone generation
    `tomb_gen` (every compact starts a fresh, directory-less one)."""
    return f"{base}/tombstones" + (f"_t{tomb_gen}" if tomb_gen else "")


def load_tombstones(
    spark: SparkSession, base: str, tomb_gen: int, id_col: str
) -> DataFrame | None:
    """The delete log as a fixed-schema ``{id_col} long`` frame (no
    inference job), or None before the first delete of this tombstone
    generation.  Not deduplicated: count it with `count_tombstones`."""
    return read_parquet_pinned(spark, tomb_dir(base, tomb_gen), f"{id_col} long")


def anti_tombstones(
    df: DataFrame, tombs: DataFrame | None, id_col: str
) -> DataFrame:
    """Drop rows of `df` whose `id_col` is in the (pre-loaded,
    tombstone-sized, broadcast) delete log."""
    if tombs is None:
        return df
    return df.join(
        F.broadcast(tombs.toDF("_dead")), df[id_col] == F.col("_dead"), "left_anti"
    )


def count_tombstones(tombs: DataFrame | None) -> int:
    """Distinct ids in a loaded delete log (0 before the first
    delete) — a repeated id counts once."""
    if tombs is None:
        return 0
    return int(tombs.agg(F.countDistinct(tombs.columns[0])).first()[0])


def guard_hits(
    new_ids: DataFrame,
    tombs: DataFrame | None,
    live_ids: DataFrame | None,
    id_col: str,
) -> dict:
    """The append id guard: ``{"dead": n, "live": n}``, the DISTINCT
    incoming ids (`new_ids`, column `id_col`) that the delete log
    `tombs` or the live ids `live_ids` (None = unchecked) already hold;
    a zero count has no key.  One Spark job (a union semi-joined
    against the broadcast incoming ids), none with nothing to check."""
    conflicts = []
    if tombs is not None:
        conflicts.append(tombs.select(id_col, F.lit("dead").alias("_why")))
    if live_ids is not None:
        conflicts.append(live_ids.select(id_col, F.lit("live").alias("_why")))
    if not conflicts:
        return {}
    return {
        r["_why"]: r["n"]
        for r in reduce(DataFrame.unionByName, conflicts)
        .join(F.broadcast(new_ids), id_col, "semi")
        .groupBy("_why")
        .agg(F.countDistinct(id_col).alias("n"))
        .collect()
    }


def append_tombstones(
    spark: SparkSession, base: str, tomb_gen: int, id_col: str, ids
) -> tuple[list[tuple[int]], int]:
    """Append the requested `ids` the delete log does not hold yet (a
    repeated delete appends nothing).  Returns ``(fresh, total)``: the
    appended ids as one-tuples (for `local_rows_df`) and the log's
    distinct size after the append.  One pass over the log finds its
    distinct size and the requested ids it holds; fresh ids are
    disjoint from it, so the total needs no re-read."""
    req = sorted({int(i) for i in ids})
    existing = load_tombstones(spark, base, tomb_gen, id_col)
    n_existing, already = 0, set()
    if existing is not None:
        seen = existing.agg(
            F.countDistinct(id_col).alias("n"),
            F.collect_set(
                F.when(F.col(id_col).isin(req), F.col(id_col))
            ).alias("hit"),
        ).first()
        n_existing, already = int(seen["n"]), set(seen["hit"])
    fresh = [(i,) for i in req if i not in already]
    if fresh:
        local_rows_df(spark, f"{id_col} long", fresh).coalesce(1).write.mode(
            "append"
        ).parquet(tomb_dir(base, tomb_gen))
    return fresh, n_existing + len(fresh)


def commit_generation(
    spark: SparkSession, base: str, seq: int, new_gen: int, tomb_gen: int,
    dirs: list[str], verb: str,
) -> None:
    """Commit a compacted generation: gate on `verify_readable` over
    its `dirs`, then THE commit from the resolved (`seq`, `tomb_gen`)
    to (`new_gen`, ``tomb_gen + 1``) — the fresh tombstone generation
    has no directory, which IS the delete-log truncation.  A file-less
    directory (every row tombstoned) raises ValueError in `verb`'s name
    and leaves the store on its old generation."""
    unreadable = verify_readable(spark, *dirs)
    if unreadable:
        raise ValueError(
            f"{verb}: new generation at {unreadable} is empty or unreadable "
            f"(every row tombstoned?) — store left on the old generation; "
            f"rebuild instead of compacting to empty"
        )
    append_commit(spark, base, seq + 1, new_gen, tomb_gen + 1)


def _drop_matching(
    spark: SparkSession, base: str, pattern: str, keep_names=()
) -> list[str]:
    import re

    matcher = re.compile(pattern)
    keep = {k.rsplit("/", 1)[-1] for k in keep_names}
    removed = []
    for name in fs_list(spark, base):
        if name not in keep and matcher.match(name):
            fs_delete(spark, f"{base}/{name}")
            removed.append(name)
    return sorted(removed)


def gc_generations(spark: SparkSession, base: str, keep_names) -> list[str]:
    """Delete every generation and tombstone directory under `base`
    except `keep_names` (paths or bare names of the committed
    generation's directories); returns the removed names.  ``_commits``
    and one-off directories are never collected.  Run it only after
    readers of the old generation have drained."""
    return _drop_matching(spark, base, _GENERATIONS, keep_names)


def reset_version_dir(spark: SparkSession, base: str) -> None:
    """A (re)build OWNS its version directory: drop the generation
    manifest and every generation/tombstone directory first, so the
    fresh gen-0 artifacts are what readers resolve.  Without this, a
    rebuild over a previously-COMPACTED store writes gen-0 dirs while
    ``_commits`` still points readers at the old generation — the new
    build would be silently invisible (and collectable by GC).
    Rebuild-in-place is still not concurrent-safe with live probes;
    use a fresh ``version`` key for zero-downtime rebuilds."""
    _drop_matching(spark, base, _COLLECTABLE)


def repartition_for_layout(
    df: DataFrame,
    dir_cols: list[str],
    files_per_dir: int = 1,
    salt_col: str | None = None,
) -> DataFrame:
    """Shuffle `df` so a subsequent ``partitionBy(*dir_cols)`` write
    produces at most ``files_per_dir`` files per directory instead of
    one file per (write task x directory) — without this, a 32-task
    write into a 64-directory layout scatters up to 2048 small files,
    and every later read pays the footer-open storm.  With
    ``files_per_dir`` > 1 (write parallelism within hot directories on
    a large cluster), rows are additionally salted by a hash of
    ``salt_col`` so each directory still caps at that many files —
    the salt column is REQUIRED then (without it the repartition maps
    each directory to one task and the knob would silently do
    nothing).  Pure layout control: row content is untouched."""
    cols = [F.col(c) for c in dir_cols]
    if files_per_dir > 1:
        if salt_col is None:
            raise ValueError(
                "repartition_for_layout: files_per_dir > 1 requires a "
                "salt_col — without one each directory maps to a single "
                "task and the knob has no effect"
            )
        cols.append(F.pmod(F.xxhash64(F.col(salt_col)), F.lit(files_per_dir)))
    return df.repartition(*cols)


def max_files_per_leaf_dir(spark: SparkSession, path: str, levels: int) -> int:
    """Largest data-file count across the LEAF directories of a
    ``partitionBy`` layout ``levels`` deep (1 = ``cell=N/``, 2 =
    ``band=N/pfx=X/``) — the small-files signal auto-maintenance verbs
    compact on.  Driver-side Hadoop-FS listing: cost is O(files in the
    store), which is exactly the quantity maintenance keeps bounded
    (an unmaintained store pays the same listing storm on every scan's
    footer reads — this probe is never worse than one query).  Names
    starting with ``_`` or ``.`` (markers, checksums) are not data
    files.  Returns 0 for a missing path."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )

    def walk(p, depth: int) -> int:
        jp = jvm.org.apache.hadoop.fs.Path(p)
        if not fs.exists(jp):
            return 0
        kids = [
            (st.getPath().getName(), st.isDirectory())
            for st in fs.listStatus(jp)
        ]
        if depth == 0:
            return sum(
                1 for name, is_dir in kids
                if not is_dir and not name.startswith(("_", "."))
            )
        return max(
            (
                walk(f"{p}/{name}", depth - 1)
                for name, is_dir in kids
                if is_dir and "=" in name
            ),
            default=0,
        )

    return walk(path, levels)


def run_concurrent(*thunks):
    """Run independent Spark ACTIONS on concurrent driver threads and
    return their results in thunk order (first exception re-raised).

    Spark's scheduler runs several jobs at once within one application;
    actions are sequential only because driver code calls them
    sequentially — submitting independent jobs from a small pool lets
    the next job's tasks back-fill executors freed by the current job's
    tail (the tokenizer-fertility / multimodal-manifest tactic, now
    shared by the store verbs whose component writes are independent).

    ONLY for jobs with no ordering contract between them: a compact's
    component rewrites all land in an UNCOMMITTED new generation (the
    one-row manifest append is the atomic flip, so intra-generation
    write order is crash-irrelevant), and a build owns a freshly reset
    version dir with no readers until it returns.  Append verbs with a
    documented crash-ordering contract (doclens-before-postings,
    bands-before-sigs) must NOT use this."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


def verify_readable(spark: SparkSession, *paths: str) -> list[str]:
    """Pre-commit readability gate: the directories a new generation is
    about to commit must each resolve to a readable parquet dataset
    (a fully-tombstoned compaction writes FILE-LESS dirs — committing
    those would brick the store once the old generation is GC'd).
    Returns the unreadable paths (empty = safe to commit).  It keeps
    schema INFERENCE on purpose: a pinned-schema read of a file-less
    directory succeeds as an empty frame, which would pass the gate.
    Cost per path is a driver-side listing plus one footer-inference
    job (one task, ~25-30 ms); no data pages are scanned."""
    return [p for p in paths if try_read_parquet(spark, p) is None]
