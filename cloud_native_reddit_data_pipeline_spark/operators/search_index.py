"""Persistent incremental SEARCH index: build once, serve keyword
queries, ingest continuously.

The ranked-search operators (`textstats.ranked_keyword_search_bm25`
and friends) re-tokenize the WHOLE corpus per query — correct for
offline analytics, wrong shape for the serving path the reference
actually runs: Elasticsearch maintains an inverted index that
documents enter ONCE at ingest (`addReddit.py:63-64` writes each
harvested batch into the index; `redditProcessor.py:67-75` then
queries it without ever re-reading the corpus).  This module is that
behavior in engine terms, on the same generation-manifest commit
protocol and generation-store toolkit (directory names, delete log,
id guard, commit gate, GC) as the ANN and dedup indexes
(`storage/manifest.py` — see that module's docstring for the
object-store-safe commit story):

- `search_index_build`  — tokenize the corpus once and persist the
  classic index components: POSTINGS (term, doc_id, fld, tf, dl),
  partitioned on disk by a 16-way md5 term bucket so keyword queries
  prune directories, with the document length DENORMALIZED into every
  posting row (Lucene's norms design: the length normalization factor
  lives in the index next to tf, so scoring never re-reads a
  corpus-proportional doclens table at query time); DOCLENS
  (doc_id, dl, dl_t) for stats/fsck/delete bookkeeping (dl = 0 rows
  kept: empty docs count toward N/avgdl, exactly as the corpus-scan
  ranker counts them); TERMS, the distinct-term dictionary ES calls
  the term dictionary (fuzzy expansion runs over it, never over
  postings); and a STATS delta log holding (n_docs, sum_dl, sum_dl_t)
  so N and the per-field avgdl never require a corpus-wide scan at
  query time.
- `search_index_query`  — BM25 over the PERSISTED components, same
  math as `textstats._bm25_rank` (Lucene idf, k1/b saturation +
  length normalization, 4-decimal round, (score DESC, doc_id) top-k):
  the postings scan is pruned on disk to the keywords' term buckets
  (the bucket hash is md5-based so the query side computes it in
  pure Python — no routing job), df comes from the pruned slice,
  dl rides IN the posting rows (no doclens read anywhere on the
  serving path), and N/avgdl enter the plan as literals from the
  reader snapshot (below).  Query cost is proportional to the matched
  postings, never the corpus.
- `search_index_query_fielded` — per-field BOOSTED BM25 off the
  store: the reference's literal production query is ES `multi_match`
  over ``["title", "selftext"]`` (`redditProcessor.py:67-70`), i.e. a
  FIELDED query answered BY the index.  A store built with
  ``title_len > 0`` tags every posting with its field ('t'/'b', the
  positional title/body split `textstats.ranked_keyword_search_fielded`
  defines) and carries the FIELD-local dl, so each field scores as
  its own BM25 universe (field-local tf/df/dl/avgdl — the Lucene
  per-field statistics model) and the document score is the
  boost-weighted sum, rounded once — byte-identical to the
  corpus-scan fielded ranker over the live set.  Boosts are
  query-time parameters (the ES ``fields: ["title^2", "body"]``
  knob); the field SPLIT is index-time analysis.
- `search_index_query_fuzzy` — the ES ``fuzziness`` behavior served
  off the store: keywords expand against the persisted TERM
  DICTIONARY (levenshtein <= max_edits behind the same length-window
  prefilter as the scan form — a vocabulary-sized pass, never a
  corpus scan), then the expanded exact terms run the normal
  bucket-pruned postings lookup.  Ranked by (n_terms DESC, n_hits
  DESC, doc_id) exactly like `textstats.fuzzy_keyword_search`.
- `search_index_append` — tokenize ONLY the new batch and append the
  components (postings/doclens are per-document functions, the term
  dictionary is a set union, and the stats log is additive, so
  build(A) + append(B) is byte-identical to build(A ∪ B)).
  Tombstoned and live-duplicate ids fail fast — the live check reads
  the DOCLENS side only: postings ids ⊆ doclens ids is a store
  invariant (doclens are written FIRST in the append order and
  compact heals to doclens coverage), so a postings-side check can
  never catch an id the doclens check misses; fsck's
  ``postings_covered`` pins the invariant at rest.  **Torn-append
  window**: the component appends have no joint commit point.  Write
  order is doclens → postings → terms → stats, chosen so every
  prefix-crash is (a) invisible or under-reporting, never
  phantom-producing, and (b) detectable by `search_index_fsck`: a doc
  with dl > 0 but no postings can never be RETURNED (no posting
  rows), a missing dictionary entry only narrows fuzzy expansion and
  trips ``terms_covered``, and a stats/doclens mismatch is a direct
  sum comparison.  `search_index_compact` HEALS the store (drops torn
  doclens rows, rebuilds the dictionary exactly from surviving
  postings, rewrites the stats log exactly from the surviving
  doclens), after which the append can be re-run cleanly.
- `search_index_delete` — tombstone append (LSM delete); queries
  anti-join the (broadcast, tombstone-sized) log.  The verb also
  appends a NEGATIVE stats delta for the genuinely-new dead ids
  (their dl/dl_t looked up in one tombstone-sized semi-join), so
  N/avgdl keep tracking the LIVE corpus without any query-time
  doclens scan; already-tombstoned ids are dropped first so a
  repeated delete can never double-subtract.
- `search_index_compact` — rewrite live rows into a fresh generation
  (postings healed to doclens coverage, torn doclens rows dropped,
  term dictionary rebuilt exact, stats log collapsed to one exact
  row), verify readability, COMMIT with one ``_commits`` append.
  Superseded generations are NOT deleted inline: a reader that
  resolved the manifest just before the commit may still be scanning
  the old directories, so reclamation is deferred to the explicit
  `search_index_gc` verb (run it after in-flight readers drain — the
  snapshot-isolation contract: every concurrent query answers from
  entirely the pre- or entirely the post-compact generation, never a
  mix, because each query resolves ONE manifest state and reads only
  that generation's directories).
- `search_index_fsck` / `search_index_stats` /
  `search_index_maintain` — the audit, ops-monitoring, and
  self-driving maintenance verbs every store in this engine ships:
  maintain derives its signals (torn coverage, stats drift, dead
  ratio, small files per bucket directory, stats-log row growth)
  FROM the store and triggers compact + gc when any trips;
  idempotent, receipt-returning.

Layout under ``{index_dir}/{version}/``::

    postings/    (term STRING, doc_id BIGINT, fld STRING, tf BIGINT,
                 dl BIGINT[, pos ARRAY<INT>])
                 partitioned by tb INT (md5 16-bucket)   [postings_gN]
                 fld = '' on unfielded stores, 't'/'b' on fielded
                 ones; dl is the FIELD-universe document length
                 (norms-in-postings — raw dl when unfielded)
    doclens/     (doc_id BIGINT, dl BIGINT, dl_t BIGINT) [doclens_gN]
    terms/       (tb INT, term STRING) — distinct-term dictionary,
                 duplicates allowed across appends        [terms_gN]
    stats/       (n_docs BIGINT, sum_dl BIGINT, sum_dl_t BIGINT) —
                 additive delta log, one row per
                 build/append/delete                      [stats_gN]
    tombstones/  (doc_id BIGINT) — append-only delete log
    _meta/       (n_buckets INT, analyzer STRING, positions BOOLEAN,
                 title_len INT) — one row, self-describing
    _commits/    (seq BIGINT, gen INT, tomb_gen INT) — generation
                 manifest (shared protocol, storage/manifest.py)

Reader snapshot: the four query verbs resolve the store through ONE
process-wide cache keyed by store base (`_reader_snapshot`) — the
searcher an ES node keeps open between index commits.  It holds
_meta, the committed generation and N/avgdl, and every call validates
it against a token of the file names a driver-side Hadoop-FS listing
finds in ``_meta``, ``_commits`` and the current ``stats_gN`` (no
Spark job; a few ms per directory).  Every write that changes that
state adds or replaces a file there (build rewrites _meta, compact
appends a commit, append and delete append a stats delta), so the
cache needs no invalidation hook: a changed listing re-reads its
component, and an unchanged store costs no read at all.  Each listing
precedes its read, so a racing writer can only leave the token older
than the state it guards — the next call then refreshes — and a stale
state is never served.  The tombstone log is read afresh by every
query.  Consistency rule of a query: its files are listed and N/avgdl
fixed when the verb is CALLED, not when the returned frame is
collected.

Scale shape: the build is one tokenize pass (explode → map-side
combined tf counts) plus a layout-controlled partitioned write; a
query reads ≤ |keywords| bucket directories of the postings table and
the tombstone log — nothing else (dl is in the rows, N/avgdl are plan
literals); fuzzy expansion reads the vocabulary-sized dictionary,
never postings; appends cost the batch, never the corpus.  Every
component is read with its fixed schema, so no read runs a
footer-inference job.
"""

from __future__ import annotations

import hashlib
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..storage.manifest import (
    anti_tombstones as _anti_tombstones,
    append_tombstones as _append_tombstones,
    commit_generation as _commit_generation,
    count_tombstones as _count_tombstones,
    fs_delete as _fs_delete,
    fs_list as _fs_list,
    gc_generations as _gc_generations,
    gen_dir as _gen_dir,
    guard_hits as _id_guard,
    load_tombstones as _load_tombstones,
    local_rows_df as _local_rows,
    manifest_state as _state,
    max_files_per_leaf_dir as _max_files,
    read_parquet_pinned as _read_pinned,
    repartition_for_layout as _layout,
    reset_version_dir as _reset_version_dir,
    run_concurrent as _run_concurrent,
    store_base as _base,
    tomb_dir as _tomb_dir,
)

DEFAULT_BUCKETS = 16

# generation-addressed components (storage/manifest.gen_dir)
_COMPONENTS = ("postings", "doclens", "terms", "stats")

# fixed component schemas: every read pins them, so none runs a
# footer-inference job (postings: `_postings_ddl`)
_META_DDL = "n_buckets int, analyzer string, positions boolean, title_len int"
_DOCLENS_DDL = "doc_id long, dl long, dl_t long"
_STATS_DDL = "n_docs long, sum_dl long, sum_dl_t long"
_TERMS_DDL = "tb int, term string"


class DuplicateIdsError(ValueError):
    """Raised by `search_index_append` when incoming ids are already
    present in the store's DOCLENS side — a TYPED signal (the
    snapshot-store typed-exception discipline).  Doclens-only is
    sufficient: postings ids ⊆ doclens ids is a store invariant
    (doclens are written FIRST in the append order; compact heals
    postings to doclens coverage; fsck's ``postings_covered`` pins it
    at rest), so a torn append — which leaves ids on the doclens side
    only — still raises this error.  CAUTION for ingest loops: the
    error fires both for a genuinely already-applied batch AND for a
    TORN one, so a redelivery handler must NOT blindly swallow it —
    run `search_index_maintain` first (a no-op on a whole store, a
    healing compact on a torn one) and retry the append; only a
    second DuplicateIdsError then means already-applied.
    streaming_search_index in queries.py is the reference
    implementation of that handler."""


class TombstonedIdsError(ValueError):
    """Raised by `search_index_append` when incoming ids are
    tombstoned: their dead rows still live until the next compact, so
    clearing the tombstone would resurrect them — compact first."""


class FieldedStoreMismatchError(ValueError):
    """Raised when a query verb and the store's fielding disagree:
    `search_index_query` on a fielded store (its postings carry
    per-FIELD tf/dl — summing them under the whole-document BM25
    would silently score a different universe than the corpus-scan
    ranker), or `search_index_query_fielded` on an unfielded store
    (no field tags to score).  Rebuild with the matching
    ``title_len`` or use the matching query verb."""


def resolve_search_dirs(
    spark: SparkSession, index_dir: str, version: str = "v1"
) -> dict[str, str]:
    """Public resolver: the CURRENT committed directory per component
    (audits read through this, so they see exactly what queries see)."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    return {
        **{c: _gen_dir(base, c, gen) for c in _COMPONENTS},
        "tombstones": _tomb_dir(base, tomb_gen),
        "meta": f"{base}/_meta",
    }


def term_bucket_py(term: str, n_buckets: int) -> int:
    """The term→bucket hash in pure Python — MUST stay in lockstep with
    `_term_bucket_col` (md5-based precisely so the query path can route
    to bucket directories without a Spark job)."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def _term_bucket_col(term, n_buckets: int):
    c = F.col(term) if isinstance(term, str) else term
    return F.pmod(
        F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).cast("int")


def _read_component(spark: SparkSession, path: str, ddl: str) -> DataFrame:
    """A store component read with its fixed schema, or an EMPTY frame
    of that schema when the directory does not exist."""
    df = _read_pinned(spark, path, ddl)
    return df if df is not None else _local_rows(spark, ddl, [])


def _meta(spark: SparkSession, base: str) -> tuple[int, str, bool, int]:
    meta = _read_pinned(spark, f"{base}/_meta", _META_DDL)
    rows = [] if meta is None else meta.collect()
    if not rows:
        raise FileNotFoundError(f"search_index: no index at {base} (no _meta)")
    row = rows[0]
    return (
        int(row["n_buckets"]),
        str(row["analyzer"]),
        bool(row["positions"]),
        int(row["title_len"]),
    )


def _analyze(term_col_name: str, analyzer: str):
    """Apply the index's analyzer to the NAMED lowercased term column
    of the enclosing frame (the stemmed chain is portable SQL text, so
    it resolves by column name — the signature takes the name, not a
    Column, to make that contract explicit).  The ``stemmed`` analyzer
    is the shared portable Porter-lite SQL
    (textstats.porter_lite_stem_sql — ONE definition for the engine,
    the store, and every oracle), applied at INDEX time exactly like
    an ES analyzer chain: the stored term IS the analyzed form, and
    queries analyze their keywords the same way."""
    if analyzer == "exact":
        return F.col(term_col_name)
    if analyzer == "stemmed":
        from .textstats import porter_lite_stem_sql

        return F.expr(porter_lite_stem_sql(term_col_name))
    raise ValueError(f"search_index: unknown analyzer {analyzer!r}")


_KW_ANALYZE_CACHE: dict[tuple, tuple[str, ...]] = {}


def _analyzed_kws(spark: SparkSession, kws: list[str], analyzer: str) -> list[str]:
    """Run the index's analyzer chain over the query keywords — one
    tiny Spark expression over a |keywords|-row literal frame (the
    stem is shared SQL text, so there is no Python twin to drift
    from).  Identity (and job-free) for the exact analyzer.  The
    result is memoized per (analyzer, keyword-set) — the chain is a
    deterministic function of its inputs, so a serving loop that
    re-issues the same standing query (the streaming twin, best-of-N
    benches) pays the keyword-analyze job once per process, not per
    call (r13 verdict watch item).  Hard-capped at 256 entries (reset
    on overflow) — ad-hoc user-driven keyword sets must not accrete
    driver memory forever; the standing-query case the memo targets
    re-populates in one job."""
    if analyzer == "exact":
        return sorted(set(kws))
    key = (analyzer, tuple(sorted(set(kws))))
    hit = _KW_ANALYZE_CACHE.get(key)
    if hit is None:
        if len(_KW_ANALYZE_CACHE) >= 256:
            _KW_ANALYZE_CACHE.clear()
        kdf = _local_rows(spark, "term string", [(w,) for w in key[1]])
        hit = tuple(
            sorted(
                {
                    r["t"]
                    for r in kdf.select(
                        _analyze("term", analyzer).alias("t")
                    ).collect()
                }
            )
        )
        _KW_ANALYZE_CACHE[key] = hit
    return list(hit)


def _postings_ddl(positions: bool) -> str:
    base = "tb int, term string, doc_id long, fld string, tf long, dl long"
    return base + (", pos array<int>" if positions else "")


def _read_postings(
    spark: SparkSession, base: str, gen: int, positions: bool
) -> DataFrame:
    """The postings table with its fixed schema — a partitionBy write
    of zero rows produces no parquet files, and such a directory reads
    as an EMPTY frame, so an index built on an empty (or
    all-empty-text) corpus and then appended into continuously (the ES
    'create empty, ingest forever' lifecycle) serves without special
    cases."""
    return _read_component(
        spark, _gen_dir(base, "postings", gen), _postings_ddl(positions)
    )


def _read_terms(spark: SparkSession, base: str, gen: int) -> DataFrame:
    return _read_component(spark, _gen_dir(base, "terms", gen), _TERMS_DDL)


def _read_doclens(spark: SparkSession, base: str, gen: int) -> DataFrame:
    return _read_component(spark, _gen_dir(base, "doclens", gen), _DOCLENS_DDL)


def _read_stats(spark: SparkSession, base: str, gen: int) -> DataFrame:
    return _read_component(spark, _gen_dir(base, "stats", gen), _STATS_DDL)


def _tokenized(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
    analyzer: str = "exact",
    positions: bool = False,
    title_len: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """(postings, doclens) for a document frame — the shared tokenize
    front-end of build and append.  Postings carry the partition
    bucket AND the document length of their scoring universe (norms-
    in-postings: raw dl when ``title_len == 0``, the FIELD-local dl —
    title = first ``title_len`` tokens, body = the rest, the
    positional split `textstats.ranked_keyword_search_fielded`
    defines — when fielded); doclens keep dl = 0 rows (empty docs
    count toward N and avgdl, matching the corpus-scan ranker's
    statistics) plus dl_t, the title-field length the stats log and
    delete bookkeeping need.  With the ``stemmed`` analyzer two
    inflections of one stem merge into one posting (their tf adds),
    while dl stays the RAW token count — length normalization measures
    the document, not the analyzer.  With ``positions`` each posting
    also carries the sorted 1-based RAW-TOKEN positions of its
    occurrences (the ES convention: the analyzer rewrites the term,
    never the position), enabling phrase/proximity queries off the
    store.  NULL text is normalized to the empty document (dl = 0, no
    postings) — without the coalesce, size(tokens(NULL)) = -1 would
    poison sum_dl and make compact's coverage heal silently drop the
    row."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    exploded = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            tokens(txt).alias("_ts"),
        )
        .select(
            "doc_id",
            F.size("_ts").cast("long").alias("_rawdl"),
            F.posexplode("_ts").alias("_p0", "_t"),
        )
        .select(
            "doc_id",
            "_rawdl",
            (F.col("_p0") + 1).alias("pos"),
            F.lower(F.col("_t")).alias("term"),
        )
    )
    if title_len > 0:
        dl_t = F.least(F.lit(int(title_len)).cast("long"), F.col("_rawdl"))
        exploded = exploded.withColumn(
            "fld",
            F.when(F.col("pos") <= title_len, F.lit("t")).otherwise(F.lit("b")),
        ).withColumn(
            "dl",
            F.when(F.col("fld") == "t", dl_t).otherwise(F.col("_rawdl") - dl_t),
        )
    else:
        exploded = exploded.withColumn("fld", F.lit("")).withColumn(
            "dl", F.col("_rawdl")
        )
    terms = exploded.select(
        "doc_id", "fld", "dl", "pos", _analyze("term", analyzer).alias("term")
    )
    aggs = [F.count(F.lit(1)).alias("tf")]
    cols = ["tb", "term", "doc_id", "fld", "tf", "dl"]
    if positions:
        aggs.append(F.sort_array(F.collect_list("pos")).alias("pos"))
        cols.append("pos")
    # dl joins the grouping keys (it is functionally determined by
    # (doc_id, fld), so the groups are unchanged) — no first()/join
    # needed to carry the norm into the posting row
    postings = (
        terms.groupBy("doc_id", "fld", "dl", "term")
        .agg(*aggs)
        .select(_term_bucket_col("term", n_buckets).alias("tb"), *cols[1:])
    )
    rawdl = F.size(tokens(txt)).cast("long")
    doclens = docs.select(
        F.col(id_col).alias("doc_id"),
        rawdl.alias("dl"),
        (
            F.least(F.lit(int(title_len)).cast("long"), rawdl)
            if title_len > 0
            else F.lit(0).cast("long")
        ).alias("dl_t"),
    )
    return postings, doclens


def _bucket_manifest(postings: DataFrame) -> DataFrame:
    return postings.groupBy(F.col("tb").cast("int").alias("tb")).agg(
        F.count(F.lit(1)).alias("n_postings"),
        F.countDistinct("term").alias("n_terms"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


def _write_stats_delta(
    spark: SparkSession, sdir: str, n_docs: int, sum_dl: int, sum_dl_t: int
) -> None:
    _local_rows(
        spark,
        "n_docs long, sum_dl long, sum_dl_t long",
        [(int(n_docs), int(sum_dl), int(sum_dl_t))],
    ).coalesce(1).write.mode("append").parquet(sdir)


def _doclens_sums(lens: DataFrame):
    return lens.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("s"),
        F.sum("dl_t").alias("st"),
    ).first()


def _write_terms(terms_df: DataFrame, tdir: str, mode: str) -> None:
    terms_df.select("tb", "term").distinct().coalesce(1).write.mode(
        mode
    ).parquet(tdir)


# ---------------------------------------------------------------------------
# Build
# ---------------------------------------------------------------------------
def search_index_build(
    docs: DataFrame,
    index_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
    version: str = "v1",
    id_col: str = "doc_id",
    text_col: str = "text",
    files_per_partition: int = 1,
    analyzer: str = "exact",
    positions: bool = False,
    title_len: int = 0,
) -> DataFrame:
    """Tokenize the corpus once and persist postings (bucket-
    partitioned, norms-in-rows), doclens, the term dictionary, and the
    initial stats row; returns the per-bucket manifest read BACK from
    the persisted postings (the gate proves what is on disk, not an
    in-flight frame).  ``analyzer`` ("exact" or "stemmed"),
    ``positions``, and ``title_len`` (> 0 = fielded: postings carry
    't'/'b' field tags and field-local dl; see
    `search_index_query_fielded`) are stored in _meta — the index is
    self-describing, and append/query apply the same chain, split, and
    schema."""
    spark = docs.sparkSession
    _analyze("term", analyzer)  # fail fast on an unknown name
    base = _base(index_dir, version)
    _reset_version_dir(spark, base)

    _local_rows(
        spark,
        "n_buckets int, analyzer string, positions boolean, title_len int",
        [(n_buckets, analyzer, bool(positions), int(title_len))],
    ).coalesce(1).write.mode("overwrite").parquet(f"{base}/_meta")

    postings, doclens = _tokenized(
        docs, id_col, text_col, n_buckets, analyzer, positions, title_len
    )

    # two independent chains into the freshly reset version dir (no
    # reader resolves it until build returns, so inter-chain write
    # order carries no crash contract — unlike append, whose
    # doclens-FIRST ordering is load-bearing): [doclens → stats row]
    # and [postings → term dictionary].  The dictionary and stats row
    # still come from the PERSISTED components, so neither can disagree
    # with what readers resolve; the chains run on concurrent driver
    # threads so the corpus is tokenized by both at once and the wall
    # is the slower chain.
    def _lens_chain() -> None:
        doclens.coalesce(files_per_partition).write.mode("overwrite").parquet(
            _gen_dir(base, "doclens", 0)
        )
        dstats = _doclens_sums(_read_doclens(spark, base, 0))
        _write_stats_delta(
            spark,
            _gen_dir(base, "stats", 0),
            dstats["n"],
            int(dstats["s"] or 0),
            int(dstats["st"] or 0),
        )

    def _post_chain() -> None:
        _layout(postings, ["tb"], files_per_partition, "term").write.mode(
            "overwrite"
        ).partitionBy("tb").parquet(_gen_dir(base, "postings", 0))
        _write_terms(
            _read_postings(spark, base, 0, positions),
            _gen_dir(base, "terms", 0),
            "overwrite",
        )

    _run_concurrent(_lens_chain, _post_chain)
    return _bucket_manifest(_read_postings(spark, base, 0, positions))


# ---------------------------------------------------------------------------
# Query (BM25 serving)
# ---------------------------------------------------------------------------
# Reader snapshots by store base: (listing token, resolved state).
# Hard-capped (reset on overflow) like _KW_ANALYZE_CACHE — a process
# serving many stores re-resolves each in one refresh.  No lock: each
# entry is stored as one tuple, so racing threads can at worst evict
# or refresh an entry twice, never pair a token with another state.
_SNAPSHOT_CACHE_MAX = 256


class _Snapshot(NamedTuple):
    n_buckets: int
    analyzer: str
    positions: bool
    title_len: int
    gen: int
    tomb_gen: int
    n: int  # live documents (N)
    avgdl: float | None  # None on an empty store
    avgdl_t: float | None
    avgdl_b: float | None


_SNAPSHOTS: dict[str, tuple[tuple, _Snapshot]] = {}


def _listing(spark: SparkSession, path: str) -> tuple[str, ...]:
    return tuple(sorted(_fs_list(spark, path)))


def _reader_snapshot(spark: SparkSession, base: str) -> _Snapshot:
    """(n_buckets, analyzer, positions, title_len, gen, tomb_gen, N,
    avgdl, avgdl_t, avgdl_b) of the store at `base` — the one resolver
    every query verb calls (module docstring: reader snapshot).

    The token is the file names in ``_meta``, ``_commits`` and the
    committed generation's stats log.  Each of the three is listed,
    then re-read with its fixed schema only if its names changed since
    the cached snapshot (parquet part names are unique per write, so
    equal names mean equal contents); an unchanged store costs the
    listings and no Spark job.  Each listing precedes its read, so a
    racing writer can only leave the token older than the state stored
    with it.  The tombstone log is not part of the state: every query
    reads it afresh.

    N/avgdl come from the additive stats log: one tiny sum, never a
    corpus scan (the log holds one row per write since the last
    compact, and maintain bounds that).  The body avgdl is derivable
    because the positional field split partitions the raw tokens:
    dl_t + dl_b = dl exactly, so sum_dl_b = sum_dl - sum_dl_t.  An
    EMPTY store has N = 0 and NULL avgdls; its result set is empty, so
    no score divides by them."""
    meta_ls = _listing(spark, f"{base}/_meta")
    commits_ls = _listing(spark, f"{base}/_commits")
    token, snap = _SNAPSHOTS.get(base, ((None, None, None), None))
    meta = snap[:4] if token[0] == meta_ls else _meta(spark, base)
    if token[1] == commits_ls:
        gen, tomb_gen = snap.gen, snap.tomb_gen
    else:
        gen, tomb_gen, _ = _state(spark, base)
    stats_ls = _listing(spark, _gen_dir(base, "stats", gen))
    if (commits_ls, stats_ls) == token[1:]:
        stats = snap[6:]
    else:
        # one row per write since the last compact: summed on the
        # driver, one scan job and no shuffle
        rows = _read_stats(spark, base, gen).collect()
        n, sdl, sdlt = (
            sum(int(r[c] or 0) for r in rows)
            for c in ("n_docs", "sum_dl", "sum_dl_t")
        )
        stats = (n,) + tuple(
            float(t) / float(n) if n else None for t in (sdl, sdlt, sdl - sdlt)
        )
    new_token = (meta_ls, commits_ls, stats_ls)
    if new_token == token:
        return snap
    snap = _Snapshot(*meta, gen, tomb_gen, *stats)
    if len(_SNAPSHOTS) >= _SNAPSHOT_CACHE_MAX:
        _SNAPSHOTS.clear()
    _SNAPSHOTS[base] = (new_token, snap)
    return snap


def _live_postings(
    spark: SparkSession, base: str, snap: _Snapshot, kws: list[str]
) -> DataFrame:
    """The serving scan: postings pruned ON DISK to the keywords' term
    buckets (bucket hash recomputed in pure Python — zero routing
    jobs), then to the exact keyword set, minus tombstoned docs."""
    buckets = sorted({term_bucket_py(w, snap.n_buckets) for w in kws})
    post = _read_postings(spark, base, snap.gen, snap.positions).filter(
        F.col("tb").isin(buckets) & F.col("term").isin(kws)
    )
    return _anti_tombstones(
        post, _load_tombstones(spark, base, snap.tomb_gen, "doc_id"), "doc_id"
    )


def search_index_query(
    spark: SparkSession,
    index_dir: str,
    keywords: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    version: str = "v1",
) -> DataFrame:
    """BM25-ranked keyword query over the persisted index — same math,
    rounding, and tie-break as `textstats.ranked_keyword_search_bm25`,
    so a store holding corpus C answers byte-identically to the
    corpus-scan ranker run over C.  Returns (doc_id, n_hits, score)
    top-k.  The postings scan is pruned on disk to the keywords' term
    buckets; dl rides IN the posting rows (Lucene's norms design —
    fsck pins postings.dl == doclens.dl, so no component of the score
    ever reads the corpus-proportional doclens table); N/avgdl come
    from the reader snapshot as plan literals; tombstoned docs never
    appear and never contribute df."""
    base = _base(index_dir, version)
    snap = _reader_snapshot(spark, base)
    if snap.title_len > 0:
        raise FieldedStoreMismatchError(
            f"search_index_query: index at {index_dir} is FIELDED "
            f"(title_len={snap.title_len}) — its postings carry per-field "
            f"tf/dl; use search_index_query_fielded"
        )

    kws = _analyzed_kws(spark, [w.lower() for w in keywords], snap.analyzer)
    post = _live_postings(spark, base, snap, kws)
    dfreq = post.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    from .textstats import bm25_idf, bm25_tf_sat

    idf = bm25_idf(F.lit(snap.n).cast("long"), F.col("df"))
    tf_sat = bm25_tf_sat(
        F.col("tf"), F.col("dl"), F.lit(snap.avgdl).cast("double"), k1, b
    )
    return (
        post.join(F.broadcast(dfreq), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_hits"),
            F.round(F.sum(idf * tf_sat), 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.col("doc_id"))
        .limit(k)
    )


def search_index_query_fielded(
    spark: SparkSession,
    index_dir: str,
    keywords: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    title_boost: float = 2.0,
    body_boost: float = 1.0,
    version: str = "v1",
) -> DataFrame:
    """Per-field BOOSTED BM25 served off the store — the reference's
    literal production query (ES `multi_match` over title + selftext,
    `redditProcessor.py:67-70`, with the standard ``fields:
    ["title^2", "body"]`` boost knob) answered BY the index: same
    `most_fields` semantics, math (shared `bm25_idf`/`bm25_tf_sat`),
    rounding, and tie-break as
    `textstats.ranked_keyword_search_fielded`, so a fielded store
    holding corpus C answers byte-identically to the corpus-scan
    fielded ranker over C.  Each field is its own BM25 universe:
    field-local tf and dl ride in the tagged posting rows, field df
    aggregates over the pruned slice per (fld, term), and the
    per-field avgdl comes from the stats log (sum_dl_t and
    sum_dl - sum_dl_t over N, via the reader snapshot).  The document
    score is the boost-weighted sum of its field scores, rounded ONCE.
    Boosts are query-time parameters, exactly as in ES.  Scale shape
    identical to `search_index_query`: bucket-pruned postings scan,
    broadcast df, N/avgdl as literals, no doclens read."""
    base = _base(index_dir, version)
    snap = _reader_snapshot(spark, base)
    if snap.title_len <= 0:
        raise FieldedStoreMismatchError(
            f"search_index_query_fielded: index at {index_dir} is not "
            f"fielded — rebuild with title_len > 0 to tag postings with "
            f"their field"
        )

    kws = _analyzed_kws(spark, [w.lower() for w in keywords], snap.analyzer)
    post = _live_postings(spark, base, snap, kws)
    dfreq = post.groupBy("fld", "term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    from .textstats import bm25_idf, bm25_tf_sat

    avgdl = F.when(
        F.col("fld") == "t", F.lit(snap.avgdl_t).cast("double")
    ).otherwise(F.lit(snap.avgdl_b).cast("double"))
    boost = F.when(
        F.col("fld") == "t", F.lit(float(title_boost))
    ).otherwise(F.lit(float(body_boost)))
    idf = bm25_idf(F.lit(snap.n).cast("long"), F.col("df"))
    tf_sat = bm25_tf_sat(F.col("tf"), F.col("dl"), avgdl, k1, b)
    return (
        post.join(F.broadcast(dfreq), ["fld", "term"])
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_hits"),
            F.round(F.sum(boost * idf * tf_sat), 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.col("doc_id"))
        .limit(k)
    )


def search_index_query_fuzzy(
    spark: SparkSession,
    index_dir: str,
    keywords: list[str],
    max_edits: int = 1,
    k: int = 20,
    version: str = "v1",
) -> DataFrame:
    """Edit-distance fuzzy search served off the store — the ES
    ``fuzziness`` behavior (`redditProcessor.py:67-75`) the way ES
    actually serves it: the keywords expand against the persisted TERM
    DICTIONARY (levenshtein <= max_edits behind the same length-window
    prefilter as the corpus-scan `textstats.fuzzy_keyword_search` — a
    vocabulary-sized pass, never a postings or corpus scan), and the
    expanded EXACT terms then run the normal bucket-pruned postings
    lookup.  Returns (doc_id, n_terms, n_hits) ranked by
    (n_terms DESC, n_hits DESC, doc_id), byte-identical to the scan
    ranker over the live corpus on exact-analyzer stores.  (On a
    stemmed store the dictionary holds analyzed stems, so expansion
    matches typos of the STEMS — meaningful, but not the raw-token
    scan semantics; on a fielded store the per-field tf rows sum back
    to raw token hits, so results match the scan form.)

    Scale shape: the expansion is |vocabulary-in-length-window| ×
    |keywords| levenshtein evaluations over the tiny dictionary
    (broadcast keyword frame, no shuffle); the expanded term set is
    collected (bounded: terms within ``max_edits`` of the keywords)
    and routes the postings scan through the same pure-Python bucket
    pruning as every other query."""
    base = _base(index_dir, version)
    snap = _reader_snapshot(spark, base)

    kws = sorted({w.lower() for w in keywords})
    out_ddl = "doc_id long, n_terms long, n_hits long"
    if not kws:
        return spark.createDataFrame([], out_ddl)
    kwdf = _local_rows(
        spark, "kw string", [(w,) for w in kws]
    ).select("kw", F.length("kw").alias("_kl"))
    lo = max(min(len(w) for w in kws) - max_edits, 1)
    hi = max(len(w) for w in kws) + max_edits
    # expansion over the DICTIONARY: length-window prefilter first
    # (cuts most of the vocabulary before the O(len^2) distance), then
    # the per-keyword length window + levenshtein — the scan form's
    # exact matching rule
    pairs = (
        _read_terms(spark, base, snap.gen)
        .select("term")
        .distinct()
        .filter(F.length("term").between(lo, hi))
        .join(
            F.broadcast(kwdf),
            (F.abs(F.length("term") - F.col("_kl")) <= max_edits)
            & (F.levenshtein(F.col("term"), F.col("kw")) <= max_edits),
        )
        .select("term", "kw")
        .collect()
    )
    if not pairs:
        return spark.createDataFrame([], out_ddl)
    matched = sorted({r["term"] for r in pairs})
    post = _live_postings(spark, base, snap, matched)
    pair_df = _local_rows(
        spark,
        "term string, kw string",
        [(r["term"], r["kw"]) for r in pairs],
    )
    # a term matching several keywords joins once per keyword — the
    # scan form counts each (token, kw) pair, so sum(tf) over the
    # joined rows reproduces its n_hits exactly
    return (
        post.join(F.broadcast(pair_df), "term")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("kw").alias("n_terms"),
            F.sum("tf").alias("n_hits"),
        )
        .orderBy(F.desc("n_terms"), F.desc("n_hits"), F.col("doc_id"))
        .limit(k)
    )


class PositionsUnavailableError(ValueError):
    """Raised by `search_index_phrase_query` against a store built
    without ``positions=True`` — phrase/proximity verification needs
    the per-occurrence position lists; rebuild with positions."""


def search_index_phrase_query(
    spark: SparkSession,
    index_dir: str,
    phrase_terms: list[str],
    prox_window: int = 3,
    k: int = 20,
    version: str = "v1",
) -> DataFrame:
    """Positional phrase + proximity query over the persisted index —
    the ES `match_phrase` / `slop` serving path, answering
    byte-identically to `textstats.phrase_search` over the live corpus
    (the ranking body is SHARED: `phrase_rank_from_postings`).  The
    postings scan prunes on disk to the phrase terms' buckets, the
    position lists explode only for the matched terms' hit-sized
    slice, and the join chain never touches raw text.  Positions are
    RAW-token indexes, so the verb works unchanged on fielded stores
    (the field split never renumbers tokens; a posting split across
    't'/'b' rows contributes all its raw positions)."""
    base = _base(index_dir, version)
    snap = _reader_snapshot(spark, base)
    if not snap.positions:
        raise PositionsUnavailableError(
            f"search_index_phrase_query: index at {index_dir} was built "
            f"without positions=True — phrase verification needs the "
            f"per-occurrence position lists"
        )

    terms = [t.lower() for t in phrase_terms]
    if snap.analyzer != "exact":
        kdf = _local_rows(spark, "term string", [(w,) for w in terms])
        stem_of = {
            r["term"]: r["t"]
            for r in kdf.select(
                "term", _analyze("term", snap.analyzer).alias("t")
            ).collect()
        }
        terms = [stem_of[w] for w in terms]
    post = _live_postings(spark, base, snap, sorted(set(terms)))
    flat = post.select(
        "doc_id", F.explode("pos").alias("pos"), F.col("term").alias("_t")
    )
    from .textstats import phrase_rank_from_postings

    return phrase_rank_from_postings(
        flat, "doc_id", terms, prox_window=prox_window, top_n=k
    )


# ---------------------------------------------------------------------------
# Append
# ---------------------------------------------------------------------------
def search_index_append(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    version: str = "v1",
    id_col: str = "doc_id",
    text_col: str = "text",
    assert_unique: bool = True,
) -> DataFrame:
    """Tokenize ONLY the new documents and append the components.
    Postings/doclens are per-document functions, the term dictionary
    is a set union, and the stats log is additive, so build(A) +
    append(B) leaves the exact same serving state as build(A ∪ B) —
    pinned by tests.  Returns the per-bucket appended-count manifest.

    Id discipline (the store-family contract): a tombstoned id fails
    fast (its dead rows still live until the next compact — clearing
    the tombstone would resurrect them); a live duplicate id fails
    fast under ``assert_unique``, checking the DOCLENS side only —
    postings ids ⊆ doclens ids is a store invariant (doclens write
    FIRST below; compact heals postings to doclens coverage; fsck's
    ``postings_covered`` pins it at rest), so the doclens check
    catches every duplicate INCLUDING the torn-append case (a torn
    append leaves the ids on the doclens side).  Both guards resolve
    in one Spark job.

    Crash window: doclens → postings → terms → stats (module
    docstring) — any prefix-crash only under-reports the new docs and
    is flagged by `search_index_fsck`; `search_index_compact` heals,
    after which the append can be re-run cleanly."""
    base = _base(index_dir, version)
    n_buckets, analyzer, positions, title_len = _meta(spark, base)
    gen, tomb_gen, _ = _state(spark, base)

    new_ids = new_docs.select(F.col(id_col).alias("doc_id")).distinct()
    tombs = _load_tombstones(spark, base, tomb_gen, "doc_id")
    live_ids = _read_doclens(spark, base, gen) if assert_unique else None

    postings, doclens = _tokenized(
        new_docs, id_col, text_col, n_buckets, analyzer, positions, title_len
    )
    # The guard scan and the two batch materializations are independent
    # READ-ONLY jobs — overlap them (guide §2.6).  The crash contract
    # governs the STORE writes below, which start only after all three
    # finish and the guard passes (a guard exception propagates before
    # anything is written).
    #   - doclens: written, summed for the stats delta, and the source
    #     of truth for the append receipt
    #   - postings: written, feed the dictionary delta, AND aggregate
    #     into the returned receipt manifest — without the checkpoints
    #     the tokenize pipeline would run three times per append
    hits, doclens, postings = _run_concurrent(
        lambda: _id_guard(new_ids, tombs, live_ids, "doc_id"),
        lambda: doclens.localCheckpoint(eager=True),
        lambda: postings.localCheckpoint(eager=True),
    )
    if hits.get("dead"):
        raise TombstonedIdsError(
            f"search_index_append: {hits['dead']} incoming id(s) are "
            f"tombstoned — their dead rows still live in the index; run "
            f"search_index_compact to reclaim them, then re-insert"
        )
    if hits.get("live"):
        raise DuplicateIdsError(
            f"search_index_append: {hits['live']} incoming id(s) already "
            f"present in the index's doclens (a torn append counts — its "
            f"ids land in doclens first) — duplicate ids double-count "
            f"stats; run search_index_compact to heal a torn store, or "
            f"pass assert_unique=False only with an external uniqueness "
            f"guarantee"
        )

    # doclens FIRST, postings second, terms third, stats last (module
    # docstring: every prefix-crash under-reports only; fsck flags it)
    doclens.coalesce(1).write.mode("append").parquet(
        _gen_dir(base, "doclens", gen)
    )
    _layout(postings, ["tb"], 1, "term").write.mode("append").partitionBy(
        "tb"
    ).parquet(_gen_dir(base, "postings", gen))
    # batch-distinct dictionary delta: duplicates against the existing
    # dictionary are allowed (readers distinct()), compact dedups
    _write_terms(postings, _gen_dir(base, "terms", gen), "append")
    dstats = _doclens_sums(doclens)
    _write_stats_delta(
        spark,
        _gen_dir(base, "stats", gen),
        dstats["n"],
        int(dstats["s"] or 0),
        int(dstats["st"] or 0),
    )
    return _bucket_manifest(postings).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Delete (tombstones + negative stats delta)
# ---------------------------------------------------------------------------
def search_index_delete(
    spark: SparkSession,
    index_dir: str,
    delete_ids: list[int],
    version: str = "v1",
) -> DataFrame:
    """Tombstone deletion: genuinely-new dead ids append to the CURRENT
    tombstone generation AND subtract their (count, dl, dl_t) from the
    stats log, so N/avgdl (and the per-field avgdl on fielded stores)
    keep tracking the live corpus with zero query-time scans.
    Already-tombstoned ids are dropped first — a repeated delete can
    never double-subtract.  Ids never indexed contribute nothing.  The
    term dictionary is deliberately NOT shrunk (an over-approximate
    dictionary only widens fuzzy expansion to terms whose postings are
    all tombstoned — those produce zero live rows; compact rebuilds it
    exact).  Returns the one-row receipt."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    # only ids the log does not hold yet are appended (bounded by the
    # request, reused below as literal rows)
    fresh, total = _append_tombstones(
        spark, base, tomb_gen, "doc_id", delete_ids
    )
    n_new = 0
    if fresh:
        # dl/dl_t lookup for the genuinely-new dead ids (tombstone-sized
        # broadcast semi-join against doclens)
        dead = _doclens_sums(
            _read_doclens(spark, base, gen).join(
                F.broadcast(_local_rows(spark, "doc_id long", fresh)),
                "doc_id",
                "semi",
            )
        )
        n_new = int(dead["n"])
        if n_new:
            _write_stats_delta(
                spark,
                _gen_dir(base, "stats", gen),
                -n_new,
                -int(dead["s"] or 0),
                -int(dead["st"] or 0),
            )
    return _local_rows(
        spark,
        "n_tombstones_added long, n_tombstones_total long, "
        "n_live_docs_removed long",
        [(len(fresh), total, n_new)],
    )


# ---------------------------------------------------------------------------
# Compact
# ---------------------------------------------------------------------------
def search_index_compact(
    spark: SparkSession,
    index_dir: str,
    version: str = "v1",
    files_per_partition: int = 1,
) -> DataFrame:
    """Rewrite live rows into a fresh generation (shared protocol —
    never a rename; the fresh generation has no tombstone dir =
    delete-log truncation).  The rewrite HEALS a torn append: doclens
    rows with dl > 0 but no posting coverage are dropped (the torn
    document is lost and its append can be re-run — same discipline as
    the dedup index), postings without doclens coverage are dropped,
    the term dictionary is rebuilt EXACTLY from the surviving
    postings, and the stats log is rewritten as ONE exact row from the
    surviving doclens.  The new generation is verified readable BEFORE
    the one ``_commits`` manifest append.

    Superseded generations are NOT deleted here: a reader that
    resolved the manifest just before the commit may still be scanning
    them (each query reads entirely one committed generation, so
    concurrent answers are always pre- OR post-compact state, never a
    mix — pinned by the serve-during-compact test).  Run
    `search_index_gc` (or let `search_index_maintain` do it) after
    in-flight readers drain to reclaim the directories.  Returns the
    per-bucket manifest read BACK from the compacted store."""
    base = _base(index_dir, version)
    _, _, positions, _title_len = _meta(spark, base)
    gen, tomb_gen, seq = _state(spark, base)
    new_gen = gen + 1
    tombs = _load_tombstones(spark, base, tomb_gen, "doc_id")

    post_live = _anti_tombstones(
        _read_postings(spark, base, gen, positions), tombs, "doc_id"
    )
    lens_live = _anti_tombstones(
        _read_doclens(spark, base, gen), tombs, "doc_id"
    )
    post_ids = post_live.select("doc_id").distinct()
    # heal: keep doclens rows that are either empty docs (dl = 0, no
    # postings by construction) or covered by postings; keep postings
    # covered by doclens
    lens_ok = lens_live.join(post_ids, "doc_id", "semi").unionByName(
        lens_live.filter(F.col("dl") == 0)
    ).distinct()
    post_ok = post_live.join(
        lens_live.select("doc_id").distinct(), "doc_id", "semi"
    )
    # two independent chains into the UNCOMMITTED new generation (the
    # manifest append below is the atomic flip, so intra-generation
    # write order is crash-irrelevant): [doclens rewrite → stats row]
    # and [postings rewrite → exact term dictionary].  Each chain is
    # internally ordered (its second step reads the PERSISTED first
    # step); the chains run on concurrent driver threads so the wall
    # is the slower chain, not the sum of four sequential jobs.
    def _lens_chain() -> None:
        lens_ok.coalesce(files_per_partition).write.mode("overwrite").parquet(
            _gen_dir(base, "doclens", new_gen)
        )
        # the stats write is an APPEND (the shared delta-log writer); a
        # compact retried after a pre-commit crash would otherwise stack
        # a second row into the orphaned stats_g{new_gen} and commit a
        # store with doubled N/sum_dl — clear the target first so the
        # retry is idempotent like the three overwrite components
        _fs_delete(spark, _gen_dir(base, "stats", new_gen))
        dstats = _doclens_sums(_read_doclens(spark, base, new_gen))
        _write_stats_delta(
            spark,
            _gen_dir(base, "stats", new_gen),
            dstats["n"],
            int(dstats["s"] or 0),
            int(dstats["st"] or 0),
        )

    def _post_chain() -> None:
        _layout(post_ok, ["tb"], files_per_partition, "term").write.mode(
            "overwrite"
        ).partitionBy("tb").parquet(_gen_dir(base, "postings", new_gen))
        _write_terms(
            _read_postings(spark, base, new_gen, positions),
            _gen_dir(base, "terms", new_gen),
            "overwrite",
        )

    _run_concurrent(_lens_chain, _post_chain)

    new_dirs = [
        _gen_dir(base, c, new_gen) for c in ("postings", "doclens", "stats")
    ]
    _commit_generation(
        spark, base, seq, new_gen, tomb_gen, new_dirs, "search_index_compact"
    )

    return _bucket_manifest(
        _read_postings(spark, base, new_gen, positions)
    )


def search_index_gc(
    spark: SparkSession, index_dir: str, version: str = "v1"
) -> list[str]:
    """Reclaim SUPERSEDED generation directories — the ones compact
    left behind for reader grace, plus anything a crashed compact
    orphaned (readers never see either: the manifest is the single
    source of truth).  This is the DESTRUCTIVE half of the compact
    protocol: run it only after in-flight readers of the old
    generation have drained (a reader that resolved the manifest
    before the compact commit still scans the old directories).
    Returns the removed names."""
    base = _base(index_dir, version)
    gen, tomb_gen, _ = _state(spark, base)
    keep = [_gen_dir(base, c, gen) for c in _COMPONENTS]
    return _gc_generations(spark, base, keep + [_tomb_dir(base, tomb_gen)])


# ---------------------------------------------------------------------------
# Fsck / stats / maintain
# ---------------------------------------------------------------------------
def search_index_fsck(
    spark: SparkSession, index_dir: str, version: str = "v1"
) -> DataFrame:
    """Integrity audit — the persisted components must agree:
    every posting id has a doclens row (postings_covered — this is the
    invariant the append guard's doclens-only duplicate check rests
    on), every doc with dl > 0 has postings (tokens_covered — the
    torn-append detector), doclens ids are unique, (term, doc, field)
    posting rows are unique, every tb matches the term's bucket hash,
    every posting's denormalized dl equals the field length derivable
    from its doclens row (norms_match — the norms-in-postings
    contract), every physical posting term is in the dictionary
    (terms_covered — the fuzzy-expansion completeness gate), and the
    stats log sums to EXACTLY the live doclens table (count, total dl,
    total dl_t).  All reads resolve through the generation manifest,
    so fsck audits exactly what queries see.  Returns one hard-gated
    row."""
    base = _base(index_dir, version)
    n_buckets, _analyzer_name, has_pos, title_len = _meta(spark, base)
    gen, tomb_gen, _ = _state(spark, base)
    post = _read_postings(spark, base, gen, has_pos)
    lens = _read_doclens(spark, base, gen)

    pids = post.select("doc_id").distinct()
    lids = lens.select("doc_id")
    postings_covered = pids.join(lids, "doc_id", "left_anti").count() == 0
    tokens_covered = (
        lens.filter(F.col("dl") > 0)
        .join(pids, "doc_id", "left_anti")
        .count()
        == 0
    )
    doclens_unique = lens.count() == lids.distinct().count()
    postings_unique = (
        post.groupBy("term", "doc_id", "fld")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
        == 0
    )
    tb_ok = (
        post.filter(
            F.col("tb").cast("int") != _term_bucket_col("term", n_buckets)
        ).count()
        == 0
    )
    # norms-in-postings: each row's dl must equal the field length its
    # doclens row implies (raw dl unfielded; dl_t / dl - dl_t fielded)
    expected_dl = (
        F.when(F.col("fld") == "t", F.col("_ldlt"))
        .when(F.col("fld") == "b", F.col("_ldl") - F.col("_ldlt"))
        .otherwise(F.col("_ldl"))
    )
    norms_match = (
        post.join(
            lens.select(
                "doc_id",
                F.col("dl").alias("_ldl"),
                F.col("dl_t").alias("_ldlt"),
            ),
            "doc_id",
        )
        .filter(F.col("dl") != expected_dl)
        .count()
        == 0
    )
    terms_covered = (
        post.select("term")
        .distinct()
        .join(_read_terms(spark, base, gen).select("term"), "term", "left_anti")
        .count()
        == 0
    )
    # positional stores: tf must equal the position-list length and
    # positions must be 1-based (vacuously true on tf-only stores)
    pos_match = True
    if has_pos:
        pos_match = (
            post.filter(
                (F.col("tf") != F.size("pos"))
                | (F.array_min("pos") < 1)
            ).count()
            == 0
        )
    d = _doclens_sums(lens)
    s = (
        _read_stats(spark, base, gen)
        .agg(
            F.sum("n_docs").alias("n"),
            F.sum("sum_dl").alias("s"),
            F.sum("sum_dl_t").alias("st"),
        )
        .first()
    )
    # the stats log tracks the LIVE corpus; compare against doclens
    # minus tombstones
    tombs = _load_tombstones(spark, base, tomb_gen, "doc_id")
    dl_live = (
        _doclens_sums(_anti_tombstones(lens, tombs, "doc_id"))
        if tombs is not None
        else d
    )
    stats_match = (
        int(s["n"] or 0) == int(dl_live["n"])
        and int(s["s"] or 0) == int(dl_live["s"] or 0)
        and int(s["st"] or 0) == int(dl_live["st"] or 0)
    )
    return _local_rows(
        spark,
        "n_docs long, postings_covered boolean, tokens_covered boolean, "
        "doclens_unique boolean, postings_unique boolean, tb_ok boolean, "
        "norms_match boolean, terms_covered boolean, pos_match boolean, "
        "stats_match boolean",
        [
            (
                int(d["n"]),
                bool(postings_covered),
                bool(tokens_covered),
                bool(doclens_unique),
                bool(postings_unique),
                bool(tb_ok),
                bool(norms_match),
                bool(terms_covered),
                bool(pos_match),
                bool(stats_match),
            )
        ],
    )


def search_index_stats(
    spark: SparkSession, index_dir: str, version: str = "v1"
) -> DataFrame:
    """Ops monitoring: per-bucket physical vs live posting counts,
    live distinct terms, and the max LIVE document frequency — the
    hot-term monitor (a stop-word-like term with corpus-sized df is
    what turns a keyword query into a corpus scan; production search
    services alert on it and stop-list the term).  df counts DISTINCT
    documents per term (a fielded store holds up to one row per field
    per document)."""
    base = _base(index_dir, version)
    _, _, _has_pos, _title_len = _meta(spark, base)
    gen, tomb_gen, _ = _state(spark, base)
    post = _read_postings(spark, base, gen, _has_pos)
    tombs = _load_tombstones(spark, base, tomb_gen, "doc_id")
    live = _anti_tombstones(post, tombs, "doc_id")

    phys = post.groupBy("tb").agg(F.count(F.lit(1)).alias("n_postings_physical"))
    per_term = live.groupBy("tb", "term").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("df"),
    )
    lv = per_term.groupBy("tb").agg(
        F.sum("n_rows").alias("n_postings_live"),
        F.count(F.lit(1)).alias("n_terms_live"),
        F.max("df").alias("max_df_live"),
    )
    return phys.join(lv, "tb", "left").select(
        F.col("tb").cast("int").alias("tb"),
        "n_postings_physical",
        F.coalesce("n_postings_live", F.lit(0)).alias("n_postings_live"),
        F.coalesce("n_terms_live", F.lit(0)).alias("n_terms_live"),
        F.coalesce("max_df_live", F.lit(0)).alias("max_df_live"),
    )


def search_index_maintain(
    spark: SparkSession,
    index_dir: str,
    version: str = "v1",
    max_dead_ratio: float = 0.2,
    max_files_per_partition: int = 4,
    max_stats_rows: int = 64,
    files_per_partition: int = 1,
    run_gc: bool = True,
) -> DataFrame:
    """Auto-maintenance — the scheduler verb (the search twin of
    `ann_index_maintain` / `dedup_index_maintain` /
    `snapshot_maintain`): derives five compaction-debt signals from
    the store itself and runs compact + gc when any trips:

    - **torn append** (docs with dl > 0 but no postings — the
      documented doclens-first crash window);
    - **stats drift** (the additive log disagreeing with live doclens
      — a crash between the postings and stats writes);
    - **tombstone ratio** over live documents;
    - **small files** per bucket directory (one per append batch);
    - **stats-log rows** (the additive log gains one row per
      build/append/delete FOREVER until compact folds it to one — on
      a long-lived append-heavy store the 'one tiny sum' serving
      claim quietly erodes into a many-file scan; ``max_stats_rows``
      bounds it).

    Idempotent: the compacted generation is whole, stats-exact (one
    stats row), and delete-log-free, so an immediate second call
    no-ops.  Returns a one-row receipt with each signal as measured
    BEFORE the action.

    Reclaim contract: gc runs on EVERY call (even a no-op cadence — a
    crashed compact's orphaned generation is reclaimed the next tick,
    not only after the next successful compact), because the scheduled
    cadence IS the drain point: schedule maintain at an interval
    longer than your longest-running reader, exactly the Delta VACUUM
    retention reasoning.  Deployments with readers that outlive the
    cadence pass ``run_gc=False`` and reclaim explicitly via
    `search_index_gc` after a drain."""
    base = _base(index_dir, version)
    _, _, _has_pos, _title_len = _meta(spark, base)
    gen, tomb_gen, _ = _state(spark, base)
    lens = _read_doclens(spark, base, gen)
    pids = _read_postings(spark, base, gen, _has_pos).select("doc_id")
    torn = (
        lens.filter(F.col("dl") > 0)
        .join(pids.distinct(), "doc_id", "left_anti")
        .count()
    )
    tombs = _load_tombstones(spark, base, tomb_gen, "doc_id")
    n_docs = lens.count()
    n_dead = _count_tombstones(tombs)
    dead_ratio = n_dead / max(n_docs, 1)
    stats_df = _read_stats(spark, base, gen)
    stats_rows = stats_df.count()
    s = stats_df.agg(
        F.sum("n_docs").alias("n"),
        F.sum("sum_dl").alias("s"),
        F.sum("sum_dl_t").alias("st"),
    ).first()
    live = _doclens_sums(_anti_tombstones(lens, tombs, "doc_id"))
    drift = (
        int(s["n"] or 0) != int(live["n"])
        or int(s["s"] or 0) != int(live["s"] or 0)
        or int(s["st"] or 0) != int(live["st"] or 0)
    )
    max_files = _max_files(spark, _gen_dir(base, "postings", gen), 1)

    reasons = []
    if torn > 0:
        reasons.append("torn_append")
    if drift:
        reasons.append("stats_drift")
    if dead_ratio > max_dead_ratio:
        reasons.append("dead_ratio")
    if max_files > max_files_per_partition:
        reasons.append("file_count")
    if stats_rows > max_stats_rows:
        reasons.append("stats_rows")
    if reasons:
        search_index_compact(
            spark, index_dir, version, files_per_partition
        ).collect()
    n_gc = len(search_index_gc(spark, index_dir, version)) if run_gc else 0
    return _local_rows(
        spark,
        "action string, reason string, n_docs long, n_torn long, "
        "stats_drift boolean, n_dead long, dead_ratio double, "
        "max_files_per_partition int, stats_rows long, n_gc_removed int",
        [
            (
                "compacted" if reasons else "noop",
                ",".join(reasons) or "none",
                n_docs,
                torn,
                bool(drift),
                n_dead,
                round(dead_ratio, 6),
                max_files,
                int(stats_rows),
                n_gc,
            )
        ],
    )
