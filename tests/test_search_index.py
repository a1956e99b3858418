"""Persistent incremental search index (operators/search_index.py):

- build(A) + append(B) serves byte-identically to the corpus-scan BM25
  ranker over A ∪ B (the store-equivalence contract)
- deletes: tombstoned docs vanish, stop contributing df, and stop
  counting toward N/avgdl (negative stats delta); repeated deletes can
  never double-subtract
- torn-append crash window (doclens-first): fsck flags it
  (tokens_covered + stats_match), maintain heals it via compact, and
  the interrupted append can be re-run cleanly
- duplicate / tombstoned incoming ids fail fast with TYPED exceptions
- the postings read prunes term-bucket partitions on disk
  (PartitionFilters in the scan, not a post-scan filter)
- maintain is idempotent and receipt-honest
- no persist pin survives any verb (cache-idle gate)
- the cached reader snapshot follows every write verb and a store
  swapped on disk, and a warm query keeps to its Spark-job budget
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloud_native_reddit_data_pipeline_spark.operators import search_index as si
from cloud_native_reddit_data_pipeline_spark.operators.textstats import (
    ranked_keyword_search_bm25,
)
from cloud_native_reddit_data_pipeline_spark.storage import manifest as sm

KW = ["join", "spark", "stream", "window"]


@pytest.fixture()
def docs(spark):
    from cloud_native_reddit_data_pipeline_spark.sources.tables import load

    return load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_build_append_equals_corpus_scan(spark, docs, tmp_path):
    idx = str(tmp_path / "six")
    si.search_index_build(docs.filter("doc_id % 4 != 3"), idx).collect()
    si.search_index_append(spark, docs.filter("doc_id % 4 = 3"), idx)
    got = _rows(si.search_index_query(spark, idx, KW, k=20))
    want = _rows(ranked_keyword_search_bm25(docs, "doc_id", "text", KW, k=20))
    assert got == want
    from conftest import assert_cache_idle

    assert_cache_idle(spark, "search_index build/append/query")


def test_delete_adjusts_results_df_and_stats(spark, docs, tmp_path):
    idx = str(tmp_path / "six")
    si.search_index_build(docs, idx).collect()
    top = si.search_index_query(spark, idx, KW, k=5).collect()
    dels = [int(r["doc_id"]) for r in top[:3]]
    rec = si.search_index_delete(spark, idx, dels).collect()[0]
    assert rec["n_live_docs_removed"] == 3
    got = _rows(si.search_index_query(spark, idx, KW, k=20))
    live = docs.filter(~F.col("doc_id").isin(dels))
    want = _rows(ranked_keyword_search_bm25(live, "doc_id", "text", KW, k=20))
    assert got == want
    # fsck: the stats log tracks the live corpus exactly
    fs = si.search_index_fsck(spark, idx).collect()[0]
    assert fs["stats_match"]
    # repeated delete of the same ids: no double subtraction
    rec2 = si.search_index_delete(spark, idx, dels).collect()[0]
    assert rec2["n_tombstones_added"] == 0
    assert rec2["n_live_docs_removed"] == 0
    assert si.search_index_fsck(spark, idx).collect()[0]["stats_match"]


def test_compact_preserves_results_and_truncates_log(spark, docs, tmp_path):
    idx = str(tmp_path / "six")
    si.search_index_build(docs, idx).collect()
    dels = [
        int(r["doc_id"])
        for r in docs.filter("doc_id % 7 = 3").select("doc_id").collect()
    ]
    si.search_index_delete(spark, idx, dels).collect()
    before = _rows(si.search_index_query(spark, idx, KW, k=20))
    si.search_index_compact(spark, idx).collect()
    after = _rows(si.search_index_query(spark, idx, KW, k=20))
    assert before == after
    fs = si.search_index_fsck(spark, idx).collect()[0]
    assert all(
        fs[c]
        for c in (
            "postings_covered", "tokens_covered", "doclens_unique",
            "postings_unique", "tb_ok", "stats_match",
        )
    )
    # delete-log truncated: stats report zero dead
    st = si.search_index_maintain(spark, idx).collect()[0]
    assert st["action"] == "noop" and st["n_dead"] == 0


def test_typed_guards_on_append(spark, docs, tmp_path):
    idx = str(tmp_path / "six")
    si.search_index_build(docs.filter("doc_id < 100"), idx).collect()
    with pytest.raises(si.DuplicateIdsError):
        si.search_index_append(spark, docs.filter("doc_id < 10"), idx)
    si.search_index_delete(spark, idx, [1, 2]).collect()
    with pytest.raises(si.TombstonedIdsError):
        si.search_index_append(spark, docs.filter("doc_id IN (1, 2)"), idx)


def test_torn_append_fsck_maintain_heal(spark, docs, tmp_path, monkeypatch):
    idx = str(tmp_path / "six")
    si.search_index_build(docs.filter("doc_id % 4 != 3"), idx).collect()

    def _boom(*a, **k):
        raise RuntimeError("injected crash between doclens and postings")

    # crash AFTER the doclens append, BEFORE the postings write (the
    # documented doclens-first torn window)
    monkeypatch.setattr(si, "_layout", _boom)
    with pytest.raises(RuntimeError, match="injected"):
        si.search_index_append(spark, docs.filter("doc_id % 4 = 3"), idx)
    monkeypatch.undo()

    fs = si.search_index_fsck(spark, idx).collect()[0]
    assert not fs["tokens_covered"]  # torn docs: dl > 0, no postings
    assert not fs["stats_match"]  # stats delta never landed

    # a blind re-run fails fast: the torn ids count as live (doclens side)
    with pytest.raises(si.DuplicateIdsError):
        si.search_index_append(spark, docs.filter("doc_id % 4 = 3"), idx)

    # maintain detects the torn store and heals it via compact
    rec = si.search_index_maintain(spark, idx).collect()[0]
    assert rec["action"] == "compacted"
    assert "torn_append" in rec["reason"]
    fs2 = si.search_index_fsck(spark, idx).collect()[0]
    assert fs2["tokens_covered"] and fs2["stats_match"]

    # after the heal the append re-runs cleanly and the store equals
    # the never-crashed one
    si.search_index_append(spark, docs.filter("doc_id % 4 = 3"), idx)
    got = _rows(si.search_index_query(spark, idx, KW, k=20))
    want = _rows(ranked_keyword_search_bm25(docs, "doc_id", "text", KW, k=20))
    assert got == want


def test_query_scan_prunes_term_buckets_on_disk(spark, docs, tmp_path):
    idx = str(tmp_path / "six")
    si.search_index_build(docs, idx).collect()
    n_buckets = si.DEFAULT_BUCKETS
    buckets = sorted({si.term_bucket_py(w, n_buckets) for w in KW})
    assert len(buckets) < n_buckets  # the prune is non-trivial
    post = spark.read.parquet(f"{idx}/v1/postings").filter(
        F.col("tb").isin(buckets) & F.col("term").isin(KW)
    )
    plan = post._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "tb" in plan.split("PartitionFilters")[1][:80]
    # the python and spark bucket hashes agree on every indexed term
    mism = (
        spark.read.parquet(f"{idx}/v1/postings")
        .filter(
            F.col("tb").cast("int")
            != si._term_bucket_col("term", n_buckets)
        )
        .count()
    )
    assert mism == 0


def test_stemmed_analyzer_matches_inflections(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, "joins the stream"),
            (2, "joined streams yesterday"),
            (3, "joining and joining again"),
            (4, "nothing relevant here"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "six")
    si.search_index_build(df, idx, analyzer="stemmed").collect()
    got = {
        r["doc_id"]: r["n_hits"]
        for r in si.search_index_query(spark, idx, ["join"], k=10).collect()
    }
    # every inflection stems to 'join' AT INDEX TIME: tf counts merge
    assert got == {1: 1, 2: 1, 3: 2}
    # the query side analyzes its keywords with the same chain
    got2 = {
        r["doc_id"]: r["n_hits"]
        for r in si.search_index_query(spark, idx, ["joins"], k=10).collect()
    }
    assert got2 == got
    # the analyzer is stored in _meta and survives appends
    si.search_index_append(
        spark,
        spark.createDataFrame([(9, "joined")], "doc_id long, text string"),
        idx,
    )
    got3 = {
        r["doc_id"]: r["n_hits"]
        for r in si.search_index_query(spark, idx, ["joining"], k=10).collect()
    }
    assert got3 == {1: 1, 2: 1, 3: 2, 9: 1}
    fs = si.search_index_fsck(spark, idx).collect()[0]
    assert fs["tb_ok"] and fs["stats_match"] and fs["tokens_covered"]


def test_unknown_analyzer_fails_fast(spark, docs, tmp_path):
    with pytest.raises(ValueError, match="unknown analyzer"):
        si.search_index_build(
            docs, str(tmp_path / "six"), analyzer="soundex"
        ).collect()


def test_phrase_query_matches_corpus_scan(spark, docs, tmp_path):
    from cloud_native_reddit_data_pipeline_spark.operators.textstats import (
        phrase_search,
    )

    idx = str(tmp_path / "six")
    si.search_index_build(
        docs.filter("doc_id % 4 != 3"), idx, positions=True
    ).collect()
    si.search_index_append(spark, docs.filter("doc_id % 4 = 3"), idx)
    got = _rows(
        si.search_index_phrase_query(
            spark, idx, ["window", "join"], prox_window=3, k=20
        )
    )
    want = _rows(
        phrase_search(
            docs, "doc_id", "text", ["window", "join"], prox_window=3, top_n=20
        )
    )
    assert got == want
    fs = si.search_index_fsck(spark, idx).collect()[0]
    assert fs["pos_match"]


def test_phrase_query_respects_tombstones(spark, docs, tmp_path):
    from cloud_native_reddit_data_pipeline_spark.operators.textstats import (
        phrase_search,
    )

    idx = str(tmp_path / "six")
    si.search_index_build(docs, idx, positions=True).collect()
    top = si.search_index_phrase_query(
        spark, idx, ["window", "join"], k=5
    ).collect()
    dels = [int(r["doc_id"]) for r in top[:2]]
    si.search_index_delete(spark, idx, dels).collect()
    got = _rows(
        si.search_index_phrase_query(spark, idx, ["window", "join"], k=20)
    )
    live = docs.filter(~F.col("doc_id").isin(dels))
    want = _rows(
        phrase_search(live, "doc_id", "text", ["window", "join"], top_n=20)
    )
    assert got == want


def test_phrase_query_requires_positions(spark, docs, tmp_path):
    idx = str(tmp_path / "six")
    si.search_index_build(docs.limit(50), idx).collect()  # tf-only store
    with pytest.raises(si.PositionsUnavailableError):
        si.search_index_phrase_query(spark, idx, ["window", "join"])


def test_phrase_on_stemmed_positional_store(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, "windows joined tight"),     # stems: window join -> phrase
            (2, "window of the join"),       # not adjacent
            (3, "joined windows"),           # reversed order, no phrase
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "six")
    si.search_index_build(
        df, idx, analyzer="stemmed", positions=True
    ).collect()
    got = si.search_index_phrase_query(
        spark, idx, ["windows", "joining"], prox_window=3, k=10
    ).collect()
    # only doc 1 has the stems adjacent in order; positions stay
    # raw-token so adjacency means the original neighboring tokens
    assert [r["doc_id"] for r in got] == [1]
    assert got[0]["phrase_hits"] == 1


def test_empty_corpus_build_then_ingest(spark, docs, tmp_path):
    """The ES lifecycle: create an EMPTY index, then ingest forever —
    a zero-postings build (partitionBy writes no files) must leave a
    readable store for query/append/fsck."""
    idx = str(tmp_path / "six")
    empty = docs.filter("doc_id < 0")
    si.search_index_build(empty, idx).collect()
    assert si.search_index_query(spark, idx, KW, k=5).collect() == []
    fs = si.search_index_fsck(spark, idx).collect()[0]
    assert fs["n_docs"] == 0 and fs["stats_match"]
    si.search_index_append(spark, docs.filter("doc_id < 200"), idx)
    got = _rows(si.search_index_query(spark, idx, KW, k=20))
    want = _rows(
        ranked_keyword_search_bm25(
            docs.filter("doc_id < 200"), "doc_id", "text", KW, k=20
        )
    )
    assert got == want


def test_null_text_is_empty_document(spark, tmp_path):
    """NULL text normalizes to the empty document (dl = 0, no
    postings): stats stay exact, fsck green, and compact keeps the
    row (the heal rule must not drop it)."""
    df = spark.createDataFrame(
        [(1, "spark join"), (2, None), (3, "spark")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "six")
    si.search_index_build(df, idx).collect()
    fs = si.search_index_fsck(spark, idx).collect()[0]
    assert fs["n_docs"] == 3 and fs["stats_match"] and fs["tokens_covered"]
    before = _rows(si.search_index_query(spark, idx, ["spark"], k=10))
    si.search_index_compact(spark, idx).collect()
    fs2 = si.search_index_fsck(spark, idx).collect()[0]
    assert fs2["n_docs"] == 3 and fs2["stats_match"]  # row survived
    assert _rows(si.search_index_query(spark, idx, ["spark"], k=10)) == before


def test_resolver_tracks_generations(spark, docs, tmp_path):
    """resolve_search_dirs is the public audit entry point: it must
    point at exactly the generation queries read, before and after a
    compact bumps it."""
    idx = str(tmp_path / "six")
    si.search_index_build(docs.limit(100), idx).collect()
    d0 = si.resolve_search_dirs(spark, idx)
    assert d0["postings"].endswith("/postings")
    si.search_index_delete(spark, idx, [1]).collect()
    si.search_index_compact(spark, idx).collect()
    d1 = si.resolve_search_dirs(spark, idx)
    assert d1["postings"].endswith("/postings_g1")
    assert d1["doclens"].endswith("/doclens_g1")
    # reading through the resolver sees exactly the live store
    n = spark.read.parquet(d1["doclens"]).count()
    fs = si.search_index_fsck(spark, idx).collect()[0]
    assert n == fs["n_docs"]


def test_fielded_store_matches_scan_ranker(spark, docs, tmp_path):
    """A fielded build(A) + append(B) must serve the per-field BOOSTED
    BM25 byte-identically to the corpus-scan fielded ranker over
    A ∪ B — per-field tf/dl ride in the tagged posting rows, per-field
    avgdl comes from the (sum_dl, sum_dl_t) stats log."""
    from cloud_native_reddit_data_pipeline_spark.operators.textstats import (
        ranked_keyword_search_fielded,
    )

    idx = str(tmp_path / "six")
    si.search_index_build(
        docs.filter("doc_id % 4 != 3"), idx, title_len=8
    ).collect()
    si.search_index_append(spark, docs.filter("doc_id % 4 = 3"), idx)
    got = _rows(si.search_index_query_fielded(spark, idx, KW, k=20))
    want = _rows(
        ranked_keyword_search_fielded(docs, "doc_id", "text", KW, k=20)
    )
    assert got == want
    # boosts are QUERY-time parameters (the ES fields: ["title^2"]
    # knob): a different boost pair must match the scan form too
    got5 = _rows(
        si.search_index_query_fielded(
            spark, idx, KW, k=20, title_boost=5.0, body_boost=0.5
        )
    )
    want5 = _rows(
        ranked_keyword_search_fielded(
            docs, "doc_id", "text", KW, k=20,
            title_boost=5.0, body_boost=0.5,
        )
    )
    assert got5 == want5
    from conftest import assert_cache_idle

    assert_cache_idle(spark, "search_index fielded build/append/query")


def test_fielded_lifecycle_preserves_field_tags(spark, docs, tmp_path):
    """Delete + compact on a fielded store: field tags, per-field
    norms, and per-field stats survive every lifecycle verb — the
    fielded query matches the scan ranker over the live set before AND
    after the compact, and fsck's norms_match pins postings.dl against
    the doclens-derived field lengths."""
    from cloud_native_reddit_data_pipeline_spark.operators.textstats import (
        ranked_keyword_search_fielded,
    )

    idx = str(tmp_path / "six")
    si.search_index_build(docs, idx, title_len=8).collect()
    top = si.search_index_query_fielded(spark, idx, KW, k=5).collect()
    dels = [int(r["doc_id"]) for r in top[:3]]
    si.search_index_delete(spark, idx, dels).collect()
    live = docs.filter(~F.col("doc_id").isin(dels))
    want = _rows(
        ranked_keyword_search_fielded(live, "doc_id", "text", KW, k=20)
    )
    assert _rows(si.search_index_query_fielded(spark, idx, KW, k=20)) == want
    si.search_index_compact(spark, idx).collect()
    assert _rows(si.search_index_query_fielded(spark, idx, KW, k=20)) == want
    fs = si.search_index_fsck(spark, idx).collect()[0]
    assert all(
        fs[c]
        for c in (
            "postings_covered", "tokens_covered", "doclens_unique",
            "postings_unique", "tb_ok", "norms_match", "terms_covered",
            "stats_match",
        )
    )


def test_fielded_query_mismatch_guards(spark, docs, tmp_path):
    """The query verb and the store's fielding must agree — both
    mismatch directions fail fast with the typed error."""
    flat = str(tmp_path / "flat")
    si.search_index_build(docs.limit(50), flat).collect()
    with pytest.raises(si.FieldedStoreMismatchError, match="not.*fielded"):
        si.search_index_query_fielded(spark, flat, KW)
    fielded = str(tmp_path / "fielded")
    si.search_index_build(docs.limit(50), fielded, title_len=8).collect()
    with pytest.raises(si.FieldedStoreMismatchError, match="FIELDED"):
        si.search_index_query(spark, fielded, KW)


def test_fuzzy_query_matches_scan(spark, docs, tmp_path):
    """Dictionary-expansion fuzzy serving: build(A) + append(B) must
    answer byte-identically to textstats.fuzzy_keyword_search over
    A ∪ B, and tombstoned docs must vanish without a compact (a
    matched dictionary term whose postings are all dead yields no
    rows)."""
    from cloud_native_reddit_data_pipeline_spark.operators.textstats import (
        fuzzy_keyword_search,
    )

    idx = str(tmp_path / "six")
    si.search_index_build(docs.filter("doc_id % 4 != 3"), idx).collect()
    si.search_index_append(spark, docs.filter("doc_id % 4 = 3"), idx)
    got = _rows(
        si.search_index_query_fuzzy(spark, idx, KW, max_edits=1, k=20)
    )
    want = _rows(
        fuzzy_keyword_search(docs, "doc_id", "text", KW, max_edits=1, k=20)
    )
    assert got == want
    dels = [int(r[0]) for r in got[:3]]
    si.search_index_delete(spark, idx, dels).collect()
    live = docs.filter(~F.col("doc_id").isin(dels))
    want_live = _rows(
        fuzzy_keyword_search(live, "doc_id", "text", KW, max_edits=1, k=20)
    )
    assert (
        _rows(si.search_index_query_fuzzy(spark, idx, KW, max_edits=1, k=20))
        == want_live
    )
    # compact rebuilds the dictionary exact; results must not move
    si.search_index_compact(spark, idx).collect()
    assert (
        _rows(si.search_index_query_fuzzy(spark, idx, KW, max_edits=1, k=20))
        == want_live
    )
    # no keyword within the edit window of any indexed term -> empty
    assert (
        si.search_index_query_fuzzy(
            spark, idx, ["zzzzzzzzzzzz"], max_edits=1, k=20
        ).collect()
        == []
    )


def test_serving_plan_reads_only_postings(spark, docs, tmp_path):
    """Norms-in-postings plan pins: neither the plain nor the fielded
    serving plan may read the corpus-proportional doclens table (dl
    rides in the posting rows — Lucene's norms design), and both scans
    must prune term buckets ON DISK (PartitionFilters, not a post-scan
    filter).  (The test name must not contain the component name — the
    tmp_path embeds it, and the scan's Location string would then
    false-positive the substring check.)"""
    flat = str(tmp_path / "flat")
    si.search_index_build(docs, flat).collect()
    plan = (
        si.search_index_query(spark, flat, KW, k=20)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "doclens" not in plan
    assert "PartitionFilters" in plan
    assert "tb" in plan.split("PartitionFilters")[1][:80]
    fielded = str(tmp_path / "fielded")
    si.search_index_build(docs, fielded, title_len=8).collect()
    fplan = (
        si.search_index_query_fielded(spark, fielded, KW, k=20)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "doclens" not in fplan
    assert "PartitionFilters" in fplan
    assert "tb" in fplan.split("PartitionFilters")[1][:80]


def test_append_guard_doclens_invariant(spark, docs, tmp_path, monkeypatch):
    """The append duplicate guard reads the DOCLENS side only; that is
    sufficient because postings ids ⊆ doclens ids at every lifecycle
    point — build, clean append, TORN append (doclens land first), and
    compact heal — pinned here via fsck's postings_covered plus a
    direct anti-join at each step."""
    def postings_subset_of_doclens(idx: str) -> bool:
        d = si.resolve_search_dirs(spark, idx)
        post = spark.read.parquet(d["postings"]).select("doc_id").distinct()
        lens = spark.read.parquet(d["doclens"]).select("doc_id")
        return post.join(lens, "doc_id", "left_anti").count() == 0

    idx = str(tmp_path / "six")
    si.search_index_build(docs.filter("doc_id % 4 = 0"), idx).collect()
    assert postings_subset_of_doclens(idx)
    si.search_index_append(spark, docs.filter("doc_id % 4 = 1"), idx)
    assert postings_subset_of_doclens(idx)

    def _boom(*a, **k):
        raise RuntimeError("injected crash between doclens and postings")

    monkeypatch.setattr(si, "_layout", _boom)
    with pytest.raises(RuntimeError, match="injected"):
        si.search_index_append(spark, docs.filter("doc_id % 4 = 2"), idx)
    monkeypatch.undo()
    # torn: extra doclens ids, still a postings SUPERSET — invariant holds
    assert postings_subset_of_doclens(idx)
    # ... and the doclens-only guard still catches the torn ids
    with pytest.raises(si.DuplicateIdsError):
        si.search_index_append(spark, docs.filter("doc_id % 4 = 2"), idx)
    si.search_index_maintain(spark, idx).collect()
    assert postings_subset_of_doclens(idx)
    assert si.search_index_fsck(spark, idx).collect()[0]["postings_covered"]


def test_maintain_stats_rows_signal(spark, docs, tmp_path):
    """The additive stats log gains one row per build/append/delete
    forever until compact — maintain's stats_rows signal bounds the
    growth: it trips on an append-heavy store, the receipt reports the
    pre-action row count, the compact folds the log to ONE row, and an
    immediate second call no-ops (scheduler idempotence)."""
    idx = str(tmp_path / "six")
    si.search_index_build(docs.filter("doc_id % 8 = 0"), idx).collect()
    for m in range(1, 6):
        si.search_index_append(spark, docs.filter(f"doc_id % 8 = {m}"), idx)
    rec = si.search_index_maintain(
        spark, idx, max_stats_rows=3, max_files_per_partition=1000
    ).collect()[0]
    assert rec["action"] == "compacted"
    assert "stats_rows" in rec["reason"]
    assert rec["stats_rows"] == 6  # 1 build + 5 appends, measured BEFORE
    d = si.resolve_search_dirs(spark, idx)
    assert spark.read.parquet(d["stats"]).count() == 1  # folded
    rec2 = si.search_index_maintain(
        spark, idx, max_stats_rows=3, max_files_per_partition=1000
    ).collect()[0]
    assert rec2["action"] == "noop" and rec2["stats_rows"] == 1
    # the fold is exact: serving still matches the corpus-scan ranker
    got = _rows(si.search_index_query(spark, idx, KW, k=20))
    want = _rows(
        ranked_keyword_search_bm25(
            docs.filter("doc_id % 8 < 6"), "doc_id", "text", KW, k=20
        )
    )
    assert got == want


def test_compact_retry_after_precommit_crash_is_exact(
    spark, docs, tmp_path, monkeypatch
):
    """A compact that crashes AFTER writing the new generation but
    BEFORE the manifest commit must be retryable without corruption:
    the retry targets the same generation number, and the stats write
    (an append into the delta-log format) must not stack onto the
    orphaned row from the crashed attempt — doubled N/sum_dl would
    silently skew every BM25 score while fsck's stats gate reads the
    same doubled log.  The compact clears the target stats dir first;
    this pins it."""
    idx = str(tmp_path / "six")
    si.search_index_build(docs, idx).collect()
    dels = [
        int(r["doc_id"])
        for r in docs.filter("doc_id % 7 = 3").select("doc_id").collect()
    ]
    si.search_index_delete(spark, idx, dels).collect()
    want = _rows(si.search_index_query(spark, idx, KW, k=20))

    def _boom(*a, **k):
        raise RuntimeError("injected crash before the compact commit")

    monkeypatch.setattr(sm, "append_commit", _boom)
    with pytest.raises(RuntimeError, match="injected"):
        si.search_index_compact(spark, idx)
    monkeypatch.undo()
    # store still serves the old generation, untouched
    assert _rows(si.search_index_query(spark, idx, KW, k=20)) == want
    # the RETRY must land an exact store: one stats row, fsck green
    si.search_index_compact(spark, idx).collect()
    d = si.resolve_search_dirs(spark, idx)
    assert spark.read.parquet(d["stats"]).count() == 1
    fs = si.search_index_fsck(spark, idx).collect()[0]
    assert fs["stats_match"] and fs["postings_covered"] and fs["terms_covered"]
    assert _rows(si.search_index_query(spark, idx, KW, k=20)) == want


def test_concurrent_serve_during_compact(spark, docs, tmp_path):
    """Snapshot isolation across the compact commit window: queries
    racing a compact (write → verify → COMMIT) must each answer from
    entirely the pre- or entirely the post-compact generation — which
    compaction makes indistinguishable (it must not move results), so
    every concurrent answer equals the one expected top-k and none
    errors.  Compact defers old-generation deletion to gc precisely so
    an in-flight reader that resolved the old manifest keeps readable
    files; gc afterwards (readers drained) must not change answers."""
    import threading

    idx = str(tmp_path / "six")
    si.search_index_build(docs, idx).collect()
    dels = [
        int(r["doc_id"])
        for r in docs.filter("doc_id % 7 = 3").select("doc_id").collect()
    ]
    si.search_index_delete(spark, idx, dels).collect()
    want = _rows(si.search_index_query(spark, idx, KW, k=20))

    started = threading.Barrier(2, timeout=60)
    answers: list = []
    errors: list = []

    def reader():
        try:
            started.wait()
            for _ in range(8):
                answers.append(_rows(si.search_index_query(spark, idx, KW, k=20)))
        except Exception as e:  # noqa: BLE001 — recorded and re-raised below
            errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    started.wait()
    si.search_index_compact(spark, idx).collect()
    t.join(timeout=300)
    assert not t.is_alive(), "concurrent reader hung"
    assert not errors, f"concurrent reader failed during compact: {errors[0]}"
    assert len(answers) == 8
    assert all(a == want for a in answers), "a reader saw a mixed generation"
    # readers drained -> gc reclaims the superseded generation; the
    # post-gc store still answers identically
    removed = si.search_index_gc(spark, idx)
    assert "postings" in removed and "doclens" in removed
    assert _rows(si.search_index_query(spark, idx, KW, k=20)) == want


def test_empty_docs_count_toward_stats(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "spark join"), (2, ""), (3, "spark")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "six")
    si.search_index_build(df, idx).collect()
    got = _rows(si.search_index_query(spark, idx, ["spark"], k=10))
    want = _rows(ranked_keyword_search_bm25(df, "doc_id", "text", ["spark"], k=10))
    assert got == want  # N = 3 and avgdl include the empty doc
    fs = si.search_index_fsck(spark, idx).collect()[0]
    assert fs["n_docs"] == 3 and fs["stats_match"] and fs["tokens_covered"]


def _query_matches_scan(spark, idx, corpus) -> None:
    got = _rows(si.search_index_query(spark, idx, KW, k=20))
    want = _rows(ranked_keyword_search_bm25(corpus, "doc_id", "text", KW, k=20))
    assert got == want


def test_snapshot_follows_every_write_verb(spark, docs, tmp_path):
    """A query after each write verb — append, delete, compact, gc and
    an in-place rebuild — answers like the corpus-scan ranker over the
    live corpus of that moment: the cached reader snapshot is never
    served stale."""
    idx = str(tmp_path / "six")
    live = docs.filter("doc_id % 4 != 3")
    si.search_index_build(live, idx).collect()
    _query_matches_scan(spark, idx, live)
    si.search_index_append(spark, docs.filter("doc_id % 4 = 3"), idx)
    _query_matches_scan(spark, idx, docs)
    dels = [
        int(r["doc_id"])
        for r in si.search_index_query(spark, idx, KW, k=3).collect()
    ]
    si.search_index_delete(spark, idx, dels).collect()
    live = docs.filter(~F.col("doc_id").isin(dels))
    _query_matches_scan(spark, idx, live)
    si.search_index_compact(spark, idx).collect()
    _query_matches_scan(spark, idx, live)
    assert si.search_index_gc(spark, idx)
    _query_matches_scan(spark, idx, live)
    rebuilt = docs.filter("doc_id % 2 = 0")
    si.search_index_build(rebuilt, idx).collect()
    _query_matches_scan(spark, idx, rebuilt)
    # the rebuild over a compacted store leaves no stale generation
    names = sm.fs_list(spark, f"{idx}/v1")
    assert not [n for n in names if "_g" in n or "_t" in n], names


def test_snapshot_sees_store_swapped_on_disk(spark, docs, tmp_path):
    """Invalidation comes from the directory listing, not from a hook
    in the write verbs: replacing a store's files behind the verbs'
    back (another store copied over it) is seen by the next query."""
    import shutil

    even, odd = docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    si.search_index_build(even, a).collect()
    si.search_index_build(odd, b).collect()
    si.search_index_delete(spark, b, [1, 3]).collect()
    _query_matches_scan(spark, a, even)
    shutil.rmtree(f"{a}/v1")
    shutil.copytree(f"{b}/v1", f"{a}/v1")
    _query_matches_scan(spark, a, odd.filter(~F.col("doc_id").isin(1, 3)))


def test_warm_query_job_budget(spark, docs, tmp_path):
    """Job budget of the serving path on a store with tombstones: a
    query on an unchanged store runs at most 6 Spark jobs and none of
    them is a parquet schema-inference job (every component is read
    with its fixed schema; N/avgdl are plan literals)."""
    idx = str(tmp_path / "six")
    si.search_index_build(docs.filter("doc_id % 4 != 3"), idx).collect()
    si.search_index_append(spark, docs.filter("doc_id % 4 = 3"), idx)
    si.search_index_delete(spark, idx, [1, 2, 3]).collect()
    si.search_index_query(spark, idx, KW, k=20).collect()  # resolves

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("search-query-budget", "warm query job audit")
    try:
        si.search_index_query(spark, idx, KW, k=20).collect()
    finally:
        sc.setJobGroup(None, None)
    jobs = set(tracker.getJobIdsForGroup("search-query-budget") or [])
    assert 0 < len(jobs) <= 6, f"warm query ran {len(jobs)} jobs"
    stage_names = [
        info.name
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
        if (info := tracker.getStageInfo(s)) is not None
    ]
    assert not [n for n in stage_names if n.startswith("parquet at")], stage_names


def test_snapshot_cache_under_thread_stress(spark, tmp_path, monkeypatch):
    """The process-wide snapshot cache is shared by every thread: with
    more threads than cores, a short switch interval, and a cap of one
    entry (two stores evict each other on every call), each resolution
    still returns its own store's state and none fails."""
    import sys
    import threading

    small = [(1, "spark join"), (2, "spark"), (3, "")]
    big = small + [(4, "join stream window"), (5, "window")]
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for rows, idx in ((small, a), (big, b)):
        si.search_index_build(
            spark.createDataFrame(rows, "doc_id long, text string"), idx
        ).collect()
    bases = [f"{a}/v1", f"{b}/v1"]
    want = {base: si._reader_snapshot(spark, base) for base in bases}
    assert [want[base].n for base in bases] == [3, 5]
    monkeypatch.setattr(si, "_SNAPSHOT_CACHE_MAX", 1)
    wrong: list = []

    def worker(k: int) -> None:
        try:
            for i in range(4):
                base = bases[(k + i) % 2]
                got = si._reader_snapshot(spark, base)
                if got != want[base]:
                    wrong.append((base, got))
        except Exception as e:  # noqa: BLE001 — recorded and asserted below
            wrong.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads), "resolver thread hung"
    assert not wrong, wrong[:3]
