"""storage/manifest.py: the generation-manifest commit protocol and
generation-store toolkit shared by the search, ANN and dedup indexes
and the snapshot store — pinned by its OWN unit tests, not only
transitively through the stores.

- manifest_state resolves (0, 0, -1) on a fresh store and the max-seq
  row after commits
- append_commit is append-only: earlier generations stay resolvable in
  the manifest history
- try_read_parquet distinguishes missing / file-less / readable dirs
- reset_version_dir clears exactly the collectable names (every
  generation component, the search term dictionary included)
- repartition_for_layout caps files per partitionBy directory
- verify_readable flags file-less directories before a commit
- gen_dir / tomb_dir name generations and refuse unknown components
- load_tombstones is None before the first delete; guard_hits and
  count_tombstones count a repeated id once
- append_tombstones appends nothing on a repeated delete
- commit_generation refuses a file-less generation without committing
- gc_generations keeps _commits, _meta and the current generation
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cloud_native_reddit_data_pipeline_spark.storage import manifest as sm


def test_fresh_store_state(spark, tmp_path):
    base = str(tmp_path / "store")
    assert sm.manifest_state(spark, base) == (0, 0, -1)


def test_commit_and_resolve_max_seq(spark, tmp_path):
    base = str(tmp_path / "store")
    sm.append_commit(spark, base, seq=0, gen=1, tomb_gen=1)
    assert sm.manifest_state(spark, base) == (1, 1, 0)
    sm.append_commit(spark, base, seq=1, gen=2, tomb_gen=3)
    assert sm.manifest_state(spark, base) == (2, 3, 1)
    # append-only history: both rows remain
    rows = spark.read.parquet(f"{base}/_commits").collect()
    assert sorted((r["seq"], r["gen"]) for r in rows) == [(0, 1), (1, 2)]


def test_try_read_missing_vs_readable(spark, tmp_path):
    missing = str(tmp_path / "nope")
    assert sm.try_read_parquet(spark, missing) is None
    ok = str(tmp_path / "ok")
    spark.range(5).write.parquet(ok)
    df = sm.try_read_parquet(spark, ok)
    assert df is not None and df.count() == 5
    # file-less directory (what a compact-to-empty write leaves)
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    assert sm.try_read_parquet(spark, empty) is None


def test_verify_readable_flags_fileless_dirs(spark, tmp_path):
    good = str(tmp_path / "good")
    spark.range(3).write.parquet(good)
    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    assert sm.verify_readable(spark, good) == []
    assert sm.verify_readable(spark, good, bad) == [bad]


def test_reset_version_dir_clears_only_collectables(spark, tmp_path):
    base = str(tmp_path / "store")
    for name in ("cells", "cells_g2", "codes", "sigs_g1", "bands",
                 "tombstones", "tombstones_t3", "_commits", "terms",
                 "terms_g1", "centroids", "codebook", "_meta"):
        spark.range(1).write.parquet(f"{base}/{name}")
    sm.reset_version_dir(spark, base)
    left = set(sm.fs_list(spark, base))
    assert left == {"centroids", "codebook", "_meta"}


def test_fs_list_and_delete(spark, tmp_path):
    base = str(tmp_path / "d")
    spark.range(1).write.parquet(f"{base}/a")
    spark.range(1).write.parquet(f"{base}/b")
    assert sorted(sm.fs_list(spark, base)) == ["a", "b"]
    sm.fs_delete(spark, f"{base}/a")
    assert sm.fs_list(spark, base) == ["b"]
    assert sm.fs_list(spark, str(tmp_path / "missing")) == []
    sm.fs_delete(spark, str(tmp_path / "missing"))  # no-op, no raise


def _files_per_dir(root: str) -> dict[str, int]:
    out = {}
    for d in os.listdir(root):
        p = os.path.join(root, d)
        if os.path.isdir(p):
            out[d] = sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
    return out


def test_repartition_for_layout_caps_files_per_dir(spark, tmp_path):
    df = (
        spark.range(2000)
        .withColumn("part", (F.col("id") % 8).cast("int"))
        .repartition(16)  # simulate a many-task upstream
    )
    naive = str(tmp_path / "naive")
    df.write.partitionBy("part").parquet(naive)
    assert max(_files_per_dir(naive).values()) > 1  # the storm exists
    one = str(tmp_path / "one")
    sm.repartition_for_layout(df, ["part"], 1, "id").write.partitionBy(
        "part"
    ).parquet(one)
    assert max(_files_per_dir(one).values()) == 1
    four = str(tmp_path / "four")
    sm.repartition_for_layout(df, ["part"], 4, "id").write.partitionBy(
        "part"
    ).parquet(four)
    assert max(_files_per_dir(four).values()) <= 4
    # pure layout: identical contents either way
    a = sorted(r["id"] for r in spark.read.parquet(one).collect())
    b = sorted(r["id"] for r in spark.read.parquet(four).collect())
    assert a == b == list(range(2000))


def test_local_rows_df_types_and_nullability(spark):
    from decimal import Decimal

    df = sm.local_rows_df(
        spark, "seq long, gen int, tomb_gen int", [(0, 1, 2), (1, 2, 3)]
    )
    assert [f.nullable for f in df.schema.fields] == [True, True, True]
    assert sorted(map(tuple, df.collect())) == [(0, 1, 2), (1, 2, 3)]
    # strings with nulls
    df2 = sm.local_rows_df(
        spark, "snap int, n_rows long, batch_id string",
        [(1, 5, None), (2, 0, "x")],
    )
    assert sorted(map(tuple, df2.collect())) == [(1, 5, None), (2, 0, "x")]
    # decimal arrays (the PQ codebook shape) — exact round-trip
    df3 = sm.local_rows_df(
        spark, "sub int, code int, vals array<decimal(9,6)>",
        [(0, 0, [Decimal("1.25"), Decimal("0.000001")])],
    )
    r = df3.collect()[0]
    assert r["vals"] == [Decimal("1.250000"), Decimal("0.000001")]
    # booleans (the fsck receipt shape)
    df4 = sm.local_rows_df(spark, "a boolean, b boolean", [(True, False)])
    assert df4.collect() == [(True, False)]
    # empty
    assert sm.local_rows_df(spark, "x int", []).count() == 0
    # mixed None/array falls back to the struct form, same rows
    df5 = sm.local_rows_df(
        spark, "k int, v array<int>", [(1, None), (2, [3, 4])]
    )
    assert sorted(map(tuple, df5.collect()), key=lambda t: t[0]) == [
        (1, None), (2, [3, 4]),
    ]


def test_local_rows_df_is_jvm_native(spark):
    """The point of the helper: no Python-worker stage in the plan —
    a scan of a python-parallelized RDD would show as 'Scan ExistingRDD'
    / BatchEvalPython; the literal frame must stay JVM-only."""
    df = sm.local_rows_df(spark, "vec_id long", [(i,) for i in range(50)])
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    assert "existingrdd" not in plan and "evalpython" not in plan


def test_concurrent_commit_loser_raises_winner_resolves(spark, tmp_path):
    """Two writers racing the same seq: resolution is deterministic
    (highest gen, then tomb_gen — never parquet file order), the later
    DIVERGENT writer that loses the tie-break raises
    CommitConflictError, and the store stays consistent on the winner."""
    import pytest

    base = str(tmp_path / "store")
    # writer A commits seq 1 -> (gen 1, tomb 1)
    sm.append_commit(spark, base, 1, 1, 1)
    assert sm.manifest_state(spark, base) == (1, 1, 1)
    # writer B races the same seq with HIGHER coordinates: B wins the
    # deterministic tie-break, so B's own post-append check passes
    sm.append_commit(spark, base, 1, 2, 1)
    assert sm.manifest_state(spark, base) == (2, 1, 1)
    # writer C races the same seq with LOSING coordinates: C must raise
    # (its generation is invisible to readers), and the resolved state
    # is unchanged
    with pytest.raises(sm.CommitConflictError):
        sm.append_commit(spark, base, 1, 1, 0)
    assert sm.manifest_state(spark, base) == (2, 1, 1)


def test_concurrent_commit_idempotent_retry_is_not_a_conflict(spark, tmp_path):
    """A duplicate row with IDENTICAL coordinates (a retried commit of
    the same generation) is an idempotent no-op, not a conflict."""
    base = str(tmp_path / "store")
    sm.append_commit(spark, base, 1, 1, 1)
    sm.append_commit(spark, base, 1, 1, 1)  # retry — must not raise
    assert sm.manifest_state(spark, base) == (1, 1, 1)


def test_local_rows_df_unexpected_errors_propagate(spark, monkeypatch):
    """The struct-form fallback fires only on EXPECTED inference errors
    — an arbitrary bug inside the literal path must propagate, never be
    silently absorbed into the O(rows) struct plan."""
    import pytest

    real_element_at = F.element_at

    def boom(*a, **k):
        raise AttributeError("genuine bug, not an inference error")

    monkeypatch.setattr(F, "element_at", boom)
    with pytest.raises(AttributeError, match="genuine bug"):
        sm.local_rows_df(spark, "a int, b int", [(1, 2)])
    monkeypatch.setattr(F, "element_at", real_element_at)


def test_gen_dir_and_tomb_dir_naming():
    import pytest

    assert sm.gen_dir("b", "postings", 0) == "b/postings"
    assert sm.gen_dir("b", "terms", 2) == "b/terms_g2"
    assert sm.tomb_dir("b", 0) == "b/tombstones"
    assert sm.tomb_dir("b", 3) == "b/tombstones_t3"
    # a component outside the collectable list would leak on rebuild/gc
    with pytest.raises(ValueError, match="GENERATION_COMPONENTS"):
        sm.gen_dir("b", "centroids", 1)


def test_load_tombstones_missing_then_present(spark, tmp_path):
    base = str(tmp_path / "store")
    assert sm.load_tombstones(spark, base, 0, "doc_id") is None
    assert sm.count_tombstones(None) == 0
    # a log holding a repeated id (as written before deletes deduped)
    sm.local_rows_df(spark, "doc_id long", [(1,), (2,), (2,)]).write.parquet(
        sm.tomb_dir(base, 0)
    )
    tombs = sm.load_tombstones(spark, base, 0, "doc_id")
    assert tombs.columns == ["doc_id"] and tombs.count() == 3
    assert sm.count_tombstones(tombs) == 2
    live = sm.local_rows_df(spark, "doc_id long", [(5,), (5,)])
    new = sm.local_rows_df(spark, "doc_id long", [(2,), (5,), (9,)])
    assert sm.guard_hits(new, tombs, live, "doc_id") == {"dead": 1, "live": 1}
    assert sm.guard_hits(new, None, None, "doc_id") == {}
    kept = sm.anti_tombstones(new, tombs, "doc_id").collect()
    assert sorted(r["doc_id"] for r in kept) == [5, 9]


def test_append_tombstones_repeat_appends_nothing(spark, tmp_path):
    base = str(tmp_path / "store")
    assert sm.append_tombstones(spark, base, 0, "vec_id", [3, 1, 1]) == (
        [(1,), (3,)], 2,
    )
    files = sm.fs_list(spark, sm.tomb_dir(base, 0))
    assert sm.append_tombstones(spark, base, 0, "vec_id", [1, 3]) == ([], 2)
    assert sm.fs_list(spark, sm.tomb_dir(base, 0)) == files
    assert sm.append_tombstones(spark, base, 0, "vec_id", [3, 4]) == ([(4,)], 3)


def test_commit_generation_refuses_fileless_dir(spark, tmp_path):
    import pytest

    base = str(tmp_path / "store")
    sm.append_commit(spark, base, 0, 1, 1)
    empty = str(tmp_path / "store" / "cells_g2")
    os.makedirs(empty)
    with pytest.raises(ValueError, match="x_compact: .*empty or unreadable"):
        sm.commit_generation(spark, base, 0, 2, 1, [empty], "x_compact")
    assert sm.manifest_state(spark, base) == (1, 1, 0)
    spark.range(1).write.mode("overwrite").parquet(empty)
    sm.commit_generation(spark, base, 0, 2, 1, [empty], "x_compact")
    assert sm.manifest_state(spark, base) == (2, 2, 1)


def test_gc_generations_keeps_manifest_meta_and_current(spark, tmp_path):
    base = str(tmp_path / "store")
    for name in ("_commits", "_meta", "centroids", "postings", "postings_g1",
                 "terms", "terms_g1", "tombstones", "tombstones_t1"):
        os.makedirs(f"{base}/{name}")
    keep = [sm.gen_dir(base, c, 1) for c in ("postings", "terms")]
    removed = sm.gc_generations(spark, base, keep + [sm.tomb_dir(base, 1)])
    assert removed == ["postings", "terms", "tombstones"]
    assert set(sm.fs_list(spark, base)) == {
        "_commits", "_meta", "centroids", "postings_g1", "terms_g1",
        "tombstones_t1",
    }
