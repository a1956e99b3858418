"""Persistent ANN index (operators/ann_index.py): the round-10
build-once / probe-many contract.

- probe off the persisted index is BYTE-identical to the fused
  similarity.ivf_topk (same floats, not just same ranks)
- PQ ADC probe off persisted codes+codebook is byte-identical to the
  fused similarity.pq_adc_topk
- a second probe runs WITHOUT rebuild (the index dir is read-only after
  build) and returns the same result
- the inverted file prunes cell partitions ON DISK (a partition filter
  on the scan, not a post-scan filter)
- every probe form (member ids or a caller frame, with or without an
  allowed set; IVF and IVF-PQ) is routed by dynamic partition pruning:
  a DynamicPruningExpression on the cells (and codes) scan, no job
  before the result is collected, tombstoned ids excluded, and a warm
  probe runs no schema-inference job on a fixed-schema component
- version keys isolate: v1 and v2 coexist under one index_dir
"""

from __future__ import annotations

import itertools
import os
import re
import stat

import pytest
from pyspark.sql import functions as F

from cloud_native_reddit_data_pipeline_spark.operators import ann_index, similarity
from cloud_native_reddit_data_pipeline_spark.sources.tables import load
from cloud_native_reddit_data_pipeline_spark.storage import manifest as sm

SF = "/root/testdata/sf0.001"
QIDS = [3, 4, 5]


def _rows(df, float_cols=()):
    out = []
    for r in sorted(df.collect(), key=lambda r: (r[0], r[-1])):
        t = tuple(r)
        out.append(t)
    return out


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("annidx") / "idx")
    emb = load(spark, SF, "embeddings")
    manifest = ann_index.ann_index_build(emb, idx, n_centroids=16, m=4, k_codes=16)
    return idx, manifest.collect()


def test_manifest_covers_corpus(spark, built):
    idx, manifest = built
    total = sum(r["n_vectors"] for r in manifest)
    assert total == load(spark, SF, "embeddings").count()
    assert all(0 <= r["cell"] < 16 for r in manifest)


def test_layout_on_disk(built):
    idx, _ = built
    base = f"{idx}/v1"
    for part in ("centroids", "cells", "codes", "codebook"):
        assert os.path.isdir(f"{base}/{part}"), part
    cells = [d for d in os.listdir(f"{base}/cells") if d.startswith("cell=")]
    assert len(cells) >= 2  # genuinely partitioned by cell


def test_probe_byte_identical_to_fused(spark, built):
    idx, _ = built
    emb = load(spark, SF, "embeddings")
    fused = similarity.ivf_topk(emb, QIDS, k=5, n_centroids=16, n_probe=4)
    probed = ann_index.ann_index_probe(spark, idx, QIDS, k=5, n_probe=4)
    a = sorted(map(tuple, fused.collect()))
    b = sorted(map(tuple, probed.collect()))
    assert a == b  # exact float equality: parquet round-trips bits


def test_pq_probe_byte_identical_to_fused(spark, built):
    idx, _ = built
    emb = load(spark, SF, "embeddings")
    fused = similarity.pq_adc_topk(emb, QIDS, m=4, k=16, topk=5)
    probed = ann_index.ann_index_probe_pq(spark, idx, QIDS, topk=5)
    assert sorted(map(tuple, fused.collect())) == sorted(
        map(tuple, probed.collect())
    )


def test_probe_without_rebuild_readonly_index(spark, built):
    """The probe path may not write anything: chmod the whole index
    read-only and probe again — same result, no rebuild possible."""
    idx, _ = built
    first = sorted(map(tuple, ann_index.ann_index_probe(spark, idx, QIDS).collect()))
    ro = stat.S_IRUSR | stat.S_IXUSR
    dirs = []
    for root, dnames, fnames in os.walk(idx):
        for f in fnames:
            os.chmod(os.path.join(root, f), stat.S_IRUSR)
        dirs.append(root)
    for d in dirs:
        os.chmod(d, ro)
    try:
        again = sorted(
            map(tuple, ann_index.ann_index_probe(spark, idx, QIDS).collect())
        )
    finally:
        for d in dirs:
            os.chmod(d, stat.S_IRWXU)
        for root, _, fnames in os.walk(idx):
            for f in fnames:
                os.chmod(os.path.join(root, f), stat.S_IRUSR | stat.S_IWUSR)
    assert again == first


def test_probe_scan_prunes_cell_partitions(spark, built):
    """The inverted-file read must prune at the partition level: the
    scan's PartitionFilters carry the cell predicate, so unprobed cell
    directories are never opened."""
    idx, _ = built
    cells = spark.read.parquet(f"{idx}/v1/cells")
    pruned = cells.filter(F.col("cell").isin([1, 2]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:80]
    # and the scan's numPartitions metric proves the directories were
    # pruned on disk (inputFiles() ignores partition filters, so the
    # evidence must come from the executed scan node)
    def scan_metric(df, key):
        df.collect()
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            n = stack.pop()
            if "Scan" in n.nodeName():
                it = n.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    if kv._1() == key:
                        return kv._2().value()
            for i in range(n.children().size()):
                stack.append(n.children().apply(i))
        raise AssertionError("no scan node found")

    n_all = scan_metric(cells, "numPartitions")
    n_pruned = scan_metric(pruned, "numPartitions")
    assert n_pruned == 2 and n_all > n_pruned


def test_version_keys_isolate(spark, tmp_path):
    idx = str(tmp_path / "idx")
    emb = load(spark, SF, "embeddings")
    ann_index.ann_index_build(emb, idx, version="v1").collect()
    # v2 built over a perturbed corpus must not disturb v1
    emb2 = emb.filter(F.col("vec_id") % 2 == 0)
    ann_index.ann_index_build(emb2, idx, version="v2").collect()
    p1 = ann_index.ann_index_probe(spark, idx, QIDS, version="v1")
    fused = similarity.ivf_topk(emb, QIDS, k=5, n_centroids=16, n_probe=4)
    assert sorted(map(tuple, p1.collect())) == sorted(map(tuple, fused.collect()))
    p2 = ann_index.ann_index_probe(spark, idx, [4], version="v2")
    assert all(r["neighbor_id"] % 2 == 0 for r in p2.collect())


def test_append_equals_one_shot_build(spark, tmp_path):
    """build(first half) + append(second half) must leave a store whose
    probe is BYTE-identical to a one-shot build over everything (the
    seed rows live in the first half, so centroids/codebook agree) —
    both the IVF probe and the PQ ADC probe."""
    emb = load(spark, SF, "embeddings")
    half = emb.agg(F.max("vec_id")).first()[0] // 2
    idx_inc, idx_full = str(tmp_path / "inc"), str(tmp_path / "full")
    ann_index.ann_index_build(emb.filter(F.col("vec_id") <= half), idx_inc)
    ann_index.ann_index_append(spark, emb.filter(F.col("vec_id") > half), idx_inc)
    ann_index.ann_index_build(emb, idx_full)
    for probe in (
        lambda i: ann_index.ann_index_probe(spark, i, QIDS),
        lambda i: ann_index.ann_index_probe_pq(spark, i, QIDS),
    ):
        a = sorted(map(tuple, probe(idx_inc).collect()))
        b = sorted(map(tuple, probe(idx_full).collect()))
        assert a == b


def test_append_only_touches_new_files(spark, tmp_path):
    """Incremental ingest must not rewrite existing cell files: every
    pre-append file survives byte-for-byte (same path, size, mtime)."""
    import os

    emb = load(spark, SF, "embeddings")
    idx = str(tmp_path / "idx")
    ann_index.ann_index_build(emb.filter(F.col("vec_id") <= 250), idx)
    before = {}
    for root, _, files in os.walk(f"{idx}/v1/cells"):
        for f in files:
            if "_SUCCESS" in f:  # job marker — rewritten by design
                continue
            p = os.path.join(root, f)
            st = os.stat(p)
            before[p] = (st.st_size, st.st_mtime)
    assert before  # data files exist to compare
    ann_index.ann_index_append(spark, emb.filter(F.col("vec_id") > 250), idx)
    for p, (size, mtime) in before.items():
        st = os.stat(p)
        assert (st.st_size, st.st_mtime) == (size, mtime), f"rewrote {p}"


def test_probe_vectors_external_query(spark, built):
    """Serving path: a query vector that is NOT a corpus member probes
    the index and gets k neighbors (no self-exclusion applies); the
    result equals a brute-force cosine scan restricted to the probed
    cells' union."""
    idx, _ = built
    emb = load(spark, SF, "embeddings")
    # synthesize an external query: the element-wise mean of two corpus
    # vectors, under a fresh id absent from the corpus
    two = emb.filter(F.col("vec_id").isin([11, 12])).collect()
    qv = [(a + b) / 2.0 for a, b in zip(two[0]["embedding"], two[1]["embedding"])]
    queries = spark.createDataFrame(
        [(100000, qv)], "query_id long, qv array<float>"
    )
    out = ann_index.ann_index_probe(spark, idx, queries, k=5, n_probe=4)
    rows = out.collect()
    assert len(rows) == 5
    assert all(r["query_id"] == 100000 for r in rows)
    assert [r["rk"] for r in sorted(rows, key=lambda r: r["rk"])] == [1, 2, 3, 4, 5]
    # cosines are sane and descending
    coss = [r["cos"] for r in sorted(rows, key=lambda r: r["rk"])]
    assert all(-1.0 <= c <= 1.0 for c in coss)
    assert coss == sorted(coss, reverse=True)


def test_compact_preserves_probes_and_reduces_files(spark, tmp_path):
    """After two appends the cell dirs hold multiple files; compaction
    must cut the file count while leaving BOTH probe paths (IVF and
    PQ ADC) byte-identical."""
    import os

    emb = load(spark, SF, "embeddings")
    idx = str(tmp_path / "idx")
    ann_index.ann_index_build(emb.filter(F.col("vec_id") <= 250), idx)
    ann_index.ann_index_append(
        spark, emb.filter((F.col("vec_id") > 250) & (F.col("vec_id") % 2 == 0)), idx
    )
    ann_index.ann_index_append(
        spark, emb.filter((F.col("vec_id") > 250) & (F.col("vec_id") % 2 == 1)), idx
    )

    def n_files():
        return sum(
            1
            for root, _, files in os.walk(f"{idx}/v1/cells")
            for f in files
            if f.startswith("part-")
        )

    before_files = n_files()
    ivf_before = sorted(map(tuple, ann_index.ann_index_probe(spark, idx, QIDS).collect()))
    pq_before = sorted(
        map(tuple, ann_index.ann_index_probe_pq(spark, idx, QIDS).collect())
    )
    manifest = ann_index.ann_index_compact(spark, idx).collect()
    # compact leaves the superseded generation for reader grace; gc is
    # the reclaim step (no probes in flight here, so run it now)
    ann_index.ann_index_gc(spark, idx)
    after_files = n_files()
    assert after_files < before_files
    assert sum(r["n_vectors"] for r in manifest) == 500
    ivf_after = sorted(map(tuple, ann_index.ann_index_probe(spark, idx, QIDS).collect()))
    pq_after = sorted(
        map(tuple, ann_index.ann_index_probe_pq(spark, idx, QIDS).collect())
    )
    assert ivf_after == ivf_before
    assert pq_after == pq_before
    # no leftover staging/old directories from the swap
    names = set(os.listdir(f"{idx}/v1"))
    assert "cells_old" not in names and "cells_compacting" not in names
    assert "codes_old" not in names and "codes_compacting" not in names


def test_delete_tombstones_then_compact_reclaims(spark, tmp_path):
    """CRUD completion: tombstoned ids vanish from BOTH probe paths
    immediately (no rewrite); compaction reclaims them physically,
    truncates the tombstone table, and leaves probes unchanged; the
    tombstone probe equals the fused form over the live corpus."""
    import os

    emb = load(spark, SF, "embeddings")
    idx = str(tmp_path / "idx")
    ann_index.ann_index_build(emb, idx)
    dead = list(range(100, 150))
    receipt = ann_index.ann_index_delete(spark, idx, dead).collect()[0]
    assert (receipt["n_tombstones_added"], receipt["n_tombstones_total"]) == (50, 50)
    # a repeated delete appends nothing
    again = ann_index.ann_index_delete(spark, idx, dead[:10]).collect()[0]
    assert (again["n_tombstones_added"], again["n_tombstones_total"]) == (0, 50)
    # a log that already holds a repeated id (written before deletes
    # deduped) still counts each dead id once
    sm.local_rows_df(spark, "vec_id long", [(100,)]).write.mode(
        "append"
    ).parquet(f"{idx}/v1/tombstones")
    st = ann_index.ann_index_stats(spark, idx)
    assert st.agg(F.sum("n_dead"), F.sum("n_rows")).first() == (50, 500)
    rec = ann_index.ann_index_maintain(spark, idx).collect()[0]
    assert (rec["action"], rec["n_dead"]) == ("noop", 50)

    live = emb.filter(~F.col("vec_id").isin(dead))
    fused = similarity.ivf_topk(live, QIDS, k=5, n_centroids=16, n_probe=4)
    t_ivf = sorted(map(tuple, ann_index.ann_index_probe(spark, idx, QIDS).collect()))
    assert t_ivf == sorted(map(tuple, fused.collect()))
    t_pq = sorted(map(tuple, ann_index.ann_index_probe_pq(spark, idx, QIDS).collect()))
    assert not any(r[1] in dead for r in t_ivf)
    assert not any(r[1] in dead for r in t_pq)

    manifest = ann_index.ann_index_compact(spark, idx).collect()
    ann_index.ann_index_gc(spark, idx)  # reclaim step (readers drained)
    assert sum(r["n_vectors"] for r in manifest) == 500 - 50  # reclaimed
    assert not os.path.isdir(f"{idx}/v1/tombstones")  # truncated
    assert t_ivf == sorted(
        map(tuple, ann_index.ann_index_probe(spark, idx, QIDS).collect())
    )
    assert t_pq == sorted(
        map(tuple, ann_index.ann_index_probe_pq(spark, idx, QIDS).collect())
    )


# ---------------------------------------------------------------------------
# Round 11: manifest-commit compaction, append id guard
# ---------------------------------------------------------------------------
def test_compact_crash_before_commit_leaves_old_generation(spark, tmp_path, monkeypatch):
    """Crash-mid-compact: if the job dies at ANY point before the single
    manifest append (here: the commit itself fails), probes keep serving
    the OLD generation byte-identically — never a half-swapped store.
    A later retry of the compact succeeds and flips atomically."""
    idx = str(tmp_path / "idx")
    emb = load(spark, SF, "embeddings")
    ann_index.ann_index_build(emb, idx)
    ann_index.ann_index_delete(spark, idx, list(range(100, 140)))
    before_ivf = sorted(map(tuple, ann_index.ann_index_probe(spark, idx, QIDS).collect()))
    before_pq = sorted(
        map(tuple, ann_index.ann_index_probe_pq(spark, idx, QIDS).collect())
    )

    real_commit = sm.append_commit

    def crash(*a, **kw):
        raise RuntimeError("simulated crash at the commit point")

    monkeypatch.setattr(sm, "append_commit", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ann_index.ann_index_compact(spark, idx)
    # reader view is untouched: old generation + tombstones still serve
    assert sorted(
        map(tuple, ann_index.ann_index_probe(spark, idx, QIDS).collect())
    ) == before_ivf
    assert sorted(
        map(tuple, ann_index.ann_index_probe_pq(spark, idx, QIDS).collect())
    ) == before_pq

    monkeypatch.setattr(sm, "append_commit", real_commit)
    manifest = ann_index.ann_index_compact(spark, idx).collect()
    assert sum(r["n_vectors"] for r in manifest) == 500 - 40
    assert sorted(
        map(tuple, ann_index.ann_index_probe(spark, idx, QIDS).collect())
    ) == before_ivf


def test_compact_commits_via_manifest_generations(spark, tmp_path):
    """Two compactions advance the generation manifest twice; readers
    resolve through resolve_dirs (never a renamed-in-place directory),
    and each generation starts with an empty delete log."""
    idx = str(tmp_path / "idx")
    emb = load(spark, SF, "embeddings")
    ann_index.ann_index_build(emb, idx)
    d0 = ann_index.resolve_dirs(spark, idx)
    assert d0["cells"].endswith("/cells") and d0["codes"].endswith("/codes")
    ann_index.ann_index_compact(spark, idx)
    d1 = ann_index.resolve_dirs(spark, idx)
    assert d1["cells"].endswith("cells_g1") and d1["codes"].endswith("codes_g1")
    ann_index.ann_index_delete(spark, idx, [7])
    ann_index.ann_index_compact(spark, idx)
    d2 = ann_index.resolve_dirs(spark, idx)
    assert d2["cells"].endswith("cells_g2")
    assert os.path.isdir(d2["cells"]) and os.path.isdir(d2["codes"])
    # fresh generation: no tombstone dir (that IS the truncation)
    assert not os.path.isdir(d2["tombstones"])
    assert ann_index.ann_index_probe(spark, idx, QIDS).count() == 15
    out = ann_index.ann_index_probe(spark, idx, [3, 4, 5], k=500)
    assert not any(r["neighbor_id"] == 7 for r in out.collect())


def test_append_duplicate_id_raises(spark, tmp_path):
    idx = str(tmp_path / "idx")
    emb = load(spark, SF, "embeddings")
    ann_index.ann_index_build(emb.filter(F.col("vec_id") <= 250), idx)
    with pytest.raises(ValueError, match="already present"):
        ann_index.ann_index_append(
            spark, emb.filter(F.col("vec_id").between(200, 300)), idx
        )
    # the failed append must not have half-written: store still probes
    # identically to a clean build
    clean = str(tmp_path / "clean")
    ann_index.ann_index_build(emb.filter(F.col("vec_id") <= 250), clean)
    assert sorted(
        map(tuple, ann_index.ann_index_probe(spark, idx, QIDS).collect())
    ) == sorted(map(tuple, ann_index.ann_index_probe(spark, clean, QIDS).collect()))


def test_append_tombstoned_id_raises_until_compact(spark, tmp_path):
    """Re-inserting a tombstoned id must fail fast (the dead row still
    lives in the inverted file — clearing the tombstone would resurrect
    it next to the new vector); after a compact reclaims the dead row,
    the same append succeeds and the id is live again."""
    idx = str(tmp_path / "idx")
    emb = load(spark, SF, "embeddings")
    ann_index.ann_index_build(emb, idx)
    ann_index.ann_index_delete(spark, idx, [321])
    re_ins = emb.filter(F.col("vec_id") == 321)
    with pytest.raises(ValueError, match="tombstoned"):
        ann_index.ann_index_append(spark, re_ins, idx)
    ann_index.ann_index_compact(spark, idx)
    ann_index.ann_index_append(spark, re_ins, idx)
    # byte-identical to the never-deleted store on both probe paths
    clean = str(tmp_path / "clean")
    ann_index.ann_index_build(emb, clean)
    for probe in (ann_index.ann_index_probe, ann_index.ann_index_probe_pq):
        assert sorted(map(tuple, probe(spark, idx, QIDS).collect())) == sorted(
            map(tuple, probe(spark, clean, QIDS).collect())
        )


def test_probe_filtered_respects_predicate_and_matches_unfiltered(spark, built):
    """Filtered probe: every neighbor satisfies the predicate; with the
    all-ids allowed set it is byte-identical to the unfiltered probe."""
    idx, _ = built
    emb = load(spark, SF, "embeddings")
    allowed = emb.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    out = ann_index.ann_index_probe(
        spark, idx, QIDS, k=5, n_probe=4, allowed=allowed
    ).collect()
    assert len(out) == 15
    assert all(r["neighbor_id"] % 3 == 0 for r in out)
    # superset predicate -> identical to the plain probe
    every = emb.select("vec_id")
    full = ann_index.ann_index_probe(
        spark, idx, QIDS, k=5, n_probe=4, allowed=every
    )
    plain = ann_index.ann_index_probe(spark, idx, QIDS, k=5, n_probe=4)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_probe_filtered_excludes_tombstoned_even_if_allowed(spark, tmp_path):
    """The metadata predicate cannot resurrect a deleted row: allowed
    ∩ tombstoned ids never appear."""
    idx = str(tmp_path / "idx")
    emb = load(spark, SF, "embeddings")
    ann_index.ann_index_build(emb, idx)
    ann_index.ann_index_delete(spark, idx, list(range(90, 120)))
    allowed = emb.select("vec_id")  # everything allowed, incl. deleted
    out = ann_index.ann_index_probe(
        spark, idx, QIDS, k=500, n_probe=4, allowed=allowed
    ).collect()
    assert out and not any(90 <= r["neighbor_id"] < 120 for r in out)


def test_stats_counts_rows_dead_live(spark, tmp_path):
    idx = str(tmp_path / "idx")
    emb = load(spark, SF, "embeddings")
    manifest = {
        r["cell"]: r["n_vectors"]
        for r in ann_index.ann_index_build(emb, idx).collect()
    }
    ann_index.ann_index_delete(spark, idx, list(range(200, 240)))
    stats = ann_index.ann_index_stats(spark, idx).collect()
    assert sum(r["n_rows"] for r in stats) == 500
    assert sum(r["n_dead"] for r in stats) == 40
    assert all(r["n_rows"] == r["n_live"] + r["n_dead"] for r in stats)
    # physical rows agree with the build manifest per cell
    assert {r["cell"]: r["n_rows"] for r in stats} == manifest
    # after compaction the debt is reclaimed: no dead rows anywhere
    ann_index.ann_index_compact(spark, idx)
    stats2 = ann_index.ann_index_stats(spark, idx).collect()
    assert sum(r["n_rows"] for r in stats2) == 460
    assert sum(r["n_dead"] for r in stats2) == 0


def test_gc_reclaims_orphaned_generations(spark, tmp_path, monkeypatch):
    """If compaction's best-effort GC never ran (crash after the
    manifest commit), ann_index_gc collects exactly the superseded
    generation dirs, leaves the committed one untouched, and probes are
    unchanged; a second GC finds nothing."""
    idx = str(tmp_path / "idx")
    emb = load(spark, SF, "embeddings")
    ann_index.ann_index_build(emb, idx)
    ann_index.ann_index_delete(spark, idx, [400, 401])
    monkeypatch.setattr(sm, "fs_delete", lambda *a, **kw: None)
    ann_index.ann_index_compact(spark, idx)
    monkeypatch.undo()
    # superseded gen-0 dirs are orphaned on disk
    names = set(os.listdir(f"{idx}/v1"))
    assert {"cells", "codes", "tombstones", "cells_g1", "codes_g1"} <= names
    before = sorted(map(tuple, ann_index.ann_index_probe(spark, idx, QIDS).collect()))
    removed = ann_index.ann_index_gc(spark, idx)
    assert removed == ["cells", "codes", "tombstones"]
    names = set(os.listdir(f"{idx}/v1"))
    assert "cells" not in names and "cells_g1" in names and "codes_g1" in names
    assert sorted(
        map(tuple, ann_index.ann_index_probe(spark, idx, QIDS).collect())
    ) == before
    assert ann_index.ann_index_gc(spark, idx) == []


def test_concurrent_probe_during_compact(spark, tmp_path):
    """Snapshot isolation across the compact commit window: probes
    racing a compact must each answer from entirely the pre- or
    entirely the post-compact generation — which compaction makes
    indistinguishable (probe results are pinned byte-identical), so
    every concurrent answer equals the expected top-k and none errors.
    Compact defers old-generation deletion to ann_index_gc precisely
    so an in-flight probe that resolved the old manifest keeps
    readable files; gc afterwards (readers drained) must not change
    answers."""
    import threading

    idx = str(tmp_path / "idx")
    emb = load(spark, SF, "embeddings")
    ann_index.ann_index_build(emb, idx)
    ann_index.ann_index_delete(spark, idx, [400, 401])
    want = sorted(map(tuple, ann_index.ann_index_probe(spark, idx, QIDS).collect()))

    started = threading.Barrier(2, timeout=60)
    answers: list = []
    errors: list = []

    def reader():
        try:
            started.wait()
            for _ in range(6):
                answers.append(
                    sorted(
                        map(
                            tuple,
                            ann_index.ann_index_probe(spark, idx, QIDS).collect(),
                        )
                    )
                )
        except Exception as e:  # noqa: BLE001 — recorded, asserted below
            errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    started.wait()
    ann_index.ann_index_compact(spark, idx)
    t.join(timeout=300)
    assert not t.is_alive(), "concurrent prober hung"
    assert not errors, f"concurrent probe failed during compact: {errors[0]}"
    assert len(answers) == 6
    assert all(a == want for a in answers), "a probe saw a mixed generation"
    removed = ann_index.ann_index_gc(spark, idx)
    assert "cells" in removed and "codes" in removed
    assert (
        sorted(map(tuple, ann_index.ann_index_probe(spark, idx, QIDS).collect()))
        == want
    )


def test_rebuild_after_compact_serves_new_corpus(spark, tmp_path):
    """Rebuild into the same version dir resets the generation
    manifest; readers resolve the fresh gen-0 store, and GC never
    collects it."""
    emb = load(spark, SF, "embeddings")
    idx = str(tmp_path / "idx")
    ann_index.ann_index_build(emb, idx)
    ann_index.ann_index_delete(spark, idx, [100])
    ann_index.ann_index_compact(spark, idx)
    half = emb.filter(F.col("vec_id") % 2 == 0)
    ann_index.ann_index_build(half, idx).collect()
    dirs = ann_index.resolve_dirs(spark, idx)
    assert dirs["cells"].endswith("/cells")  # back on generation 0
    n = spark.read.parquet(dirs["cells"]).count()
    assert n == half.count()
    assert ann_index.ann_index_gc(spark, idx) == []


def test_compact_to_empty_fails_fast_store_intact(spark, tmp_path):
    emb = load(spark, SF, "embeddings")
    idx = str(tmp_path / "idx")
    small = emb.filter(F.col("vec_id") < 40)
    ann_index.ann_index_build(small, idx).collect()
    ids = [r["vec_id"] for r in small.select("vec_id").collect()]
    ann_index.ann_index_delete(spark, idx, ids)
    with pytest.raises(ValueError, match="empty or unreadable"):
        ann_index.ann_index_compact(spark, idx)
    dirs = ann_index.resolve_dirs(spark, idx)
    assert dirs["cells"].endswith("/cells")
    assert spark.read.parquet(dirs["cells"]).count() == len(ids)


# ---------------------------------------------------------------------------
# Round 12: cache discipline
# ---------------------------------------------------------------------------
def test_lifecycle_leaves_cache_idle(spark, tmp_path):
    """Cache-discipline sweep (round-12 verdict task 7): after EVERY
    index verb returns and its result is consumed, no persisted RDD
    may remain registered — a leaked pin would degrade the whole
    session (caching.py policy)."""
    from conftest import assert_cache_idle

    idx = str(tmp_path / "idx")
    emb = load(spark, SF, "embeddings")
    base_df = emb.filter(F.col("vec_id") % 20 != 7)
    new_df = emb.filter(F.col("vec_id") % 20 == 7)
    qdf = emb.filter(F.col("vec_id").isin(QIDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    steps = [
        ("build", lambda: ann_index.ann_index_build(base_df, idx).collect()),
        ("probe", lambda: ann_index.ann_index_probe(spark, idx, QIDS).collect()),
        ("probe_frame", lambda: ann_index.ann_index_probe(spark, idx, qdf).collect()),
        ("probe_allowed", lambda: ann_index.ann_index_probe(
            spark, idx, QIDS, allowed=base_df.select("vec_id")).collect()),
        ("probe_ivfpq", lambda: ann_index.ann_index_probe_ivfpq(spark, idx, qdf).collect()),
        ("probe_pq", lambda: ann_index.ann_index_probe_pq(spark, idx, QIDS).collect()),
        ("append", lambda: ann_index.ann_index_append(spark, new_df, idx).collect()),
        ("delete", lambda: ann_index.ann_index_delete(spark, idx, [100, 120]).collect()),
        ("stats", lambda: ann_index.ann_index_stats(spark, idx).collect()),
        ("compact", lambda: ann_index.ann_index_compact(spark, idx).collect()),
    ]
    for name, step in steps:
        step()
        assert_cache_idle(spark, f"ann_index {name}")


def test_probe_ivfpq_byte_identical_to_fused(spark, built):
    """The persisted-store IVF-PQ probe equals the fused
    similarity.ivf_pq_topk on the same corpus/params — same e12 BIGINT
    distances, same tie-breaks — while ADC-scanning only the probed
    cells' candidate slice (vs probe_pq's full code table)."""
    idx, _ = built
    emb = load(spark, SF, "embeddings")
    fused = sorted(
        map(
            tuple,
            similarity.ivf_pq_topk(
                emb, QIDS, n_centroids=16, n_probe=4, m=4, k=16, topk=5
            ).collect(),
        )
    )
    stored = sorted(
        map(
            tuple,
            ann_index.ann_index_probe_ivfpq(
                spark, idx, QIDS, topk=5, n_probe=4
            ).collect(),
        )
    )
    assert stored == fused


def test_probe_ivfpq_respects_tombstones(spark, tmp_path):
    idx = str(tmp_path / "idx")
    emb = load(spark, SF, "embeddings")
    ann_index.ann_index_build(emb, idx)
    dead = list(range(60, 100))
    ann_index.ann_index_delete(spark, idx, dead)
    out = ann_index.ann_index_probe_ivfpq(spark, idx, QIDS).collect()
    assert out and not any(r["neighbor_id"] in dead for r in out)


def test_codes_layout_partitioned_by_cell(spark, tmp_path):
    """Round-13 layout: the PQ codes share the inverted
    cell-partitioned layout through the WHOLE lifecycle — build,
    append, and the compacted generation — so IVF-PQ probes prune code
    I/O on disk like the vectors."""
    idx = str(tmp_path / "idx")
    emb = load(spark, SF, "embeddings")
    base_df = emb.filter(F.col("vec_id") % 10 != 7)
    new_df = emb.filter(F.col("vec_id") % 10 == 7)
    ann_index.ann_index_build(base_df, idx).collect()

    def cell_dirs(path):
        return sorted(d for d in os.listdir(path) if d.startswith("cell="))

    assert len(cell_dirs(f"{idx}/v1/codes")) >= 2
    ann_index.ann_index_append(spark, new_df, idx).collect()
    assert len(cell_dirs(f"{idx}/v1/codes")) >= 2
    ann_index.ann_index_delete(spark, idx, [30, 40]).collect()
    # the compacted generation keeps the layout AND the probe results:
    # compaction folds tombstones into the rewrite, so the tombstoned
    # pre-compact probe must equal the post-compact probe byte-for-byte
    before = sorted(
        map(tuple, ann_index.ann_index_probe_ivfpq(spark, idx, QIDS).collect())
    )
    ann_index.ann_index_compact(spark, idx).collect()
    dirs = ann_index.resolve_dirs(spark, idx)
    assert dirs["codes"].endswith("codes_g1")
    assert len(cell_dirs(dirs["codes"])) >= 2
    after = sorted(
        map(tuple, ann_index.ann_index_probe_ivfpq(spark, idx, QIDS).collect())
    )
    assert before == after and after


def test_maintain_compacts_on_file_count_then_noops(spark, tmp_path):
    """ann_index_maintain triggers on the small-files signal (appends
    leave one file per batch per cell), compacts, and an immediate
    second call no-ops — the idempotence a scheduler cadence needs.
    Probe results are byte-identical across the maintenance."""
    idx = str(tmp_path / "idx")
    emb = load(spark, SF, "embeddings")
    ann_index.ann_index_build(emb.filter("vec_id % 10 < 6"), idx).collect()
    for m in (6, 7, 8):
        ann_index.ann_index_append(
            spark, emb.filter(F.col("vec_id") % 10 == m), idx
        ).collect()
    before = sorted(
        map(tuple, ann_index.ann_index_probe(spark, idx, QIDS).collect())
    )
    rec = ann_index.ann_index_maintain(
        spark, idx, max_files_per_cell=2
    ).collect()[0]
    assert rec["action"] == "compacted" and "file_count" in rec["reason"]
    assert rec["max_files_per_cell"] > 2
    rec2 = ann_index.ann_index_maintain(
        spark, idx, max_files_per_cell=2
    ).collect()[0]
    assert rec2["action"] == "noop" and rec2["max_files_per_cell"] <= 1
    after = sorted(
        map(tuple, ann_index.ann_index_probe(spark, idx, QIDS).collect())
    )
    assert before == after and after


def test_maintain_compacts_on_dead_ratio(spark, tmp_path):
    """The tombstone-ratio signal: below threshold no-op, above it the
    maintain compacts and the fresh generation has an empty delete
    log."""
    idx = str(tmp_path / "idx")
    emb = load(spark, SF, "embeddings")
    ann_index.ann_index_build(emb, idx).collect()
    n = emb.count()
    dead = [r["vec_id"] for r in
            emb.filter(F.col("vec_id") >= 16).limit(int(n * 0.3)).collect()]
    ann_index.ann_index_delete(spark, idx, dead).collect()
    rec0 = ann_index.ann_index_maintain(
        spark, idx, max_dead_ratio=0.5, max_files_per_cell=99
    ).collect()[0]
    assert rec0["action"] == "noop" and rec0["n_dead"] == len(dead)
    rec = ann_index.ann_index_maintain(
        spark, idx, max_dead_ratio=0.2, max_files_per_cell=99
    ).collect()[0]
    assert rec["action"] == "compacted" and "dead_ratio" in rec["reason"]
    stats = ann_index.ann_index_stats(spark, idx)
    assert stats.agg(F.sum("n_dead")).first()[0] == 0


# ---------------------------------------------------------------------------
# One probe path: every query shape routed by dynamic partition pruning
# ---------------------------------------------------------------------------
_DPP = re.compile(r"dynamicpruningexpression\(cell#\d+ IN dynamicpruning#\d+\)")
_AUDIT = itertools.count()


def _keep_all(vec_id):
    return True


def _keep_mod3(vec_id):
    return vec_id % 3 == 0


def _rerank(rows, keep, k=5):
    """Rows of a (query_id, neighbor_id, cos, rk) frame restricted to
    neighbours passing `keep` and re-ranked by the probe's own order
    (cos desc, neighbor_id asc)."""
    by_q: dict = {}
    for r in rows:
        if keep(r["neighbor_id"]):
            by_q.setdefault(r["query_id"], []).append(r)
    out = []
    for q, rs in by_q.items():
        rs.sort(key=lambda r: (-r["cos"], r["neighbor_id"]))
        out += [(q, r["neighbor_id"], r["cos"], i + 1) for i, r in enumerate(rs[:k])]
    return sorted(out)


def _query_frame(emb):
    return emb.filter(F.col("vec_id").isin(QIDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )


@pytest.fixture(scope="module")
def tombstoned(spark, tmp_path_factory):
    """A full store whose delete log holds ids the undeleted probes
    return (IVF top-2 overall and among multiples of 3, IVF-PQ top-2),
    plus the fused references over the live corpus.  Dead ids are >= 16,
    so the live corpus keeps every centroid and codebook seed and the
    fused forms over it are the store's exact references."""
    idx = str(tmp_path_factory.mktemp("annidx_dead") / "idx")
    emb = load(spark, SF, "embeddings")
    ann_index.ann_index_build(emb, idx).collect()

    def ivf_candidates(corpus):  # every candidate of the probed cells
        return similarity.ivf_topk(
            corpus, QIDS, k=500, n_centroids=16, n_probe=4
        ).collect()

    def ivfpq(corpus):
        return sorted(
            map(
                tuple,
                similarity.ivf_pq_topk(
                    corpus, QIDS, n_centroids=16, n_probe=4, m=4, k=16, topk=5
                ).collect(),
            )
        )

    cand = ivf_candidates(emb)
    top2 = _rerank(cand, _keep_all, 2) + _rerank(cand, _keep_mod3, 2)
    top2 += [r for r in ivfpq(emb) if r[3] <= 2]
    dead = sorted({r[1] for r in top2 if r[1] >= 16})
    ann_index.ann_index_delete(spark, idx, dead).collect()
    live = emb.filter(~F.col("vec_id").isin(dead))
    return {
        "idx": idx,
        "dead": set(dead),
        "emb": emb,
        "ivf": ivf_candidates(live),
        "ivfpq": ivfpq(live),
    }


def _call_jobs(spark, fn):
    """(fn's result, stage names of the Spark jobs it ran)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"ann-audit-{next(_AUDIT)}"
    sc.setJobGroup(group, "ann probe job audit")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    names = [
        info.name
        for j in tracker.getJobIdsForGroup(group) or []
        for s in tracker.getJobInfo(j).stageIds
        if (info := tracker.getStageInfo(s)) is not None
    ]
    return out, names


def _dynamically_pruned(df, component: str) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return any(
        "FileScan" in line and f"/{component}" in line and _DPP.search(line)
        for line in plan.splitlines()
    )


@pytest.mark.parametrize("filtered", [False, True], ids=["all", "allowed"])
@pytest.mark.parametrize("shape", ["ids", "frame"])
def test_probe(spark, tombstoned, shape, filtered):
    """Each IVF form equals the fused ivf_topk over the live corpus
    (restricted to the allowed set and re-ranked when filtered), never
    returns a tombstoned id, prunes the cells scan dynamically, and
    runs no Spark job before its result is collected (no routing
    collect)."""
    t = tombstoned
    queries = QIDS if shape == "ids" else _query_frame(t["emb"])
    allowed = (
        t["emb"].filter(F.col("vec_id") % 3 == 0).select("vec_id")
        if filtered
        else None
    )
    df, stages = _call_jobs(
        spark,
        lambda: ann_index.ann_index_probe(
            spark, t["idx"], queries, k=5, n_probe=4, allowed=allowed
        ),
    )
    assert stages == []
    assert _dynamically_pruned(df, "cells")
    got = sorted(map(tuple, df.collect()))
    assert got == _rerank(t["ivf"], _keep_mod3 if filtered else _keep_all)
    assert len(got) == 15 and not {r[1] for r in got} & t["dead"]


def test_probe_dpp_byte_identical_and_dynamic_pruning(spark, built):
    """On a store with no delete log the member-id probe keeps the
    probe-cell set as a DataFrame: byte-identical to the fused
    ivf_topk AND the cells scan is pruned through a
    DynamicPruningExpression (no driver-collected routing list)."""
    idx, _ = built
    emb = load(spark, SF, "embeddings")
    fused = sorted(
        map(tuple, similarity.ivf_topk(emb, QIDS, k=5, n_centroids=16, n_probe=4).collect())
    )
    df = ann_index.ann_index_probe(spark, idx, QIDS, k=5, n_probe=4)
    assert _dynamically_pruned(df, "cells")
    assert sorted(map(tuple, df.collect())) == fused and fused


def _store_with_dead_range(spark, tmp_path):
    """A fresh default-built store with ids 50..89 tombstoned, and the
    live corpus (dead ids are >= 16, so the centroid seeds survive)."""
    idx = str(tmp_path / "idx")
    emb = load(spark, SF, "embeddings")
    ann_index.ann_index_build(emb, idx).collect()
    dead = list(range(50, 90))
    ann_index.ann_index_delete(spark, idx, dead).collect()
    return idx, emb, set(dead), emb.filter(~F.col("vec_id").isin(dead))


def test_probe_dpp_respects_tombstones(spark, tmp_path):
    idx, _, dead, live = _store_with_dead_range(spark, tmp_path)
    out = sorted(map(tuple, ann_index.ann_index_probe(spark, idx, QIDS).collect()))
    assert out and not {r[1] for r in out} & dead
    assert out == sorted(map(tuple, similarity.ivf_topk(live, QIDS).collect()))


def test_probe_vectors_dpp_byte_identical_and_zero_collect(spark, built):
    """External query vectors stay distributed end to end: the
    caller-frame probe is byte-identical to the member-id probe on the
    same member vectors, prunes the cells scan dynamically, has no
    CollectLimit in its plan and runs no Spark job before collect."""
    idx, _ = built
    qdf = _query_frame(load(spark, SF, "embeddings"))
    df, stages = _call_jobs(
        spark, lambda: ann_index.ann_index_probe(spark, idx, qdf, k=5, n_probe=4)
    )
    assert stages == []
    assert _dynamically_pruned(df, "cells")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collectlimit" not in plan.lower()
    member = sorted(
        map(tuple, ann_index.ann_index_probe(spark, idx, QIDS, k=5, n_probe=4).collect())
    )
    assert sorted(map(tuple, df.collect())) == member and member


def test_probe_vectors_dpp_respects_tombstones(spark, tmp_path):
    idx, emb, dead, _ = _store_with_dead_range(spark, tmp_path)
    out = ann_index.ann_index_probe(spark, idx, _query_frame(emb)).collect()
    assert out and not {r["neighbor_id"] for r in out} & dead
    member = ann_index.ann_index_probe(spark, idx, QIDS).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, member))


@pytest.mark.parametrize("shape", ["ids", "frame"])
def test_probe_ivfpq(spark, tombstoned, shape):
    """Each IVF-PQ form equals the fused ivf_pq_topk over the live
    corpus, never returns a tombstoned id, prunes BOTH the cells and
    the codes scans dynamically, and before collect runs only the
    codes read's schema inference."""
    t = tombstoned
    queries = QIDS if shape == "ids" else _query_frame(t["emb"])
    df, stages = _call_jobs(
        spark,
        lambda: ann_index.ann_index_probe_ivfpq(
            spark, t["idx"], queries, topk=5, n_probe=4
        ),
    )
    assert all(n.startswith("parquet at") for n in stages), stages
    assert _dynamically_pruned(df, "cells") and _dynamically_pruned(df, "codes")
    got = sorted(map(tuple, df.collect()))
    assert got == t["ivfpq"] and got
    assert not {r[1] for r in got} & t["dead"]


def test_warm_probe_job_budget(spark, tombstoned, monkeypatch):
    """Job budget of a warm probe on a store with tombstones: no
    footer-inference job on a fixed-schema component.  The IVF probe
    runs none at all; the IVF-PQ probe runs exactly one, the codes read
    (its width is the codebook's), and none once that read is given
    its schema."""
    idx = tombstoned["idx"]

    def run(probe):
        probe(spark, idx, QIDS).collect()  # warm
        return _call_jobs(spark, lambda: probe(spark, idx, QIDS).collect())[1]

    def inferred(stages):
        return [n for n in stages if n.startswith("parquet at")]

    ivf = run(ann_index.ann_index_probe)
    assert ivf and not inferred(ivf), ivf
    assert len(inferred(run(ann_index.ann_index_probe_ivfpq))) == 1
    codes_ddl = "vec_id long, code0 int, code1 int, code2 int, code3 int, cell int"
    monkeypatch.setattr(
        ann_index,
        "_codes",
        lambda spark, base, gen: spark.read.schema(codes_ddl).parquet(
            sm.gen_dir(base, "codes", gen)
        ),
    )
    ivfpq = run(ann_index.ann_index_probe_ivfpq)
    assert ivfpq and not inferred(ivfpq), ivfpq
