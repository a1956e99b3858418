"""Persistent MinHash-LSH dedup index (operators/dedup_index.py): the
sign-once / probe-at-ingest contract.

- probe off the persisted index matches the FUSED rule (signatures +
  band join recomputed from scratch over the union corpus) exactly
- build(A) + append(B) leaves a byte-identical store to build(A ∪ B)
- append of a tombstoned / duplicate id fails fast
- tombstoned ids never appear in probes; compaction preserves probe
  results exactly and starts a fresh empty delete log
- a crash BEFORE the compaction manifest commit leaves probes on the
  old generation, unchanged
- the probe path's band scan prunes (band, pfx) partitions ON DISK
  (numPartitions scan metric, not a post-scan filter)
- a probe reads bands, sigs and _meta with their fixed schemas (no
  footer-inference job)
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cloud_native_reddit_data_pipeline_spark.operators import dedup, dedup_index
from cloud_native_reddit_data_pipeline_spark.sources.tables import load
from cloud_native_reddit_data_pipeline_spark.storage import manifest as sm

SF = "/root/testdata/sf0.001"


def _sorted(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("dedupidx") / "idx")
    docs = load(spark, SF, "documents")
    manifest = dedup_index.dedup_index_build(docs.filter("doc_id % 10 != 0"), idx)
    return idx, manifest.collect()


def test_manifest_covers_corpus(spark, built):
    idx, manifest = built
    n_docs = load(spark, SF, "documents").filter("doc_id % 10 != 0").count()
    # every document contributes exactly `bands` band rows
    assert sum(r["n_rows"] for r in manifest) == n_docs * 4
    assert all(0 <= r["band"] < 4 for r in manifest)
    assert all(r["pfx"] in "0123456789abcdef" for r in manifest)


def test_layout_on_disk(built):
    idx, _ = built
    base = f"{idx}/v1"
    for part in ("sigs", "bands", "_meta"):
        assert os.path.isdir(f"{base}/{part}"), part
    bands = [d for d in os.listdir(f"{base}/bands") if d.startswith("band=")]
    assert len(bands) == 4  # genuinely partitioned by band
    pfx = [d for d in os.listdir(f"{base}/bands/{bands[0]}") if d.startswith("pfx=")]
    assert len(pfx) >= 2  # ... and by key prefix inside each band


def _fused_probe_rule(spark, min_agree):
    """Independent derivation: fused signatures over the WHOLE corpus,
    banded in memory, probe→index candidate pairs, agreement count."""
    docs = load(spark, SF, "documents")
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    banded = dedup.lsh_band_keys(sigs, "doc_id", num_hashes=8, bands=4)
    p = banded.filter(F.col("doc_id") % 10 == 0).alias("p")
    i = banded.filter(F.col("doc_id") % 10 != 0).alias("i")
    cand = (
        p.join(i, (F.col("p.band") == F.col("i.band")) & (F.col("p.key") == F.col("i.key")))
        .select(F.col("p.doc_id").alias("probe_id"), F.col("i.doc_id").alias("index_id"))
        .distinct()
    )
    agree = sum(
        F.when(F.col("ps.h" + str(k)) == F.col("ix.h" + str(k)), 1).otherwise(0)
        for k in range(8)
    )
    return (
        cand.join(sigs.alias("ps"), F.col("probe_id") == F.col("ps.doc_id"))
        .join(sigs.alias("ix"), F.col("index_id") == F.col("ix.doc_id"))
        .select(
            "probe_id",
            "index_id",
            agree.cast("int").alias("n_agree"),
            (agree.cast("double") / F.lit(8.0)).alias("est_jaccard"),
        )
        .filter(F.col("n_agree") >= min_agree)
    )


def test_probe_matches_fused_rule(spark, built):
    """... and the probe reads every store component with its fixed
    schema: no footer-inference (``parquet at``) job runs."""
    idx, _ = built
    probe_docs = load(spark, SF, "documents").filter("doc_id % 10 = 0")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("dedup-probe-audit", "dedup probe job audit")
    try:
        got = dedup_index.dedup_index_probe(spark, probe_docs, idx, min_agree=4)
    finally:
        sc.setJobGroup(None, None)
    stages = [
        info.name
        for j in tracker.getJobIdsForGroup("dedup-probe-audit") or []
        for s in tracker.getJobInfo(j).stageIds
        if (info := tracker.getStageInfo(s)) is not None
    ]
    assert stages and not [n for n in stages if n.startswith("parquet at")], stages
    want = _fused_probe_rule(spark, min_agree=4)
    assert _sorted(got) == _sorted(want)
    assert got.count() > 0  # the synthetic corpus has injected near-dups


def test_probe_unpruned_identical(spark, built):
    idx, _ = built
    probe_docs = load(spark, SF, "documents").filter("doc_id % 10 = 0")
    a = dedup_index.dedup_index_probe(spark, probe_docs, idx, min_agree=4, prune=True)
    b = dedup_index.dedup_index_probe(spark, probe_docs, idx, min_agree=4, prune=False)
    assert _sorted(a) == _sorted(b)


def test_append_equals_build(spark, tmp_path):
    docs = load(spark, SF, "documents")
    half_a = docs.filter("doc_id % 2 = 0")
    half_b = docs.filter("doc_id % 2 = 1")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    dedup_index.dedup_index_build(half_a, inc).collect()
    dedup_index.dedup_index_append(spark, half_b, inc).collect()
    dedup_index.dedup_index_build(docs, full).collect()
    for part in ("sigs", "bands"):
        a = spark.read.parquet(dedup_index.resolve_dedup_dirs(spark, inc)[part])
        b = spark.read.parquet(dedup_index.resolve_dedup_dirs(spark, full)[part])
        assert _sorted(a) == _sorted(b), part


def test_append_guards(spark, tmp_path):
    docs = load(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    dedup_index.dedup_index_build(docs.filter("doc_id < 100"), idx).collect()
    # duplicate live id fails fast
    with pytest.raises(ValueError, match="already present"):
        dedup_index.dedup_index_append(spark, docs.filter("doc_id = 5"), idx)
    # tombstoned id fails fast with the compact-first contract
    dedup_index.dedup_index_delete(spark, idx, [7]).collect()
    with pytest.raises(ValueError, match="tombstoned"):
        dedup_index.dedup_index_append(spark, docs.filter("doc_id = 7"), idx)
    # after compact the id is reclaimed and re-insert succeeds
    dedup_index.dedup_index_compact(spark, idx).collect()
    dedup_index.dedup_index_append(spark, docs.filter("doc_id = 7"), idx).collect()
    sigs = spark.read.parquet(dedup_index.resolve_dedup_dirs(spark, idx)["sigs"])
    assert sigs.filter("doc_id = 7").count() == 1


def test_delete_then_compact_preserves_probes(spark, tmp_path):
    docs = load(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    dedup_index.dedup_index_build(docs.filter("doc_id % 10 != 0"), idx).collect()
    probe_docs = docs.filter("doc_id % 10 = 0")
    before = _sorted(dedup_index.dedup_index_probe(spark, probe_docs, idx, min_agree=4))
    assert before
    victims = sorted({r[1] for r in before})[:2]
    dedup_index.dedup_index_delete(spark, idx, victims).collect()
    # a repeated delete appends nothing
    again = dedup_index.dedup_index_delete(spark, idx, victims).collect()[0]
    assert (again["n_tombstones_added"], again["n_tombstones_total"]) == (0, 2)
    # a log that already holds a repeated id (written before deletes
    # deduped) still counts each dead id once
    sm.local_rows_df(spark, "doc_id long", [(victims[0],)]).write.mode(
        "append"
    ).parquet(f"{idx}/v1/tombstones")
    rec = dedup_index.dedup_index_maintain(spark, idx).collect()[0]
    assert (rec["action"], rec["n_dead"]) == ("noop", 2)
    after = _sorted(dedup_index.dedup_index_probe(spark, probe_docs, idx, min_agree=4))
    assert after == [r for r in before if r[1] not in victims]
    dedup_index.dedup_index_compact(spark, idx).collect()
    # fresh generation: results identical, delete log empty
    assert _sorted(
        dedup_index.dedup_index_probe(spark, probe_docs, idx, min_agree=4)
    ) == after
    dirs = dedup_index.resolve_dedup_dirs(spark, idx)
    assert dirs["bands"].endswith("bands_g1")
    assert not os.path.isdir(dirs["tombstones"])
    # physical rows for the victims are actually reclaimed
    sigs = spark.read.parquet(dirs["sigs"])
    assert sigs.filter(F.col("doc_id").isin(victims)).count() == 0


def test_compact_crash_before_commit_leaves_old_generation(
    spark, tmp_path, monkeypatch
):
    docs = load(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    dedup_index.dedup_index_build(docs.filter("doc_id % 10 != 0"), idx).collect()
    probe_docs = docs.filter("doc_id % 10 = 0")
    dedup_index.dedup_index_delete(spark, idx, [8]).collect()
    before = _sorted(dedup_index.dedup_index_probe(spark, probe_docs, idx, min_agree=4))

    def crash(*a, **kw):
        raise RuntimeError("simulated crash before manifest commit")

    monkeypatch.setattr(sm, "append_commit", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        dedup_index.dedup_index_compact(spark, idx)
    monkeypatch.undo()
    # probes still read the OLD committed generation, byte-identical
    assert _sorted(
        dedup_index.dedup_index_probe(spark, probe_docs, idx, min_agree=4)
    ) == before
    assert dedup_index.resolve_dedup_dirs(spark, idx)["bands"].endswith("/bands")


def test_probe_scan_prunes_band_partitions(spark, built):
    """The band-table read must prune at the partition level: the same
    (band, pfx) OR-chain the probe builds shows up as PartitionFilters
    and the scan's numPartitions metric drops accordingly."""
    idx, _ = built
    bands = spark.read.parquet(f"{idx}/v1/bands")
    pruned = bands.filter(
        ((F.col("band") == 0) & (F.col("pfx") == "a"))
        | ((F.col("band") == 1) & (F.col("pfx") == "b"))
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

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

    n_all = scan_metric(bands, "numPartitions")
    n_pruned = scan_metric(pruned, "numPartitions")
    assert n_pruned == 2 and n_all > n_pruned


def test_stats_monitor(spark, built):
    idx, _ = built
    st = dedup_index.dedup_index_stats(spark, idx).collect()
    n_docs = load(spark, SF, "documents").filter("doc_id % 10 != 0").count()
    assert sum(r["n_rows_physical"] for r in st) == n_docs * 4
    assert all(r["n_rows_live"] <= r["n_rows_physical"] for r in st)
    assert all(r["max_bucket_live"] >= 1 for r in st)
    # hot-bucket monitor: the injected near-dup groups produce at least
    # one bucket with >1 member somewhere
    assert max(r["max_bucket_live"] for r in st) > 1


def test_fsck_clean_and_corruption_flips(spark, tmp_path):
    docs = load(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    dedup_index.dedup_index_build(docs.filter("doc_id < 200"), idx).collect()
    row = dedup_index.dedup_index_fsck(spark, idx).collect()[0]
    assert row["ids_match"] and row["rows_per_doc_ok"]
    assert row["band_range_ok"] and row["pfx_ok"]
    # corrupt: duplicate one band row into the store — a doc now has 5
    # band rows, which must flip rows_per_doc_ok (and nothing else)
    dirs = dedup_index.resolve_dedup_dirs(spark, idx)
    one = spark.read.parquet(dirs["bands"]).limit(1)
    one.write.mode("append").partitionBy("band", "pfx").parquet(dirs["bands"])
    row2 = dedup_index.dedup_index_fsck(spark, idx).collect()[0]
    assert not row2["rows_per_doc_ok"]
    assert row2["ids_match"] and row2["band_range_ok"] and row2["pfx_ok"]


def test_gc_reclaims_orphaned_generations(spark, tmp_path, monkeypatch):
    """If compaction's best-effort GC never ran (crash after the
    manifest commit), dedup_index_gc collects exactly the superseded
    generation dirs, leaves the committed one untouched, and probes are
    unchanged; a second GC finds nothing."""
    docs = load(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    dedup_index.dedup_index_build(docs.filter("doc_id % 10 != 0"), idx).collect()
    dedup_index.dedup_index_delete(spark, idx, [8, 12]).collect()
    monkeypatch.setattr(sm, "fs_delete", lambda *a, **kw: None)
    dedup_index.dedup_index_compact(spark, idx).collect()
    monkeypatch.undo()
    names = set(os.listdir(f"{idx}/v1"))
    assert {"sigs", "bands", "tombstones", "sigs_g1", "bands_g1"} <= names
    probe_docs = docs.filter("doc_id % 10 = 0")
    before = _sorted(dedup_index.dedup_index_probe(spark, probe_docs, idx, min_agree=4))
    removed = dedup_index.dedup_index_gc(spark, idx)
    assert removed == ["bands", "sigs", "tombstones"]
    names = set(os.listdir(f"{idx}/v1"))
    assert "sigs" not in names and "sigs_g1" in names and "bands_g1" in names
    assert _sorted(
        dedup_index.dedup_index_probe(spark, probe_docs, idx, min_agree=4)
    ) == before
    assert dedup_index.dedup_index_gc(spark, idx) == []


def test_concurrent_probe_during_compact(spark, tmp_path):
    """Snapshot isolation across the compact commit window (round-14
    store-family contract): probes racing a compact answer from
    entirely the pre- or entirely the post-compact generation — which
    compaction makes indistinguishable — so every concurrent answer
    equals the expected pair set and none errors.  Compact defers
    old-generation deletion to dedup_index_gc (reader grace); gc after
    the race must not change answers."""
    import threading

    docs = load(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    dedup_index.dedup_index_build(docs.filter("doc_id % 10 != 0"), idx).collect()
    dedup_index.dedup_index_delete(spark, idx, [8, 12]).collect()
    probe_docs = docs.filter("doc_id % 10 = 0")
    want = _sorted(dedup_index.dedup_index_probe(spark, probe_docs, idx, min_agree=4))

    started = threading.Barrier(2, timeout=60)
    answers: list = []
    errors: list = []

    def reader():
        try:
            started.wait()
            for _ in range(5):
                answers.append(
                    _sorted(
                        dedup_index.dedup_index_probe(
                            spark, probe_docs, idx, min_agree=4
                        )
                    )
                )
        except Exception as e:  # noqa: BLE001 — recorded, asserted below
            errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    started.wait()
    dedup_index.dedup_index_compact(spark, idx).collect()
    t.join(timeout=300)
    assert not t.is_alive(), "concurrent prober hung"
    assert not errors, f"concurrent probe failed during compact: {errors[0]}"
    assert len(answers) == 5
    assert all(a == want for a in answers), "a probe saw a mixed generation"
    removed = dedup_index.dedup_index_gc(spark, idx)
    assert "bands" in removed and "sigs" in removed
    assert _sorted(
        dedup_index.dedup_index_probe(spark, probe_docs, idx, min_agree=4)
    ) == want


def test_rebuild_after_compact_serves_new_corpus(spark, tmp_path):
    """A rebuild into the SAME version dir must reset the generation
    manifest — otherwise readers keep resolving the old compacted
    generation and silently serve stale artifacts."""
    docs = load(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    dedup_index.dedup_index_build(docs.filter("doc_id < 200"), idx).collect()
    dedup_index.dedup_index_delete(spark, idx, [5]).collect()
    dedup_index.dedup_index_compact(spark, idx).collect()
    # rebuild in place over a DIFFERENT corpus
    dedup_index.dedup_index_build(
        docs.filter("doc_id >= 200 AND doc_id < 400"), idx
    ).collect()
    dirs = dedup_index.resolve_dedup_dirs(spark, idx)
    assert dirs["sigs"].endswith("/sigs")  # back on generation 0
    got = {
        r["doc_id"]
        for r in spark.read.parquet(dirs["sigs"]).select("doc_id").collect()
    }
    assert got and all(200 <= d < 400 for d in got)
    # ... and GC after the rebuild never collects the fresh build
    assert dedup_index.dedup_index_gc(spark, idx) == []


def test_compact_to_empty_fails_fast_store_intact(spark, tmp_path):
    docs = load(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    dedup_index.dedup_index_build(docs.filter("doc_id < 50"), idx).collect()
    live = [
        r["doc_id"]
        for r in spark.read.parquet(
            dedup_index.resolve_dedup_dirs(spark, idx)["sigs"]
        ).select("doc_id").collect()
    ]
    dedup_index.dedup_index_delete(spark, idx, live).collect()
    with pytest.raises(ValueError, match="empty or unreadable"):
        dedup_index.dedup_index_compact(spark, idx)
    # store still on the old generation and fully probeable
    dirs = dedup_index.resolve_dedup_dirs(spark, idx)
    assert dirs["sigs"].endswith("/sigs")
    assert spark.read.parquet(dirs["sigs"]).count() == len(live)


# ---------------------------------------------------------------------------
# Round 12: torn-append detectability + cache discipline
# ---------------------------------------------------------------------------
def test_torn_append_underreports_and_fsck_flags(spark, tmp_path):
    """The documented torn-append window (bands land, sigs crash):
    probes must not error and must not produce phantom pairs — the new
    docs simply drop at the signature join (under-report only) — and
    fsck flags the store (ids_match = false)."""
    idx = str(tmp_path / "idx")
    docs = load(spark, SF, "documents")
    dedup_index.dedup_index_build(docs.filter("doc_id % 10 != 0"), idx)
    clean = _sorted(
        dedup_index.dedup_index_probe(
            spark, docs.filter("doc_id % 10 = 0"), idx, min_agree=4
        )
    )
    # simulate the crash: append ONLY the band half for new docs
    new_docs = docs.filter("doc_id % 10 = 0")
    base = f"{idx}/v1"
    num_hashes, bands, shingle_n = dedup_index._meta(spark, base)
    _, banded, raw = dedup_index._banded(
        new_docs, "doc_id", "text", num_hashes, bands, shingle_n
    )
    try:
        banded.write.mode("append").partitionBy("band", "pfx").parquet(
            f"{base}/bands"
        )
    finally:
        raw.unpersist()
    fsck = dedup_index.dedup_index_fsck(spark, idx).collect()[0]
    assert fsck["ids_match"] is False
    torn = _sorted(
        dedup_index.dedup_index_probe(
            spark, docs.filter("doc_id % 10 = 0"), idx, min_agree=4
        )
    )
    assert torn == clean  # no phantoms, no errors — under-report only
    # a blind re-run of the append fails fast: the guard counts the
    # orphaned band-side ids as live (re-appending would double them)
    with pytest.raises(ValueError, match="already present"):
        dedup_index.dedup_index_append(spark, new_docs, idx)
    # the heal path: compact drops the orphaned band half...
    dedup_index.dedup_index_compact(spark, idx)
    healed = dedup_index.dedup_index_fsck(spark, idx).collect()[0]
    assert healed["ids_match"] is True and healed["rows_per_doc_ok"] is True
    # ...after which the interrupted append re-runs cleanly and the
    # store equals a never-torn build+append
    dedup_index.dedup_index_append(spark, new_docs, idx)
    final = dedup_index.dedup_index_fsck(spark, idx).collect()[0]
    assert final["ids_match"] is True and final["rows_per_doc_ok"] is True
    after = _sorted(
        dedup_index.dedup_index_probe(
            spark, docs.filter("doc_id % 10 = 0"), idx, min_agree=4
        )
    )
    ref_idx = str(tmp_path / "ref")
    dedup_index.dedup_index_build(docs, ref_idx)
    ref = _sorted(
        dedup_index.dedup_index_probe(
            spark, docs.filter("doc_id % 10 = 0"), ref_idx, min_agree=4,
        )
    )
    assert after == ref


def test_lifecycle_leaves_cache_idle(spark, tmp_path):
    """Cache-discipline sweep (round-12 verdict task 7): no persisted
    RDD survives any dedup-index verb — including the failure path of
    the probe's sign-pass pin (try/finally unpersist)."""
    from conftest import assert_cache_idle

    idx = str(tmp_path / "idx")
    docs = load(spark, SF, "documents")
    base_df = docs.filter("doc_id % 20 != 7")
    new_df = docs.filter("doc_id % 20 = 7")
    steps = [
        ("build", lambda: dedup_index.dedup_index_build(base_df, idx).collect()),
        ("probe", lambda: dedup_index.dedup_index_probe(spark, new_df, idx, min_agree=4).collect()),
        ("append", lambda: dedup_index.dedup_index_append(spark, new_df, idx).collect()),
        ("delete", lambda: dedup_index.dedup_index_delete(spark, idx, [20, 40]).collect()),
        ("stats", lambda: dedup_index.dedup_index_stats(spark, idx).collect()),
        ("compact", lambda: dedup_index.dedup_index_compact(spark, idx).collect()),
        ("fsck", lambda: dedup_index.dedup_index_fsck(spark, idx).collect()),
    ]
    for name, step in steps:
        step()
        assert_cache_idle(spark, f"dedup_index {name}")
    # failure path: a duplicate-id append raises BEFORE signing — and
    # a probe whose caller errors mid-plan must still release its pin
    with pytest.raises(ValueError):
        dedup_index.dedup_index_append(spark, new_df, idx)
    assert_cache_idle(spark, "dedup_index append-raise")


def test_maintain_heals_torn_append(spark, tmp_path):
    """Round-13 (verdict task 8): dedup_index_maintain runs the fsck
    id-set check itself and triggers the healing compact when a torn
    append is detected — crash → maintain → fsck green, with no
    operator wiring the two verbs by hand."""
    idx = str(tmp_path / "idx")
    docs = load(spark, SF, "documents")
    dedup_index.dedup_index_build(docs.filter("doc_id % 10 != 0"), idx)
    # inject the documented crash: bands half lands, sigs half doesn't
    new_docs = docs.filter("doc_id % 10 = 0")
    base = f"{idx}/v1"
    num_hashes, bands, shingle_n = dedup_index._meta(spark, base)
    _, banded, raw = dedup_index._banded(
        new_docs, "doc_id", "text", num_hashes, bands, shingle_n
    )
    try:
        banded.write.mode("append").partitionBy("band", "pfx").parquet(
            f"{base}/bands"
        )
    finally:
        raw.unpersist()
    assert dedup_index.dedup_index_fsck(spark, idx).collect()[0][
        "ids_match"
    ] is False
    rec = dedup_index.dedup_index_maintain(spark, idx).collect()[0]
    assert rec["action"] == "compacted" and "torn_append" in rec["reason"]
    assert rec["n_orphan_ids"] > 0
    healed = dedup_index.dedup_index_fsck(spark, idx).collect()[0]
    assert healed["ids_match"] is True
    # and the interrupted append can now be re-run cleanly
    dedup_index.dedup_index_append(spark, new_docs, idx).collect()
    assert dedup_index.dedup_index_fsck(spark, idx).collect()[0][
        "ids_match"
    ] is True


def test_maintain_thresholds_and_idempotence(spark, tmp_path):
    """Signals below thresholds no-op; tombstones above the ratio
    compact; an immediate second call no-ops (scheduler idempotence);
    probe results are byte-identical across maintenance."""
    idx = str(tmp_path / "idx")
    docs = load(spark, SF, "documents")
    dedup_index.dedup_index_build(docs.filter("doc_id % 10 != 0"), idx)
    probe_docs = docs.filter("doc_id % 10 = 0")
    rec0 = dedup_index.dedup_index_maintain(spark, idx).collect()[0]
    assert rec0["action"] == "noop" and rec0["reason"] == "none"
    dead = [int(r["doc_id"]) for r in
            docs.filter("doc_id % 10 = 3").select("doc_id").collect()]
    dedup_index.dedup_index_delete(spark, idx, dead).collect()
    before = _sorted(
        dedup_index.dedup_index_probe(spark, probe_docs, idx, min_agree=4)
    )
    rec = dedup_index.dedup_index_maintain(
        spark, idx, max_dead_ratio=0.05
    ).collect()[0]
    assert rec["action"] == "compacted" and "dead_ratio" in rec["reason"]
    rec2 = dedup_index.dedup_index_maintain(
        spark, idx, max_dead_ratio=0.05
    ).collect()[0]
    assert rec2["action"] == "noop" and rec2["n_dead"] == 0
    after = _sorted(
        dedup_index.dedup_index_probe(spark, probe_docs, idx, min_agree=4)
    )
    assert before == after and after


# Round 14: the bands-superset invariant behind the one-scan append guard
def test_bands_superset_of_sigs_across_lifecycle(spark, tmp_path):
    """The append duplicate guard scans the BAND table only; that is
    sound iff sigs ids ⊆ bands ids at every committed state.  Pin the
    invariant across the write paths that could break it: build,
    append, torn append (bands-only — strict superset, still sound:
    the guard over-detects), and the healing compact (back to equal
    sets)."""

    def ids(part):
        d = dedup_index.resolve_dedup_dirs(spark, idx)[part]
        return {r["doc_id"] for r in
                spark.read.parquet(d).select("doc_id").distinct().collect()}

    idx = str(tmp_path / "idx")
    docs = load(spark, SF, "documents")
    dedup_index.dedup_index_build(docs.filter("doc_id % 10 = 1"), idx).collect()
    assert ids("sigs") == ids("bands")  # build: equal sets
    dedup_index.dedup_index_append(
        spark, docs.filter("doc_id % 10 = 2"), idx
    ).collect()
    assert ids("sigs") == ids("bands")  # append: equal sets
    # torn append (bands land, sigs crash): superset, never the reverse
    base = f"{idx}/v1"
    num_hashes, bands, shingle_n = dedup_index._meta(spark, base)
    _, banded, raw = dedup_index._banded(
        docs.filter("doc_id % 10 = 3"), "doc_id", "text",
        num_hashes, bands, shingle_n,
    )
    try:
        banded.write.mode("append").partitionBy("band", "pfx").parquet(
            f"{base}/bands"
        )
    finally:
        raw.unpersist()
    assert ids("sigs") < ids("bands")  # strict superset on the torn store
    dedup_index.dedup_index_compact(spark, idx).collect()
    assert ids("sigs") == ids("bands")  # compact heals to equal sets
