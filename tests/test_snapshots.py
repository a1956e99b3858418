"""Versioned snapshot store (streaming/snapshots.py): the commit-log +
time-travel contract.

- as-of reads reproduce each historical state exactly (last-writer-wins
  by (snap, seq), tombstones absent, resurrect-after-delete honored)
- the manifest append IS the commit: a crash after the data write but
  before it leaves readers on the previous snapshot, and the retried
  commit installs cleanly over the orphan partition
- redelivered batch_ids are no-ops (exactly-once under foreachBatch)
- compaction preserves every read at-or-above the horizon byte-for-byte,
  raises below it, and GC's the folded log partitions
- a crash before the compaction _commits append leaves time travel
  over the FULL history intact
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cloud_native_reddit_data_pipeline_spark.sources.tables import load
from cloud_native_reddit_data_pipeline_spark.streaming import snapshots

SF = "/root/testdata/sf0.001"


def _batches(spark):
    orders = load(spark, SF, "orders")
    b1 = orders.filter("o_orderkey % 3 = 0").select(
        F.col("o_orderkey").alias("id"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
        F.col("o_totalprice").cast("double").alias("val"),
    )
    b2 = (
        orders.filter("o_orderkey % 6 = 0")
        .select(
            F.col("o_orderkey").alias("id"),
            F.lit(2).alias("seq"),
            F.lit("U").alias("op"),
            (F.col("o_totalprice") + 1000).cast("double").alias("val"),
        )
        .unionByName(
            orders.filter("o_orderkey % 9 = 0").select(
                F.col("o_orderkey").alias("id"),
                F.lit(2).alias("seq"),
                F.lit("D").alias("op"),
                F.lit(None).cast("double").alias("val"),
            )
        )
    )
    b3 = orders.filter("o_orderkey % 12 = 0").select(
        F.col("o_orderkey").alias("id"),
        F.lit(3).alias("seq"),
        F.lit("U").alias("op"),
        (F.col("o_totalprice") + 500).cast("double").alias("val"),
    )
    return b1, b2, b3


def _expected(spark, as_of):
    """Independent derivation of the state at each snapshot from the
    orders table (the ops are deterministic functions of the key)."""
    orders = load(spark, SF, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").cast("double").alias("p"),
    )
    if as_of == 1:
        df = orders.filter("id % 3 = 0").select("id", F.col("p").alias("val"))
    elif as_of == 2:
        df = (
            orders.filter("id % 3 = 0 AND id % 9 != 0")
            .select(
                "id",
                F.when(F.col("id") % 6 == 0, F.col("p") + 1000)
                .otherwise(F.col("p"))
                .alias("val"),
            )
        )
    else:  # seq-3 upserts win over the seq-2 tombstones (resurrect)
        df = (
            orders.filter("id % 3 = 0 AND (id % 9 != 0 OR id % 12 = 0)")
            .select(
                "id",
                F.when(F.col("id") % 12 == 0, F.col("p") + 500)
                .when(F.col("id") % 6 == 0, F.col("p") + 1000)
                .otherwise(F.col("p"))
                .alias("val"),
            )
        )
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    st = str(tmp_path_factory.mktemp("snapstore") / "store")
    b1, b2, b3 = _batches(spark)
    assert snapshots.snapshot_commit(b1, st, "id", "seq", batch_id="b1") == 1
    assert snapshots.snapshot_commit(b2, st, "id", "seq", batch_id="b2") == 2
    assert snapshots.snapshot_commit(b3, st, "id", "seq", batch_id="b3") == 3
    return st


def _read(spark, st, s):
    return sorted(
        map(tuple, snapshots.read_as_of(spark, st, s).select("id", "val").collect())
    )


def test_time_travel_reproduces_each_state(spark, store):
    for s in (1, 2, 3):
        assert _read(spark, store, s) == _expected(spark, s), f"as_of {s}"
    # default read = latest committed
    assert _read(spark, store, None) == _expected(spark, 3)


def test_resurrect_after_delete(spark, store):
    # keys %36 == 0 were tombstoned at seq 2 and re-upserted at seq 3
    res = (
        snapshots.read_as_of(spark, store, 3)
        .filter("id % 36 = 0")
        .count()
    )
    gone_at_2 = (
        snapshots.read_as_of(spark, store, 2).filter("id % 36 = 0").count()
    )
    assert res > 0 and gone_at_2 == 0


def test_redelivered_batch_is_noop(spark, store):
    _, _, b3 = _batches(spark)
    assert snapshots.snapshot_commit(b3, store, "id", "seq", batch_id="b3") == 3
    assert snapshots.current_snapshot(spark, store) == 3


def test_crash_before_manifest_commit(spark, tmp_path):
    st = str(tmp_path / "store")
    b1, b2, _ = _batches(spark)
    snapshots.snapshot_commit(b1, st, "id", "seq", batch_id="b1")
    before = _read(spark, st, None)
    # simulate: batch-2 data written (in the commit's bucketed layout),
    # manifest append crashed — the uncommitted log partition must be
    # invisible to readers
    (
        b2.withColumn(
            "bucket",
            F.pmod(F.xxhash64(F.col("id")), F.lit(snapshots.N_LOOKUP_BUCKETS))
            .cast("int"),
        )
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{st}/log/snap=2")
    )
    assert snapshots.current_snapshot(spark, st) == 1
    assert _read(spark, st, None) == before
    # the retried commit installs over the orphan and is visible
    assert snapshots.snapshot_commit(b2, st, "id", "seq", batch_id="b2") == 2
    assert _read(spark, st, None) == _expected(spark, 2)


def test_compaction_preserves_and_enforces_horizon(spark, tmp_path):
    st = str(tmp_path / "store")
    b1, b2, b3 = _batches(spark)
    for b, bid in ((b1, "b1"), (b2, "b2"), (b3, "b3")):
        snapshots.snapshot_commit(b, st, "id", "seq", batch_id=bid)
    pre2, pre3 = _read(spark, st, 2), _read(spark, st, 3)
    rec = snapshots.compact_snapshots(spark, st, 2).collect()[0]
    assert rec["base_gen"] == 1 and rec["horizon"] == 2
    # reads at and above the horizon are byte-identical
    assert _read(spark, st, 2) == pre2
    assert _read(spark, st, 3) == pre3
    # below the horizon: history folded, explicit error
    with pytest.raises(ValueError, match="below the compaction horizon"):
        snapshots.read_as_of(spark, st, 1)
    # compact leaves the folded partitions for reader grace; the
    # explicit gc verb reclaims exactly them and spares the tail
    assert os.path.isdir(f"{st}/log/snap=1")
    removed = snapshots.snapshot_gc(spark, st)
    assert removed == ["log/snap=1", "log/snap=2"]
    assert not os.path.isdir(f"{st}/log/snap=1")
    assert not os.path.isdir(f"{st}/log/snap=2")
    assert os.path.isdir(f"{st}/log/snap=3")
    # reads unchanged after the reclaim; a second gc finds nothing
    assert _read(spark, st, 3) == pre3
    assert snapshots.snapshot_gc(spark, st) == []


def test_concurrent_read_during_compact(spark, tmp_path):
    """Snapshot isolation across the compact commit window (round-14
    store-family contract): reads racing a compact answer from
    entirely the pre- or entirely the post-compact state — which the
    at-or-above-horizon preservation makes indistinguishable — so
    every concurrent read equals the expected table and none errors.
    Compact defers old-base/folded-log deletion to snapshot_gc so an
    in-flight reader that resolved the old manifest keeps readable
    files; gc afterwards (readers drained) must not change reads."""
    import threading

    st = str(tmp_path / "store")
    b1, b2, b3 = _batches(spark)
    for b, bid in ((b1, "b1"), (b2, "b2"), (b3, "b3")):
        snapshots.snapshot_commit(b, st, "id", "seq", batch_id=bid)
    want = _read(spark, st, 3)

    started = threading.Barrier(2, timeout=60)
    answers: list = []
    errors: list = []

    def reader():
        try:
            started.wait()
            for _ in range(6):
                answers.append(_read(spark, st, None))
        except Exception as e:  # noqa: BLE001 — recorded, asserted below
            errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    started.wait()
    snapshots.compact_snapshots(spark, st, 2).collect()
    t.join(timeout=300)
    assert not t.is_alive(), "concurrent reader hung"
    assert not errors, f"concurrent read failed during compact: {errors[0]}"
    assert len(answers) == 6
    assert all(a == want for a in answers), "a reader saw a mixed state"
    snapshots.snapshot_gc(spark, st)
    assert _read(spark, st, None) == want


def test_compact_crash_before_commit_keeps_full_history(
    spark, tmp_path, monkeypatch
):
    st = str(tmp_path / "store")
    b1, b2, b3 = _batches(spark)
    for b, bid in ((b1, "b1"), (b2, "b2"), (b3, "b3")):
        snapshots.snapshot_commit(b, st, "id", "seq", batch_id=bid)
    pre = [_read(spark, st, s) for s in (1, 2, 3)]

    def crash(*a, **kw):
        raise RuntimeError("simulated crash before manifest commit")

    monkeypatch.setattr(snapshots, "_append_commit", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        snapshots.compact_snapshots(spark, st, 2)
    monkeypatch.undo()
    # full time travel still works off the old (un-flipped) state
    assert [_read(spark, st, s) for s in (1, 2, 3)] == pre


def test_compaction_guards(spark, store):
    with pytest.raises(ValueError, match="exceeds the committed"):
        snapshots.compact_snapshots(spark, store, 99)


def test_snapshot_diff_classes(spark, store):
    d12 = snapshots.snapshot_diff(spark, store, 1, 2)
    by = {r["change"] for r in d12.select("change").distinct().collect()}
    assert by == {"deleted", "updated"}  # seq-2 tombstones + updates
    # every deleted key is a %9 tombstone victim
    assert d12.filter("change = 'deleted' AND id % 9 != 0").count() == 0
    d23 = snapshots.snapshot_diff(spark, store, 2, 3)
    # resurrect-after-delete surfaces as 'added'
    added = d23.filter("change = 'added'")
    assert added.count() > 0
    assert added.filter("id % 36 != 0").count() == 0
    assert added.filter("val_before IS NOT NULL").count() == 0


def test_snapshot_fsck_detects_truncated_log(spark, tmp_path):
    st = str(tmp_path / "store")
    b1, b2, b3 = _batches(spark)
    for b, bid in ((b1, "b1"), (b2, "b2"), (b3, "b3")):
        snapshots.snapshot_commit(b, st, "id", "seq", batch_id=bid)
    clean = snapshots.snapshot_fsck(spark, st).collect()
    assert all(r["n_rows_manifest"] == r["n_rows_log"] for r in clean)
    # corrupt: rewrite snapshot 2's log partition with half its rows —
    # the manifest now lies about the on-disk count
    half = spark.read.parquet(f"{st}/log/snap=2").limit(
        clean[1]["n_rows_log"] // 2
    )
    half_rows = half.collect()
    spark.createDataFrame(half_rows, half.schema).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(f"{st}/log/snap=2")
    dirty = {r["snap"]: r for r in snapshots.snapshot_fsck(spark, st).collect()}
    assert dirty[2]["n_rows_log"] < dirty[2]["n_rows_manifest"]
    assert dirty[1]["n_rows_log"] == dirty[1]["n_rows_manifest"]


def test_point_lookup_matches_filtered_read(spark, store):
    keys = [7, 12, 18, 21, 24, 36, 45, 72, 108, 144]
    for s in (2, 3):
        got = sorted(
            map(tuple, snapshots.snapshot_lookup(spark, store, keys, s).collect())
        )
        want = sorted(
            map(
                tuple,
                snapshots.read_as_of(spark, store, s)
                .filter(F.col("id").isin(keys))
                .collect(),
            )
        )
        assert got == want, f"as_of {s}"
    # the %36 resurrect shows up at 3 but not 2 through the lookup path
    k36 = [36, 72, 108, 144]
    at2 = snapshots.snapshot_lookup(spark, store, k36, 2).count()
    at3 = snapshots.snapshot_lookup(spark, store, k36, 3).count()
    assert at2 == 0 and at3 > 0


def test_lookup_scan_prunes_buckets(spark, store):
    """The log read must prune bucket sub-partitions on disk."""
    log = spark.read.parquet(f"{store}/log")
    pruned = log.filter((F.col("snap") <= 3) & F.col("bucket").isin([1, 2]))

    def scan_metric(df, k):
        df.collect()
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            n = stack.pop()
            if "Scan" in n.nodeName():
                it = n.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    if kv._1() == k:
                        return kv._2().value()
            for i in range(n.children().size()):
                stack.append(n.children().apply(i))
        raise AssertionError("no scan node")

    n_all = scan_metric(log, "numPartitions")
    n_pruned = scan_metric(pruned, "numPartitions")
    assert n_pruned < n_all


def test_lookup_after_compaction(spark, tmp_path):
    st = str(tmp_path / "store")
    b1, b2, b3 = _batches(spark)
    for b, bid in ((b1, "b1"), (b2, "b2"), (b3, "b3")):
        snapshots.snapshot_commit(b, st, "id", "seq", batch_id=bid)
    keys = [12, 24, 36, 72]
    pre = sorted(map(tuple, snapshots.snapshot_lookup(spark, st, keys, 3).collect()))
    snapshots.compact_snapshots(spark, st, 2)
    post = sorted(map(tuple, snapshots.snapshot_lookup(spark, st, keys, 3).collect()))
    assert post == pre  # base + tail lookup identical through the fold


def test_seq_authoritative_across_snapshots(spark, tmp_path):
    """A late-arriving OLD upsert committed in a LATER snapshot must
    lose to the higher-seq tombstone from an earlier one — the CDC
    contract (an old op can never resurrect a deleted key)."""
    st = str(tmp_path / "store")
    d = spark.createDataFrame(
        [(1, 10, "D", None)], "id long, seq int, op string, val double"
    )
    stale = spark.createDataFrame(
        [(1, 5, "U", 42.0)], "id long, seq int, op string, val double"
    )
    snapshots.snapshot_commit(d, st, "id", "seq", batch_id="b1")
    snapshots.snapshot_commit(stale, st, "id", "seq", batch_id="b2")
    assert snapshots.read_as_of(spark, st, 2).count() == 0
    # ... and a genuinely newer upsert does resurrect
    fresh = spark.createDataFrame(
        [(1, 11, "U", 43.0)], "id long, seq int, op string, val double"
    )
    snapshots.snapshot_commit(fresh, st, "id", "seq", batch_id="b3")
    assert [tuple(r) for r in snapshots.read_as_of(spark, st, 3).collect()] == [
        (1, 11, 43.0)
    ]


def test_read_above_committed_raises(spark, store):
    with pytest.raises(ValueError, match="not committed"):
        snapshots.read_as_of(spark, store, 7)
    with pytest.raises(ValueError, match="not committed"):
        snapshots.snapshot_lookup(spark, store, [12], 7)


def test_fsck_on_compacted_store(spark, tmp_path):
    st = str(tmp_path / "store")
    b1, b2, b3 = _batches(spark)
    for b, bid in ((b1, "b1"), (b2, "b2"), (b3, "b3")):
        snapshots.snapshot_commit(b, st, "id", "seq", batch_id=bid)
    snapshots.compact_snapshots(spark, st, 2)
    rows = snapshots.snapshot_fsck(spark, st).collect()
    # only the above-horizon tail is auditable; it must be clean
    assert [r["snap"] for r in rows] == [3]
    assert rows[0]["n_rows_manifest"] == rows[0]["n_rows_log"]


# ---------------------------------------------------------------------------
# Round 12: retention policy, key-type routing, empty commits, map
# payloads, single-pass fsck, cache discipline
# ---------------------------------------------------------------------------
def test_retention_drops_tombstones_and_rejects_late_redelivery(spark, tmp_path):
    """The redelivery-horizon pair: compact with a seq watermark drops
    old tombstones from the base AND arms the store so a late batch
    carrying ops below the watermark is rejected at commit — the
    tombstoned keys stay gone even though their tombstones are."""
    st = str(tmp_path / "store")
    b1, b2, b3 = _batches(spark)
    for b, bid in ((b1, "b1"), (b2, "b2"), (b3, "b3")):
        snapshots.snapshot_commit(b, st, "id", "seq", batch_id=bid)
    before = _read(spark, st, 3)
    snapshots.compact_snapshots(spark, st, 3, drop_tombstones_below_seq=3)
    # tombstones (all seq 2) are gone from the base
    base = spark.read.parquet(f"{st}/base_g1")
    assert base.filter(F.col("op") == "D").count() == 0
    # the visible state is untouched by the drop
    assert _read(spark, st, 3) == before
    # a late redelivery of the seq-1 batch is REJECTED, not resurrected
    with pytest.raises(ValueError, match="retention watermark"):
        snapshots.snapshot_commit(b1, st, "id", "seq", batch_id="late")
    assert snapshots.current_snapshot(spark, st) == 3  # nothing landed
    assert _read(spark, st, 3) == before
    # current-seq traffic still flows
    b4 = b3.withColumn("seq", F.lit(4))
    assert snapshots.snapshot_commit(b4, st, "id", "seq", batch_id="b4") == 4


def test_retention_refuses_unsafe_watermark(spark, tmp_path):
    """Compacting the prefix with a watermark ABOVE ops still in the
    uncompacted tail must refuse: dropping tombstones under live
    lower-seq tail ops could resurrect deleted keys."""
    st = str(tmp_path / "store")
    b1, b2, b3 = _batches(spark)
    for b, bid in ((b1, "b1"), (b2, "b2"), (b3, "b3")):
        snapshots.snapshot_commit(b, st, "id", "seq", batch_id=bid)
    with pytest.raises(ValueError, match="below the requested retention"):
        snapshots.compact_snapshots(spark, st, 2, drop_tombstones_below_seq=4)
    # a watermark the tail satisfies works fine
    snapshots.compact_snapshots(spark, st, 2, drop_tombstones_below_seq=2)
    assert _read(spark, st, 3) == _expected(spark, 3)


def test_lookup_routes_by_store_key_type(spark, tmp_path):
    """xxhash64 hashes INT and LONG inputs differently: a store keyed
    by an int column must route lookups through the SAME type, or
    point reads silently miss (round-12 ADVICE fix).  Lookup results
    must equal the filtered full read for an int-keyed store."""
    st = str(tmp_path / "store")
    b1, _, _ = _batches(spark)
    b1 = b1.withColumn("id", F.col("id").cast("int"))
    snapshots.snapshot_commit(b1, st, "id", "seq", batch_id="b1")
    keys = [int(r["id"]) for r in b1.limit(7).collect()]
    got = sorted(
        map(tuple, snapshots.snapshot_lookup(spark, st, keys, 1).collect())
    )
    want = sorted(
        map(
            tuple,
            snapshots.read_as_of(spark, st, 1)
            .filter(F.col("id").isin(keys))
            .collect(),
        )
    )
    assert got == want and len(got) == len(keys)


def test_empty_batch_commits_as_empty_snapshot(spark, tmp_path):
    """An empty changelog interval is committable: the manifest row
    records n_rows = 0, no log partition exists, and reads at that
    snapshot serve the prior state (round-12 ADVICE fix)."""
    st = str(tmp_path / "store")
    b1, _, _ = _batches(spark)
    snapshots.snapshot_commit(b1, st, "id", "seq", batch_id="b1")
    empty = b1.filter(F.lit(False))
    assert snapshots.snapshot_commit(empty, st, "id", "seq", batch_id="e") == 2
    assert snapshots.current_snapshot(spark, st) == 2
    assert not os.path.isdir(f"{st}/log/snap=2")
    assert _read(spark, st, 2) == _read(spark, st, 1)
    rows = {r["snap"]: r for r in snapshots.snapshot_fsck(spark, st).collect()}
    assert rows[2]["n_rows_manifest"] == rows[2]["n_rows_log"] == 0


def test_map_payload_column_reads(spark, tmp_path):
    """A MapType payload column must not break the merge tie-break
    (xxhash64 cannot hash maps — the CDC sink excludes them; the
    snapshot store mirrors it, round-12 ADVICE fix)."""
    st = str(tmp_path / "store")
    rows = [(1, 1, "U", {"a": "x"}), (2, 1, "U", {"b": "y"}), (2, 2, "D", None)]
    b = spark.createDataFrame(
        rows, "id long, seq int, op string, attrs map<string,string>"
    )
    snapshots.snapshot_commit(b, st, "id", "seq", batch_id="m1")
    got = {r["id"]: r["attrs"] for r in snapshots.read_as_of(spark, st).collect()}
    assert got == {1: {"a": "x"}}
    lk = snapshots.snapshot_lookup(spark, st, [1, 2]).collect()
    assert [(r["id"], r["attrs"]) for r in lk] == [(1, {"a": "x"})]


def test_fsck_single_pass_sampling(spark, store):
    """snapshot_fsck audits on-disk counts for EVERY snapshot from one
    grouped pass; the expensive merged-state count is computed only
    for the newest ``state_sample`` snapshots (NULL elsewhere)."""
    full = {r["snap"]: r for r in snapshots.snapshot_fsck(spark, store).collect()}
    assert set(full) == {1, 2, 3}
    assert all(full[s]["n_state"] is not None for s in (1, 2, 3))
    assert all(
        full[s]["n_rows_manifest"] == full[s]["n_rows_log"] for s in (1, 2, 3)
    )
    assert full[3]["n_state"] == len(_expected(spark, 3))
    sampled = {
        r["snap"]: r
        for r in snapshots.snapshot_fsck(spark, store, state_sample=1).collect()
    }
    assert sampled[3]["n_state"] == full[3]["n_state"]
    assert sampled[1]["n_state"] is None and sampled[2]["n_state"] is None
    # on-disk counts are still audited for every snapshot
    assert all(
        sampled[s]["n_rows_log"] == full[s]["n_rows_log"] for s in (1, 2, 3)
    )


def test_store_verbs_leave_cache_idle(spark, tmp_path):
    """Cache-discipline sweep (round-12 verdict task 7) for the
    snapshot store lifecycle."""
    from conftest import assert_cache_idle

    st = str(tmp_path / "store")
    b1, b2, b3 = _batches(spark)
    steps = [
        ("commit", lambda: snapshots.snapshot_commit(b1, st, "id", "seq", batch_id="b1")),
        ("commit2", lambda: snapshots.snapshot_commit(b2, st, "id", "seq", batch_id="b2")),
        ("commit3", lambda: snapshots.snapshot_commit(b3, st, "id", "seq", batch_id="b3")),
        ("read_as_of", lambda: snapshots.read_as_of(spark, st, 2).count()),
        ("lookup", lambda: snapshots.snapshot_lookup(spark, st, [12, 18]).count()),
        ("fsck", lambda: snapshots.snapshot_fsck(spark, st).count()),
        ("diff", lambda: snapshots.snapshot_diff(spark, st, 1, 3).count()),
        ("compact", lambda: snapshots.compact_snapshots(spark, st, 2).count()),
        ("read_post", lambda: snapshots.read_as_of(spark, st, 3).count()),
    ]
    for name, step in steps:
        step()
        assert_cache_idle(spark, f"snapshot store {name}")


def test_retention_watermark_ignores_fileless_log(spark, tmp_path):
    """A crashed first retention write leaves ``_retention`` holding only
    ``_temporary/``: no watermark is active (a NULL max must not reach
    int()), and commits still go through."""
    st = str(tmp_path / "store")
    os.makedirs(f"{st}/_retention/_temporary/0")
    assert snapshots._retention_watermark(spark, st) is None
    b1, _, _ = _batches(spark)
    assert snapshots.snapshot_commit(b1, st, "id", "seq", batch_id="b1") == 1


def test_fsck_job_count_constant_in_commits(spark, tmp_path):
    """The single-pass fsck claim, measured: every on-disk count comes
    from ONE grouped pass over log/ and n_state from a FIXED sample, so
    the Spark-job count does not grow with the commit count (the
    round-11 form launched 2 jobs PER snapshot).  Job counts are
    AQE-inflated (several jobs per action), so the pin is comparative:
    a 12-commit store must launch no more jobs than a 4-commit one."""

    def _jobs_for(n_commits: int, group: str) -> int:
        st = str(tmp_path / f"store{n_commits}")
        b1, _, _ = _batches(spark)
        small = b1.limit(40).localCheckpoint(eager=True)
        for i in range(n_commits):
            snapshots.snapshot_commit(
                small.withColumn("seq", F.lit(i + 1)), st, "id", "seq",
                batch_id=f"b{i}",
            )
        sc = spark.sparkContext
        sc.setJobGroup(group, "fsck job audit")
        try:
            snapshots.snapshot_fsck(spark, st, state_sample=2).collect()
        finally:
            sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup(group) or []
        return len(set(jobs))

    small_store = _jobs_for(4, "fsck-count-4")
    big_store = _jobs_for(12, "fsck-count-12")
    assert 0 < big_store <= small_store + 1, (
        f"fsck jobs grew with commits: {small_store} -> {big_store}"
    )


def test_retention_refuses_null_op_or_seq(spark, tmp_path):
    """The watermark cannot classify NULL op/seq rows — a retention
    compact refuses them outright (and the drop filter is null-safe,
    so they could never be silently deleted either way); a plain
    compact still folds them."""
    st = str(tmp_path / "store")
    rows = [(1, 1, "U", 1.0), (2, 1, None, 2.0), (3, None, "D", None)]
    b = spark.createDataFrame(rows, "id long, seq int, op string, val double")
    snapshots.snapshot_commit(b, st, "id", "seq", batch_id="n1")
    with pytest.raises(ValueError, match="NULL"):
        snapshots.compact_snapshots(spark, st, 1, drop_tombstones_below_seq=5)
    # no retention: the fold keeps every winner, null ops included
    snapshots.compact_snapshots(spark, st, 1)
    base = spark.read.parquet(f"{st}/base_g1")
    assert base.count() == 3


def test_snapshot_maintain_derives_safe_watermark(spark, tmp_path):
    """Auto-maintenance folds all but the newest keep_snapshots commits
    and derives the retention watermark as the min seq still in the
    surviving tail — tombstones below it drop, late ingest under it is
    rejected, and the visible states are untouched."""
    st = str(tmp_path / "store")
    b1, b2, b3 = _batches(spark)
    for b, bid in ((b1, "b1"), (b2, "b2"), (b3, "b3")):
        snapshots.snapshot_commit(b, st, "id", "seq", batch_id=bid)
    pre3 = _read(spark, st, 3)
    rec = snapshots.snapshot_maintain(spark, st, keep_snapshots=1).collect()[0]
    assert rec["base_gen"] == 1 and rec["horizon"] == 2
    # derived watermark = min seq in the tail (b3 -> 3): the seq-2
    # tombstones are gone from the base
    base = spark.read.parquet(f"{st}/base_g1")
    assert base.filter(F.col("op") == "D").count() == 0
    assert _read(spark, st, 3) == pre3
    with pytest.raises(ValueError, match="retention watermark"):
        snapshots.snapshot_commit(b1, st, "id", "seq", batch_id="late")
    # idempotent: nothing more to fold -> no-op receipt
    rec2 = snapshots.snapshot_maintain(spark, st, keep_snapshots=1).collect()[0]
    assert rec2["n_rows"] == -1 and rec2["horizon"] == 2


def test_maintain_null_seq_tail_skips_drop_no_resurrect(spark, tmp_path):
    """Review repro (round 12): a NULL-seq row in the surviving tail
    makes any derived watermark unsafe (the merge ranks NULL seq
    lowest, so a dropped tombstone would be out-merged) — maintain must
    skip the drop that cadence, keep the tombstone, and the deleted
    key must stay deleted."""
    st = str(tmp_path / "store")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id long, seq int, op string, val double"
    )
    snapshots.snapshot_commit(
        mk([(1, 1, "U", 9.0), (7, 1, "U", 7.0)]), st, "id", "seq", batch_id="a"
    )
    snapshots.snapshot_commit(
        mk([(1, 2, "D", None)]), st, "id", "seq", batch_id="b"
    )
    snapshots.snapshot_commit(
        mk([(1, None, "U", 9.0), (2, 3, "U", 2.0)]), st, "id", "seq",
        batch_id="c",
    )
    pre = sorted(map(tuple, snapshots.read_as_of(spark, st, 3).collect()))
    assert not any(r[0] == 1 for r in pre)  # key 1 dead (NULL seq loses)
    snapshots.snapshot_maintain(spark, st, keep_snapshots=1)
    post = sorted(map(tuple, snapshots.read_as_of(spark, st, 3).collect()))
    assert post == pre  # maintenance never changes visible state
    # the tombstone survived (no watermark was derived)
    base = spark.read.parquet(f"{st}/base_g1")
    assert base.filter(F.col("op") == "D").count() == 1


def test_manual_compact_refuses_null_seq_tail_watermark(spark, tmp_path):
    st = str(tmp_path / "store")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id long, seq int, op string, val double"
    )
    snapshots.snapshot_commit(
        mk([(1, 1, "U", 1.0), (1, 2, "D", None)]), st, "id", "seq",
        batch_id="a",
    )
    snapshots.snapshot_commit(
        mk([(2, None, "U", 2.0)]), st, "id", "seq", batch_id="b"
    )
    with pytest.raises(ValueError, match="NULL or below"):
        snapshots.compact_snapshots(spark, st, 1, drop_tombstones_below_seq=3)


def test_maintain_retention_lag_admits_disordered_ingest(spark, tmp_path):
    """retention_lag is the cross-batch disorder allowance: with it,
    late-but-legitimate lower-seq ingest keeps flowing after a
    maintain; without it the derived watermark rejects it."""
    st = str(tmp_path / "store")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id long, seq int, op string, val double"
    )
    snapshots.snapshot_commit(
        mk([(1, 10, "U", 1.0), (2, 20, "U", 2.0)]), st, "id", "seq",
        batch_id="a",
    )
    snapshots.snapshot_commit(
        mk([(3, 30, "U", 3.0), (4, 40, "U", 4.0)]), st, "id", "seq",
        batch_id="b",
    )
    snapshots.snapshot_maintain(spark, st, keep_snapshots=1, retention_lag=10)
    # derived watermark = 30 - 10 = 20: seq-25 disorder is admitted...
    snapshots.snapshot_commit(
        mk([(5, 25, "U", 5.0)]), st, "id", "seq", batch_id="c"
    )
    # ...seq-15 (older than the allowance) is still rejected
    with pytest.raises(ValueError, match="retention watermark"):
        snapshots.snapshot_commit(
            mk([(6, 15, "U", 6.0)]), st, "id", "seq", batch_id="d"
        )


def test_maintain_noops_on_empty_folds(spark, tmp_path):
    """Review repro (round 12): empty snapshots below the fold target
    (or an all-empty store) must no-op with a receipt, not crash on a
    file-less base."""
    st = str(tmp_path / "store")
    b1, b2, _ = _batches(spark)
    empty = b1.filter(F.lit(False))
    snapshots.snapshot_commit(empty, st, "id", "seq", batch_id="e1")
    snapshots.snapshot_commit(b2, st, "id", "seq", batch_id="d1")
    rec = snapshots.snapshot_maintain(spark, st, keep_snapshots=1).collect()[0]
    assert rec["n_rows"] == -1 and rec["horizon"] == 0  # no-op, no crash
    assert not os.path.isdir(f"{st}/base_g1")  # no stray file-less base
    # all-empty store: also a clean no-op
    st2 = str(tmp_path / "store2")
    snapshots.snapshot_commit(empty, st2, "id", "seq", batch_id="e1")
    snapshots.snapshot_commit(empty, st2, "id", "seq", batch_id="e2")
    rec2 = snapshots.snapshot_maintain(spark, st2, keep_snapshots=1).collect()[0]
    assert rec2["n_rows"] == -1
    # manual compact over the empty prefix refuses cleanly too (an
    # all-empty store has no log dir at all, so the earlier
    # empty-store read guard fires; a mixed store reaches the
    # folded-state gate — both are explicit ValueErrors, no stray dir)
    with pytest.raises(ValueError, match="empty"):
        snapshots.compact_snapshots(spark, st2, 1)
    assert not os.path.isdir(f"{st2}/base_g1")


def test_compact_raises_typed_exceptions(spark, tmp_path):
    """Maintenance dispatches on exception TYPES (round-12 ADVICE fix):
    an empty fold raises EmptyFoldError, an unsafe watermark raises
    UnsafeWatermarkError, NULL op/seq under retention raises
    UnclassifiableNullError — all ValueError subclasses, so generic
    callers keep working."""
    # empty fold: retention drops EVERY winner (an all-tombstone batch
    # below the watermark), so the new base would be file-less
    st = str(tmp_path / "empty")
    b1, _, _ = _batches(spark)
    all_dead = b1.withColumn("op", F.lit("D"))
    snapshots.snapshot_commit(all_dead, st, "id", "seq", batch_id="d1")
    with pytest.raises(snapshots.EmptyFoldError):
        snapshots.compact_snapshots(spark, st, 1, drop_tombstones_below_seq=2)

    # unsafe watermark: tail still holds ops below it
    st2 = str(tmp_path / "unsafe")
    b1, b2, b3 = _batches(spark)
    for b, bid in ((b1, "b1"), (b2, "b2"), (b3, "b3")):
        snapshots.snapshot_commit(b, st2, "id", "seq", batch_id=bid)
    with pytest.raises(snapshots.UnsafeWatermarkError):
        snapshots.compact_snapshots(spark, st2, 2, drop_tombstones_below_seq=99)

    # unclassifiable NULLs in the folded state under retention
    st3 = str(tmp_path / "nulls")
    nb = b1.withColumn(
        "seq", F.when(F.col("id") % 2 == 0, F.col("seq"))
    )
    snapshots.snapshot_commit(nb, st3, "id", "seq", batch_id="n1")
    with pytest.raises(snapshots.UnclassifiableNullError):
        snapshots.compact_snapshots(spark, st3, 1, drop_tombstones_below_seq=1)


def test_lookup_membership_uses_store_key_type(spark, tmp_path):
    """The FINAL membership filter must use the same typed frame the
    routing hashed (round-12 ADVICE fix): python int keys against a
    STRING-keyed store must match after the store-type cast, not fall
    through Spark's literal-coercion rules."""
    st = str(tmp_path / "strstore")
    b1, _, _ = _batches(spark)
    b1 = b1.withColumn("id", F.col("id").cast("string"))
    snapshots.snapshot_commit(b1, st, "id", "seq", batch_id="b1")
    raw = [r["id"] for r in b1.limit(5).collect()]
    int_keys = [int(k) for k in raw]
    got = sorted(
        r["id"] for r in snapshots.snapshot_lookup(spark, st, int_keys, 1).collect()
    )
    assert got == sorted(raw)
