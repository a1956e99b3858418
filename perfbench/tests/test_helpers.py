"""Tests of the benchmark's own helpers; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402
from perfbench.stats import MIN_BEYOND, OpLatencies, TooFewSamples, median, percentile  # noqa: E402
from perfbench.trace import Span, self_times  # noqa: E402


def _ingest_pages(seed: int, pages: int = 5) -> list:
    client = gen.FakeRedditClient(seed, page_size=30)
    return [client.search("sydney", "coffee") for _ in range(pages)]


@pytest.mark.parametrize(
    "make",
    [
        lambda seed: gen.search_inputs(seed, n_docs=200, n_ops=100),
        _ingest_pages,
    ],
    ids=["search", "ingest"],
)
def test_same_seed_gives_byte_identical_inputs(make):
    assert repr(make(7)).encode() == repr(make(7)).encode()
    assert repr(make(7)) != repr(make(8))


def test_ingest_pages_redeliver_a_few_earlier_ids():
    client = gen.FakeRedditClient(3, page_size=50)
    seen: set[str] = set()
    redelivered = total = 0
    for _ in range(20):
        page = client.search("sydney", "coffee")
        ids = [s.id for s in page]
        assert len(ids) == len(set(ids))
        redelivered += sum(i in seen for i in ids)
        total += len(ids)
        seen.update(ids)
    assert 0 < redelivered < 0.1 * total
    assert client.distinct_ids() == seen


def test_search_ops_put_writes_at_fixed_positions():
    ops = gen.search_inputs(1, n_docs=100, n_ops=4 * gen.WRITE_EVERY).ops
    w = gen.WRITE_EVERY
    assert [i for i, o in enumerate(ops) if o.kind != "query"] == [w - 1, 2 * w - 1, 3 * w - 1, 4 * w - 1]
    assert [ops[w - 1].kind, ops[2 * w - 1].kind] == ["append", "delete"]
    assert all(1 <= len(o.keywords) <= 4 for o in ops if o.kind == "query")


def test_search_writes_never_share_ids():
    """Each delete takes corpus ids no other op takes and each append
    takes fresh ids, so skipping ops leaves every later write valid."""
    inputs = gen.search_inputs(2, n_docs=100, n_ops=60)
    ops = inputs.setup + inputs.ops
    deleted = [d for o in ops for d in o.delete_ids]
    appended = [d for o in ops for d, _ in o.docs]
    assert len(deleted) == len(set(deleted)) and all(d < 100 for d in deleted)
    assert len(appended) == len(set(appended)) and all(d >= 100 for d in appended)


def test_percentile_refuses_too_few_samples_beyond():
    values = [float(i) for i in range(1, 100)]  # 99 samples: 9 beyond p90
    with pytest.raises(TooFewSamples):
        percentile(values, 90)
    values.append(100.0)  # 100 samples: exactly 10 beyond p90
    assert percentile(values, 90) == 90.0
    assert len(values) - 90 == MIN_BEYOND


def test_median_needs_no_tail():
    assert median([3.0]) == 3.0
    assert median([1.0, 2.0, 9.0, 10.0]) == 5.5
    with pytest.raises(TooFewSamples):
        median([])


def _span(idx, start, end, parent=None):
    return Span(idx=idx, name=f"s{idx}", op_id=0, parent=parent, start=start, end=end)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 5.0, parent=0),  # overlaps span 1: 1..5 covered once
        _span(3, 7.0, 12.0, parent=0),  # clipped to the parent: 7..10
        _span(4, 1.5, 2.0, parent=1),  # grandchild: only its parent's time
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 3.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(0.5)


def test_latencies_are_never_pooled_across_op_types():
    lat = OpLatencies()
    for ms in (10.0, 11.0, 12.0):
        lat.add("query", ms)
    for ms in (500.0, 600.0):
        lat.add("append", ms)
    assert lat.percentile("query", 50) == 11.0
    assert lat.percentile("append", 50) == 550.0
    with pytest.raises(TypeError):
        lat.percentile(["query", "append"], 50)
    summary = lat.summary()
    assert summary["query"] == {"samples": 3, "p50_ms": 11.0}
    assert summary["append"] == {"samples": 2, "p50_ms": 550.0}


def test_layer_metric_list_matches_benchmark_json():
    import json

    from perfbench.workloads import LAYER_METRICS

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == LAYER_METRICS
