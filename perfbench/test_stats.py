"""Tests for the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench/test_stats.py -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import (  # noqa: E402
    latency_summary,
    quantile,
    seeded_ops,
    self_times,
    tail_quantile,
    union_length,
)
from perfbench.trace import Tracer  # noqa: E402


def test_tail_quantile_leaves_ten_samples_beyond():
    assert tail_quantile(100) == 0.9
    assert tail_quantile(1000) == 0.9  # capped at p90
    assert tail_quantile(50) == 0.8  # 10 of 50 above p80
    assert tail_quantile(25) == 0.6
    assert tail_quantile(20) == 0.5
    assert tail_quantile(19) == 0.5  # nothing above the median qualifies
    assert tail_quantile(3) == 0.5
    for n in range(20, 300):
        q = tail_quantile(n)
        assert n - q * n >= 10 - 1e-9


def test_quantile_interpolates_and_summary_counts():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert quantile(xs, 0.5) == 3.0
    assert quantile(xs, 0.0) == 1.0 and quantile(xs, 1.0) == 5.0
    assert quantile([1.0, 2.0], 0.5) == 1.5
    s = latency_summary(list(range(1, 101)))
    assert s["n"] == 100 and s["tail_q"] == 0.9
    assert abs(s["tail"] - 90.1) < 1e-9
    small = latency_summary([1.0, 2.0, 30.0])
    assert small["tail"] == small["p50"] == 2.0


def test_union_length_counts_overlaps_once():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert union_length([(5, 6), (0, 1), (0.5, 2)]) == 3
    assert union_length([(1, 1), (3, 2)]) == 0  # empty or reversed


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_and_sums_to_root():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: covered once
        _span(3, 1, 2.0, 3.0),
        _span(4, 0, 9.0, 12.0),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - (5.0 + 1.0)  # [1,6] and [9,10] covered
    assert st[1] == 3.0 - 1.0
    assert st[3] == 1.0
    # without overlaps, self times add up to the root's wall time
    tree = [_span(0, None, 0, 8), _span(1, 0, 1, 3), _span(2, 0, 4, 7),
            _span(3, 2, 5, 6)]
    assert sum(self_times(tree).values()) == 8


def test_tracer_self_times_add_up_per_op():
    t = Tracer(True)
    for _ in range(3):
        with t.span("op.x"):
            with t.span("a"):
                with t.span("b"):
                    pass
            with t.span("c"):
                pass
    assert len(t.spans) == 12
    assert t.self_time_error() < 1e-9
    ops = {s["op"] for s in t.spans}
    assert len(ops) == 3
    assert all(s["parent"] is None for s in t.spans if s["name"] == "op.x")
    off = Tracer(False)
    with off.span("op.x"):
        pass
    assert off.spans == []


def test_seeded_ops_repeat_for_a_seed_and_differ_across_seeds():
    ops = [f"op{i}" for i in range(12)]
    a = seeded_ops(7, "lake_txn", 1, ops)
    assert a == seeded_ops(7, "lake_txn", 1, ops)
    assert sorted(a) == sorted(ops)
    assert a != seeded_ops(8, "lake_txn", 1, ops)
    assert a != seeded_ops(7, "lake_txn", 2, ops)
    assert ops == [f"op{i}" for i in range(12)]  # input left alone


def test_datagen_same_seed_same_tables_other_seed_same_shape():
    from perfbench import datagen

    a, b, c = datagen.tables(1), datagen.tables(1), datagen.tables(2)
    for name in a:
        assert a[name].equals(b[name]), name
        assert a[name].num_rows == c[name].num_rows, name
    assert not a["orders"].equals(c["orders"])
    # the structure the work depends on is the same for every seed
    da, dc = a["documents"].to_pydict(), c["documents"].to_pydict()
    assert da["lang"] == dc["lang"]
    assert [len(t.split()) for t in da["text"]] == [len(t.split()) for t in dc["text"]]
    assert da["text"] != dc["text"]


def test_ops_per_s_takes_each_op_at_its_median():
    from types import SimpleNamespace

    from perfbench.run import e2e_metrics

    reads = [("read", "head", 0.1)] * 5
    calm = SimpleNamespace(samples=reads + [("write", "merge", 1.0)])
    # one stalled HEAD read: the op's median, and so the figure, stay put
    stalled = SimpleNamespace(
        samples=reads[:4] + [("read", "head", 5.0), ("write", "merge", 1.0)])
    m = e2e_metrics(calm, 1.0)
    assert abs(m["ops_per_s"] - 6 / 1.5) < 1e-9
    assert m["read_p50_s"] == 0.1 and m["setup_s"] == 1.0
    assert e2e_metrics(stalled, 1.0)["ops_per_s"] == m["ops_per_s"]
