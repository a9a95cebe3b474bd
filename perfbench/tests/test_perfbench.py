"""Unit tests of the benchmark's own arithmetic and bookkeeping (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import threading

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gate, layers, workloads  # noqa: E402
from perfbench.measure import check_metric_name, tail_percentile  # noqa: E402
from perfbench.run import load_spec  # noqa: E402
from perfbench.spread import parse_seeds, spread  # noqa: E402
from perfbench.trace import GROUP_PREFIX, Span, Tracer, parse_sql_metric, self_time, union_length  # noqa: E402


# -- percentile rule ---------------------------------------------------------

def test_tail_percentile_needs_more_than_ten_samples():
    assert tail_percentile(range(10)) is None
    assert tail_percentile([]) is None


@pytest.mark.parametrize("n, pct", [(11, 100 / 11), (100, 90.0), (200, 95.0), (1000, 99.0)])
def test_tail_percentile_leaves_exactly_ten_beyond(n, pct):
    xs = list(range(n, 0, -1))  # unsorted input
    got_pct, value = tail_percentile(xs)
    assert got_pct == pytest.approx(pct)
    assert sum(x > value for x in xs) == 10


# -- self time ---------------------------------------------------------------

def _span(sid, start, end, parent=None):
    s = Span(sid, f"s{sid}", parent, 1, start, start)
    s.end = end
    return s


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert union_length([(-5, -1), (11, 20)], 0, 10) == 0
    assert union_length([], 0, 10) == 0


def test_self_time_nested_children():
    root = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 3.0, 1), _span(3, 4.0, 6.0, 1)]
    assert self_time(root, kids) == pytest.approx(6.0)
    assert self_time(kids[0], []) == pytest.approx(2.0)


def test_self_time_cross_thread_children_overlap_counts_once():
    # three worker-thread children running at once under one parent
    root = _span(1, 0.0, 10.0)
    kids = [_span(2, 0.0, 6.0, 1), _span(3, 1.0, 7.0, 1), _span(4, 2.0, 8.0, 1)]
    assert self_time(root, kids) == pytest.approx(2.0)


# -- tracer bookkeeping --------------------------------------------------------

class FakeContext:
    """Records the job group each thread would submit jobs under."""

    def __init__(self):
        self.groups: dict[int, str | None] = {}

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.groups[threading.get_ident()] = value


def test_spans_nest_set_and_restore_job_groups():
    sc = FakeContext()
    tr = Tracer(sc)
    me = threading.get_ident()
    with tr.span("op.a", root=True) as op:
        assert sc.groups[me] == f"{GROUP_PREFIX}{op.span_id}"
        with tr.span("query.search") as child:
            assert sc.groups[me] == f"{GROUP_PREFIX}{child.span_id}"
        assert sc.groups[me] == f"{GROUP_PREFIX}{op.span_id}"
    assert sc.groups[me] is None
    assert child.parent_id == op.span_id and child.op_id == op.span_id
    assert [s.name for s in tr.ops()] == ["op.a"]


def test_span_on_program_thread_joins_the_operation():
    sc = FakeContext()
    tr = Tracer(sc)
    seen = {}

    def worker():
        with tr.span("build.segment") as s:
            seen["span"] = s
            seen["group"] = sc.groups[threading.get_ident()]

    with tr.span("op.build", root=True) as op:
        with tr.span("build.build_index") as bi:
            t = threading.Thread(target=worker)
            t.start()
            t.join(timeout=10)
    assert not t.is_alive()
    seg = seen["span"]
    assert seg.parent_id == bi.span_id and seg.op_id == op.span_id
    assert seen["group"] == f"{GROUP_PREFIX}{seg.span_id}"
    assert tr.coverage()[op.span_id] > 0.0


def test_spans_outside_operations_are_not_recorded():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("spark.collect") as s:
        assert s is None
    assert tr.spans == [] and sc.groups == {}


def test_wrap_and_restore_patch_every_import_of_a_function():
    import types

    mod = types.ModuleType("pysearch._perfbench_test_mod")

    def f(x):
        return x + 1

    mod.f = f
    other = types.ModuleType("pysearch._perfbench_test_other")
    other.g = f  # the same function imported under another name
    sys.modules[mod.__name__] = mod
    sys.modules[other.__name__] = other
    try:
        tr = Tracer(FakeContext())
        tr.wrap(mod, "f", "test.f")
        with tr.span("op.x", root=True):
            assert mod.f(1) == 2 and other.g(2) == 3
        assert [s.name for s in tr.spans] == ["op.x", "test.f", "test.f"]
        tr.restore()
        assert mod.f is f and other.g is f
    finally:
        del sys.modules[mod.__name__], sys.modules[other.__name__]


def test_parse_sql_metric_units():
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n6.4 s (1.6 s, 1.6 s)") == pytest.approx(6.4)
    assert parse_sql_metric("total (min, med, max)\n807.9 KiB (202 KiB)") == pytest.approx(807.9 * 1024)
    assert parse_sql_metric("120 ms") == pytest.approx(0.12)
    with pytest.raises(ValueError):
        parse_sql_metric("n/a")


# -- metric names and the benchmark spec -----------------------------------

@pytest.mark.parametrize("name", ["setup_s", "query.jobs_per_query", "self.vector_index_s", "a-b.c_9"])
def test_valid_metric_names(name):
    assert check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "has space", "slash/name", "_leading", "ü", "x" * 65])
def test_invalid_metric_names(name):
    with pytest.raises(ValueError):
        check_metric_name(name)


def test_benchmark_json_matches_the_metrics_the_runs_print():
    spec = load_spec()
    e2e = [m["name"] for m in spec["end_to_end"]]
    # a traced run prints the layer metrics plus each end-to-end metric
    # measured under tracing
    census = {"jobs_in_ops": 0, "unattributed_jobs": 0}
    printed = list(layers.layer_metrics(Tracer(FakeContext()), census, {})) + [f"traced.{n}" for n in e2e]
    assert sorted(printed) == sorted(m["name"] for m in spec["per_layer"])
    assert [w["name"] for w in spec["workloads"]] == list(workloads.RUNNERS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(set(names)) == len(names)
    for name in names:
        check_metric_name(name)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# -- workload inputs and gate helpers ----------------------------------------

def test_sample_covers_filtered_k100_and_oov_queries():
    from pysearch.fixtures import generate_queries

    for seed in (1, 2, 3):
        sample = gate.sample_queries(generate_queries(400, seed=seed))
        assert any(q["filter_expr"] for q in sample)
        assert any(q["k"] == 100 for q in sample)
        assert any("zzoutofvocab" in q["query_text"] for q in sample)


def _kinds(qs):
    return sorted((workloads._shape(q), q["k"], q["filter_expr"] or "") for q in qs)


def test_mixed_queries_hold_the_same_mix_for_every_seed():
    from pysearch.fixtures import generate_queries

    mixes = []
    for seed in (1, 2, 3):
        pool = generate_queries(workloads.QUERY_POOL, seed=seed)
        table = workloads._mixed(pool, 50)
        loop = workloads._mixed(pool, 200)
        keys = [(q["query_text"], q["k"], q["filter_expr"]) for q in table + loop]
        assert len(set(keys)) == len(keys)  # distinct, and none in both
        assert not set(keys) & {(q["query_text"], q["k"], q["filter_expr"]) for q in pool}
        # near the generator's 40/40/20 shapes, 20% k=100 and 30% filtered
        head = [workloads._shape(q) for q in loop[:50]]
        assert abs(head.count(0) - 20) <= 2 and abs(head.count(1) - 20) <= 2 and abs(head.count(2) - 10) <= 2
        assert abs(sum(q["k"] == 100 for q in table) - 10) <= 2
        assert abs(sum(q["filter_expr"] is not None for q in table) - 15) <= 2
        mixes.append((_kinds(table), _kinds(loop[:30])))
    assert mixes[0] == mixes[1] == mixes[2]


def test_sample_of_a_mixed_table_covers_the_gate_kinds():
    from pysearch.fixtures import generate_queries

    sample = gate.sample_queries(workloads._mixed(generate_queries(workloads.QUERY_POOL, seed=5), 50))
    assert len(sample) == 3


def test_input_seed_stays_in_the_generators_range():
    from pysearch.fixtures import _uniform
    import numpy as np

    for seed in (0, 1, -1, 10**8, 2**31 - 1, 2**63):
        s = workloads.input_seed(seed)
        assert 0 <= s < workloads.SEED_RANGE and s == workloads.input_seed(seed)
        _uniform(np.arange(3, dtype=np.int64), 6, s + 99)  # no OverflowError


def test_compare_ranked_checks_order_and_score_tolerance():
    want = [(3, 2.0), (1, 1.0)]
    assert gate.compare_ranked("q", [(3, 2.0 + 5e-7), (1, 1.0)], want) == []
    assert gate.compare_ranked("q", [(1, 1.0), (3, 2.0)], want)
    assert gate.compare_ranked("q", [(3, 2.0 + 1e-5), (1, 1.0)], want)


def test_live_corpus_applies_deletes_and_updates():
    src = pd.DataFrame({"repo": ["r", "r", "r"], "path": ["a", "b", "c"], "commit": ["x"] * 3,
                        "lang": ["go", "rust", "python"], "content": ["one", "two", "three"]})
    batches = [
        pd.DataFrame({"repo": ["r", "r"], "path": ["a", "b"], "op": ["delete", "update"],
                      "content": [None, "two v2"]}),
        pd.DataFrame({"repo": ["r"], "path": ["b"], "op": ["update"], "content": ["two v3"]}),
    ]
    live = workloads._live_corpus(src, batches).set_index("path")
    assert sorted(live.index) == ["b", "c"]
    assert live.loc["b", "content"] == "two v3" and live.loc["b", "lang"] == "rust"


def test_doc_ids_follow_repo_path_order():
    pdf = pd.DataFrame({"repo": ["b", "a", "a"], "path": ["x", "z", "y"], "content": ["1", "2", "3"]})
    out = workloads._with_doc_ids(pdf)
    assert list(zip(out["repo"], out["path"], out["doc_id"])) == [("a", "y", 0), ("a", "z", 1), ("b", "x", 2)]


def test_spread_is_interquartile_range_over_median():
    import statistics

    vs = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 0.8, 1.0, 1.02, 0.98]
    q1, _, q3 = statistics.quantiles(vs, n=4)
    assert spread(vs) == pytest.approx((q3 - q1) / statistics.median(vs))
    assert parse_seeds("3-6") == [3, 4, 5, 6] and parse_seeds("9") == [9]
