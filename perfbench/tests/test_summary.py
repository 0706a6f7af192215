"""Unit tests for the benchmark's own code: the Spark metric-string parser,
the summary rules, and the candidate/verified rule for pair generators.

    python3 -m pytest perfbench/tests -q
"""

import math
import os
import statistics
import sys
from collections import defaultdict

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
import summary  # noqa: E402
from summary import parse_spark_metric  # noqa: E402


@pytest.mark.parametrize(
    "text, expected",
    [
        # captured from the SQL status store
        ("884.2 KiB (207.7 KiB, 222.1 KiB, 233.3 KiB (stage 26.0: task 44))", 884.2 * 1024),
        ("2.3 s (524 ms, 611 ms, 702 ms (stage 3.0: task 7))", 2300.0),
        ("1,351,090", 1351090.0),
        ("total (min, med, max (stageId: taskId))\n697 ms (165 ms, 179 ms, 184 ms (stage 31.0: task 47))", 697.0),
        ("total (min, med, max (stageId: taskId))\n65.0 MiB (16.2 MiB, 16.2 MiB, 16.2 MiB (stage 26.0: task 44))", 65.0 * 1024**2),
        ("0.0 B", 0.0),
        ("302 ms", 302.0),
        ("12.0 MiB", 12.0 * 1024**2),
        ("1.5 m", 90_000.0),
        ("25", 25.0),
    ],
)
def test_parse_spark_metric(text, expected):
    assert parse_spark_metric(text) == pytest.approx(expected)


@pytest.mark.parametrize("text", [None, "", "n/a", "12 parsecs"])
def test_parse_spark_metric_rejects_non_numbers(text):
    assert parse_spark_metric(text) is None


def test_geomean():
    assert summary.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert summary.geomean([0.5, 2.0, 8.0]) == pytest.approx(2.0)
    # a short operation's 2x gain moves the geomean as much as a long one's
    base = summary.geomean([0.1, 10.0])
    assert summary.geomean([0.05, 10.0]) == pytest.approx(summary.geomean([0.1, 5.0]))
    assert summary.geomean([0.05, 10.0]) < base
    with pytest.raises(ValueError):
        summary.geomean([])
    with pytest.raises(ValueError):
        summary.geomean([1.0, 0.0])


def test_clean_pass_times_excludes_failed_passes():
    passes = [
        {"wall_s": 5.0, "failed": False},
        {"wall_s": 1.0, "failed": True},  # did less work: not a pass time
        {"wall_s": 6.0, "failed": False},
    ]
    assert summary.clean_pass_times(passes) == [5.0, 6.0]
    assert summary.clean_pass_times([{"wall_s": 1.0, "failed": True}]) == []


def test_percentile_rule():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert summary.percentile(xs, 0) == 1.0
    assert summary.percentile(xs, 100) == 4.0
    assert summary.percentile(xs, 50) == pytest.approx(2.5) == summary.median(xs)
    assert summary.percentile(xs, 25) == pytest.approx(1.75)
    assert summary.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        summary.percentile([], 50)
    with pytest.raises(ValueError):
        summary.percentile(xs, 101)


def test_iqr_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 10.6]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert summary.iqr_spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))


def test_parse_metric_map_splits_formatted_values():
    from layers import _parse_metric_map

    text = ("HashMap(12 -> 1,351,090, 7 -> total (min, med, max (stageId: taskId))\n"
            "2.3 s (524 ms, 611 ms, 702 ms (stage 3.0: task 7)), 40 -> 0.0 B)")
    assert _parse_metric_map(text) == {
        12: "1,351,090",
        7: "total (min, med, max (stageId: taskId))\n2.3 s (524 ms, 611 ms, 702 ms (stage 3.0: task 7))",
        40: "0.0 B",
    }
    assert _parse_metric_map("Map()") == {}


def _graph(nodes, edges, rows):
    """PlanGraph without a JVM: nodes {id: name}, edges [(child, parent)],
    rows {id: output rows}."""
    from layers import PlanGraph

    g = PlanGraph.__new__(PlanGraph)
    g.metrics = {}
    g.nodes = {}
    for i, name in nodes.items():
        ms = {}
        if i in rows:
            ms["number of output rows"] = 1000 + i
            g.metrics[1000 + i] = f"{rows[i]:,}"
        g.nodes[i] = (name, ms)
    g.children = defaultdict(list)
    for child, parent in edges:
        g.children[parent].append(child)
    g.roots = sorted(set(nodes) - {c for c, _ in edges})
    return g


def test_pair_counts_blocking_join_under_verify_join():
    # q161 shape: verify join over (blocking join -> filter) and a doc side
    g = _graph(
        {0: "OverwriteByExpression", 1: "BroadcastHashJoin", 2: "Project",
         3: "BroadcastHashJoin", 4: "Filter", 5: "SortAggregate", 6: "Filter"},
        [(1, 0), (2, 1), (3, 2), (4, 3), (5, 4), (6, 1)],
        {1: 25, 3: 665, 4: 665, 5: 11759, 6: 500},
    )
    assert g.pair_counts() == (665.0, 25.0)


def test_pair_counts_verification_fused_into_join():
    # q126 shape: dedup aggregates over one blocking join with the verify
    # predicate in its condition
    g = _graph(
        {0: "OverwriteByExpression", 1: "HashAggregate", 2: "HashAggregate",
         3: "BroadcastHashJoin", 4: "Filter", 5: "Generate", 6: "Filter"},
        [(1, 0), (2, 1), (3, 2), (4, 3), (5, 4), (6, 3)],
        {1: 19400, 2: 19400, 3: 19500, 4: 21000, 5: 21000, 6: 21000},
    )
    assert g.pair_counts() == (19500.0, 19400.0)


def test_pair_counts_stops_at_aggregates_below_the_verify_join():
    # q38 shape: the inner join sits directly under the verify join; the
    # joins under the band aggregate are not the blocking join's input
    g = _graph(
        {0: "OverwriteByExpression", 1: "BroadcastHashJoin", 2: "BroadcastHashJoin",
         3: "HashAggregate", 4: "BroadcastHashJoin", 5: "Filter"},
        [(1, 0), (2, 1), (3, 2), (4, 3), (5, 1)],
        {1: 34, 2: 994, 3: 994, 4: 1164, 5: 500},
    )
    assert g.pair_counts() == (994.0, 34.0)


def test_datagen_is_deterministic_per_seed():
    a = datagen.make_tables(0.001, 7)
    b = datagen.make_tables(0.001, 7)
    c = datagen.make_tables(0.001, 8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    sizes = datagen.table_sizes(0.001)
    assert {t: a[t].num_rows for t in a} == sizes
    norms = [math.sqrt(sum(x * x for x in v)) for v in a["embeddings"].column("embedding").to_pylist()]
    assert all(abs(n - 1.0) < 1e-5 for n in norms)


def test_benchmark_json_matches_the_runner():
    import importlib.util
    import json

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location("perfbench_run", os.path.join(here, "run.py"))
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    from workloads import WORKLOADS

    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [(m["name"], m["unit"]) for m in doc["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in doc["per_layer"]] == run.PER_LAYER
    for w in doc["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]].why
        assert WORKLOADS[w["name"]].queries  # runs without a known failure
    setup = next(m for m in doc["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in doc["end_to_end"])


def test_error_class_names_the_spark_condition():
    import importlib.util

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location("perfbench_run", os.path.join(here, "run.py"))
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)

    class AnalysisException(Exception):
        def getCondition(self):
            return "AMBIGUOUS_REFERENCE"

    assert run.error_class(AnalysisException()) == "AnalysisException:AMBIGUOUS_REFERENCE"
    assert run.error_class(ValueError("x")) == "ValueError"
