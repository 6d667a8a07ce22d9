"""Metric names and units are well formed, BENCHMARK.json mirrors the
registry, and a result line carries every metric of its mode."""

import json
import os

from perfbench import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_names_match_the_pattern_and_carry_units():
    names = list(metrics.END_TO_END) + list(metrics.PER_LAYER)
    assert len(names) == len(set(names))
    for n in names:
        assert metrics.NAME_RE.match(n), n
    for unit, *_ in [*metrics.END_TO_END.values(),
                     *metrics.PER_LAYER.values()]:
        assert metrics.UNIT_RE.match(unit), unit


def test_benchmark_json_mirrors_the_registry():
    bench = _bench()
    e2e, layer = metrics.benchmark_metrics()
    assert bench["end_to_end"] == e2e
    assert bench["per_layer"] == layer
    assert {w["name"]: w["why"] for w in bench["workloads"]} == \
        metrics.WORKLOADS
    assert bench["command"] == ["python3", "perfbench/run.py"]


def test_setup_is_lower_better_with_the_largest_bound():
    unit, better, bound = metrics.END_TO_END["setup_s"]
    assert (unit, better) == ("s", "lower")
    assert bound == max(b for *_, b in metrics.END_TO_END.values()) <= 0.25


def test_result_metrics_cover_every_name_of_the_mode():
    values = {n: 1.5 for n in metrics.END_TO_END}
    got = metrics.result_metrics(values, trace=False)
    assert list(got) == list(metrics.END_TO_END)
    assert got["setup_s"] == {"value": 1.5, "unit": "s"}
    traced = metrics.result_metrics({"build.s": 0.25}, trace=True)
    assert list(traced) == list(metrics.PER_LAYER)
    assert traced["build.s"]["value"] == 0.25
    assert traced["stream.bulk_s"]["value"] == 0.0
