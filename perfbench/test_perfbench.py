"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer  # noqa: E402

SMALL = {"stream_ingest": {"n_drops": 6}}


def _tree_digest(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a, props_a = gen.generate(workload, 5, str(tmp_path / "a"), **SMALL.get(workload, {}))
    b, props_b = gen.generate(workload, 5, str(tmp_path / "b"), **SMALL.get(workload, {}))
    assert props_a == props_b
    assert _tree_digest(a) == _tree_digest(b)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_other_seed_changes_inputs_not_properties(tmp_path, workload):
    kw = SMALL.get(workload, {})
    a, props_a = gen.generate(workload, 1, str(tmp_path), **kw)
    b, props_b = gen.generate(workload, 2, str(tmp_path), **kw)
    assert _tree_digest(a) != _tree_digest(b)
    assert props_a.keys() == props_b.keys()
    for key in ("pages", "docs", "dup_clusters", "drops", "dictionary_forms"):
        assert props_a.get(key) == props_b.get(key)
    if "blocks" in props_a:
        for props in (props_a, props_b):
            # exact planting: n // 6 malformed blocks, n // 10 blank-node rings
            assert props["malformed_blocks"] == props["blocks"] // 6
            assert props["bnode_cycle_share"] == round((props["blocks"] // 10) / props["blocks"], 6)
    if workload == "entity_resolve":
        for props in (props_a, props_b):
            assert props["sameas_edges"] > props["small_graph_edges"]


def test_reruns_reuse_the_cached_inputs(tmp_path):
    a, _ = gen.generate("corpus_dedup", 3, str(tmp_path))
    stamp = os.path.getmtime(os.path.join(a, "properties.json"))
    b, _ = gen.generate("corpus_dedup", 3, str(tmp_path))
    assert a == b and os.path.getmtime(os.path.join(b, "properties.json")) == stamp


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert run.result_metrics(dict.fromkeys(run.END_TO_END, 1.0), run.END_TO_END) == {
        k: {"value": 1.0, "unit": u} for k, u in declared_e2e.items()}
    assert run.result_metrics(dict.fromkeys(run.PER_LAYER, 1.0), run.PER_LAYER) == {
        k: {"value": 1.0, "unit": u} for k, u in declared_layer.items()}
    assert set(run.SPAN_METRICS.values()) <= set(run.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer("r")
    tr.spans = [
        Span("pass", 0.0, 10.0, None, "r"),
        Span("a", 1.0, 4.0, 0, "r"),
        Span("b", 3.0, 6.0, 0, "r"),  # overlaps a: the union is 1..6
        Span("c", 2.0, 3.0, 1, "r"),  # nested in a
        Span("a", 7.0, 8.0, 0, "r"),
    ]
    own = tr.self_times()
    assert own["pass"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert own["a"] == pytest.approx((3.0 - 1.0) + 1.0)
    assert own["b"] == pytest.approx(3.0)
    assert own["c"] == pytest.approx(1.0)
    assert tr.self_times(root=1) == {"c": pytest.approx(1.0)}
    assert "pass" not in tr.self_times(root=0)


def test_spans_nest_and_disabled_tracer_records_nothing():
    tr = Tracer("r")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("outer", None), ("inner", 0)]
    off = Tracer("r", enabled=False)
    with off.span("outer"):
        pass
    assert off.spans == []


def test_weighted_percentile_is_nearest_rank():
    percentile = run.percentile
    samples = [(3.0, 1), (1.0, 1), (2.0, 2)]
    assert percentile(samples, 0.5) == 2.0
    assert percentile(samples, 0.9) == 3.0
    assert percentile([(5.0, 100)], 0.9) == 5.0
    assert percentile([(4.0, 10), (6.0, 10)], 0.5) == 5.0
