"""The benchmark's own tests; no Spark session needed.

    python3 -m pytest layerbench -q
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pytest  # noqa: E402

from layers import _covered  # noqa: E402
from oracle import digest  # noqa: E402
from workloads import TEMPLATES, WORKLOADS, Facts, operation_stream  # noqa: E402

FACTS = Facts(customers_with_orders=(1, 2, 4, 5, 7), customers_without_orders=(3, 6, 9),
              supplier_nations=("FRANCE", "PERU"), part_sizes=(1, 7, 50),
              core_users=(0, 1, 2, 3), n_vecs=100)


def _stream(workload, seed):
    return operation_stream(workload, seed, FACTS, passes=2, per_pass=2)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_same_stream(workload):
    assert _stream(workload, 5) == _stream(workload, 5)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_other_seed_other_stream(workload):
    assert _stream(workload, 5) != _stream(workload, 6)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_pass_holds_every_template_by_weight(workload):
    warm, timed = operation_stream(workload, 3, FACTS, passes=3, per_pass=2)
    names = [t.name for t in WORKLOADS[workload]]
    assert [op.template for op in warm] == names
    per_pass = sorted(t.name for t in WORKLOADS[workload] for _ in range(2 * t.weight))
    for k in range(3):
        batch = timed[k * len(per_pass):(k + 1) * len(per_pass)]
        assert sorted(op.template for op in batch) == per_pass


class RecordingLayers:
    """Stands in for layers.Layers and records which layers a template
    enters, without running anything."""

    graph = None

    def __init__(self):
        self.entered: set[str] = set()

    def query(self, text, params):
        self.entered |= {"cypher", "plans"}
        return []

    def update(self, statement):
        self.entered.add("db")
        return object()

    def read(self, db, text):
        self.entered.add("plans")
        return []

    def call(self, layer, fn, rounds=None):
        self.entered.add(layer)
        return []


def _entered(workload):
    warm, timed = _stream(workload, 9)
    per_template = {}
    for op in warm + timed:
        rec = RecordingLayers()
        TEMPLATES[op.template].run(rec, op.kwargs)
        per_template.setdefault(op.template, set()).update(rec.entered)
    return per_template


def test_cypher_read_never_calls_analytic_layers():
    for template, layers in _entered("cypher_read").items():
        assert "plans" in layers, template
        assert not layers & {"operators", "grblas", "functions", "streaming"}, template


def test_analytics_never_calls_the_query_front_end():
    for template, layers in _entered("analytics").items():
        assert layers == {TEMPLATES[template].layer}, template
        assert not layers & {"cypher", "plans", "db"}, template


def test_analytics_enters_every_analytic_layer():
    entered = set().union(*_entered("analytics").values())
    assert entered == {"operators", "grblas", "functions", "streaming"}


def test_digest_is_order_and_type_insensitive():
    assert digest([(1, 2.0), (3, "x")]) == digest([(3, "x"), (1.0, 2)])
    assert digest([(0.1 + 0.2,)]) == digest([(0.3,)])
    assert digest([(1,)]) != digest([(2,)])
    assert digest([(1,), (1,)]) != digest([(1,)])


def test_covered_merges_and_clips_intervals():
    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert _covered([], 0, 10) == 0
