"""Workload lists name only registered queries, each with a pinned digest."""

from __future__ import annotations

import json
import random
from pathlib import Path

from perfbench.workloads import WORKLOADS, pass_order

ROOT = Path(__file__).resolve().parents[2]


def test_every_workload_query_is_registered():
    from facebook_ad_library_data_pipeline_spark.registry import load_all

    registry = load_all()
    for w in WORKLOADS.values():
        assert w.queries, w.name
        assert len(set(w.queries)) == len(w.queries), w.name
        missing = [q for q in w.queries if q not in registry]
        assert not missing, (w.name, missing)


def test_every_workload_query_has_a_pinned_digest():
    pinned = json.loads((ROOT / "perfbench" / "digests.json").read_text())["digests"]
    for w in WORKLOADS.values():
        assert not [q for q in w.queries if q not in pinned], w.name


def test_benchmark_json_names_the_workloads():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    for w in bench["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]].why


def test_seed_permutes_but_keeps_the_list():
    queries = WORKLOADS["batch_pipeline"].queries
    a = pass_order(queries, random.Random(1))
    assert sorted(a) == sorted(queries)
    assert a == pass_order(queries, random.Random(1))
    assert any(pass_order(queries, random.Random(s)) != a for s in range(2, 6))
