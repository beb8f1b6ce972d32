"""Checks on the benchmark itself; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow as pa  # noqa: E402

import gen  # noqa: E402
import run  # noqa: E402
from model import StoreModel, rows_of_text, same_table  # noqa: E402
from spans import Tracer, union_length  # noqa: E402
from workloads import Result  # noqa: E402


def test_model_lww_and_txid_scoped_deletes():
    m = StoreModel()
    m.commit([("k0001", 10, 1, 0.5), ("k0001", 20, 2, 1.5), ("k0002", 10, 3, 2.0)])
    m.commit([("k0001", 10, 9, -0.25)])  # overwrite: later commit wins
    m.delete([{"wildcard": "k000%", "after_ns": 0, "before_ns": 15}])
    m.commit([("k0002", 10, 7, 3.0)])  # re-add after the marker survives
    assert m.get("k0001") == [("k0001", 20, 2, 1.5)]
    assert m.get("k0002") == [("k0002", 10, 7, 3.0)]
    m.delete([{"first_key": "k0002", "last_key": "k0003", "after_ns": 0, "before_ns": 99}])
    assert m.get("k0002") == []
    assert m.scan() == [("k0001", 20, 2, 1.5)]


def test_planted_wrong_expected_row_is_caught():
    got = pa.table({"id_a": [1, 2, 3], "id_b": [4, 5, 6], "jaccard": [0.25, 0.5, 0.75]})
    assert same_table(got, got.take([2, 0, 1]))  # order does not matter
    wrong = pa.table({"id_a": [1, 2, 3], "id_b": [4, 5, 7], "jaccard": [0.25, 0.5, 0.75]})
    res = Result()
    res.check(same_table(got, wrong), "planted row")
    assert (res.attempted, res.failed) == (1, 1)

    m = StoreModel()
    m.commit([("k0001", 10, 1, 0.5)])
    served = rows_of_text("k0001\t10\t1\t0.50000000000000000\n")
    assert served == m.get("k0001")
    m.commit([("k0001", 10, 2, 0.5)])  # the expectation changes; the served body did not
    assert served != m.get("k0001")


def test_generated_inputs_repeat_per_seed():
    kw = dict(n_keys=200, tx=12, tx_records=100, stream=2, stream_records=300, deletes=3)
    a, b, c = gen.build_plan(7, **kw), gen.build_plan(7, **kw), gen.build_plan(8, **kw)
    assert a.steps == b.steps and a.steps != c.steps
    assert [k for k, _ in a.steps].count("delete") == 3
    for kind, p in a.steps:
        if kind != "delete":
            kts = [(r[0], r[1]) for r in p]
            assert kts == sorted(set(kts))  # unique and sorted within a commit
            assert all(r[3] * 1024 == int(r[3] * 1024) for r in p)
    sched = lambda s: gen.read_schedule(  # noqa: E731
        s, a, n_keys=200, rounds=3, put_records=10,
        per_round={"get": 5, "get_many": 1, "http_get": 2, "put": 1, "scan": 1})
    assert sched(7) == sched(7)
    d1, e1 = gen.curation_tables(42, 50, 20)
    d2, e2 = gen.curation_tables(42, 50, 20)
    assert d1.equals(d2) and e1.equals(e2)


def test_self_time_subtracts_children():
    t = Tracer(True)
    with t.span("outer", 1):
        with t.span("a"):
            pass
        with t.span("b"):
            pass
    outer, a, b = t.spans
    assert a["op"] == b["op"] == 1 and a["parent"] == 0
    kids = (a["end"] - a["start"]) + (b["end"] - b["start"])
    assert abs(t.self_times()[0] - ((outer["end"] - outer["start"]) - kids)) < 1e-9
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4


def test_benchmark_json_matches_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORK_UNIT)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == run.E2E
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (n, u, b) for n, u, b, _ in run.LAYERS
    ]
