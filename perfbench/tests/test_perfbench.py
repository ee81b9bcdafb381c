"""The benchmark's own tests (no Spark): seeded inputs, the declared
metrics, the percentile helper and the span arithmetic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pytest

from perfbench import checks
from perfbench.metrics import (
    END_TO_END,
    PER_LAYER,
    percentile,
    result_line,
)
from perfbench.run import parse_args
from perfbench.trace import Tracer, _union, last_stages, share_of_wall
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_same_input_hash():
    assert checks.digest(checks.corpus(300, 7)) == \
        checks.digest(checks.corpus(300, 7))


def test_other_seed_other_input_hash():
    assert checks.digest(checks.corpus(300, 7)) != \
        checks.digest(checks.corpus(300, 8))


def test_digest_ignores_row_order():
    t = checks.corpus(200, 3)
    order = list(range(t.num_rows))
    random.Random(0).shuffle(order)
    assert checks.digest(t.take(pa.array(order))) == checks.digest(t)
    assert checks.digest(t.slice(1)) != checks.digest(t)


def test_same_seed_same_serve_ops():
    ops = checks.serve_ops(5, checks.corpus(400, 5), 3)
    assert ops == checks.serve_ops(5, checks.corpus(400, 5), 3)
    assert sum(k == "append" for k, _ in ops) == 3


def test_other_seed_other_serve_ops():
    assert checks.serve_ops(5, checks.corpus(400, 5), 3) != \
        checks.serve_ops(6, checks.corpus(400, 6), 3)


def test_serve_queries_never_depend_on_speed():
    for kind, q in checks.serve_ops(9, checks.corpus(400, 9), 4):
        if kind not in ("height", "append"):
            assert "time_limit_ms" in q and q["time_limit_ms"] is None


def test_expected_answer_matches_a_plain_filter():
    t = checks.with_host(checks.corpus(300, 2))
    host = t["host"][0].as_py()
    q = {"selections": [{"hosts": [host]}], "field_selection": ["url"]}
    want = sorted((u,) for u, h in zip(t["url"].to_pylist(),
                                       t["host"].to_pylist()) if h == host)
    assert checks.expected_answer(t, q) == want


def test_declared_metrics_match_benchmark_json():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == PER_LAYER


def test_declared_workloads_match_benchmark_json():
    names = [w["name"] for w in _bench()["workloads"]]
    assert sorted(names) == sorted(WORKLOADS)
    for name in names:
        assert parse_args(["--workload", name, "--seed", "1",
                           "--seconds", "1"]).workload == name


def test_result_line_refuses_missing_metrics():
    with pytest.raises(KeyError):
        result_line(True, 1, 0, {"setup_s": 1.0}, END_TO_END)
    line = result_line(True, 1, 0, {k: 1.0 for k in END_TO_END}, END_TO_END)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"]["setup_s"] == {"value": 1.0, "unit": "s"}


def test_percentile_needs_ten_samples_above():
    with pytest.raises(ValueError):
        percentile(range(19), 0.5)
    assert percentile(range(20), 0.5) == 9
    with pytest.raises(ValueError):
        percentile(range(99), 0.9)
    assert percentile(range(100), 0.9) == 89


def test_self_time_subtracts_covered_children():
    tr = Tracer()
    tr.enabled = True
    outer = tr.begin("outer")
    a = tr.begin("child")
    tr.end(a)
    b = tr.begin("other")
    tr.end(b)
    tr.end(outer)
    for s, (start, end) in zip(tr.spans, [(0, 10), (1, 4), (5, 6)]):
        s["start"], s["end"] = start, end
    assert tr.self_time(outer, "child") == 7
    assert tr.self_time(outer, "child", "other") == 6
    assert _union([(0, 2), (1, 3), (5, 6)]) == 4


def test_last_stages_takes_each_calls_final_stage():
    # call 1: an exchange map stage, then the kernel stage (the result
    # job lists the skipped map stage again); call 2: one job, no shuffle
    group = {"jobs": [{"call": "1", "stageIds": [10]},
                      {"call": "1", "stageIds": [10, 11]},
                      {"call": "2", "stageIds": [12]},
                      {"call": "2", "stageIds": [13]}],
             "stages": [{"stageId": i} for i in (10, 11, 13)]}
    assert sorted(s["stageId"] for s in last_stages(group)) == [11, 13]


def test_share_of_wall_divides_the_kernel_stage():
    split = {"of_wall": {"plan": 0.3, "read_lineage": 0.1, "exchange": 0.1,
                         "kernel_stage": 0.4, "commit": 0.1},
             "of_kernel_executor": {"sort": 0.0, "encode": 0.5,
                                    "meta": 0.0, "boundary": 0.5}}
    est = share_of_wall(split, {"fsst": 0.75, "zstd": 0.25})
    assert est["codec.fsst"] == pytest.approx(0.15)
    assert est["boundary"] == pytest.approx(0.2)
    assert sum(est.values()) == pytest.approx(1.0)
