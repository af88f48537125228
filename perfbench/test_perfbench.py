"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import ast
import json
import math
import os
import re

from perfbench import harness, run, sparql_mix

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK_JSON = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def _sources():
    for name in sorted(os.listdir(HERE)):
        if name.endswith(".py") and not name.startswith("test_"):
            path = os.path.join(HERE, name)
            with open(path) as f:
                yield name, ast.parse(f.read(), path)


def test_no_timed_path_ends_in_count():
    """``.count()`` lets Catalyst prune unused (UDF-computed) columns, so
    the benchmark materializes with noop or real writes only."""
    offenders = []
    for name, tree in _sources():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "count"
                and not node.args
                and not node.keywords
            ):
                offenders.append(f"{name}:{node.lineno}")
    assert not offenders, offenders


def test_benchmark_json_matches_emitted_metrics():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    layer_units = dict(run.LAYER_UNITS, **run._template_units())
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layer_units
    assert {w["name"] for w in spec["workloads"]} == set(run.OP_LABELS)


def test_benchmark_json_limits():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    name_re = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit_re = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(name_re.match(n) for n in names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and unit_re.match(m["unit"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and unit_re.match(m["unit"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
    assert 1 <= spec["run_seconds"] <= 60 and len(json.dumps(spec)) < 64 * 1024


def test_rounds_are_seeded_and_balanced():
    subjects = [("E_A", 5), ("E_B", 1), ("c", 2)]
    a = sparql_mix.draw_rounds(7, 3, subjects)
    assert a == sparql_mix.draw_rounds(7, 3, subjects)
    assert a != sparql_mix.draw_rounds(8, 3, subjects)
    for rnd in a:
        assert sorted(q.template for q in rnd) == sorted(sparql_mix.TEMPLATES)
        for q in rnd:
            assert "{" not in q.sparql.replace("{ ", "").replace(" }", "")
            assert "'{" not in q.sql


def test_tail_percentile_needs_ten_samples_beyond():
    assert harness.tail_percentile(list(range(19))) == (0, 0.0)
    assert harness.tail_percentile([float(x) for x in range(20)])[0] == 50
    assert harness.tail_percentile([float(x) for x in range(100)])[0] == 90


def test_event_log_rollup(tmp_path):
    def task(stage, run_ms, sent=0):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": [
                {"Name": "data sent to Python workers", "Update": sent},
            ]},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                "JVM GC Time": 1, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Local Bytes Read": 5, "Remote Bytes Read": 0},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "storage"}},
        task(0, 100, sent=10), task(0, 300, sent=5), task(1, 50),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    r = harness.rollup_event_log(str(path))["storage"]
    assert r["jobs"] == 1 and r["stages"] == 2 and r["tasks"] == 3
    assert r["executor_run_s"] == 0.45 and r["py_bytes_in"] == 15
    assert r["shuffle_write_bytes"] == 21 and r["task_skew"] == 1.5


def test_op_metrics_take_each_units_median():
    # (unit, wall s, CPU s): one slow sample of "a" does not move its median
    samples = [("a", 1.0, 0.1), ("a", 1.0, 0.1), ("a", 9.0, 5.0), ("b", 4.0, 0.4)]
    assert math.isclose(run.geomean_of_medians(samples, 1), 2000.0)
    assert math.isclose(run.geomean_of_medians(samples, 2), 200.0)


def test_peak_rss_is_the_median_of_per_op_peaks():
    rss = harness.RssSampler(jvm_pid=0)
    for kb in (1024, 4096, 2048):
        rss.peak_kb = kb
        rss.next_op()
    assert rss.median_op_peak_mb == 2.0
