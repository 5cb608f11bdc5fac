"""BENCHMARK.json names exactly what the benchmark prints."""

import json
import os
import re

from perfbench import layers, run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def load():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_keys_and_command():
    b = load()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60


def test_workloads_match_runner():
    b = load()
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]


def test_end_to_end_match_runner():
    b = load()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert m["better"] in ("lower", "higher") and 0 < m["bound"] <= 0.25
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_per_layer_match_layers():
    b = load()
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == layers.METRICS
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and m["better"] in ("lower", "higher")


def test_names_are_valid_and_unique():
    b = load()
    names = [m["name"] for m in b["workloads"] + b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
