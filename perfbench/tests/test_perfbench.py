"""Tests of the benchmark harness, run against a fake workload (no Spark):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import time
from pathlib import Path

import pytest

from perfbench import harness, run

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
BENCHMARK = json.loads(
    (Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


class FakeWorkload(harness.Workload):
    """Three tiny queries; `boom` raises when `fail` is set."""

    name = "fake"
    queries = ("a", "b", "boom")
    fail = False

    def __init__(self, work_dir):
        self.work = work_dir

    def setup(self, tracer, seed):
        with tracer.span("session"):
            pass
        return {"session.start_s": 0.01}

    def run_pass(self, idx, order, tracer, traced):
        runs = []
        with tracer.span("stream", stream=0):
            for q in order:
                t0 = time.perf_counter()
                err = None
                with tracer.span("query", query=f"{idx}:{q}"):
                    with tracer.span("construct"):
                        time.sleep(0.002)
                    with tracer.span("execute"):
                        if q == "boom" and self.fail:
                            err = "RuntimeError: deliberate"
                runs.append(harness.QueryRun(
                    idx, 0, q, time.perf_counter() - t0, err))
        layers = {"execute.wall_s": 0.1} if traced else {}
        return runs, layers, {"order": order}

    def check(self):
        return {q: {"rows": 1, "hash": q} for q in self.queries}


class FailingWorkload(FakeWorkload):
    fail = True


GOLDENS = {q: {"rows": 1, "hash": q} for q in FakeWorkload.queries}


def _run(tmp_path, monkeypatch, capsys, workload, *extra):
    for var in ("SPARK_LOCAL_DIRS", "TMPDIR", "SPARK_GRAFT_CPUS"):
        monkeypatch.setenv(var, str(tmp_path) if var != "SPARK_GRAFT_CPUS"
                           else "4")
    code = run.main(["--workload", "fake", "--seed", "7",
                     "--seconds", "0.05", *extra],
                    workloads={"fake": workload}, goldens=GOLDENS,
                    work_root=tmp_path)
    lines = capsys.readouterr().out.strip().splitlines()
    return code, lines, json.loads(lines[-1])


def test_metric_names_and_units():
    for table in (harness.E2E_UNITS, harness.LAYER_UNITS):
        for name, unit in table.items():
            assert NAME.fullmatch(name), name
            assert UNIT.fullmatch(unit), (name, unit)


def test_benchmark_json_matches_harness_tables():
    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert e2e == harness.E2E_UNITS
    assert layer == harness.LAYER_UNITS
    assert {w["name"] for w in BENCHMARK["workloads"]} == {
        "tpcxbb_power", "curation_power", "mixed_throughput"}


def test_plain_run_emits_every_e2e_metric(tmp_path, monkeypatch, capsys):
    code, lines, line = _run(tmp_path, monkeypatch, capsys, FakeWorkload)
    assert code == 0
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["failed"] == 0
    assert set(line["metrics"]) == set(harness.E2E_UNITS)
    for name, m in line["metrics"].items():
        assert m["unit"] == harness.E2E_UNITS[name]
        assert isinstance(m["value"], float)
    # the human-readable lines name every metric with its unit
    for name, unit in harness.E2E_UNITS.items():
        assert any(f"{name} = " in ln and ln.endswith(unit) for ln in lines)


def test_raising_query_counts_in_failed_ratio(tmp_path, monkeypatch,
                                              capsys):
    code, lines, line = _run(tmp_path, monkeypatch, capsys,
                             FailingWorkload)
    assert code == 1
    assert line["correct"] is False
    # the warm pass and every timed pass each ran `boom` once
    assert line["failed"] >= 2
    detail = json.loads(
        (tmp_path / "results" / "fake-seed7-trace0.json").read_text())
    assert detail["failed_ratio"] == line["failed"] / line["attempted"] > 0
    assert any("boom" in r for r in detail["raised"])


def test_golden_mismatch_counts_as_failure(tmp_path, monkeypatch, capsys):
    wrong = {**GOLDENS, "a": {"rows": 2, "hash": "a"}}
    for var in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        monkeypatch.setenv(var, str(tmp_path))
    code = run.main(["--workload", "fake", "--seconds", "0"],
                    workloads={"fake": FakeWorkload}, goldens=wrong,
                    work_root=tmp_path)
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 1 and line["failed"] == 1


def test_traced_run_spans_and_layers(tmp_path, monkeypatch, capsys):
    code, _, line = _run(tmp_path, monkeypatch, capsys, FakeWorkload,
                         "--trace", "1")
    assert code == 0
    assert set(line["metrics"]) == set(harness.LAYER_UNITS)
    spans = json.loads((tmp_path / "results" /
                        "fake-seed7-trace1-spans.json").read_text())
    ids = {s["id"] for s in spans}
    for s in spans:
        assert s["parent"] is None or s["parent"] in ids, s
        assert s["end"] is not None and s["end"] >= s["start"]
    by_id = {s["id"]: s for s in spans}
    names = {s["name"] for s in spans}
    assert {"workload", "pass", "stream", "query", "construct",
            "execute"} <= names
    for s in spans:
        if s["name"] == "construct":
            assert by_id[s["parent"]]["name"] == "query"
            assert s["query"] == by_id[s["parent"]]["query"]
    # a traced run alternates untraced and traced passes
    detail = json.loads(
        (tmp_path / "results" / "fake-seed7-trace1.json").read_text())
    assert {p["traced"] for p in detail["passes"][1:]} == {True, False}
    assert line["metrics"]["trace.spans"]["value"] == len(spans)


def test_seed_sets_pass_order():
    qs = tuple("abcdefgh")
    assert harness.pass_order(qs, 1, 0) == harness.pass_order(qs, 1, 0)
    assert harness.pass_order(qs, 1, 0) != harness.pass_order(qs, 2, 0)
    assert sorted(harness.pass_order(qs, 3, 5)) == list(qs)


def test_fingerprint_is_order_and_type_insensitive():
    a = harness.fingerprint(["x", "y"], [(1, 0.1234567), (2, None)])
    b = harness.fingerprint(["y", "x"], [(None, 2.0), (0.12345671, 1)])
    assert a == b and a["rows"] == 2
    c = harness.fingerprint(["x", "y"], [(1, 0.1234567), (3, None)])
    assert c != a


@pytest.mark.parametrize("n,want", [(0, 50), (7, 50), (20, 50), (40, 75),
                                    (100, 90), (1000, 90)])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert harness.tail_pct(n) == want
