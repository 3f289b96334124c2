"""The benchmark's own tests, at toy scale.

    python3 -m pytest perfbench/tests -q

The Spark tests run both workloads on tiny inputs (about two minutes on
4 cores); the rest need no Spark.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run as bench_run  # noqa: E402
from perfbench import workloads as W  # noqa: E402
from perfbench.spans import Span, Tracer, covered, layer_self_times, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


# --------------------------------------------------------------------------- #
# metric-name schema
# --------------------------------------------------------------------------- #
def test_benchmark_json_matches_the_metrics_the_code_reports():
    b = load_benchmark()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(W.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == W.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == W.PER_LAYER
    names = [m["name"] for m in b["workloads"] + b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME.match(m["name"]), m
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert b["paths"] == ["perfbench"] and b["command"][1] == "perfbench/run.py"


def test_result_line_has_exactly_the_contract_keys(capsys):
    run = W.Run(None, Tracer(), seed=1, seconds=1, work="", cores=1)
    run.attempted = 3
    run.metrics = {n: 1.5 for n in W.END_TO_END}
    run.layer = {n: 2.5 for n in W.PER_LAYER}
    for trace, names in ((False, W.END_TO_END), (True, W.PER_LAYER)):
        result = bench_run.report(run, "search", trace)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert set(result["metrics"]) == set(names)
        assert all(set(v) == {"value", "unit"} for v in result["metrics"].values())
    printed = capsys.readouterr().out
    for name, unit in W.END_TO_END.items():
        assert re.search(rf"^{re.escape(name)}\s+\S+ {re.escape(unit)}$", printed, re.M)


def test_percentiles_and_supported_percentile():
    xs = [float(i) for i in range(1, 11)]
    assert W.percentile(xs, 50) == 5.5
    assert W.percentile(xs, 90) == pytest.approx(9.1)
    assert W.percentile([3.0], 90) == 3.0
    assert W.supported_percentile(19) is None
    assert W.supported_percentile(100) == 90.0


def test_needle_closed_form():
    # doc i carries needle{(i // 997) % 20} iff i % 997 == 0
    assert W.needle_docs(0, 10_000) == {0}
    assert W.needle_docs(3, 10_000) == {2991}
    assert W.needle_docs(0, 30_000) == {0, 19940}
    assert W.needle_docs(15, 10_000) == set()


# --------------------------------------------------------------------------- #
# self-time arithmetic
# --------------------------------------------------------------------------- #
def span(i, name, start, end, parent=None):
    return Span(id=i, name=name, op="", start=start, end=end, parent=parent, request="r")


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6  # [1,5] + [8,10]
    assert covered([(-5, -1), (11, 12)], 0, 10) == 0


def test_self_time_subtracts_only_direct_children():
    spans = [
        span(0, "index.generations", 0.0, 10.0),
        span(1, "index.microbuild", 1.0, 4.0, parent=0),
        span(2, "index.microbuild", 3.0, 6.0, parent=0),  # overlaps its sibling
        span(3, "index.codec", 2.0, 3.0, parent=1),  # grandchild of 0
        span(4, "search.multi", 20.0, 21.5),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(5.0)  # 10 - [1, 6]
    assert own[1] == pytest.approx(2.0)
    assert own[2] == pytest.approx(3.0)
    assert own[3] == pytest.approx(1.0)
    assert own[4] == pytest.approx(1.5)
    assert layer_self_times(spans) == pytest.approx(
        {"index.generations": 5.0, "index.microbuild": 5.0, "index.codec": 1.0, "search.multi": 1.5}
    )


def test_jobs_inclusive_adds_children_to_parents():
    spans = [span(0, "a", 0, 1), span(1, "b", 0, 1, parent=0), span(2, "c", 0, 1, parent=1)]
    for s, jobs in zip(spans, (1, 2, 4)):
        s.jobs = jobs
    assert W.jobs_inclusive(spans) == {0: 7, 1: 6, 2: 4}


# --------------------------------------------------------------------------- #
# build-stage spans rebuilt from the manifests
# --------------------------------------------------------------------------- #
def write_manifest(index_dir, table, committed_at):
    os.makedirs(os.path.join(index_dir, table))
    with open(os.path.join(index_dir, table, "_MANIFEST.json"), "w", encoding="utf-8") as fh:
        json.dump({"table": table, "committed_at": committed_at}, fh)


def test_stage_spans_from_manifest_commit_times(tmp_path):
    d = str(tmp_path)
    commits = {"stored": 102.0, "doc_terms_fwd": 105.0, "doc_lens": 105.5,
               "segments": 107.0, "postings": 109.0, "term_stats": 109.5,
               "field_stats": 109.75, "_lineage": 110.0}
    for table, at in commits.items():
        write_manifest(d, table, at)
    tracer = Tracer(enabled=True)
    with tracer.span("index.builder", "build_index", request="setup0") as build:
        pass
    build.start, build.end = 100.0, 110.5
    stages = tracer.add_build_stages(d, build)
    assert [s.op for s in stages] == [
        "build.stage.stored", "build.stage.doc_terms_fwd", "build.stage.doc_lens",
        "build.stage.segments", "build.stage.postings", "build.stage.term_stats",
        "build.stage.field_stats", "build.stage.lineage",
    ]
    assert [s.name for s in stages[:4]] == ["index.docids", "analysis", "index.builder", "index.codec"]
    assert [(s.start, s.end) for s in stages[:2]] == [(100.0, 102.0), (102.0, 105.0)]
    assert all(s.parent == build.id and s.request == "setup0" for s in stages)
    # the build span keeps only the time after the last commit
    assert self_times(tracer.spans)[build.id] == pytest.approx(0.5)


def test_stage_spans_skip_uncommitted_tables(tmp_path):
    d = str(tmp_path)
    write_manifest(d, "stored", 3.0)
    write_manifest(d, "postings", 7.0)
    tracer = Tracer(enabled=True)
    with tracer.span("index.builder", "build_index") as build:
        pass
    build.start = 1.0
    stages = tracer.add_build_stages(d, build)
    assert [(s.op, s.start, s.end) for s in stages] == [
        ("build.stage.stored", 1.0, 3.0), ("build.stage.postings", 3.0, 7.0)]


def test_disabled_tracer_records_nothing():
    tracer = Tracer()
    with tracer.span("search.engine", "search") as sp:
        assert sp is None
    assert tracer.spans == [] and tracer.add_build_stages("/nonexistent", None) == []


# --------------------------------------------------------------------------- #
# the command without the package under test
# --------------------------------------------------------------------------- #
def test_run_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("work", "out", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "search", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# --------------------------------------------------------------------------- #
# toy-scale runs in a real Spark session
# --------------------------------------------------------------------------- #
@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench-work"))
    s = bench_run.start_spark(2, work)
    yield s, work
    bench_run.stop_spark(s)


@pytest.fixture
def toy(monkeypatch):
    for name, value in {
        "SEARCH_TURNS": 2_000,
        "BATCH_QUERIES": 70,
        "CHECK_QUERIES": 70,
        "INGEST_BASE_TURNS": 300,
        "INGEST_BATCH_TURNS": 300,
        "PROBE_BATCH_TURNS": 100,
        "ANALYSIS_SAMPLE": 200,
    }.items():
        monkeypatch.setattr(W, name, value)


@pytest.mark.parametrize("workload", list(W.WORKLOADS))
def test_toy_traced_run_passes_its_checks(spark, toy, workload):
    session, work = spark
    run = bench_run.execute(session, workload, 3, 1.0, True, 2, work)
    assert run.correct, (run.mismatches, run.errors)
    assert run.attempted > 0 and run.failed == 0
    assert set(W.END_TO_END) <= set(run.metrics)
    assert set(run.layer) == set(W.PER_LAYER)
    assert all(v > 0 for v in run.metrics.values())
    for layer in W.LAYERS:
        assert run.layer[f"self_s.{layer}"] > 0, layer
    assert run.layer["spark.jobs_per_build"] > 0
    assert run.layer["ingest.live_generations"] >= 3


def test_toy_run_with_a_wrong_result_must_fail(spark, toy, monkeypatch, capsys):
    """A search engine that miscounts must fail the run: correct is false
    and the command exits 1."""
    session, work = spark
    real_count = W.Searcher.count
    monkeypatch.setattr(W.Searcher, "count", lambda self, q: real_count(self, q) + 1)
    monkeypatch.setattr(bench_run, "start_spark", lambda cores, w: session)
    monkeypatch.setattr(bench_run, "stop_spark", lambda s: None)
    monkeypatch.setattr(bench_run, "WORK", work)
    code = bench_run.main(["--workload", "search", "--seed", "3", "--seconds", "1", "--trace", "0"])
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 1
    assert last["correct"] is False
    assert set(last["metrics"]) == set(W.END_TO_END)
