"""Fast checks of the benchmark's own pieces (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, inputs, run, trace  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _digest(pages_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(pages_dir)):
        with open(os.path.join(pages_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    a = inputs.ensure_input(str(tmp_path / "a"), 5, 400, 2)
    b = inputs.ensure_input(str(tmp_path / "b"), 5, 400, 2)
    c = inputs.ensure_input(str(tmp_path / "c"), 6, 400, 2)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_input_spans_requested_days(tmp_path):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pages = inputs.ensure_input(str(tmp_path), 3, 600, 3)
    ts = pq.read_table(pages).column("warc_ts")
    days = pc.unique(pc.strftime(ts, format="%Y-%m-%d"))
    assert len(days) == 3


def _report_expected():
    cols = ["count", "op", "p95_ms"]
    rows = [("5", "find", 12.34564), ("2", "update", None)]
    return {"main_ops": {"columns": cols,
                         "rows": dict(check.row_multiset(cols, rows))}}


def _write_sink(out_dir, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(out_dir, "sinks", "main_ops")
    os.makedirs(d)
    pq.write_table(pa.table({"op": [r[1] for r in rows], "count": [r[0] for r in rows],
                             "p95_ms": [r[2] for r in rows]}),
                   os.path.join(d, "part-0.parquet"))


def test_report_check_passes_on_matching_sink(tmp_path):
    # column order differs and p95 carries more digits than the oracle rounds to
    _write_sink(str(tmp_path), [("5", "find", 12.345641), ("2", "update", None)])
    assert check.check_report(str(tmp_path), _report_expected()) == []


def test_report_check_fails_on_planted_wrong_row(tmp_path):
    _write_sink(str(tmp_path), [("5", "find", 12.345641), ("3", "update", None)])
    problems = check.check_report(str(tmp_path), _report_expected())
    assert problems and problems[0].startswith("main_ops:")


def _write_manifest(ingest_dir, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(ingest_dir, "manifest")
    os.makedirs(d)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(d, "commit-0.parquet"))


def test_ingest_check_reconciles_counters(tmp_path):
    ok = [{"day": "d1", "rows_in": 10, "oversized": 1, "ignored": 3, "kept": 6, "ops": 5},
          {"day": "d2", "rows_in": 5, "oversized": 0, "ignored": 1, "kept": 4, "ops": 4}]
    expected = {"rows_in": 15, "oversized": 1, "ignored": 4, "kept": 10}
    _write_manifest(str(tmp_path / "good"), ok)
    assert check.check_ingest(str(tmp_path / "good"), expected, 2) == []
    bad = [dict(ok[0], kept=7), ok[1]]
    _write_manifest(str(tmp_path / "bad"), bad)
    problems = check.check_ingest(str(tmp_path / "bad"), expected, 2)
    assert any("rows_in 10 != 1 + 3 + 7" in p for p in problems)
    assert any(p.startswith("sum(kept)") for p in problems)


@pytest.fixture(scope="module")
def benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_valid_and_declared(benchmark_json):
    e2e = [m["name"] for m in benchmark_json["end_to_end"]]
    layers = [m["name"] for m in benchmark_json["per_layer"]]
    for name in e2e + layers + [w["name"] for w in benchmark_json["workloads"]]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert len(set(e2e + layers)) == len(e2e) + len(layers)
    assert layers == list(trace.PER_LAYER_UNITS)
    assert {m["name"]: m["unit"] for m in benchmark_json["per_layer"]} == trace.PER_LAYER_UNITS
    assert set(e2e) == set(run.E2E_UNITS)
    assert {w["name"] for w in benchmark_json["workloads"]} <= set(run.WORKLOADS)


def _ingest_layer_sum(with_plan_span: bool) -> list[str]:
    from perfbench.ledger import Job, Span

    rr = Span("run_resumable", "perfbench:run_resumable", 0.0, 20.0)
    children = [("manifest.collect", 0, 1), ("manifest.kept_write", 1, 9),
                ("manifest.ops_write", 9, 12)]
    if with_plan_span:
        children.append(("manifest.plan", 12, 18))
    spans = [Span(name, f"{rr.group}/{name}", s, e) for name, s, e in children]
    jobs = [Job(0, 18.5, 19.5, rr.group, []), Job(1, 2, 8, rr.group + "/manifest.kept_write", [])]
    layers = trace.ingest_layers(rr, spans, jobs, [(19.5, 19.6)])
    assert layers["manifest.other_jobs_s"] == 2  # the collect span and the job outside spans
    return trace.layer_sum_problems(sum(layers.values()), rr.wall)


def test_layer_sum_check_passes_when_layers_cover_the_call():
    assert _ingest_layer_sum(with_plan_span=True) == []


def test_layer_sum_check_fails_when_driver_time_is_unaccounted():
    problems = _ingest_layer_sum(with_plan_span=False)
    assert problems and "untraced wall 20.000 s" in problems[0]


def test_busy_merges_overlaps_and_clips():
    from perfbench.ledger import busy

    assert busy([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert busy([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
