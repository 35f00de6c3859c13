"""Tests of the benchmark's own code; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import dataclasses
import filecmp
import json
import os
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH_DIR)

import checks  # noqa: E402
import noaa_gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

SMALL = noaa_gen.InputSize(ghcn_stations=2, ghcn_years=2, isd_stations=1, isd_years=1)


def _manifest():
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
        return json.load(fh)


def _same_tree(a: str, b: str) -> bool:
    names_a = sorted(os.path.relpath(os.path.join(d, n), a) for d, _, ns in os.walk(a) for n in ns)
    names_b = sorted(os.path.relpath(os.path.join(d, n), b) for d, _, ns in os.walk(b) for n in ns)
    return names_a == names_b and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names_a
    )


# ---------------------------------------------------------------- generator


def test_generator_is_byte_identical_per_seed_and_differs_across_seeds(tmp_path):
    first = noaa_gen.generate(str(tmp_path / "a"), 7, SMALL)
    again = noaa_gen.generate(str(tmp_path / "b"), 7, SMALL)
    other = noaa_gen.generate(str(tmp_path / "c"), 8, SMALL)
    assert first == again
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
    assert other["isd"] == first["isd"]  # same layout, other values


def test_dly_lines_follow_the_layout(tmp_path):
    noaa_gen.generate(str(tmp_path), 3, SMALL)
    ghcn = tmp_path / "ghcn"
    lines = [line for f in sorted(ghcn.iterdir()) for line in f.read_text().splitlines()]
    assert len(lines) == SMALL.ghcn_stations * SMALL.ghcn_years * 12 * len(noaa_gen.GHCN_ELEMENTS)
    assert {len(line) for line in lines} == {269}
    slots = qflags = missing = 0
    for line in lines:
        year, month = int(line[11:15]), int(line[15:17])
        month_days = noaa_gen.calendar.monthrange(year, month)[1]
        for day in range(1, 32):
            value = int(line[21 + 8 * (day - 1) : 26 + 8 * (day - 1)])
            if day > month_days:
                assert value == noaa_gen.MISSING, (line[:21], day)
                continue
            slots += 1
            missing += value == noaa_gen.MISSING
            qflags += line[27 + 8 * (day - 1)] != " "
    assert 0.03 < missing / slots < 0.07
    assert 0.01 < qflags / slots < 0.03


def test_isd_files_are_named_usaf_wban_year(tmp_path):
    noaa_gen.generate(str(tmp_path), 3, SMALL)
    names = os.listdir(tmp_path / "isd")
    assert len(names) == SMALL.isd_stations * SMALL.isd_years
    for name in names:
        usaf, wban, year = name.split("-")
        assert len(usaf) == 6 and len(wban) == 5 and year == str(noaa_gen.ISD_FIRST_YEAR)
        lines = (tmp_path / "isd" / name).read_text().splitlines()
        assert len(lines) == 365 * 24 and {len(line) for line in lines} == {61}


def test_reference_rollups_skip_missing_and_flagged_slots(tmp_path):
    ghcn = tmp_path / "ghcn"
    ghcn.mkdir()
    slots = ["   25 S7", "   35  7", "-9999   ", "   45 G7"] + ["-9999   "] * 27
    (ghcn / "X.dly").write_text(f"{'USC00000001':<11}200402TMAX" + "".join(slots) + "\n")
    ref = noaa_gen.ghcn_reference(str(ghcn))
    # Day 1 and 4 carry a QFLAG, day 3 is missing: only 3.5 degrees remains.
    assert ref["observations"] == 1
    assert ref["monthly"] == {("USC00000001", 2004, 2, "TMAX"): (1, 3.5, 3.5, 3.5)}


# ------------------------------------------------------------------ metrics


def test_printed_metric_names_match_benchmark_json():
    manifest = _manifest()
    assert [(m["name"], m["unit"], m["better"]) for m in manifest["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in manifest["per_layer"]] == list(run.PER_LAYER)
    runner = run.Runner(None, None, 0, None)
    runner.pass_cpu, runner.ratios, runner.attempted = [2.0], [0.5], 2
    runner.op_cpu = {"a": [1.0], "b": [1.0]}
    assert list(run.end_to_end(runner, 10.0)) == [m["name"] for m in manifest["end_to_end"]]
    assert [w["name"] for w in manifest["workloads"]] == list(run.WORKLOADS)
    assert manifest["command"] == ["python3", "perfbench/run.py"]


def test_layer_aggregation_names_are_declared(tmp_path):
    tracer = tracing.Tracer()
    tracer.enabled = True
    with tracer.operation("1.1", "q", 2):
        with tracer.span(tracing.BUILD):
            with tracer.span(tracing.LOAD):
                pass
        with tracer.span(tracing.COLLECT) as span:
            span.attrs.update(rows=3, analysis_ms=1.0, optimization_ms=2.0, planning_ms=3.0)
    snapshot = {"jobs": [], "stages": [], "sql": []}
    layers, per_op = tracing.collect_layers(tracer.spans, snapshot, [], 4, [2], 0)
    declared = {name for name, _, _ in run.PER_LAYER}
    assert set(layers) <= declared
    assert layers["io.load_calls"] == 1 and layers["collect.result_rows"] == 3
    assert per_op[0]["op"] == "q" and per_op[0]["attributed_share"] <= 1.0


def test_bare_build_and_pipeline_time_is_unattributed():
    spans = [
        tracing.Span(1, None, "o", tracing.OP, 0.0, 10.0, {"op": "q", "pass_index": 3}),
        tracing.Span(2, 1, "o", tracing.BUILD, 0.0, 8.0),
        tracing.Span(3, 2, "o", tracing.LOAD, 1.0, 2.0),
        tracing.Span(4, 1, "o", tracing.COLLECT, 8.0, 10.0, {"catalyst_intervals": [(8.0, 8.5)]}),
    ]
    snapshot = {"jobs": [], "stages": [], "sql": []}
    jvm_calls = [(4.0, 5.0), (20.0, 21.0)]  # the second is outside the operation
    layers, (op,) = tracing.collect_layers(spans, snapshot, [], 4, [3], 0, jvm_calls)
    assert op["attributed_ms"] == pytest.approx({
        tracing.LOAD: 1000.0, tracing.STAGE: 0.0, "catalyst": 500.0, "spark.jobs": 0.0, "spark.sql": 0.0,
        "streaming.triggers": 0.0, tracing.JVM: 1000.0, tracing.DRAIN: 0.0, tracing.COLLECT: 1500.0,
    })
    assert op["unattributed_ms"] == pytest.approx(6000.0)
    assert layers["trace.min_attributed_share"] == pytest.approx(0.4)
    assert layers["trace.min_attributed_share"] < tracing.MIN_ATTRIBUTED_SHARE


def test_attribution_gives_overlapping_time_to_the_innermost_layer():
    layers = tracing.attribute(0.0, 10.0, (("a", [(1.0, 3.0)]), ("b", [(2.0, 6.0), (5.0, 7.0)]), ("c", [(0.0, 20.0)])))
    assert layers == pytest.approx({"a": 2.0, "b": 4.0, "c": 4.0})


def test_traced_runs_pair_each_traced_pass_with_an_untraced_neighbour():
    assert run.traced_schedule(3) == (3, [3])
    assert run.traced_schedule(4) == (5, [3, 4])  # pairs (2, 3) and (4, 5)


def test_cpu_metrics_are_medians_per_operation():
    runner = run.Runner(None, None, 0, None)
    runner.pass_cpu, runner.ratios, runner.attempted = [3.0, 5.0, 4.0], [0.5], 6
    runner.op_cpu = {"a": [1.0, 9.0, 2.0], "b": [3.0, 2.0, 2.5]}
    metrics = run.end_to_end(runner, 10.0)
    assert metrics["setup_s"] == 10.0
    assert metrics["pass_cpu_s"] == 4.0
    assert metrics["op_cpu_tail_s"] == 2.5  # the costliest operation's median
    assert metrics["ok_rate"] == 1.0


def test_cpu_meter_counts_a_live_child_process():
    meter = run.CpuMeter()
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\nprint(flush=True)\ninput()"
    before = meter.read()
    child = subprocess.Popen([sys.executable, "-c", burn], stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    try:
        child.stdout.readline()  # the child has burnt its 0.5 s and waits
        assert meter.read() - before >= 0.45
    finally:
        child.communicate(b"\n", timeout=30)


# -------------------------------------------------------------------- spans


def test_span_record_schema_is_pinned(tmp_path):
    assert tracing.SPAN_FIELDS == ("span_id", "parent_id", "op_id", "name", "start", "end", "attrs")
    assert tuple(f.name for f in dataclasses.fields(tracing.Span)) == tracing.SPAN_FIELDS
    tracer = tracing.Tracer()
    tracer.enabled = True
    with tracer.operation("1.1", "q_x", 1):
        with tracer.span(tracing.LOAD, table="events"):
            pass
    path = tmp_path / "spans.jsonl"
    tracer.write(str(path))
    records = [json.loads(line) for line in path.read_text().splitlines()]
    assert [tuple(r) for r in records] == [tracing.SPAN_FIELDS] * 2
    load, root = records
    assert root["name"] == tracing.OP and root["parent_id"] is None
    assert load["parent_id"] == root["span_id"] and load["op_id"] == root["op_id"] == "1.1"
    assert load["attrs"] == {"table": "events"} and root["start"] <= load["start"] <= load["end"] <= root["end"]


def test_disabled_tracer_records_nothing():
    tracer = tracing.Tracer()
    with tracer.operation("1.1", "q", 1):
        with tracer.span(tracing.LOAD):
            pass
    assert tracer.spans == []


def test_self_time_subtracts_covered_child_time():
    spans = [
        tracing.Span(1, None, "o", tracing.OP, 0.0, 10.0),
        tracing.Span(2, 1, "o", tracing.BUILD, 1.0, 5.0),
        tracing.Span(3, 2, "o", tracing.LOAD, 2.0, 3.0),
        tracing.Span(4, 1, "o", tracing.COLLECT, 4.0, 9.0),  # overlaps the build
    ]
    assert tracing.self_times(spans) == pytest.approx({1: 2.0, 2: 3.0, 3: 1.0, 4: 5.0})


@pytest.mark.parametrize(
    "text, value",
    [
        ("1,234", 1234.0),
        ("800 ms", 800.0),
        ("13.1 MiB", 13.1 * 1024**2),
        ("total (min, med, max (stageId: taskId))\n3.4 s (527 ms, 912 ms, 1.2 s (stage 59.0: task 65))", 3400.0),
    ],
)
def test_sql_metric_values_parse_to_ms_and_bytes(text, value):
    assert tracing.sql_metric_value(text) == pytest.approx(value)


# ------------------------------------------------------------------- checks


def test_digest_is_order_insensitive():
    import pandas as pd

    canon = checks._conftest()._canon
    a = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    b = pd.DataFrame({"b": ["y", "x"], "a": [2, 1]})
    assert checks.digest(a, canon) == checks.digest(b, canon)
    assert checks.digest(a, canon) != checks.digest(a.assign(a=[1, 3]), canon)


def test_reference_comparison_tolerates_only_summation_noise():
    want = {("s", 1): (3, 1.0, None)}
    assert checks._compare_keyed({("s", 1): (3, 1.0 + 1e-15, None)}, want, "t") is None
    assert checks._compare_keyed({("s", 1): (3, 1.001, None)}, want, "t") is not None
    assert checks._compare_keyed({("s", 1): (3, 1.0, 0.0)}, want, "t") is not None
