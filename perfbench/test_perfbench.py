"""Self-test of the benchmark (not part of the package's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests run every workload on tiny inputs, untraced and traced,
and assert that every metric BENCHMARK.json names is printed with its
unit, so that no change can drop one silently.  A full pass takes a few
minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
from tracing import Tracer, _metric_value  # noqa: E402
from workloads import MIX_QUERIES, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_prints_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    section = SPEC["per_layer" if trace == "1" else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in section}
    for m in section:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        assert any(
            re.fullmatch(rf"metric {re.escape(m['name'])} = \S+ "
                         rf"{re.escape(m['unit'])}", ln)
            for ln in lines
        ), m["name"]
    assert any(ln.startswith("error_rate = 0.000000") for ln in lines)
    assert any(re.fullmatch(r"peak_rss_mb = \S+ MB", ln) for ln in lines)
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        assert result["metrics"]["trace.self_sum_ratio"]["value"] == pytest.approx(1.0)


def test_fails_without_the_repository(tmp_path):
    """Given only BENCHMARK.json and the benchmark's own files, the
    command exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [*SPEC["command"], "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_spec_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    listed = {w["name"] for w in SPEC["workloads"]}
    assert listed <= set(WORKLOADS)
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    for m in SPEC["end_to_end"]:
        assert 0 < m["bound"] <= 0.25


def test_every_layer_metric_is_mapped():
    with open(os.path.join(HERE, "layers.json")) as f:
        mapped = {row["metric"] for row in json.load(f)["layers"]}
    for m in SPEC["per_layer"]:
        name = m["name"]
        for q in MIX_QUERIES:
            name = name.replace(f"query.{q}", "query.<q>")
        assert name in mapped, m["name"]


def test_numpy_writer_matches_package_decoder():
    """The benchmark's own writer and the package's decoder agree, so a
    wrong checksum points at one of them, not at the benchmark's data."""
    from hadoop_fixedlengthinputformat_spark.sources.layout import (
        decode_chunk, parse_layout,
    )

    for cols, records, table, rl, layout in (
        (inputs.lineitem_columns(5, 3_000), inputs.lineitem_records,
         inputs.lineitem_table, inputs.LINEITEM_RL, inputs.LINEITEM_LAYOUT),
        (inputs.events_columns(5, 3_000), inputs.events_records,
         inputs.events_table, inputs.EVENTS_RL, inputs.EVENTS_LAYOUT),
    ):
        fields = parse_layout(layout, rl)
        schema = pa.schema([pa.field(f.name, f.arrow_type()) for f in fields])
        got = decode_chunk(records(cols).tobytes(), rl, fields, 0, False,
                           None, schema)
        want = table(cols)
        for name in schema.names:
            assert got.column(name).equals(
                want.column(name).combine_chunks().cast(schema.field(name).type)
            ), name


def test_inputs_repeat_per_seed():
    a = inputs.lineitem_records(inputs.lineitem_columns(9, 1_000))
    b = inputs.lineitem_records(inputs.lineitem_columns(9, 1_000))
    c = inputs.lineitem_records(inputs.lineitem_columns(10, 1_000))
    assert np.array_equal(a, b) and not np.array_equal(a, c)


def test_self_times_tile_each_op():
    t = Tracer(True)
    with t.op("op.a"):
        with t.span("child"):
            with t.span("grandchild"):
                pass
        with t.span("child"):
            pass
    roots = [s for s in t.spans if s["parent"] is None]
    assert len(roots) == 1 and all(s["op"] == roots[0]["op"] for s in t.spans)
    assert t.op_self_sum_ratio() == pytest.approx(1.0)
    assert min(t.self_times().values()) >= 0


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.op("op.a"):
        with t.span("child"):
            pass
    assert t.spans == []


def test_sql_metric_strings():
    assert _metric_value("46.9 MiB") == pytest.approx(46.9 * 2**20)
    assert _metric_value("total (min, med, max (stageId: taskId))\n"
                         "3.6 KiB (1240.0 B, 1240.0 B, 1240.0 B (driver))"
                         ) == pytest.approx(3.6 * 2**10)
    assert _metric_value("200,000") == 200_000
