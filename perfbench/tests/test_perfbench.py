"""Tests for the benchmark itself, on tiny seeded inputs.

    python3 -m pytest perfbench/tests -q

The run tests start real Spark jobs (about three minutes in all).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
from launch import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    DECLARED = json.load(_f)
WORKLOADS = [w["name"] for w in DECLARED["workloads"]]


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--n-convs", "40"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["run_info"]


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_workload_prints_every_metric(workload, trace):
    result, info = _run(workload, trace)
    declared = DECLARED["per_layer" if trace else "end_to_end"]
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        assert math.isfinite(got["value"])
    if not trace:
        for name in ("turns_per_s", "process_turns_per_s", "setup_s"):
            assert result["metrics"][name]["value"] > 0
        return
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    traced_wall = info["job_walls"][1]
    assert abs(metrics["trace.unattributed_s"]) <= 0.1 * traced_wall
    assert metrics["checkpoint.rerun_buckets"] == 0
    assert metrics["peak_rss_mb"] > 0
    assert metrics["scan.splits"] == info["input"]["splits"]
    assert metrics["bucket.count"] == (1 if workload == "fresh_b1" else 16)


def _spans_nest(spans: list[dict]) -> bool:
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        assert s["start"] <= s["end"]
        p = by_id.get(s["parent"])
        if p is not None and not (p["start"] <= s["start"] and s["end"] <= p["end"]):
            return False
    return True


def test_spans_nest_and_segments_close():
    tr = Tracer()
    tr.begin("session.start")
    tr.end()
    tr.begin("checkpoint.run")
    for _ in range(2):
        tr.begin("bucket.plan")
        tr.end()
        tr.segment("bucket.write")
        tr.begin("lineage")
        tr.end()
    tr.end()
    tr.segment("export.conv_report")
    tr.begin("session.stop")
    tr.end()
    tr.finish()
    names = [s["name"] for s in tr.spans]
    assert names.count("bucket.write") == 2
    assert names.count("export.conv_report") == 1
    assert len({s["id"] for s in tr.spans}) == len(tr.spans)
    assert all(s["end"] is not None for s in tr.spans)
    assert _spans_nest(tr.spans)
    run = next(s for s in tr.spans if s["name"] == "checkpoint.run")
    assert {s["parent"] for s in tr.spans if s["name"] == "bucket.write"} \
        == {run["id"]}
    top = sorted((s for s in tr.spans if s["parent"] is None),
                 key=lambda s: s["start"])
    assert all(a["end"] <= b["start"] for a, b in zip(top, top[1:]))


@pytest.fixture(scope="module")
def tiny_input(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("inputs"))
    return inputs.prepare(root, "full_b16", 5, 30, 0.25, True, workers=2)


def test_keep_first_set_is_one_turn_per_text(tiny_input):
    exp = pq.read_table(tiny_input["expected"]).to_pylist()
    assert len({e["text"] for e in exp}) == len(exp)
    assert tiny_input["injected_dup_share"] > 0.1
    assert len(exp) == round(tiny_input["turns"]
                             * tiny_input["distinct_text_share"])


def test_corrupted_output_is_flagged(tiny_input, tmp_path):
    good = pq.read_table(tiny_input["expected"])
    out = tmp_path / "out" / "bucket=0"
    out.mkdir(parents=True)
    pq.write_table(good, out / "part-0.parquet")
    assert inputs.check_output(str(tmp_path / "out"), tiny_input)["errors"] == 0

    rows = good.to_pylist()
    rows[0]["keep"] = not rows[0]["keep"]        # one wrong decision
    rows[1]["scrubbed_text"] += "x"              # one wrong text
    rows.append(dict(rows[2]))                   # one duplicate
    del rows[3]                                  # one missing
    shutil.rmtree(out)
    out.mkdir()
    pq.write_table(pa.Table.from_pylist(rows, schema=good.schema),
                   out / "part-0.parquet")
    check = inputs.check_output(str(tmp_path / "out"), tiny_input)
    assert (check["wrong"], check["duplicated"], check["missing"]) == (2, 1, 1)
    assert check["errors"] == 4


def test_inputs_repeat_for_a_seed_and_differ_across_seeds():
    a, _ = inputs.gen_rows(11, 20, 0.25)
    b, _ = inputs.gen_rows(11, 20, 0.25)
    c, _ = inputs.gen_rows(12, 20, 0.25)
    assert a == b
    assert [r["text"] for r in a] != [r["text"] for r in c]
