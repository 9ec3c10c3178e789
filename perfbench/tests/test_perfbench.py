"""Tests of the benchmark's own code: the generator, the percentile
rule, span self time, and a tiny-input run of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.trace import FAILED, Span, beyond, percentile, self_times, tail

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _cdc_bytes(seed: int) -> list[bytes]:
    s = gen.CdcStream(seed)
    return [gen.render(s.prefill())] + [gen.render(f) for f in s.files(6)]


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setattr(gen, "N_EVENTS", 3_000)
    monkeypatch.setattr(gen, "KEY_SPACE", 500)


def test_generator_is_byte_identical_per_seed(small, tmp_path):
    paths = []
    for i in range(2):
        p = tmp_path / f"events{i}.parquet"
        gen.write_table(gen.events_table(7), str(p))
        paths.append(p.read_bytes())
    assert paths[0] == paths[1]
    assert _cdc_bytes(7) == _cdc_bytes(7)
    assert _cdc_bytes(7) != _cdc_bytes(8)
    assert not gen.events_table(7).equals(gen.events_table(8))


def test_cdc_stream_has_stale_envelopes_and_unique_versions(small):
    s = gen.CdcStream(3)
    s.prefill()
    newest: dict[int, int] = {}
    stale = 0
    seen: set[tuple[int, int]] = set()
    for f in s.files(40):
        for e in f:
            p = e["after"] or e["before"]
            key, v = p["doc_id"], (e["after"] or {}).get("version")
            if v is None:
                continue
            assert (key, v) not in seen
            seen.add((key, v))
            stale += v < newest.get(key, 0)
            newest[key] = max(newest.get(key, 0), v)
    assert stale > 0


def test_events_match_the_lanes_literals(small):
    t = gen.events_table(5).to_pydict()
    assert set(t["event_type"]) <= {"view", "click", "purchase", "signup", "error"}
    assert all(json.loads(p)["k"] in range(gen.N_DOC_KEYS) for p in t["props"])
    assert all(round(v, 2) == v for v in t["value"])


def test_tail_needs_ten_samples_beyond():
    assert beyond(100, 90) == 10
    assert tail(list(range(100)), 90) == 89
    assert beyond(99, 90) == 9
    assert tail(list(range(99)), 90) is None
    assert tail(list(range(1000)), 99) == 989
    assert percentile([3, 1, 2], 50) == 2
    assert percentile([], 50) is None


def test_failed_operations_miss_every_limit():
    lat = [1.0] * 5 + [FAILED] * 6
    assert percentile(lat, 50) == math.inf


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 0),
        Span(1, "a", 1.0, 3.0, 0, 0),
        Span(2, "b", 2.0, 5.0, 0, 0),   # overlaps a: [1, 5] counts once
        Span(3, "c", 7.0, 8.0, 0, 0),
        Span(4, "d", 9.0, 12.0, 0, 0),  # only [9, 10] lies inside op
        Span(5, "e", 2.5, 2.75, 2, 0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 1 - 1)
    assert st[2] == pytest.approx(3 - 0.25)
    assert st[3] == pytest.approx(1.0)


SMOKE = """
import json, sys
sys.path.insert(0, {root!r})
from perfbench import gen, run, workloads
workloads.WARM_REFRESHES = 1
gen.N_EVENTS = 2_000
gen.KEY_SPACE = 300
gen.ENVELOPES_PER_FILE = 10
gen.WARM_FILES = gen.BACKLOG_FILES = 4
out = run.run({workload!r}, 11, 2, True)
print(json.dumps(out["result"]))
"""


@pytest.mark.parametrize("workload", ["cdc_upsert", "click_queries"])
def test_tiny_run_is_correct_and_reports_every_metric(workload, tmp_path):
    code = SMOKE.format(root=ROOT, workload=workload)
    out = subprocess.run([sys.executable, "-c", code], cwd=tmp_path,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in spec["per_layer"]}
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["spark.python.total_s"] == 0
    assert m["spark.stages"] > 0
    upsert = m["operators.upsert.state_rows"]
    assert (upsert == 300) if workload == "cdc_upsert" else (upsert == 0)
    assert not os.listdir(tmp_path / ".perfbench") or all(
        n.startswith("trace-") for n in os.listdir(tmp_path / ".perfbench"))
