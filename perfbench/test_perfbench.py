"""Self-test of the serving benchmark.

    python -m pytest perfbench/test_perfbench.py

The two end-to-end tests start the Spark server (about 40 s each); the
rest run in well under a second.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run as bench  # noqa: E402
import spans  # noqa: E402
import traffic  # noqa: E402


def _run(cwd, *args, timeout=180):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize(
    "workload,trace,expected",
    [("iq_point", "0", bench.END_TO_END), ("iq_scan", "1", bench.PER_LAYER)],
)
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace, expected):
    out = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "4",
               "--trace", trace, "--size", "tiny")
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, out.stdout[-2000:]
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _run(tmp_path, "--workload", "iq_point", "--seed", "1", "--seconds", "1", "--trace", "0",
               timeout=60)
    assert out.returncode != 0
    assert out.stdout == ""


@pytest.fixture
def live_store(tmp_path):
    return inputs.make_live_store(str(tmp_path), np.random.default_rng(7), inputs.TINY, n_ingest=6)


def _rows(store, keys, prefix):
    return [
        {"symbol": k, "buys": v[0], "sells": v[1], "number_shares": v[2]}
        for k in keys
        for v in [store.value_at(k, prefix)]
    ]


def test_point_oracle_accepts_committed_prefixes_and_rejects_perturbed(live_store):
    published = [3]
    reader = traffic.PointReader(live_store, lambda: published[0])
    keys = live_store.keys[:4]
    assert reader.check(keys, _rows(live_store, keys, 2)) == ""
    assert reader.check(keys, _rows(live_store, keys, 3)) == ""

    bad = _rows(live_store, keys, 3)
    bad[1]["buys"] += 0.01
    assert "no committed value" in reader.check(keys, bad)
    bad = _rows(live_store, keys, 3)
    bad[0]["number_shares"] += 1
    assert reader.check(keys, bad) != ""
    assert reader.check(keys, _rows(live_store, keys, 3)[:-1]) != ""  # a key missing
    # a file that was never published cannot be visible
    probe = [live_store.probe]
    assert "newer than" in reader.check(probe, _rows(live_store, probe, 5))
    # per-reader monotonicity: after prefix 3, prefix 0 of the probe is a rollback
    assert "moved back" in reader.check(probe, _rows(live_store, probe, 0))


def test_point_oracle_rejects_a_torn_snapshot(live_store):
    reader = traffic.PointReader(live_store, lambda: 6)
    probe = live_store.probe
    # the probe changes with every file, so two of its prefixes never mix
    # with a key that changed in between; find such a key
    for k in live_store.keys[:-1]:
        if live_store.value_at(k, 1) != live_store.value_at(k, 6):
            rows = _rows(live_store, [probe], 1) + _rows(live_store, [k], 6)
            assert "torn" in reader.check([probe, k], rows)
            return
    pytest.skip("no key changed between the two prefixes")


def test_scan_oracle_rejects_perturbed_value(tmp_path):
    table = inputs.make_scan_table(str(tmp_path), np.random.default_rng(3), inputs.TINY)
    reader = traffic.ScanReader(table, 10, 5, 3)
    rows = [{"symbol": s, "buys": v[0], "sells": v[1], "number_shares": v[2]}
            for s in table.symbols[:10] for v in [table.expected[s]]]
    assert reader._values_match(rows) == ""
    rows[4] = dict(rows[4], sells=rows[4]["sells"] * 1.001 + 0.01)
    assert reader._values_match(rows) != ""


def test_span_self_times_are_non_negative_and_exclude_children():
    tracer = spans.Tracer()
    tracer.enabled = True

    def request(rid):
        with tracer.span("rest.handler", rid=rid):
            time.sleep(0.002)
            with tracer.span("service"):
                with tracer.span("sink.read"):
                    time.sleep(0.003)
                with tracer.span("spark.collect"):
                    time.sleep(0.001)

    threads = [threading.Thread(target=request, args=(f"R{i}",)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    selfs = spans.self_times(tracer.spans)
    assert len(selfs) == 24 and all(v >= 0 for v in selfs.values())
    by_id = {s["id"]: s for s in tracer.spans}
    for sid, v in selfs.items():
        s = by_id[sid]
        assert v <= s["end"] - s["start"] + 1e-9
        if s["name"] == "sink.read":
            assert v >= 0.003
    # every child shares its root's request id
    roots = {s["id"]: s["rid"] for s in tracer.spans if s["parent"] is None}
    assert len(roots) == 6
    table = spans.layer_table(tracer.spans)
    assert table[0]["layer"] == "sink.read"
    assert abs(sum(r["share"] for r in table) - 1.0) < 1e-9


def test_untraced_requests_record_no_spans():
    tracer = spans.Tracer()
    with tracer.span("rest.handler", rid="x"):
        with tracer.span("service"):
            pass
    assert tracer.spans == []
