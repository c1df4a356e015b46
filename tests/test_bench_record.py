"""bench.py's output contract: the last stdout line is the headline record,
it parses, and it stays under 1 KB however many queries the registry has."""

from __future__ import annotations

import json

import bench


def test_headline_record_stays_small_with_a_full_registry():
    qtimes = {f"registry_query_with_a_long_name_{i:03d}": 123.456 + i
              for i in range(115)}
    load = {
        "probes_before": [31.97, 30.12, 29.88],
        "threshold": 8.0,
        "contended": True,
        "headline_cpu": {"steal_pct": 14.25, "iowait_pct": 3.5},
        "after_own_run": 32.01,
    }
    *earlier, last = bench.records(load, 10.458, 2_000_000, qtimes,
                                   "testdata/sf0.1")
    assert len(last.encode()) < 1024
    head = json.loads(last)
    assert head["value"] == 10.458 and head["turns_per_sec"] == 191241.2
    assert head["loadavg"]["headline_cpu"]["steal_pct"] == 14.25
    assert head["n_queries"] == 115
    assert "queries" not in head
    assert json.loads(earlier[0])["queries"] == qtimes


def test_headline_only_record_is_one_line():
    lines = bench.records({"probes_before": [0.5]}, 2.0, 100, {}, "sf0.001")
    assert len(lines) == 1
    assert json.loads(lines[0])["n_queries"] == 0
