"""Checks of the benchmark's own parts: the seeded generators, the DuckDB
oracles it compares outputs with, and the size of its result line. They
start no Spark session.

    python3 -m pytest perfbench -q
"""

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402
from beats_spark import queries as Q  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_generators_are_pure_functions_of_the_seed():
    assert gen.events_table(3, 2000, 50).equals(gen.events_table(3, 2000, 50))
    assert not gen.events_table(3, 2000, 50).equals(gen.events_table(4, 2000, 50))
    assert gen.documents_table(3, 40).equals(gen.documents_table(3, 40))
    assert not gen.documents_table(3, 40).equals(gen.documents_table(4, 40))


def test_events_table_properties():
    n = 24_000
    t = gen.events_table(1, n, 240).to_pydict()
    assert sorted(t["event_id"]) == list(range(n))  # unique ids
    assert set(t["event_type"]) == set(gen.EVENT_TYPES)
    sizes = np.sort(np.bincount(t["user_id"]))[::-1]
    # heavy tail: the largest conversations hold several percent of all
    # turns each, far above the typical one
    assert sizes[0] / n > 0.05 and sizes[2] / n > 0.02
    assert sizes[0] > 20 * np.median(sizes)


def test_documents_plant_near_duplicate_clusters():
    t = gen.documents_table(5, 200).to_pydict()
    assert sorted(t["doc_id"]) == list(range(200))
    assert len(set(t["text"])) == 200


def test_oracles_run_on_generated_inputs(tmp_path):
    """At a tiny size, every oracle a workload is checked with runs on the
    generated tables and gives the answer the generator planted."""
    n_docs, n_events = 60, 400
    gen.write_table(gen.documents_table(2, n_docs),
                    str(tmp_path / "documents.parquet"))
    gen.write_table(gen.events_table(2, n_events, 20),
                    str(tmp_path / "events.parquet"))
    o = W.Oracle(str(tmp_path), ["documents", "events"], 1)
    try:
        survivors = o.rows(W._materialized(Q.ORACLES["minhash_dedup_cc"]))
        aggs = o.rows(Q.ORACLES["sink_aggregates"])
        modules = {q: o.rows(Q.ORACLES[q]) for q in W.MODULE_QUERIES.values()}
    finally:
        o.close()
    # each planted cluster (a head and two mutated copies) keeps one doc
    n_clusters = round(n_docs * 0.2 / 2)
    assert len(survivors) == n_docs - 2 * n_clusters
    assert sum(a["turn_count"] for a in aggs) == n_events
    # event_id % 20 == 7 renders as a corrupt turn: 5% go to deadletter
    dead = sum(a["turn_count"] for a in aggs if a["_sink"] == "deadletter")
    assert dead == n_events // 20
    assert all(modules.values())


def test_stream_files_are_in_time_order(tmp_path):
    events = gen.events_table(7, 1000, 30)
    names = gen.stream_files(events, str(tmp_path), 200, 1)
    assert names == sorted(names) and len(names) == 5
    ts = [t for name in names
          for t in pq.read_table(str(tmp_path / name))["ts"].to_pylist()]
    assert ts == sorted(ts)


def test_result_line_is_compact():
    """The untraced result line stays under 1 KiB even with every value at
    full precision; the traced one carries every per-layer metric."""
    spec = _spec()
    long = {m["name"]: 123456.78901234567
            for m in spec["end_to_end"] + spec["per_layer"]}
    for trace, limit in ((0, 1024), (1, 8192)):
        line = json.dumps(run.summary(spec, long, trace, 10**6, 10**6),
                          separators=(",", ":"))
        assert len(line) < limit
        metrics = json.loads(line)["metrics"]
        wanted = spec["per_layer"] if trace else spec["end_to_end"]
        assert list(metrics) == [m["name"] for m in wanted]


def test_report_names_every_metric_with_its_unit():
    spec = _spec()
    line = run.report({"setup_s": 41.25, "backlog_end_files": 3})
    pairs = dict(item.split("=") for item in line.split(" ") if "=" in item)
    assert list(pairs) == [n for n, _ in run.REPORTED]
    assert pairs["setup_s"] == "41.25" and pairs["rows_per_s"] == "0"
    assert "backlog_end_files=3 files" in line
    # the gated metrics are among the reported ones
    assert {m["name"] for m in spec["end_to_end"]} <= set(pairs)
