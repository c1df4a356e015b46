"""Checkpoint manifest + resume — the registrar/ack model, Spark-shaped.

Beats persists per-file offsets through the registrar after outputs ACK a
batch (reference: /root/reference/filebeat/registrar/registrar.go:33-64,
ack flow /root/reference/libbeat/publisher/pipeline/ttl_batch.go:95-99) for
at-least-once delivery. The Spark equivalent in this engine:

- each sink write is atomic at the directory level (parquet _SUCCESS; with
  Iceberg this is a snapshot commit — effectively exactly-once per sink);
- after a sink commits, we record a manifest entry {sink, rows, job_id};
- a resumed run consults the manifest and processes ONLY sinks that have no
  committed entry — no loss, no duplication at sink granularity, which is
  strictly stronger than the reference's at-least-once (duplicates possible
  after crash, registrar.go comment).

The manifest is a plain JSON file next to the output: on a cluster this
lives on the shared store (S3/HDFS) and is written by the driver only after
the sink's write action returned — the same "ack then persist offset"
ordering as the registrar.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beats_spark.routing import SINK_COL, fan_out

MANIFEST = "_beats_manifest.json"


def _manifest_path(base: str) -> str:
    return os.path.join(base, MANIFEST)


def read_manifest(base: str) -> dict[str, Any]:
    p = _manifest_path(base)
    if not os.path.exists(p):
        return {"job_id": None, "sinks": {}}
    with open(p) as f:
        return json.load(f)


def _write_manifest(base: str, manifest: dict) -> None:
    # atomic replace: write-temp + rename, same guarantee the registrar's
    # statestore flush provides
    os.makedirs(base, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=base, suffix=".manifest.tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, _manifest_path(base))


def checkpointed_fan_out(
    routed: DataFrame,
    base: str,
    job_id: str,
    fail_after: int | None = None,
) -> dict[str, Any]:
    """Write each sink as its own committed dataset, updating the manifest
    after every sink commit; on re-run, sinks already committed for this
    job_id are skipped (resume).

    `fail_after` (tests only): simulate a crash after N sink commits.

    Scale shape (single-pass): sinks not yet committed are written in ONE
    partitionBy job into a staging directory by routing.fan_out, the batch
    writer (its `_meta_*` drop included), so the upstream
    parse→enrich→route DAG executes exactly once and nothing is
    persisted/cached — then each staged sink directory is COMMITTED
    individually: an atomic directory rename into `base` (metadata-only;
    FileSystem.rename on HDFS/S3A) followed by a manifest entry. A crash between commits loses no data: committed sinks
    are skipped on resume (the pending filter keeps them out of the next
    staging write), uncommitted ones are re-staged. Per-sink row counts
    come from the freshly committed files (parquet footer metadata), never
    from re-running lineage. With Iceberg the rename+manifest pair becomes
    a per-sink snapshot commit (see BASELINE.md — runtime jar absent in
    this container).
    """
    import shutil

    spark = routed.sparkSession
    manifest = read_manifest(base)
    if manifest.get("job_id") != job_id:
        # a new job invalidates every previous commit: remove sink dirs the
        # old manifest committed, else a run routing to fewer/different
        # sinks leaves stale `_sink=*` data that spark.read.parquet(base)
        # would silently union in. (Local FS here; on S3/HDFS this is the
        # same recursive-delete call via the Hadoop FileSystem API.)
        if os.path.isdir(base):
            for d in os.listdir(base):
                if d.startswith(f"{SINK_COL}="):
                    shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        manifest = {"job_id": job_id, "sinks": {}, "started_at": time.time()}
        _write_manifest(base, manifest)

    committed = sorted(manifest["sinks"])
    pending = (
        routed.filter(~F.col(SINK_COL).isin(committed)) if committed else routed
    )

    staging = os.path.join(base, f"_staging_{job_id}")
    shutil.rmtree(staging, ignore_errors=True)  # stale staging from a crash
    # THE single write job: partitionBy splits one writer per sink value
    fan_out(pending, staging)

    from urllib.parse import unquote

    prefix = f"{SINK_COL}="
    staged = sorted(
        (unquote(d[len(prefix):]), d)
        for d in os.listdir(staging)
        if d.startswith(prefix)
    )
    done = 0
    for sink, dirname in staged:
        dst = os.path.join(base, dirname)
        shutil.rmtree(dst, ignore_errors=True)  # partial from a crash
        os.replace(os.path.join(staging, dirname), dst)
        rows = spark.read.format("parquet").load(dst).count()
        manifest["sinks"][sink] = {"rows": rows, "committed_at": time.time()}
        _write_manifest(base, manifest)
        done += 1
        if fail_after is not None and done >= fail_after:
            # staging intentionally left behind, as a real crash would —
            # the resume path re-stages pending sinks after deleting it
            raise RuntimeError(f"simulated crash after {done} sink commits")
    shutil.rmtree(staging, ignore_errors=True)
    return manifest


def verify_manifest(spark, base: str) -> dict[str, bool]:
    """Re-count each committed sink directory against the manifest — the
    'registrar metrics' check (states current == persisted)."""
    manifest = read_manifest(base)
    out = {}
    for sink, entry in manifest["sinks"].items():
        n = spark.read.parquet(os.path.join(base, f"{SINK_COL}={sink}")).count()
        out[sink] = n == entry["rows"]
    return out
