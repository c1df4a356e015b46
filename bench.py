"""Benchmark runner.

Default mode: runs the headline end-to-end pipeline (parse → enrich → route →
fan-out write → aggregate) plus every registry query at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data) on local[$SPARK_GRAFT_CPUS] and prints two
JSON lines (see `records`): the per-query timings, then the headline record
    {"metric": ..., "value": <headline sec>, "unit": "sec", "loadavg": ...,
     "sf": ..., "turns_per_sec": ..., "n_queries": ..., "queries_sec": ...}
which is always the last line and stays under 1 KB.

Scaling mode (`python bench.py --scaling`): re-executes the headline pipeline
in two fresh subprocesses at local[8] and local[32] over the SAME input and
reports throughput at both plus scaling efficiency — the sandbox stand-in for
the north rule's N vs 4N executor criterion (no real cluster available; see
BASELINE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time


def _sf(sf_dir: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.0


def _loadavg() -> float:
    """1-minute load average, or -1.0 where /proc/loadavg is unreadable."""
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return -1.0


def _cpu_stat() -> dict:
    """Aggregate jiffies from /proc/stat's cpu line (user nice system idle
    iowait irq softirq steal ...)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:9]]
        return {"total": sum(vals), "idle": vals[3], "iowait": vals[4],
                "steal": vals[7]}
    except (OSError, ValueError, IndexError):
        return {}


def _cpu_delta_pct(before: dict, after: dict) -> dict:
    """steal/iowait as % of elapsed jiffies between two _cpu_stat reads —
    the co-tenant signal the 1-min loadavg CANNOT see (r5 second session
    measured 2.5x headline swings with loadavg probes reading 0.3; CPU
    steal from the hypervisor neighbor is invisible to load average)."""
    if not before or not after or after.get("total", 0) <= before.get("total", 0):
        return {}
    dt = after["total"] - before["total"]
    return {
        "steal_pct": round(100.0 * (after["steal"] - before["steal"]) / dt, 2),
        "iowait_pct": round(100.0 * (after["iowait"] - before["iowait"]) / dt, 2),
    }


def _wait_for_quiet() -> dict:
    """Probe the 1-min loadavg BEFORE any Spark work starts and, when the
    box looks contended (co-tenant load — r4's driver sweep landed in a
    load-average-20 window and recorded a 5x-low headline), sleep and
    re-probe a bounded number of times. Always proceeds after the last
    attempt; the returned probe history goes into the bench JSON so a
    contended record is self-adjudicating (VERDICT r4 task 1).

    Tunables (env): SPARK_GRAFT_LOAD_THRESHOLD (default 8 — on a 32-core
    box, ~25% of the budget stolen), SPARK_GRAFT_LOAD_ATTEMPTS (default 3),
    SPARK_GRAFT_LOAD_WAIT seconds between probes (default 60).
    """
    threshold = float(os.environ.get("SPARK_GRAFT_LOAD_THRESHOLD", "8"))
    attempts = int(os.environ.get("SPARK_GRAFT_LOAD_ATTEMPTS", "3"))
    wait_s = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "60"))
    probes = [_loadavg()]
    while probes[-1] > threshold and len(probes) < attempts:
        time.sleep(wait_s)
        probes.append(_loadavg())
    return {
        "probes_before": probes,
        "threshold": threshold,
        "contended": probes[-1] > threshold,
    }


def run_headline(spark, sf_dir: str, replicate: int = 1) -> tuple[float, int]:
    """End-to-end single-pass job: scan → parse → enrich → route → per-sink
    fan-out write, then per-sink aggregates + conv rollups computed FROM the
    written sinks (the pipeline executes once; downstream aggregation reads
    the much smaller columnar sink output — the shape a 100 TB run uses).
    Returns (seconds, turns)."""
    from beats_spark.pipeline import combined_aggregates, full_pipeline
    from beats_spark.routing import fan_out

    out_dir = tempfile.mkdtemp(prefix="bench_sinks_")
    try:
        t0 = time.time()
        routed = full_pipeline(spark, sf_dir, replicate=replicate)
        fan_out(routed, out_dir)
        written = spark.read.parquet(out_dir)
        sink_aggs, rollups = combined_aggregates(written)
        aggs = sink_aggs.collect()
        rolls = rollups.count()
        elapsed = time.time() - t0
        turns = sum(r.turn_count for r in aggs)
        assert rolls > 0
        return elapsed, turns
    finally:
        spark.catalog.clearCache()  # drop the mid-grain persist between runs
        shutil.rmtree(out_dir, ignore_errors=True)


def run_queries(spark, sf_dir: str) -> dict[str, float]:
    from beats_spark import queries as Q

    timings: dict[str, float] = {}
    for name, fn in Q.queries().items():
        t0 = time.time()
        # noop write: full distributed compute, no driver collect
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)
    return timings


def records(load: dict, elapsed: float, turns: int, qtimes: dict[str, float],
            sf_dir: str) -> list[str]:
    """The JSON lines of a default run. Per-query timings come first, on
    their own line (none with --headline-only); the last line holds the
    headline, host quality and throughput only, so its size does not grow
    with the registry and a reader of the output's tail can always parse
    it."""
    headline = {
        "loadavg": load,
        "metric": "end-to-end pipeline (parse→enrich→route→fanout→aggregate) wall sec",
        "value": round(elapsed, 3),
        "unit": "sec",
        "sf": _sf(sf_dir),
        "turns": turns,
        "turns_per_sec": round(turns / elapsed, 1),
        "cores": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "n_queries": len(qtimes),
        "queries_sec": round(sum(qtimes.values()), 3),
    }
    lines = [json.dumps({"queries": qtimes})] if qtimes else []
    return lines + [json.dumps(headline)]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    if "--scaling" in sys.argv:
        # N vs 4N cores over the SAME (replicated, compute-dominated) input —
        # the sandbox evidence for the north rule's two-cluster-size gate.
        # Each run is taskset-pinned to exactly N cores so the JVM task
        # threads AND the pandas-UDF python workers share the same N-core
        # budget — the honest emulation of an N-core executor allotment
        # (without pinning, python workers silently use extra host cores and
        # the small "cluster" outperforms its nominal size).
        replicate = int(os.environ.get("SPARK_GRAFT_REPLICATE", "300"))
        pair = os.environ.get("SPARK_GRAFT_SCALING_CORES", "4,16")
        # reps > 1 alternates lo,hi,lo,hi,... so BOTH legs sample the same
        # host-noise windows (single-pair runs measured one leg fast and the
        # other slow — 122k vs 167k turns/s on the identical 4-core leg an
        # hour apart). Per-pair efficiencies are reported alongside a pooled
        # figure built from each leg's best rep: host contention only ever
        # subtracts throughput, so per-leg max is the least-noisy estimate of
        # what the pinned core budget can actually sustain.
        reps = int(os.environ.get("SPARK_GRAFT_SCALING_REPS", "1"))
        lo, hi = (int(c) for c in pair.split(","))
        # co-tenant check ONCE here; legs get attempts=1 (annotate, never
        # sleep) because a leg's 1-min loadavg includes decaying residue
        # from the PREVIOUS leg's own burn — self-load, not contention
        start_load = _wait_for_quiet()

        def one_leg(cores: int) -> dict:
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
                       SPARK_GRAFT_REPLICATE=str(replicate),
                       SPARK_GRAFT_LOAD_ATTEMPTS="1")
            # sink writes go to RAM-backed storage for BOTH legs: the box
            # has ONE shared disk whose variable bandwidth throttles the
            # faster leg (measured 45-124s swings at 16 cores); a real
            # cluster's disks scale with executor count, so pinning IO out
            # isolates the CPU-scaling signal the gate is about
            if os.path.isdir("/dev/shm"):
                env["TMPDIR"] = "/dev/shm"
            pin = (
                ["taskset", "-c", f"0-{cores - 1}"]
                if shutil.which("taskset")
                else []
            )
            # one retry: a leg is a whole fresh-JVM Spark run, and a
            # transient host event (OOM-killed co-tenant burst, JVM fork
            # failure) aborts it with exit 1; without surfacing the child's
            # stderr the outer CalledProcessError is undiagnosable (r5
            # scaling run 4 died exactly this way, log showed only the
            # outer traceback)
            last_err = ""
            for attempt in range(2):
                out = subprocess.run(
                    pin + [sys.executable, __file__, "--headline-only"],
                    env=env, capture_output=True, text=True,
                )
                if out.returncode == 0:
                    return json.loads(out.stdout.strip().splitlines()[-1])
                last_err = out.stderr[-4000:]
                print(f"scaling leg local[{cores}] attempt {attempt + 1} "
                      f"failed (exit {out.returncode}); stderr tail:\n"
                      f"{last_err}", file=sys.stderr)
            raise RuntimeError(
                f"scaling leg local[{cores}] failed twice; last stderr "
                f"tail: {last_err}")

        pairs = []
        for _ in range(reps):
            rlo, rhi = one_leg(lo), one_leg(hi)
            tlo, thi = rlo["turns_per_sec"], rhi["turns_per_sec"]
            pairs.append({
                f"local{lo}": rlo, f"local{hi}": rhi,
                "speedup": round(thi / tlo, 3),
                "scaling_efficiency": round((thi / tlo) / (hi / lo), 3),
            })
        best_lo = max(p[f"local{lo}"]["turns_per_sec"] for p in pairs)
        best_hi = max(p[f"local{hi}"]["turns_per_sec"] for p in pairs)
        out: dict = {"sf_dir": sf_dir, "replicate": replicate,
                     "loadavg": start_load}
        if reps == 1:
            out.update(pairs[0])
        else:
            out.update({
                "pairs": pairs,
                "pooled_best_lo_turns_per_sec": best_lo,
                "pooled_best_hi_turns_per_sec": best_hi,
                "pooled_scaling_efficiency": round(
                    (best_hi / best_lo) / (hi / lo), 3),
            })
        print(json.dumps(out))
        return

    load = _wait_for_quiet()

    from beats_spark.session import get_spark

    spark = get_spark(app_name="bench")
    # headline default ×20: 100k rows finish in ~3s of mostly fixed overhead
    # on 32 cores; 2M turns make the measured number the engine's actual
    # throughput (see BASELINE.md for the 20M-turn scaling runs)
    replicate = int(os.environ.get("SPARK_GRAFT_REPLICATE", "20"))
    # warmup: once small (codegen/Arrow/python-worker spawn), once at target
    # scale (JVM C2 JIT of the hot loops) — we measure steady-state
    # throughput, not first-query compile cost
    run_headline(spark, "/root/testdata/sf0.001")
    run_headline(spark, sf_dir, replicate=replicate)
    # min over several reps: host noise only ever SUBTRACTS throughput
    # (r4/r5 measured 2.5x swings minutes apart on identical code), so the
    # fastest rep is the least-noisy estimate of engine throughput
    heads = int(os.environ.get("SPARK_GRAFT_HEADLINE_REPS", "3"))
    cpu_before = _cpu_stat()
    elapsed, turns = run_headline(spark, sf_dir, replicate=replicate)
    for _ in range(max(0, heads - 1)):
        e2, _ = run_headline(spark, sf_dir, replicate=replicate)
        elapsed = min(elapsed, e2)
    # steal/iowait over the headline reps: a high steal_pct marks the
    # record as a degraded-host window even when loadavg reads clean
    load["headline_cpu"] = _cpu_delta_pct(cpu_before, _cpu_stat())
    headline_only = "--headline-only" in sys.argv
    qtimes = {} if headline_only else run_queries(spark, sf_dir)
    # loadavg after the run counts our OWN task threads (a full 32-core run
    # reads ~32); only probes_before measures co-tenant contention
    load["after_own_run"] = _loadavg()
    print("\n".join(records(load, elapsed, turns, qtimes, sf_dir)))


if __name__ == "__main__":
    main()
