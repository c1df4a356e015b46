"""Equal-hardware A/B of registry queries across two code revisions.

The round-2 verdict's open item: raw per-round bench deltas are confounded
by sandbox-VM drift, so any perf claim needs both code versions timed on
ONE machine, interleaved. This tool checks out each revision into a git
worktree under .ab/ and runs the SAME ordered query list in alternating
fresh-JVM subprocesses (A, B, A, B, ...), so slow-VM windows hit both sides
equally in expectation.

Usage:
    python tools/ab_bench.py --rev old=<sha> --rev new=WORKTREE \
        --queries q1,q2 [--iters 2] [--sf-dir /root/testdata/sf0.1]

`WORKTREE` means the current working tree (uncommitted code included); an
existing directory is used as the checkout as it is.
Prints one JSON line: {query: {label: [sec, ...]}}, plus, under the keys
`jvm_cpu_s`, `c1_cpu_s` and `c2_cpu_s`, the same shape for the user+system
CPU each query cost the gateway JVM and its C1/C2 JIT compiler threads, so
the JIT share of an A/B shows beside its wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.dirname(os.path.abspath(__file__))
CPU_KEYS = ("jvm_cpu_s", "c1_cpu_s", "c2_cpu_s")

_WORKER = r"""
import json, os, sys, time
path, sf_dir, names = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
sys.path.insert(0, path)
sys.path.append(sys.argv[4])
os.chdir(path)
from pyspark import SparkContext
from ab_bench import JvmCpu
from beats_spark.session import get_spark
from beats_spark import queries as Q
spark = get_spark()
cpu = JvmCpu(SparkContext._gateway.proc.pid)
# warm-up: JVM, parquet footers, Arrow init — outside every timing window
spark.read.parquet(f"{sf_dir}/events.parquet").count()
out = {}
for name in names:
    fn = Q.queries()[name]
    before, t0 = cpu.read(), time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall, after = time.time() - t0, cpu.read()
    out[name] = {"sec": round(wall, 3),
                 **{k: round(after[k] - before[k], 3) for k in before}}
    spark.catalog.clearCache()
cpu.stop()
print("ABRESULT " + json.dumps(out))
"""


def _stat_fields(path: str) -> tuple[str, list[str]]:
    """(comm, fields after comm) of a /proc stat file; comm may hold
    spaces, so split at the last parenthesis."""
    with open(path) as f:
        head, rest = f.read().rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


class JvmCpu:
    """User+system CPU seconds of a JVM and of its C1/C2 compiler threads.

    The JVM's total comes from /proc/<pid>/stat, which keeps the time of
    exited threads. Compiler threads come and go (the JVM retires idle
    ones), so a background thread samples /proc/<pid>/task/*/stat every
    `period` seconds and keeps each compiler thread's last reading."""

    _KINDS = {"C1 CompilerThre": "c1_cpu_s", "C2 CompilerThre": "c2_cpu_s"}

    def __init__(self, pid: int, period: float = 0.1):
        self.pid, self._tick = pid, os.sysconf("SC_CLK_TCK")
        self._last: dict[str, tuple[str, int]] = {}  # tid -> (key, ticks)
        self._lock, self._done = threading.Lock(), threading.Event()
        self._sample()
        self._thread = threading.Thread(target=self._run, args=(period,),
                                        daemon=True)
        self._thread.start()

    def _run(self, period: float) -> None:
        while not self._done.wait(period):
            self._sample()

    def _sample(self) -> None:
        task_dir = f"/proc/{self.pid}/task"
        try:
            tids = os.listdir(task_dir)
        except OSError:
            return
        for tid in tids:
            try:
                comm, f = _stat_fields(f"{task_dir}/{tid}/stat")
            except OSError:
                continue  # the thread exited between listdir and open
            key = self._KINDS.get(comm)
            if key:
                with self._lock:
                    self._last[tid] = (key, int(f[11]) + int(f[12]))

    def read(self) -> dict[str, float]:
        """Cumulative CPU seconds: {"jvm_cpu_s", "c1_cpu_s", "c2_cpu_s"}."""
        self._sample()
        _, f = _stat_fields(f"/proc/{self.pid}/stat")
        ticks = dict.fromkeys(CPU_KEYS, 0)
        ticks["jvm_cpu_s"] = int(f[11]) + int(f[12])
        with self._lock:
            for key, t in self._last.values():
                ticks[key] += t
        return {k: t / self._tick for k, t in ticks.items()}

    def stop(self) -> None:
        self._done.set()
        self._thread.join()


def run_side(path: str, sf_dir: str, names: list[str]) -> dict[str, dict]:
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER, path, sf_dir, ",".join(names), TOOLS],
        capture_output=True, text=True, timeout=3600,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(
        f"worker failed for {path}: {proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
    )


def materialize(label: str, rev: str) -> str:
    if rev == "WORKTREE":
        return ROOT
    if os.path.isdir(rev):
        return os.path.abspath(rev)
    wt = os.path.join(ROOT, ".ab", label)
    if not os.path.isdir(wt):
        os.makedirs(os.path.dirname(wt), exist_ok=True)
        subprocess.run(["git", "worktree", "add", "--detach", wt, rev],
                       cwd=ROOT, check=True, capture_output=True)
    return wt


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rev", action="append", required=True,
                    help="label=<sha|WORKTREE|directory>")
    ap.add_argument("--queries", required=True)
    ap.add_argument("--iters", type=int, default=2)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    sides = []
    for spec in args.rev:
        label, rev = spec.split("=", 1)
        sides.append((label, materialize(label, rev)))
    names = args.queries.split(",")

    def empty() -> dict[str, dict[str, list[float]]]:
        return {n: {label: [] for label, _ in sides} for n in names}

    results = empty()
    cpu = {k: empty() for k in CPU_KEYS}
    for it in range(args.iters):
        for label, path in sides:
            for n, m in run_side(path, args.sf_dir, names).items():
                results[n][label].append(m["sec"])
                for k in CPU_KEYS:
                    cpu[k][n][label].append(m[k])
            print(f"# iter {it} {label}: " + " ".join(
                f"{n}={results[n][label][-1]}s"
                f"(jvm {cpu['jvm_cpu_s'][n][label][-1]}"
                f" c2 {cpu['c2_cpu_s'][n][label][-1]})" for n in names),
                file=sys.stderr)
    print(json.dumps({**results, **cpu}))


if __name__ == "__main__":
    main()
