"""tools/ab_bench.py's CPU reader: the gateway JVM's CPU and that of its
C1/C2 JIT compiler threads, read from /proc."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.ab_bench import CPU_KEYS, JvmCpu, _stat_fields  # noqa: E402


def test_stat_fields_comm_with_spaces_and_parens(tmp_path):
    p = tmp_path / "stat"
    p.write_text("42 (C2 Comp) x) S 1 " + " ".join(map(str, range(20))) + "\n")
    comm, f = _stat_fields(str(p))
    assert comm == "C2 Comp) x"
    assert f[0] == "S" and f[1] == "1"


def test_jvm_cpu_sees_the_compiler_threads(spark):
    from pyspark import SparkContext

    cpu = JvmCpu(SparkContext._gateway.proc.pid, period=0.05)
    try:
        before = cpu.read()
        spark.range(0, 200_000, numPartitions=4).selectExpr(
            "sum(id * 7 % 13)").collect()
        after = cpu.read()
    finally:
        cpu.stop()
    assert set(before) == set(CPU_KEYS)
    assert after["jvm_cpu_s"] > before["jvm_cpu_s"]
    # cumulative over live compiler threads: a warm session has used both
    assert after["c1_cpu_s"] > 0 and after["c2_cpu_s"] > 0
    assert all(after[k] >= before[k] for k in CPU_KEYS)
