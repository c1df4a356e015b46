"""get_spark's driver JVM: the tier-4 JIT flags reach the JVM, also when a
caller passes its own spark.driver.extraJavaOptions, and the shipped
package zip is gone once the driver process exits."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

from beats_spark.session import DRIVER_JAVA_OPTIONS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FLAGS = DRIVER_JAVA_OPTIONS.split()

_CHILD = r"""
import glob, json, os, sys, tempfile
sys.path.insert(0, sys.argv[1])
from beats_spark.session import get_spark
spark = get_spark(master="local[1]", extra_conf={
    "spark.driver.extraJavaOptions": "-Dbeats.probe=1"})
jvm = spark._jvm
print(json.dumps({
    "args": list(jvm.java.lang.management.ManagementFactory
                 .getRuntimeMXBean().getInputArguments()),
    "probe": jvm.java.lang.System.getProperty("beats.probe"),
    "zips": glob.glob(os.path.join(tempfile.gettempdir(), "*_beats_spark.zip")),
}))
"""


def test_tier4_flags_reach_the_driver_jvm(spark):
    bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    assert set(FLAGS) <= set(bean.getInputArguments())
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.defaultJavaOptions") == DRIVER_JAVA_OPTIONS


@pytest.fixture(scope="module")
def child(tmp_path_factory):
    """A fresh driver process in the perfbench shape, with its own TMPDIR
    so its package zip can be found; returns (its report, TMPDIR)."""
    tmp = str(tmp_path_factory.mktemp("driver_tmp"))
    env = dict(os.environ, TMPDIR=tmp, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run([sys.executable, "-c", _CHILD, ROOT],
                          capture_output=True, text=True, timeout=300, env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), tmp


def test_caller_extra_java_options_keep_the_tier4_flags(child):
    report, _ = child
    assert report["probe"] == "1"
    assert "-Dbeats.probe=1" in report["args"]
    assert set(FLAGS) <= set(report["args"])


def test_package_zip_removed_at_exit(child):
    report, tmp = child
    assert len(report["zips"]) == 1   # shipped while the session ran
    assert not os.path.exists(report["zips"][0])
    assert glob.glob(os.path.join(tmp, "*_beats_spark.zip")) == []


def test_spark_submit_docs_quote_the_flags():
    """Under spark-submit the driver JVM starts before get_spark, so the
    job docstring and the README pass the same flags with --conf."""
    conf = f'spark.driver.defaultJavaOptions="{DRIVER_JAVA_OPTIONS}"'
    for doc in ("jobs/run_pipeline.py", "README.md"):
        with open(os.path.join(ROOT, doc)) as f:
            assert conf in f.read(), doc
