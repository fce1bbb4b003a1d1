"""Automated vanilla-session contract drive (the external driver's
exact shape): a SUBPROCESS with cwd=/tmp and a bare sys.path drives the
pickling-sensitive queries — executor-shipped closures (UDFs, pandas
UDFs, DataSource classes, mapInPandas bodies) that reference module
state serialize by reference under cloudpickle and explode with
ModuleNotFoundError only under this shape, never under repo-cwd pytest
(5 queries did exactly that in round 1). This test makes the trap a CI
failure instead of a driver-day surprise."""

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the executor-shipping surface: every family that pickles Python code
# to workers, plus one streaming query (foreachBatch closure)
_DRIVE = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[4]").getOrCreate()
import __spark_entry__ as E

import pytest
# Slow tier (pytest.ini): /tmp vanilla-session contract drive (the verify recipe runs this by hand).
pytestmark = pytest.mark.slow

qs = E.queries()
for name in [
    "f01_udf_python", "f02_pandas_udf_scalar", "f03_pandas_udf_grouped_agg",
    "f04_apply_in_pandas", "f05_map_in_pandas", "f06_udtf", "f07_arrow_udf",
    "f08_multimodal_decode", "f10_cogroup_in_pandas", "a18_python_datasource",
    "e06_stream_stateful", "e10_batch_twin", "a13_stream_ingest_foreachbatch",
]:
    n = qs[name](spark, "/root/testdata/sf0.001").count()
    print("DROVE", name, n)
print("VANILLA_DRIVE_OK")
"""


def test_vanilla_session_drives_executor_shipped_queries(tmp_path):
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the driver's bare shape
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVE.format(repo=_REPO)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "VANILLA_DRIVE_OK" in proc.stdout, proc.stdout[-2000:]
