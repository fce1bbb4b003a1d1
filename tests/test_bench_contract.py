"""bench.py is a driver interface: it must print EXACTLY one JSON line
on stdout with the agreed fields. Run at the smallest SF so the check
stays cheap."""

import json
import os
import subprocess
import sys

import pytest
# Slow tier (pytest.ini): runs the full bench.py (the driver benches itself).
pytestmark = pytest.mark.slow


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_prints_one_json_line():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="8",
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=900,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1, f"stdout must be exactly one line, got: {lines}"
    payload = json.loads(lines[0])
    assert payload["metric"] == "headline_total"
    assert payload["unit"] == "sec"
    assert payload["value"] > 0
    assert payload["sf"] == 0.001
    assert set(payload["queries"]) and all(
        v >= 0 for v in payload["queries"].values()
    )
    # The round-1-comparable subtotal must be present and consistent
    # with (i.e. bounded by) the full headline total.
    assert 0 < payload["original17_total"] <= payload["value"]
    # the core count the run actually had, as SPARK_GRAFT_CPUS asked
    assert payload["spark.master"] == "local[8]"
    assert payload["defaultParallelism"] == 8
