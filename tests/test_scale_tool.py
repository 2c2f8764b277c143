"""tools/scale.py end to end: synthesize a 2x dataset from sf0.001 and time
one query on both, so the scale runner cannot rot unseen."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from conftest import SF_DIR

ROOT = Path(__file__).resolve().parents[1]


@pytest.mark.slow  # a second JVM: synthesis plus 2 x 3 timed passes
def test_scale_tool_synthesizes_and_times(tmp_path):
    dst = str(tmp_path / "sf0.001x2")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2"}
    out = subprocess.run(
        [sys.executable, "tools/scale.py", "--queries", "q1_pricing_summary",
         SF_DIR, dst],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    assert rec["datasets"] == [SF_DIR, dst]
    for d in rec["datasets"]:
        r = rec["results"][d]["q1_pricing_summary"]
        assert 0 < r["min"] <= r["median"] and r["cold"] > 0
        assert r["rows"] > 0
    assert "| q1_pricing_summary |" in out.stdout
    # every table doubled, except the fixed dimensions copied once
    for t in ("region", "nation", "lineitem", "documents", "embeddings"):
        n0 = pq.read_table(f"{SF_DIR}/{t}.parquet").num_rows
        n1 = pq.read_table(f"{dst}/{t}.parquet").num_rows
        assert n1 == (n0 if t in ("region", "nation") else 2 * n0), t
