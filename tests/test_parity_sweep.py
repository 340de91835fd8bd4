"""tools/parity_sweep.py --dump-oracles: every registered oracle text,
whitespace runs collapsed, written as JSON without starting Spark."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from nyc_landmarks_datalake_spark import registry

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: runs the tool as ``__main__`` with every way of starting a JVM
#: replaced by a failure, so the dump must finish without Spark
_NO_SPARK = """
import runpy, sys
from pyspark import SparkContext
from pyspark.sql import SparkSession

def no_spark(*args, **kwargs):
    raise AssertionError("--dump-oracles started Spark")

SparkContext._ensure_initialized = classmethod(no_spark)
SparkSession.Builder.getOrCreate = no_spark
sys.argv = [sys.argv[1], "--dump-oracles", sys.argv[2]]
runpy.run_path(sys.argv[0], run_name="__main__")
"""


def test_dump_oracles_writes_every_oracle_once_normalized(tmp_path):
    out = tmp_path / "oracles.json"
    tool = os.path.join(_REPO, "tools", "parity_sweep.py")
    proc = subprocess.run(
        [sys.executable, "-c", _NO_SPARK, tool, str(out)],
        cwd=_REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    pairs = json.loads(out.read_text(), object_pairs_hook=lambda kv: kv)
    keys = [k for k, _ in pairs]
    assert len(keys) == len(set(keys))
    registry.load_all()
    assert set(keys) == set(registry.ORACLE)
    for name, sql in pairs:
        assert sql == " ".join(registry.ORACLE[name].split()), name
        assert "  " not in sql and "\n" not in sql and sql == sql.strip(), name
