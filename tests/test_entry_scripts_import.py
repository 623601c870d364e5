"""Every entry script imports cleanly and starts no Spark session.

The scripts under ``jobs/`` and ``tools/`` and ``bench.py`` are run by
hand, so nothing else notices one left importing a deleted symbol. They
are imported in a fresh interpreter (the suite's own session would
otherwise be active), from a directory outside the repo."""
from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    glob.glob(os.path.join(REPO, "jobs", "*.py"))
    + glob.glob(os.path.join(REPO, "tools", "*.py"))
    + [os.path.join(REPO, "bench.py")]
)

PROBE = """
import importlib.util, json, os, sys
from pyspark import SparkContext
from pyspark.sql import SparkSession

errors = {}
for path in sys.argv[1:]:
    name = "entry_" + os.path.splitext(os.path.basename(path))[0]
    try:
        spec = importlib.util.spec_from_file_location(name, path)
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
    except Exception as e:
        errors[path] = repr(e)
print(json.dumps({
    "errors": errors,
    "session": SparkSession.getActiveSession() is not None,
    "context": SparkContext._active_spark_context is not None,
}))
"""


def test_entry_scripts_import_without_jvm(tmp_path):
    assert len(SCRIPTS) > 1
    proc = subprocess.run(
        [sys.executable, "-c", PROBE, *SCRIPTS],
        capture_output=True, text=True, cwd=tmp_path, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out == {"errors": {}, "session": False, "context": False}
