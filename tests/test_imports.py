"""Every ``hubverse_transform_spark`` module imports without a SparkSession
and starts none: import time does no Spark work (a type string parsed
through the JVM, a decorator that needs an active context), so a tool, a
worker or a test can import any module before it builds its session."""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent

_SCRIPT = """
import importlib, json, pkgutil
import hubverse_transform_spark as pkg
from pyspark import SparkContext
failed = {}
names = sorted(m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."))
for name in names:
    try:
        importlib.import_module(name)
    except Exception as e:
        failed[name] = f"{type(e).__name__}: {e}"[:300]
    if SparkContext._active_spark_context is not None:
        failed[name] = "started a SparkContext"
        break
print(json.dumps({"modules": names, "failed": failed}))
"""


def test_every_module_imports_without_a_session():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT], cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(report["modules"]) > 20
    assert not report["failed"], report["failed"]
