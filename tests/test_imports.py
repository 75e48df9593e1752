"""Every package module imports without a Spark session: a module that
builds a Column at import time fails with SESSION_OR_CONTEXT_NOT_EXISTS
in a process that has not started one yet (a spark-submit worker, a
tool that imports before it creates its session)."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_IMPORT_ALL = """
import importlib, pkgutil
import hope_graph_builder_spark as pkg
from pyspark import SparkContext
names = [m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]
for name in names:
    importlib.import_module(name)
assert SparkContext._gateway is None and SparkContext._active_spark_context is None
print(len(names))
"""


def test_every_module_imports_without_a_session():
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_ALL], cwd=ROOT, capture_output=True, text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr
    assert int(out.stdout) > 30
