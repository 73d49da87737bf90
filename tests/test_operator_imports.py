"""Importing one operator module loads that module alone: a Python worker
that unpickles a kernel (e.g. similarity._pairs_kernel, which references
_to_matrix and _seq_norms) must not pay for importing the whole engine.
registry._ensure_loaded() still registers every query. Runs in a fresh
interpreter, without Spark."""

from __future__ import annotations

import json
import os
import subprocess
import sys

_PROBE = """
import json, sys
import master_airflow_spark.operators.similarity
first = sorted(m for m in sys.modules if m.startswith("master_airflow_spark.operators."))
from master_airflow_spark import registry
registry._ensure_loaded()
print(json.dumps({"first": first, "queries": len(registry.REGISTRY)}))
"""


def test_one_operator_module_imports_alone():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["first"] == ["master_airflow_spark.operators.similarity"]
    assert got["queries"] == 221
