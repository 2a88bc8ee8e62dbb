"""The crawl engine's import closure stays free of the non-engine
operator modules, so they can be cut without touching the engine."""

import os
import subprocess
import sys

ENGINE_SIDE = (
    "ironspark.engine", "ironspark.monitor", "ironspark.worker_daemon",
    "__spark_entry__",
)
OUTSIDE = ("ironspark.textops",)


def test_engine_imports_no_operator_modules():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import importlib, sys\n"
        f"for m in {ENGINE_SIDE!r}: importlib.import_module(m)\n"
        f"print(' '.join(m for m in {OUTSIDE!r} if m in sys.modules))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True,
        text=True, check=True,
    )
    assert out.stdout.split() == []
