"""Every command-line script imports cleanly without starting Spark: the
scripts keep their work behind ``__main__`` guards, so an import error here
means a script reaches for a module or name that no longer exists."""

from __future__ import annotations

import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(str(p) for p in (REPO / "tools").glob("*.py")) + [
    str(REPO / "runner.py"),
    str(REPO / "__spark_entry__.py"),
]

_IMPORT_ALL = textwrap.dedent(
    """
    import importlib.util, sys
    from pyspark import SparkContext

    for i, path in enumerate(sys.argv[1:]):
        spec = importlib.util.spec_from_file_location(f"_script_{i}", path)
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
        assert SparkContext._active_spark_context is None, path + " started Spark"
    """
)


def test_scripts_import_without_starting_spark():
    assert len(SCRIPTS) >= 7
    proc = subprocess.run(
        [sys.executable, "-c", _IMPORT_ALL, *SCRIPTS],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
