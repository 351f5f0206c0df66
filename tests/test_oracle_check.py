"""tools/oracle_check.py checks the checkout it lives in."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_gate_imports_its_own_checkout(tmp_path):
    """Imported from a copy of the tree, the tool must resolve
    ``__spark_entry__`` and the package inside that copy, even with the
    original checkout on PYTHONPATH."""
    copy = tmp_path / "checkout"
    skip = shutil.ignore_patterns("__pycache__")
    for d in ("tools", "entity_linking_spark"):
        shutil.copytree(os.path.join(_ROOT, d), copy / d, ignore=skip)
    shutil.copy(os.path.join(_ROOT, "__spark_entry__.py"), copy)
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); import oracle_check; "
        "import __spark_entry__, entity_linking_spark; "
        "print(__spark_entry__.__file__); print(entity_linking_spark.__file__)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(copy / "tools")],
        cwd=tmp_path,
        env=dict(os.environ, PYTHONPATH=_ROOT),
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert len(out) == 2
    for f in out:
        assert os.path.realpath(f).startswith(str(copy.resolve()) + os.sep), f
