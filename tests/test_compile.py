"""Every tracked Python file compiles with warnings raised as errors.

An invalid escape such as ``'\\?'`` in a normal string literal is only a
``SyntaxWarning``/``DeprecationWarning`` today and prints once per import;
a later Python turns it into a ``SyntaxError`` that breaks the import.
"""

from __future__ import annotations

import subprocess
import warnings
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


def _tracked_py_files() -> list[Path]:
    try:
        out = subprocess.run(
            ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True, text=True, check=True
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        pytest.skip("not a git checkout")
    return [ROOT / name for name in out.split()]


def test_tracked_sources_compile_without_warnings():
    files = _tracked_py_files()
    assert files
    bad = []
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for path in files:
            try:
                compile(path.read_bytes(), str(path), "exec", dont_inherit=True)
            except SyntaxError as e:
                bad.append(f"{path.relative_to(ROOT)}:{e.lineno}: {e.msg}")
    assert not bad, "\n".join(bad)
