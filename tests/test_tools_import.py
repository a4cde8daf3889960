"""Every script under ``tools/`` and ``bench.py`` still imports.

Loading a script with ``importlib`` runs its module body (imports and
constants) but not its ``__main__`` block, so a name that a deletion left
dangling fails here rather than at the next manual run of the script.
"""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = sorted(p.relative_to(ROOT).as_posix() for p in [*ROOT.glob("tools/*.py"), ROOT / "bench.py"])


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_imports(script):
    path = ROOT / script
    spec = importlib.util.spec_from_file_location(f"_import_check_{path.stem}", path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
