"""Every tool in ``scripts/`` still imports against the package.

Each script keeps its work behind a ``__main__`` guard, so loading it
starts no Spark session; a package refactor that strands a script's
import (a moved helper, a deleted function) fails here instead of on
the next person who runs it. The scripts directory goes on
``sys.path`` as it does under ``python scripts/NAME.py``, which is how
``scaling_r12.py`` and ``scaling_r13.py`` find ``scaling_ann``.
"""

from __future__ import annotations

import importlib.util
import pathlib
import sys

import pytest

_SCRIPTS = pathlib.Path(__file__).resolve().parent.parent / "scripts"


@pytest.mark.parametrize(
    "path", sorted(_SCRIPTS.glob("*.py")), ids=lambda p: p.stem
)
def test_script_imports(path, monkeypatch):
    # under ``python scripts/NAME.py`` a script named after a stdlib
    # module shadows it for every import, e.g. ``profile`` is imported
    # by cProfile, which pyspark imports
    assert path.stem not in sys.stdlib_module_names
    monkeypatch.syspath_prepend(str(_SCRIPTS))
    spec = importlib.util.spec_from_file_location(f"_script_{path.stem}", path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
