"""Every script and bench.py imports as a module without running main(), so
a script left importing a deleted module fails here and not at run time.
No Spark session is started."""

import importlib.util
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SOURCES = sorted(ROOT.glob("scripts/*.py")) + [ROOT / "bench.py"]


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: p.name)
def test_imports_as_module(path):
    name = f"_import_check_{path.stem}"
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.modules.pop(name, None)
    assert callable(getattr(mod, "main", None))
