"""Every name the bench and tool scripts import from ``crawler_spark``
exists, so a script left importing a deleted name fails here rather than
when someone runs it."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(ROOT.glob("tools/*.py")) + [ROOT / "bench.py"]


def _package_imports(path: Path):
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module or ""
        ).split(".")[0] == "crawler_spark":
            for alias in node.names:
                yield node.module, alias.name, node.lineno


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.name)
def test_script_imports_resolve(script):
    missing = [
        f"{script.name}:{line} from {module} import {name}"
        for module, name, line in _package_imports(script)
        if not hasattr(importlib.import_module(module), name)
        and importlib.util.find_spec(f"{module}.{name}") is None
    ]
    assert missing == []
