"""Every name the bench, tool and perfbench scripts use from
``crawler_spark`` exists — imported names, ``CrawlJob`` keywords and the
functions perfbench's tracer wraps — so a script left using a deleted name
fails here rather than when someone runs it."""

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


BENCH_SCRIPTS = SCRIPTS + sorted(ROOT.glob("perfbench/*.py"))


def _crawljob_keywords(path: Path):
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Call) and "CrawlJob" in (
            getattr(node.func, "id", None), getattr(node.func, "attr", None)
        ):
            for kw in node.keywords:
                if kw.arg is not None:
                    yield kw.arg, node.lineno


@pytest.mark.parametrize("script", BENCH_SCRIPTS,
                         ids=lambda p: f"{p.parent.name}/{p.name}")
def test_script_crawljob_keywords_exist(script):
    """Every keyword a bench, tool or perfbench script passes to
    ``CrawlJob(...)`` is a parameter of ``CrawlJob.__init__``."""
    import inspect

    from crawler_spark.plans.crawl_job import CrawlJob

    params = inspect.signature(CrawlJob.__init__).parameters
    unknown = [f"{script.name}:{line} {kw}="
               for kw, line in _crawljob_keywords(script) if kw not in params]
    assert unknown == []


def _tracer_table(name: str):
    tree = ast.parse((ROOT / "perfbench" / "tracer.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == name for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError(f"perfbench/tracer.py defines no {name}")


def test_perfbench_traced_names_exist():
    """Every function and method perfbench's tracer wraps (``TARGETS``,
    ``METHODS``) still exists, so a traced run cannot silently lose a
    layer."""
    missing = []
    for module, attr, *_ in _tracer_table("TARGETS"):
        if not hasattr(importlib.import_module(module), attr):
            missing.append(f"{module}.{attr}")
    for module, cls, meth, _ in _tracer_table("METHODS"):
        owner = getattr(importlib.import_module(module), cls, None)
        if owner is None or not hasattr(owner, meth):
            missing.append(f"{module}.{cls}.{meth}")
    assert missing == []


# modules whose frames from driver rows must be local relations
# (crawler_spark.sources.local.local_frame), never list-fed PythonRDDs
LOCAL_ROW_MODULES = sorted((ROOT / "crawler_spark" / "plans").glob("*.py")) + [
    ROOT / "crawler_spark" / "sources" / "store.py"
]


def _list_fed_create_dataframe(path: Path):
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Call) and getattr(
            node.func, "attr", None
        ) == "createDataFrame":
            data = node.args[:1] + [k.value for k in node.keywords
                                    if k.arg == "data"]
            if any(isinstance(d, (ast.List, ast.ListComp)) for d in data):
                yield node.lineno


@pytest.mark.parametrize("module", LOCAL_ROW_MODULES,
                         ids=lambda p: f"{p.parent.name}/{p.name}")
def test_driver_rows_enter_as_local_frames(module):
    """No ``createDataFrame(`` call in ``crawler_spark/plans/`` or
    ``sources/store.py`` takes a list display, a list comprehension or
    ``[]``: classic PySpark runs such a frame through a Python worker on
    every scan; ``local_frame`` makes it a LocalRelation."""
    assert [f"{module.name}:{line}"
            for line in _list_fed_create_dataframe(module)] == []
