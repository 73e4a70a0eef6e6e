"""The benchmark's traced run wraps engine callables by name
(``perfbench/run.py:_install_ingest_spans``) and its workloads import
engine names (``perfbench/workloads.py``), so renaming or moving one
of them breaks the benchmark, not the engine's own tests. This pins
every hook it installs and every engine name it imports against the
engine as it stands."""

from __future__ import annotations

import ast
import glob
import importlib
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(REPO_ROOT, "perfbench")
for p in (BENCH, REPO_ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import run  # noqa: E402


class _CheckingTracer:
    """Stands in for ``tracing.Tracer``: records each hook instead of
    patching it, and checks that its target exists where the real
    tracer reads it (a class's own ``__dict__``)."""

    def __init__(self) -> None:
        self.hooks: list[tuple[object, str, str | None, object]] = []

    def wrap(self, owner, attr: str, name: str | None, result_wrapper=None) -> None:
        if isinstance(owner, type):
            assert attr in owner.__dict__, f"{owner.__name__}.{attr} is not defined on the class"
        else:
            assert callable(getattr(owner, attr, None)), f"{owner.__name__}.{attr} is missing"
        self.hooks.append((owner, attr, name, result_wrapper))

    def spanned_callable(self, fn, name: str):
        return fn


def test_every_ingest_span_hook_names_an_engine_callable():
    tracer = _CheckingTracer()
    run._install_ingest_spans(tracer)
    assert tracer.hooks
    writer = object()
    for _, _, _, result_wrapper in tracer.hooks:
        if result_wrapper is not None:
            assert result_wrapper(writer) is writer


def _resolves(module: str, name: str) -> bool:
    """``from module import name`` would succeed: an attribute, or a
    submodule the import statement loads."""
    if hasattr(importlib.import_module(module), name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_every_engine_import_in_perfbench_resolves():
    imports = [
        (os.path.basename(path), node.lineno, node.module, alias.name)
        for path in sorted(glob.glob(os.path.join(BENCH, "*.py")))
        for node in ast.walk(ast.parse(open(path).read()))
        if isinstance(node, ast.ImportFrom)
        and (node.module or "").split(".")[0] == "poormans_kube_etl_spark"
        for alias in node.names
    ]
    assert imports
    missing = [i for i in imports if not _resolves(i[2], i[3])]
    assert not missing, missing
