"""The benchmark's traced run wraps engine callables by name
(``perfbench/run.py:_install_ingest_spans``), so renaming or moving one
of them breaks the benchmark, not the engine's own tests. This pins
every hook it installs against the engine as it stands."""

from __future__ import annotations

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
