"""Per-layer tracing from outside the program.

``Tracer.install`` replaces selected ``adhesive_spark`` functions with
timing wrappers in every ``adhesive_spark`` module that holds them (a
``from x import f`` copy is patched as well as ``x.f``), and
``Tracer.uninstall`` puts the originals back.  With tracing off nothing is
installed, so untraced runs execute the program unchanged.  Every wrapper
carries the ``SPAN_MARK`` attribute, so ``installed_spans`` finds any left
in place; ``module_snapshot`` lets the self-test check ``uninstall`` by
identity.

Each traced function is a span named after its layer.  A layer's time is
the wall time of its outermost calls only (a call made while the same
layer is already on the stack adds to its call count, not to its time),
so recursion and intra-module helpers are not counted twice.  Spans of
different layers nest: an operator span inside a query construct span is
counted in both.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import time
from collections import Counter, defaultdict
from typing import Callable

PACKAGE = "adhesive_spark"
#: attribute set on every timing wrapper (its value is the layer name)
SPAN_MARK = "_perfbench_span"

#: Single functions traced under a fixed layer name.
NAMED_SPANS = {
    "sources.registry.load_table": ("adhesive_spark.sources.registry", "load_table"),
    "sources.registry.ensure_parallelism": (
        "adhesive_spark.sources.registry",
        "ensure_parallelism",
    ),
    "sources.registry.checkpoint_corpus": (
        "adhesive_spark.sources.registry",
        "checkpoint_corpus",
    ),
    "session.build": ("adhesive_spark.session", "build_spark"),
    "functions.ddl.parse": ("adhesive_spark.functions.ddl", "parse_create_function"),
}


def import_all() -> None:
    """Import every ``adhesive_spark`` module, so that patching by identity
    reaches modules that a query would otherwise import later."""
    pkg = importlib.import_module(PACKAGE)
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        importlib.import_module(info.name)


def _program_modules() -> list:
    return [
        m
        for name, m in sorted(sys.modules.items())
        if m is not None and (name == PACKAGE or name.startswith(PACKAGE + "."))
    ]


def module_snapshot() -> dict[tuple[str, str], int]:
    """(module, attribute) -> id(value) for every callable attribute of
    every loaded program module."""
    return {
        (m.__name__, attr): id(value)
        for m in _program_modules()
        for attr, value in vars(m).items()
        if callable(value)
    }


def installed_spans() -> list[tuple[str, str]]:
    """(module, attribute) of every loaded program module attribute that is
    a timing wrapper."""
    return [
        (m.__name__, attr)
        for m in _program_modules()
        for attr, value in vars(m).items()
        if inspect.isfunction(value) and SPAN_MARK in vars(value)
    ]


def operator_spans() -> dict[str, list[Callable]]:
    """``operators.<module>`` -> the public functions that module defines."""
    out: dict[str, list[Callable]] = {}
    for m in _program_modules():
        if not m.__name__.startswith(PACKAGE + ".operators."):
            continue
        fns = [
            f
            for attr, f in vars(m).items()
            if not attr.startswith("_")
            and inspect.isfunction(f)
            and f.__module__ == m.__name__
        ]
        if fns:
            out["operators." + m.__name__.rsplit(".", 1)[1]] = fns
    return out


class Tracer:
    def __init__(self) -> None:
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: Counter[str] = Counter()
        self._depth: Counter[str] = Counter()
        self._saved: list[tuple[object, str, Callable]] = []

    def _wrap(self, layer: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def span(*args, **kwargs):
            self.calls[layer] += 1
            if self._depth[layer]:
                return fn(*args, **kwargs)
            self._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[layer] += time.perf_counter() - t0
                self._depth[layer] -= 1

        setattr(span, SPAN_MARK, layer)
        return span

    def install(self) -> None:
        import_all()
        targets: dict[int, tuple[str, Callable]] = {}
        for layer, (mod, attr) in NAMED_SPANS.items():
            fn = getattr(sys.modules[mod], attr)
            targets[id(fn)] = (layer, fn)
        for layer, fns in operator_spans().items():
            for fn in fns:
                targets[id(fn)] = (layer, fn)
        wrappers = {i: self._wrap(layer, fn) for i, (layer, fn) in targets.items()}
        for m in _program_modules():
            for attr, value in list(vars(m).items()):
                w = wrappers.get(id(value))
                if w is not None and value is targets[id(value)][1]:
                    self._saved.append((m, attr, value))
                    setattr(m, attr, w)

    def uninstall(self) -> None:
        for m, attr, value in reversed(self._saved):
            setattr(m, attr, value)
        self._saved.clear()
