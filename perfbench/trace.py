"""Spans around calls into the program's layers.

The benchmark never edits the program: ``install`` replaces module and
class attributes with wrappers that record a span per call while
``Tracer.enabled`` is set, and ``uninstall`` puts the originals back.
A layer's self time is its span's duration minus the part of it that
its child spans cover.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[int] = []
        self._request: int | None = None

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield
            return
        if request is not None:
            self._request = request
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self._request))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()
            if request is not None:
                self._request = None

    def wrap(self, fn, name: str, collect_name: str | None = None):
        """``fn`` recording a ``name`` span per call; with
        ``collect_name``, a DataFrame it returns also records a span
        around its ``collect``."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                out = fn(*args, **kwargs)
            if collect_name is not None and hasattr(out, "collect"):
                out.collect = self.wrap(out.collect, collect_name)
            return out

        return wrapper


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        lo = s.start
        for c in sorted(children.get(i, ()), key=lambda c: c.start):
            a, b = max(c.start, lo), min(c.end, s.end)
            if b > a:
                covered += b - a
                lo = b
        out.append((s.end - s.start) - covered)
    return out


# (owner path, attribute, span name, span name of a returned DataFrame's collect)
TARGETS = (
    ("newsleak_spark.api", "compile_spec", "spec.compile", None),
    ("newsleak_spark.query.engine:IndexReader", "__init__", "engine.reader_open", None),
    ("newsleak_spark.query.engine:IndexReader", "dictionary_rows", "engine.dictionary", None),
    ("newsleak_spark.api", "search_heaps", "engine.plan", "engine.execute"),
    ("newsleak_spark.api", "search", "engine.plan", "engine.execute"),
    ("newsleak_spark.api", "matching_doc_ids", "engine.plan", None),
    ("newsleak_spark.query.engine", "matching_doc_ids", "engine.plan", None),
    ("newsleak_spark.api", "count_hits", "engine.count", None),
    ("newsleak_spark.api:NewsleakAPI", "get_docs", "api.body_fetch", None),
    ("newsleak_spark.api:NewsleakAPI", "_ranked_rows", "api.ranked_rows", None),
    ("newsleak_spark.api", "_highlight_analyzed", "api.highlight", None),
    ("newsleak_spark.api:NewsleakAPI", "_matching", "facets.matching", None),
    ("newsleak_spark.facets", "facet_counts", "facets.collect", "facets.collect"),
    ("newsleak_spark.facets", "date_histogram", "facets.collect", "facets.collect"),
    ("newsleak_spark.facets", "cooccurrence", "facets.collect", "facets.collect"),
)


def _owner(path: str):
    import importlib

    mod, _, cls = path.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


def install(tracer: Tracer):
    """Wrap every target; returns a function that restores them."""
    saved = []
    for path, attr, name, collect_name in TARGETS:
        owner = _owner(path)
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(orig, name, collect_name))

    def uninstall() -> None:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return uninstall
