"""Spans around public functions of the program, installed at runtime.

``Tracer.call(name, fn, *args)`` runs ``fn`` inside a span: it records
the span (id, name, start, end, parent, thread) and, while ``fn`` runs,
sets the Spark job description of the calling thread to
``pb:<id>:<name>``. ``Tracer.target`` registers a module function or
class method to be replaced on ``install`` by a wrapper that does the
same. Jobs are therefore attributed to the innermost span of the thread
that submitted them, including jobs the crawl engine submits from its
own commit threads. The spans and the event log are joined by that
label (see ``eventlog``).

A span opened on a thread with no open span of its own takes the
outermost span open on the main thread as its parent: the engine
starts its commit threads from inside ``run_wave``.

``uninstall`` restores every patched attribute.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import sys
import threading
import time
from dataclasses import asdict, dataclass

LABEL_PREFIX = "pb:"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: str

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def label(self) -> str:
        return f"{LABEL_PREFIX}{self.id}:{self.name}"


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._targets: list[tuple[str, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, *args, **kwargs):
        sid = next(self._ids)
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[0] if self._main_stack else None
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"{LABEL_PREFIX}{sid}:{name}")
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.job.description", prev)
            with self._lock:
                self.spans.append(
                    Span(sid, name, t0, t1, parent, threading.current_thread().name)
                )

    def target(self, module: str, attr: str, name=None) -> None:
        """Register ``module.attr`` (``attr`` may be ``Class.method``) to
        be wrapped on ``install``. ``name`` is the span name, or a
        callable of the call's arguments returning it."""
        self._targets.append((module, attr, name or f"{module.rsplit('.', 1)[-1]}.{attr}"))

    def install(self) -> list[str]:
        """Patch every registered target; also rebinds module-level
        aliases that other loaded modules imported by name. Returns the
        targets that could not be found."""
        missing = []
        for module, attr, name in self._targets:
            mod = importlib.import_module(module)
            owner, leaf = mod, attr
            if "." in attr:
                cls, leaf = attr.split(".", 1)
                owner = getattr(mod, cls, None)
            orig = getattr(owner, leaf, None) if owner is not None else None
            if orig is None:
                missing.append(f"{module}.{attr}")
                continue
            wrapped = self._wrapper(orig, name)
            self._patch(owner, leaf, wrapped)
            if owner is mod:
                for other in list(sys.modules.values()):
                    if (
                        other is not mod
                        and getattr(other, "__name__", "").startswith("downloader_spark")
                        and getattr(other, leaf, None) is orig
                    ):
                        self._patch(other, leaf, wrapped)
        return missing

    def _wrapper(self, orig, name):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span_name = name(*args, **kwargs) if callable(name) else name
            return tracer.call(span_name, orig, *args, **kwargs)

        return wrapper

    def _patch(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- queries over the recorded spans -------------------------------------
    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def subtree(self, span: Span) -> list[Span]:
        by_parent: dict[int | None, list[Span]] = {}
        for s in self.spans:
            by_parent.setdefault(s.parent, []).append(s)
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(by_parent.get(s.id, ()))
        return out

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def dump(self) -> list[dict]:
        return [dict(asdict(s), label=s.label) for s in sorted(self.spans, key=lambda s: s.start)]
