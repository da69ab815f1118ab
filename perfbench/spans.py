"""In-memory span recorder and the wrappers the traced run installs.

A span is ``{id, name, trace, parent, start, end, ...attrs}``; times are
``time.perf_counter()`` seconds. Spans nest per thread. Each span that
can launch Spark jobs sets the local property ``perfbench.span`` for its
duration, so the event log attributes every job (and its tasks) to the
innermost span that submitted it. Nothing here edits the engine: the
wrappers replace module or class attributes and are removed afterwards.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    def __init__(self, set_job_tag=None, clock=time.perf_counter):
        """``set_job_tag(value_or_None)`` tags the calling thread's
        subsequent Spark jobs; None disables job tagging."""
        self.spans: list[dict] = []
        self.traced = set_job_tag is not None
        self._set_job_tag = set_job_tag
        self._clock = clock
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace=None, tag_jobs: bool = True, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "trace": trace if trace is not None else (parent or {}).get("trace"),
            "parent": parent["id"] if parent else None,
            **attrs,
        }
        tag = tag_jobs and self._set_job_tag is not None
        stack.append(rec)
        if tag:
            self._set_job_tag(str(sid))
        rec["start"] = self._clock()
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = self._clock()
            stack.pop()
            if tag:
                self._set_job_tag(str(parent["id"]) if parent else None)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name, tag_jobs: bool = True):
        """``fn`` wrapped in a span. ``name`` may be a callable of the
        call's arguments, to name a span by the table it touches."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span_name = name(*args, **kwargs) if callable(name) else name
            with self.span(span_name, tag_jobs=tag_jobs):
                return fn(*args, **kwargs)

        return wrapper

    def patch(self, owner, attr: str, name, tag_jobs: bool = True) -> None:
        """Replace ``owner.attr`` with a traced wrapper until unpatch_all."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self.replace(owner, attr, self.wrap(original, name, tag_jobs))

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until unpatch_all."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, new)

    def unpatch_all(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)
