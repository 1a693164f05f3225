"""Spans recorded around calls into the engine's public functions.

``Tracer.patch`` replaces a function or method with a wrapper that records
one span per call: name, layer, start, end, parent span and trace id (one
per batch or request).  Spans are kept in memory and written as JSONL when
the run ends.  Each span also sets the Spark job group of its thread to its
own id, so jobs, stages and tasks in the event log can be attributed to the
span that launched them.  With tracing disabled the wrappers cost one
attribute test per call.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark=None):
        self.enabled = False
        self.spans: list[dict] = []
        self._sc = spark.sparkContext if spark is not None else None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._stacks: dict[int, list] = {}
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        # A span that starts on a thread with no open span (a Structured
        # Streaming callback, an HTTP handler) becomes a child of the span
        # open on this thread: the one whose call caused it.
        self.foster: int | None = None

    # -- recording ----------------------------------------------------------

    def _stack(self) -> list:
        return self._stacks.setdefault(threading.get_ident(), [])

    def set_trace(self, trace_id: str) -> None:
        self._local.trace_id = trace_id

    def span(self, name: str, layer: str):
        """Context manager recording one span; records nothing while the
        tracer is disabled."""
        return _Span(self, name, layer)

    def _open(self, name, layer):
        st = self._stack()
        foster = self._stacks.get(self.foster) if self.foster is not None else None
        top = st[-1] if st else (foster[-1] if foster else None)
        if top is not None:
            parent, trace_id = top["id"], top["trace"]
        else:
            parent, trace_id = None, getattr(self._local, "trace_id", "-")
        rec = {"id": next(self._ids), "parent": parent, "trace": trace_id,
               "name": name, "layer": layer, "thread": threading.get_ident(),
               "start": time.perf_counter(), "end": None}
        st.append(rec)
        self._set_group(str(rec["id"]))
        return rec

    def _close(self, rec, error):
        rec["end"] = time.perf_counter()
        if error is not None:
            rec["error"] = type(error).__name__
        st = self._stack()
        st.pop()
        self._set_group(str(st[-1]["id"]) if st else None)
        with self._lock:
            self.spans.append(rec)

    def _set_group(self, group: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty("spark.jobGroup.id", group)

    # -- patching public functions -------------------------------------------

    def patch(self, owner, attr: str, name: str, layer: str) -> None:
        """Wrap ``owner.attr`` (a module function, method or property)."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self
        if isinstance(orig, property):
            fget = orig.fget

            @functools.wraps(fget)
            def getter(obj):
                if not tracer.enabled:
                    return fget(obj)
                with tracer.span(name, layer):
                    return fget(obj)

            setattr(owner, attr, property(getter, orig.fset, orig.fdel, orig.__doc__))
        else:
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                if not tracer.enabled:
                    return orig(*a, **kw)
                with tracer.span(name, layer):
                    return orig(*a, **kw)

            setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- output ---------------------------------------------------------------

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer, name, layer):
        self.tracer, self.name, self.layer = tracer, name, layer
        self.rec = None

    def __enter__(self):
        if not self.tracer.enabled:
            return {"id": None, "trace": None}
        self.rec = self.tracer._open(self.name, self.layer)
        return self.rec

    def __exit__(self, exc_type, exc, tb):
        if self.rec is not None:
            self.tracer._close(self.rec, exc)
        return False


# ---------------------------------------------------------------------------
# analysis
# ---------------------------------------------------------------------------

def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], ())):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def check_tree(spans: list[dict]) -> list[str]:
    """Problems with the span set as a tree: unknown parents, and children
    that start before or end after their parent."""
    by_id = {s["id"]: s for s in spans}
    problems = []
    for s in spans:
        p = s["parent"]
        if p is None:
            continue
        if p not in by_id:
            problems.append(f"span {s['id']} has unknown parent {p}")
        elif s["start"] < by_id[p]["start"] or s["end"] > by_id[p]["end"]:
            problems.append(f"span {s['id']} ({s['name']}) escapes parent {p}")
    return problems


def ancestors(span: dict, by_id: dict) -> list[dict]:
    out = []
    p = span["parent"]
    while p is not None and p in by_id:
        out.append(by_id[p])
        p = by_id[p]["parent"]
    return out
