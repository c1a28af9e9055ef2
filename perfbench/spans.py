"""Spans around the public calls into each layer of the serving path,
their self times, and the per-layer table.

The tracer lives in the server process and is installed only for a
traced run: it wraps public functions of the package from the
benchmark's own files (the package itself carries no tracing).  Spans
are kept in memory and written out when the run ends.

Span names and the module each wraps:

- ``rest.handler``   WSGI entry of ``serving.rest.create_app`` (root)
- ``service``        ``plans.service`` ``execute_response`` / ``execute_page``
- ``queries.apply``  ``plans.queries.Query.apply`` (includes ``compile_predicate``)
- ``sink.read``      ``streaming.pipeline.ManifestServingSink.read``
- ``spark.collect``  PySpark ``DataFrame.collect``
- ``sink.commit``    ``ManifestServingSink.__call__`` (stream thread, root)

Run ``python perfbench/spans.py <spans.json>`` to print the self-time
table of a saved trace.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Thread-aware span recorder.  A request's spans nest on its
    handler thread's stack; a span opened with an empty stack is a
    root.  Whether a request is traced is decided once, at its root, so
    toggling ``enabled`` mid-request never leaves half a tree."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if parent is None and not self.enabled or parent is not None and parent.get("off"):
            # untraced request: children stay untraced too
            rec = {"off": True}
            stack.append(rec)
            try:
                yield rec
            finally:
                stack.pop()
            return
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid if rid is not None else (parent["rid"] if parent else None),
        }
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)  # list.append is atomic under the GIL

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span;
        ``after(rec, args, result)`` may add attributes once the call
        returns (outside the timed interval)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = fn(*args, **kwargs)
            if after is not None and "id" in rec:
                after(rec, args, result)
            return result

        setattr(owner, attr, traced)

    def wsgi(self, app, on_request=None):
        """WSGI middleware opening the ``rest.handler`` root span.  The
        span ends when the app calls ``start_response``, which Flask does
        once the whole body is built."""

        def middleware(environ, start_response):
            rid = environ.get("HTTP_X_REQUEST_ID", "")
            with self.span("rest.handler", rid=rid) as rec:
                if on_request is not None and "id" in rec:
                    on_request(rid)
                body = app(environ, start_response)
            return body

        return middleware

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time in seconds: duration minus the part of the
    span's interval that its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def per_request(spans: list[dict], rids: set[str] | None = None) -> dict[str, dict[str, dict]]:
    """rid -> span name -> {"total": s, "self": s, "n": count, "attrs": [...]}."""
    selfs = self_times(spans)
    out: dict[str, dict[str, dict]] = {}
    for s in spans:
        if rids is not None and s["rid"] not in rids:
            continue
        slot = out.setdefault(s["rid"], {}).setdefault(
            s["name"], {"total": 0.0, "self": 0.0, "n": 0, "attrs": []}
        )
        slot["total"] += s["end"] - s["start"]
        slot["self"] += selfs[s["id"]]
        slot["n"] += 1
        extra = {k: v for k, v in s.items()
                 if k not in ("id", "name", "parent", "rid", "start", "end")}
        if extra:
            slot["attrs"].append(extra)
    return out


def layer_table(spans: list[dict], rids: set[str] | None = None) -> list[dict]:
    """One row per span name: calls, total and median self time, share
    of all self time.  Sorted by total self time, largest first."""
    reqs = per_request(spans, rids)
    rows: dict[str, dict] = {}
    for layers in reqs.values():
        for name, v in layers.items():
            r = rows.setdefault(name, {"layer": name, "calls": 0, "self_s": 0.0, "selfs": []})
            r["calls"] += v["n"]
            r["self_s"] += v["self"]
            r["selfs"].append(v["self"])
    total = sum(r["self_s"] for r in rows.values()) or 1.0
    out = []
    for r in sorted(rows.values(), key=lambda r: -r["self_s"]):
        out.append({
            "layer": r["layer"],
            "calls": r["calls"],
            "self_ms_total": r["self_s"] * 1e3,
            "self_ms_p50": statistics.median(r["selfs"]) * 1e3,
            "share": r["self_s"] / total,
        })
    return out


def render(rows: list[dict], title: str) -> str:
    lines = [title, f"{'layer':<16}{'calls':>7}{'self p50 ms':>13}{'self total ms':>15}{'share':>8}"]
    for r in rows:
        lines.append(
            f"{r['layer']:<16}{r['calls']:>7}{r['self_ms_p50']:>13.2f}"
            f"{r['self_ms_total']:>15.1f}{r['share']:>8.1%}"
        )
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) != 2 or not os.path.isfile(sys.argv[1]):
        sys.exit("usage: python perfbench/spans.py <spans.json>")
    with open(sys.argv[1]) as fh:
        print(render(layer_table(json.load(fh)), f"self time by layer: {sys.argv[1]}"))
