"""In-memory spans recorded around calls into the program's public API.

Spans are kept in a list while the run lasts and written out once at the
end. Each span records name, start, end, parent span and op id; a layer is
the part of the span name before the first dot. A span's self time is its
duration minus the part of it covered by its child spans.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, int] = {}
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, fn, name: str, on_call=None):
        """``fn`` recorded as span ``name``; ``on_call(args, kwargs)`` runs
        first on every call (used for counting)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if on_call is not None:
                on_call(args, kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def durations(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def outer_durations(self, name: str) -> float:
        """Like :meth:`durations`, skipping spans nested in a same-name span."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != name:
                p = self.spans[p]["parent"]
            if p is None:
                total += s["end"] - s["start"]
        return total

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: span duration minus child coverage."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered = _union_length(
                [(c["start"], c["end"]) for c in children.get(i, [])]
            )
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": self.counts}, fh)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def patch_everywhere(target, replacement, prefix: str = "dbt_meshify_spark") -> int:
    """Rebind every module-level name under ``prefix`` that refers to
    ``target`` (the defining module and every ``from x import target``
    site). Returns the number of bindings replaced."""
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(prefix):
            continue
        for attr, value in list(vars(mod).items()):
            if value is target:
                setattr(mod, attr, replacement)
                n += 1
    return n
