"""Module spans for the traced run, recorded from outside the program.

``Tracer.install()`` wraps every public function and every public method of
a public class defined in each module of ``LAYERS``, and rebinds any name
another loaded module imported from those modules (``__spark_entry__``
binds ``dedup_fuzzy`` and many more at import time).  Each call records a
span ``(layer, name, start, end, parent, tag)``; spans stay in memory until
``dump()``.  A layer's self time is its spans' duration minus the part of
it their child spans cover.  Nothing is wrapped unless ``install()`` runs.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time

LAYERS = {
    "api.frame": "polars_net_spark.frame",
    "api.exprs": "polars_net_spark.exprs",
    "api.io": "polars_net_spark.io",
    "api.sql": "polars_net_spark.sql",
    "operators.distsort": "polars_net_spark.operators.distsort",
    "operators.regression": "polars_net_spark.operators.regression",
    "operators.analytics": "polars_net_spark.operators.analytics",
    "operators.graph": "polars_net_spark.operators.graph",
    "operators.joins_ext": "polars_net_spark.operators.joins_ext",
    "operators.sketches": "polars_net_spark.operators.sketches",
    "llm.dedup": "polars_net_spark.llm.dedup",
    "llm.similarity": "polars_net_spark.llm.similarity",
    "llm.text": "polars_net_spark.llm.text",
    "llm.vocab": "polars_net_spark.llm.vocab",
    "llm.quality": "polars_net_spark.llm.quality",
    "llm.evaluation": "polars_net_spark.llm.evaluation",
    "streaming.stream": "polars_net_spark.streaming.stream",
}


class Tracer:
    def __init__(self) -> None:
        # one record per call: [layer, name, start, end, parent index, tag]
        self.spans: list[list] = []
        self.tag = ""  # "<pass>/<gate>": the spans of one gate execution share it
        self._stacks = threading.local()
        self._lock = threading.Lock()

    def _wrap(self, layer: str, fn):
        name = fn.__qualname__

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = getattr(self._stacks, "s", None)
            if stack is None:
                stack = self._stacks.s = []
            with self._lock:
                idx = len(self.spans)
                self.spans.append(
                    [layer, name, time.perf_counter(), None, stack[-1] if stack else None, self.tag]
                )
            stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                self.spans[idx][3] = time.perf_counter()

        return traced

    def install(self) -> int:
        """Wrap the layers' public callables; returns how many were wrapped."""
        rebind: dict[int, object] = {}  # id(original function) -> its wrapper
        count = 0
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != modname:
                    continue
                if inspect.isfunction(obj):
                    rebind[id(obj)] = self._wrap(layer, obj)
                    count += 1
                elif inspect.isclass(obj):
                    for m, fn in list(vars(obj).items()):
                        if not m.startswith("_") and inspect.isfunction(fn):
                            setattr(obj, m, self._wrap(layer, fn))
                            count += 1
        # every loaded module of the program that bound one of those
        # functions by name, the defining module included
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", None) or ""
            if mname != "__spark_entry__" and not mname.startswith("polars_net_spark"):
                continue
            for attr, obj in list(vars(mod).items()):
                w = rebind.get(id(obj))
                if w is not None and w.__wrapped__ is obj:
                    setattr(mod, attr, w)
        return count

    def layer_totals(self, pass_name: str) -> dict[str, dict[str, float]]:
        """Per layer: ``self_s`` (span time not covered by child spans) and
        ``calls``, over the finished spans tagged ``<pass_name>/<gate>``."""
        child = [0.0] * len(self.spans)
        for layer, _, start, end, parent, _ in self.spans:
            if parent is not None and end is not None:
                child[parent] += end - start
        out = {layer: {"self_s": 0.0, "calls": 0} for layer in LAYERS}
        for i, (layer, _, start, end, _, t) in enumerate(self.spans):
            if t.startswith(pass_name + "/") and end is not None:
                out[layer]["self_s"] += (end - start) - child[i]
                out[layer]["calls"] += 1
        return out

    def dump(self, path: str) -> None:
        cols = ["layer", "name", "start", "end", "parent", "tag"]
        with open(path, "w") as f:
            json.dump({"columns": cols, "spans": self.spans}, f)
