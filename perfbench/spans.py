"""Layer tracing from outside the package.

The package's subpackages are its layers.  :func:`install` wraps every
public function (and public method of a public class) defined in a layer
module so each call records a *layer span*, then rebinds the wrapped
names in every module that imported them (``pipelines.philly311.upsert``
is the same function object as ``operators.merge.upsert`` and must be
wrapped too), and in the query registry.  It also wraps the DataFrame /
RDD actions and writer calls, which record *action spans* parented to
the innermost open layer span.

Spark is lazy, so a layer call mostly builds a plan: a layer's
``construct_s`` is its self time minus every child span, its
``exec_s`` the summed action spans it issued directly.  When the
benchmark client runs a DataFrame a layer returned (a registry plan,
a pipeline step it then checkpoints), it does so inside
:func:`charge`, which bills those actions to that layer's ``exec_s``.
Any other action the client issues lands in the ``client``
pseudo-layer.

Spans live in memory; :meth:`Tracer.dump` writes them as JSON.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import sys
import threading
import time

PKG = "pipeline311_spark"
LAYERS = (
    "sources", "functions", "operators", "sinks", "streaming",
    "pipelines", "ext", "plans", "session", "api",
)

_DF_ACTIONS = (
    "count", "collect", "first", "take", "head", "toPandas", "foreach",
    "foreachPartition", "localCheckpoint", "checkpoint", "isEmpty", "toLocalIterator",
)
_RDD_ACTIONS = ("collect", "count", "take", "foreachPartition", "reduce", "isEmpty", "sum")
_WRITER_ACTIONS = ("parquet", "csv", "json", "orc", "text", "save", "saveAsTable", "insertInto")


class Span:
    __slots__ = ("name", "layer", "kind", "start", "end", "parent", "children_s")

    def __init__(self, name, layer, kind, start, parent):
        self.name, self.layer, self.kind = name, layer, kind
        self.start, self.end, self.parent = start, None, parent
        self.children_s = 0.0


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.enabled = False
        self.on_action_end = None  # callback(span) — e.g. a storage sampler
        self._local = threading.local()

    # -- span stack ----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name, layer, kind) -> int | None:
        st = self._stack()
        parent = st[-1] if st else None
        if kind == "action" and parent is not None and self.spans[parent].kind == "action":
            return None  # an action inside an action (first -> take -> collect)
        self.spans.append(Span(name, layer, kind, time.perf_counter(), parent))
        idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def _close(self, idx: int | None) -> None:
        if idx is None:
            return
        sp = self.spans[idx]
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()
        if sp.parent is not None:
            self.spans[sp.parent].children_s += sp.end - sp.start
        if sp.kind == "action" and self.on_action_end is not None:
            self.on_action_end(sp)

    def wrap(self, fn, name: str, layer: str, kind: str = "layer"):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer._open(name, layer, kind)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(idx)

        traced.__perfbench_original__ = fn
        return traced

    # -- results -------------------------------------------------------------
    def mark(self) -> int:
        return len(self.spans)

    def layer_times(self, since: int = 0) -> dict[str, dict[str, float]]:
        """{layer: {construct_s, exec_s, calls, actions}} over spans
        recorded after ``since``; actions outside any layer call count
        for the ``client`` pseudo-layer."""
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans[since:]:
            if sp.end is None:
                continue
            dur = sp.end - sp.start
            if sp.kind == "layer":
                row = out.setdefault(sp.layer, _zero())
                row["construct_s"] += dur - sp.children_s
                row["calls"] += 1
            elif sp.kind == "action":
                owner = self.spans[sp.parent].layer if sp.parent is not None else "client"
                row = out.setdefault(owner, _zero())
                row["exec_s"] += dur
                row["actions"] += 1
        return out

    def actions_under(self, layer: str, since: int = 0) -> int:
        """Actions issued anywhere below a call into ``layer`` (the
        blocking driver round trips that layer waits on)."""
        n = 0
        for sp in self.spans[since:]:
            if sp.kind != "action":
                continue
            p = sp.parent
            while p is not None:
                if self.spans[p].layer == layer and self.spans[p].kind == "layer":
                    n += 1
                    break
                p = self.spans[p].parent
        return n

    def dump(self, path: str, extra: dict) -> None:
        rows = [
            {
                "name": sp.name, "layer": sp.layer, "kind": sp.kind,
                "start": sp.start, "end": sp.end, "parent": sp.parent,
                "run_id": self.run_id,
            }
            for sp in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows,
                       "self_time": self.layer_times(), **extra}, f)


_ACTIVE: Tracer | None = None


@contextlib.contextmanager
def charge(layer: str):
    """Bill the actions issued inside the block to ``layer`` (the client
    running a DataFrame that layer built).  A no-op unless tracing."""
    tracer = _ACTIVE
    if tracer is None or not tracer.enabled:
        yield
        return
    idx = tracer._open(f"{layer}.<client>", layer, "charge")
    try:
        yield
    finally:
        tracer._close(idx)


def _zero() -> dict[str, float]:
    return {"construct_s": 0.0, "exec_s": 0.0, "calls": 0, "actions": 0}


def _layer_of(modname: str) -> str | None:
    parts = modname.split(".")
    if parts[0] != PKG or len(parts) < 2:
        return None
    return parts[1] if parts[1] in LAYERS else None


def _skip_class(cls) -> bool:
    # Python data sources run in Spark's Python workers, never here
    return any(b.__module__.startswith("pyspark.sql.datasource") for b in cls.__mro__[1:])


def install(tracer: Tracer) -> int:
    """Wrap the layer functions and the Spark actions; return the number
    of wrapped layer callables."""
    global _ACTIVE
    import importlib
    import pkgutil

    from pyspark import RDD
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    # import every layer module first: a module the workload imports
    # lazily would otherwise escape the wrapping
    pkg = importlib.import_module(PKG)
    for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
        if _layer_of(info.name) is not None:
            importlib.import_module(info.name)

    wrapped: dict[int, object] = {}
    for modname, mod in list(sys.modules.items()):
        layer = _layer_of(modname)
        if layer is None or mod is None:
            continue
        short = modname[len(PKG) + 1:]
        for name, obj in list(vars(mod).items()):
            if name.startswith("_") or getattr(obj, "__module__", None) != modname:
                continue
            if inspect.isfunction(obj):
                w = tracer.wrap(obj, f"{short}.{name}", layer)
                wrapped[id(obj)] = w
                setattr(mod, name, w)
            elif inspect.isclass(obj) and not _skip_class(obj):
                for attr, meth in list(vars(obj).items()):
                    if attr.startswith("_") or not inspect.isfunction(meth):
                        continue
                    setattr(obj, attr, tracer.wrap(meth, f"{short}.{name}.{attr}", layer))
    # rebind names imported elsewhere (from x import f)
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
            continue
        for name, obj in list(vars(mod).items()):
            w = wrapped.get(id(obj)) if inspect.isfunction(obj) else None
            if w is not None:
                setattr(mod, name, w)
    registry = sys.modules.get(f"{PKG}.plans.registry")
    if registry is not None:
        for spec in registry.REGISTRY.values():
            w = wrapped.get(id(spec.fn))
            if w is not None:
                object.__setattr__(spec, "fn", w)

    for cls, names, tag in (
        (DataFrame, _DF_ACTIONS, "DataFrame"),
        (RDD, _RDD_ACTIONS, "RDD"),
        (DataFrameWriter, _WRITER_ACTIONS, "write"),
    ):
        for n in names:
            fn = getattr(cls, n, None)
            if fn is not None and not hasattr(fn, "__perfbench_original__"):
                setattr(cls, n, tracer.wrap(fn, f"{tag}.{n}", "action", kind="action"))
    _ACTIVE = tracer
    return len(wrapped)
