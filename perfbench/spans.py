"""In-memory spans around calls into the program, set from outside it.

``Tracer.span`` times a block and gives it its own Spark job group, so
the jobs a block starts itself are read back per span from the status
tracker. ``instrument`` wraps the public functions of the program's
modules in spans; nothing in the program is edited. The wrappers keep
the wrapped function's module and qualified name, so a wrapper that
ends up inside a UDF closure is pickled by reference and runs
unwrapped (``_ACTIVE`` is None) in the Python workers.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import time
from contextlib import contextmanager

# the tracer the wrappers report to; None outside a traced pass
_ACTIVE = None
_self = sys.modules[__name__]

# boundaries instrumented besides every module under sparkobs.operators:
# module -> metric prefix (None: every public function of the module)
BOUNDARIES = {
    "sparkobs.sources.files": None,
    "sparkobs.sources.jdbc": None,
    "sparkobs.sources.listing": None,
    "sparkobs.io": ("load_table", "pin_corpus_frame", "ensure_stage"),
    "sparkobs.monitors": None,
    "sparkobs.streaming.monitors": ("run_to_memory",),
}


class Span:
    __slots__ = ("sid", "parent", "name", "layer", "t0", "t1", "wall0", "wall1",
                 "jobs")

    def __init__(self, sid, parent, name, layer):
        self.sid, self.parent, self.name, self.layer = sid, parent, name, layer
        self.t0, self.wall0 = time.perf_counter(), time.time()
        self.t1 = self.wall1 = None
        self.jobs = 0


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.sid if parent else None, name, layer)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"pb-{sp.sid}", name, False)
        try:
            yield sp
        finally:
            sp.t1, sp.wall1 = time.perf_counter(), time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"pb-{parent.sid}", parent.name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def resolve_jobs(self) -> None:
        """Fill each span's self job count from the status tracker."""
        st = self.sc.statusTracker()
        for sp in self.spans:
            sp.jobs = len(st.getJobIdsForGroup(f"pb-{sp.sid}"))

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        own = {sp.sid: sp.t1 - sp.t0 for sp in self.spans}
        for sp in self.spans:
            if sp.parent is not None:
                own[sp.parent] -= sp.t1 - sp.t0
        return own

    def subtree_jobs(self, sid: int) -> int:
        kids: dict[int, list[int]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp.sid)
        todo, total = [sid], 0
        while todo:
            s = todo.pop()
            total += self.spans[s].jobs
            todo.extend(kids.get(s, ()))
        return total


def _wrap(fn, label: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tracer = _self._ACTIVE
        if tracer is None:
            return fn(*args, **kwargs)
        with tracer.span(fn.__name__, label):
            return fn(*args, **kwargs)

    return wrapper


def operator_modules() -> list[str]:
    import sparkobs.operators as ops

    return sorted(info.name for info in pkgutil.iter_modules(ops.__path__))


def _targets() -> dict[str, tuple[str, tuple[str, ...] | None]]:
    """module -> (span layer label, function names or None for all)."""
    out = {f"sparkobs.operators.{m}": (f"operators.{m}", None)
           for m in operator_modules()}
    out.update({mod: (mod.removeprefix("sparkobs."), names)
                for mod, names in BOUNDARIES.items()})
    return out


def instrument() -> int:
    """Wrap every public function at the boundaries; returns the count.

    Module-level names elsewhere in the program that are bound to a
    wrapped function (``from x import f`` at import time) are rebound
    to the wrapper too."""
    wrapped: dict[int, object] = {}
    for modname, (label, names) in _targets().items():
        mod = importlib.import_module(modname)
        for name, obj in list(vars(mod).items()):
            if not inspect.isfunction(obj) or obj.__module__ != modname:
                continue
            if names is None and name.startswith("_"):
                continue
            if names is not None and name not in names:
                continue
            w = _wrap(obj, label if names is None else f"{label}.{name}")
            setattr(mod, name, w)
            wrapped[id(obj)] = w
    for m in list(sys.modules.values()):
        mname = getattr(m, "__name__", "")
        if not (mname.startswith("sparkobs") or mname == "__spark_entry__"):
            continue
        for k, v in list(vars(m).items()):
            w = wrapped.get(id(v))
            if w is not None and v is not w:
                setattr(m, k, w)
    return len(wrapped)
