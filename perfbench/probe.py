"""Measurement from outside the package: spans around the calls into
each layer's public functions, and engine counters read through public
Spark status APIs. Nothing inside ``module8_movies_etl_spark`` is
edited; tracing rebinds names for the duration of one traced pass and
restores them afterwards.
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import time
from contextlib import contextmanager

PACKAGE = "module8_movies_etl_spark"
GROUP_PROP = "spark.jobGroup.id"


def dir_bytes(path: str) -> int:
    """Bytes in the files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass  # a snapshot dir released while we walk it
    return total


class Tracer:
    """In-memory spans: ``(name, start, end, parent index)``.

    A span of a name already open on the stack is not nested again, so
    a layer's recursion or self-calls count once, at the outermost call.
    ``job_group`` spans also tag the Spark jobs they launch with
    ``pb.<name>`` so they can be counted per layer afterwards.
    """

    def __init__(self, spark, scratch_root: str | None = None):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float, float, int]] = []
        self.open: list[tuple[str, int]] = []
        self.groups: set[str] = set()
        self.write_bytes = 0
        self.scratch_root = scratch_root
        self.scratch_peak = 0
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, job_group: bool = False):
        if any(n == name for n, _ in self.open):
            yield
            return
        idx = len(self.spans)
        parent = self.open[-1][1] if self.open else -1
        self.spans.append((name, 0.0, 0.0, parent))
        self.open.append((name, idx))
        prev = None
        if job_group:
            group = f"pb.{name}"
            self.groups.add(group)
            prev = self.sc.getLocalProperty(GROUP_PROP)
            self.sc.setLocalProperty(GROUP_PROP, group)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            if job_group:
                self.sc.setLocalProperty(GROUP_PROP, prev)
            self.open.pop()
            self.spans[idx] = (name, start, end, parent)
            if self.scratch_root:
                self.scratch_peak = max(self.scratch_peak, dir_bytes(self.scratch_root))

    # -- rebinding ---------------------------------------------------------
    def wrap(self, fn, name: str, job_group: bool = False, on_return=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, job_group):
                out = fn(*args, **kwargs)
            if on_return is not None:
                on_return(args, kwargs, out)
            return out

        return traced

    def patch(self, fn, wrapper) -> int:
        """Rebind every package-module name bound to ``fn`` (its home
        module and every ``from x import fn`` copy) to ``wrapper``."""
        hits = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._undo.append((mod, attr, fn))
                    setattr(mod, attr, wrapper)
                    hits += 1
        return hits

    def patch_module_functions(self, module, prefix: str) -> None:
        """Wrap every public function defined in ``module``."""
        for attr, val in list(vars(module).items()):
            if (not attr.startswith("_") and inspect.isfunction(val)
                    and val.__module__ == module.__name__):
                self.patch(val, self.wrap(val, prefix))

    def restore(self) -> None:
        for mod, attr, fn in reversed(self._undo):
            setattr(mod, attr, fn)
        self._undo.clear()

    # -- summaries ---------------------------------------------------------
    def total(self, name: str) -> float:
        return sum(e - s for n, s, e, _ in self.spans if n == name)

    def count(self, name: str) -> int:
        return sum(1 for n, *_ in self.spans if n == name)

    def dump(self) -> list[dict]:
        return [{"name": n, "start": s, "end": e, "parent": p} for n, s, e, p in self.spans]


class EngineCounters:
    """Deltas of the local executor's summary plus per-group job counts.

    The status store is fed by the listener bus asynchronously, so every
    read first waits for the bus to drain.
    """

    FIELDS = ("totalTasks", "failedTasks", "totalDuration", "totalGCTime",
              "totalInputBytes", "totalShuffleRead", "totalShuffleWrite")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def settle(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def snapshot(self) -> dict[str, int]:
        self.settle()
        summary = self.jsc.statusStore().executorSummary("driver")
        return {f: int(getattr(summary, f)()) for f in self.FIELDS}

    def jobs(self, group: str) -> list[int]:
        self.settle()
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, job_ids: list[int]) -> int:
        tracker = self.sc.statusTracker()
        n = 0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                n += len(info.stageIds)
        return n
