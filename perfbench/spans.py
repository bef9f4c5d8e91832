"""In-memory spans around the package's layer entry points.

The benchmark wraps public entry points from the outside (it never edits
the package): each wrapper records a span — name, start, end, parent and
the id of the operation (tick or query) it ran in — and runs its body
under a Spark job group of its own, restoring the caller's group
afterwards.  Jobs, stages and tasks are attributed to the innermost span
whose group was active when they started, read back from
``SparkContext.statusTracker`` once the run is over.

Spans stay in memory until the benchmark writes them out at the end.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from collections.abc import Callable, Iterator
from typing import Any

GROUP_KEY = "spark.jobGroup.id"


def wait_for_listener_bus(sc) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status tracker has seen every job and task that already finished."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran tasks, completed tasks and failed tasks that
    Spark recorded under ``group``."""
    st = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0}
    for jid in st.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None:
                continue
            if si.numCompletedTasks + si.numFailedTasks > 0:
                out["stages"] += 1
            out["tasks"] += si.numCompletedTasks
            out["tasks_failed"] += si.numFailedTasks
    return out


@contextlib.contextmanager
def job_group(sc, group: str) -> Iterator[None]:
    """Run the body under Spark job group ``group``; restore the caller's."""
    prev = sc.getLocalProperty(GROUP_KEY)
    sc.setLocalProperty(GROUP_KEY, group)
    try:
        yield
    finally:
        sc.setLocalProperty(GROUP_KEY, prev)


class Tracer:
    """Span recorder.  While ``enabled`` is false every wrapper calls
    straight through, so traced and untraced ticks can alternate in one
    run and their difference measures the tracing overhead."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict[str, Any]] = []
        self.enabled = False
        self.op: str | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[Any, str, Any]] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[dict[str, Any] | None]:
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        rec: dict[str, Any] = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "group": f"perfbench-span-{idx}",
        }
        self.spans.append(rec)
        self._stack.append(idx)
        with job_group(self.sc, rec["group"]):
            rec["start"] = time.perf_counter()
            try:
                yield rec
            finally:
                rec["end"] = time.perf_counter()
                self._stack.pop()

    def wrap(
        self, fn: Callable, name: str, on_exit: Callable | None = None
    ) -> Callable:
        """``fn`` recorded as span ``name``; ``on_exit(rec, args, result)``
        may add attributes to the span after the call returns."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if on_exit is not None:
                    on_exit(rec, args, out)
                return out

        return wrapper

    def patch(self, owner: Any, attr: str, name: str, on_exit: Callable | None = None):
        orig = getattr(owner, attr)
        setattr(owner, attr, self.wrap(orig, name, on_exit))
        self._patches.append((owner, attr, orig))

    def patch_function(
        self, module_prefix: str, fn: Callable, name: str, on_exit: Callable | None = None
    ) -> None:
        """Wrap ``fn`` wherever a loaded module under ``module_prefix``
        bound it by name (``from ..io import load_table`` copies the
        reference into the importing module)."""
        wrapped = self.wrap(fn, name, on_exit)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(module_prefix):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapped)
                    self._patches.append((mod, attr, fn))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def attach_counts(self) -> None:
        """Read jobs/stages/tasks for every span's group (call after the
        measured work, once the listener bus has drained)."""
        wait_for_listener_bus(self.sc)
        for rec in self.spans:
            rec.update(group_counts(self.sc, rec["group"]))
