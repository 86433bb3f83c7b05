"""Machine counters and the layer tracer used by the traced run.

Everything here observes the library from outside: CPU and steal come from
``/proc/stat``, storage and task statistics from Spark's status tracker and
status store, and layer spans from wrappers that the benchmark installs
around a layer's public function for the duration of one traced call.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_MB = 1024.0 * 1024.0


def proc_stat() -> tuple[float, float, float]:
    """(busy, steal, total) CPU-seconds of the whole machine since boot.

    busy = user + nice + system + irq + softirq; idle and iowait are not
    busy; steal is time the hypervisor gave to other guests.
    """
    with open("/proc/stat") as f:
        parts = [int(v) for v in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = parts[:8]
    hz = os.sysconf("SC_CLK_TCK")
    busy = user + nice + system + irq + softirq
    return busy / hz, steal / hz, (busy + idle + iowait + steal) / hz


def cpu_busy_s() -> float:
    return proc_stat()[0]


def steal_pct(start: tuple[float, float, float]) -> float:
    """Share of machine CPU time stolen since ``start`` (a proc_stat())."""
    now = proc_stat()
    total = now[2] - start[2]
    return 100.0 * (now[1] - start[1]) / total if total > 0 else 0.0


def storage_mb(sc) -> float:
    """Executor storage (memory + disk) held by every persisted RDD or
    DataFrame of the context, in MiB."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / _MB


@dataclass
class Span:
    layer: str
    group: str
    parent: "Span | None"
    wall_s: float = 0.0
    cpu_s: float = 0.0
    rows_out: int = 0
    children: list = field(default_factory=list)
    inputs: tuple = ()  # the wrapped call's positional arguments

    @property
    def self_wall_s(self) -> float:
        return self.wall_s - sum(c.wall_s for c in self.children)

    @property
    def self_cpu_s(self) -> float:
        return self.cpu_s - sum(c.cpu_s for c in self.children)


class Tracer:
    """Spans around layer calls, each under its own Spark job group.

    A span's job group is unique (``perfbench:<n>:<layer>``), so every job
    Spark runs while the span is innermost is attributed to that span
    alone; wall and CPU are reported as self time (the span minus its
    child spans). Spans live in memory until ``layer_stats`` reads them.
    """

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.persisted: list = []
        self._stack: list[Span] = []
        self._seq = 0

    @contextmanager
    def span(self, layer: str, inputs: tuple = ()):
        parent = self._stack[-1] if self._stack else None
        self._seq += 1
        sp = Span(layer, f"perfbench:{self._seq}:{layer}", parent,
                  inputs=inputs)
        if parent is not None:
            parent.children.append(sp)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, layer)
        c0, t0 = cpu_busy_s(), time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            sp.cpu_s = cpu_busy_s() - c0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.layer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, layer: str, fn):
        """``fn`` inside a span whose DataFrame result is persisted and
        counted before the span closes, so the layer's work runs inside
        its own span instead of inside whichever later action needs it."""

        def traced(*args, **kwargs):
            with self.span(layer, inputs=args) as sp:
                out = fn(*args, **kwargs).persist()
                self.persisted.append(out)
                sp.rows_out = out.count()
            return out

        return traced

    @contextmanager
    def patched(self, module, layers: dict):
        """Replace ``module.<name>`` by its traced wrapper for each
        ``name -> layer`` in ``layers``; restored on exit."""
        originals = {name: getattr(module, name) for name in layers}
        try:
            for name, layer in layers.items():
                setattr(module, name, self.wrap(layer, originals[name]))
            yield
        finally:
            for name, fn in originals.items():
                setattr(module, name, fn)

    def release(self) -> None:
        for df in self.persisted:
            df.unpersist(blocking=True)
        self.persisted.clear()

    def layer_stats(self) -> dict[str, dict[str, float]]:
        """Per-layer sums over every recorded span: self wall/CPU, rows
        out, jobs, completed tasks, and, where the status store can be
        read, shuffle write and memory spill."""
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            d = out.setdefault(sp.layer, {
                "wall_s": 0.0, "cpu_s": 0.0, "rows_out": 0, "jobs": 0,
                "tasks": 0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            })
            d["wall_s"] += sp.self_wall_s
            d["cpu_s"] += sp.self_cpu_s
            d["rows_out"] += sp.rows_out
            g = group_stats(self.sc, sp.group)
            for k, v in g.items():
                if k in d:
                    d[k] += v
            if "shuffle_write_mb" not in g:
                d.pop("shuffle_write_mb", None)
                d.pop("spill_mb", None)
        return out


def group_stats(sc, group: str) -> dict[str, float]:
    """Jobs and completed tasks of a job group from the status tracker,
    plus shuffle write and memory spill from the status store. The two
    store-only figures are left out when the store cannot be read."""
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup(group))
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks
    out = {"jobs": len(jobs), "tasks": tasks}
    try:
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        shuffle = spill = 0
        for s in stages:
            attempts = store.stageData(
                s, False, jvm.java.util.ArrayList(), False, no_quantiles
            )
            for i in range(attempts.size()):
                a = attempts.apply(i)
                shuffle += a.shuffleWriteBytes()
                spill += a.memoryBytesSpilled()
    except Exception:  # status store unreadable: omit, never estimate
        return out
    out["shuffle_write_mb"] = shuffle / _MB
    out["spill_mb"] = spill / _MB
    return out


def median_of(dicts: list[dict[str, float]]) -> dict[str, float]:
    """Key-wise median over per-call dicts (keys present in every dict)."""
    keys = set(dicts[0]).intersection(*dicts[1:]) if dicts else set()
    return {k: statistics.median(d[k] for d in dicts) for k in sorted(keys)}
