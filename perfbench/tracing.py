"""Measurement plumbing: process-tree CPU and memory from /proc, spans
around the engine's public functions, and per-op Spark stage counters.

Spans are recorded only in a traced run. ``Tracer.install`` replaces the
engine's public entry points (and the one private spread helper in
``operators.dedup``) with timing wrappers; it must run before any query
module is imported, because some modules bind those names at import time.
Spans stay in memory until ``Tracer.dump``.

Stage counters are read from Spark's status store right after each op,
filtered by the job group the op ran under, so they do not depend on how
many finished stages the store still retains.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import Counter
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended while we walked the table
        return None
    # the command name may hold spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pids: list[int]) -> list[int]:
    """The processes of ``pids`` that still run (zombies count as ended)."""
    out = []
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None and fields[0] != "Z":
            out.append(pid)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree: user + system time of
    every live process plus what each has collected from reaped children."""
    total = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (proc(5) fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's cores (proc(5) ``steal``); shows when a slow run was slowed
    by its neighbours."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def tree_hwm_mb() -> float:
    """Sum of the peak resident set size (VmHWM) over the process tree."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


# ---------------------------------------------------------------- spans


class Tracer:
    """Spans (name, start, end, parent, op) plus per-op stage counters."""

    def __init__(self) -> None:
        self.enabled = False
        self.op: str | None = None
        self.spans: list[dict] = []
        self.stages: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def wrap(self, name: str, fn, note=None):
        """``fn`` timed as span ``name``; ``note(args, result)`` returns
        extra fields for the span, e.g. whether a spread fired."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if note is not None:
                    rec.update(note(args, out))
                return out

        return wrapper

    def install(self) -> None:
        """Wrap the engine's layer boundaries. Call before importing any
        query module."""
        from filmdatawarehouse_spark.io import sinks, sources
        from filmdatawarehouse_spark.operators import cache

        for name in ("planned_partitions", "plan_size_bytes"):
            setattr(sources, name, self.wrap("io.sources.probe", getattr(sources, name)))
        sources.spread_unsplittable_scan = self.wrap(
            "io.sources.spread",
            sources.spread_unsplittable_scan,
            lambda a, out: {"fired": out is not a[0]},
        )
        sources.scan_is_subparallel = self.wrap(
            "io.sources.spread",
            sources.scan_is_subparallel,
            lambda a, out: {"fired": bool(out)},
        )
        # a persist call that finds its plan already cached returns the
        # frame without persisting it: that is a cache hit
        cache.managed_persist = self.wrap(
            "operators.cache.persist",
            cache.managed_persist,
            lambda a, out: {"hit": not out.is_cached},
        )
        cache.release_managed = self.wrap("operators.cache.release", cache.release_managed)
        for name in ("write_table", "write_fact"):
            setattr(sinks, name, self.wrap("io.sinks.write", getattr(sinks, name)))
        # dedup binds managed_persist at import, so import it only now.
        # Its spread helper is private: skip it once a refactor removes it.
        from filmdatawarehouse_spark.operators import dedup

        if hasattr(dedup, "_spread_for_compute"):
            dedup._spread_for_compute = self.wrap(
                "io.sources.spread",
                dedup._spread_for_compute,
                lambda a, out: {"fired": out[0] is not a[0]},
            )

    def read_stages(self, spark, op: str, phase: str) -> None:
        """Record the stages of every job that ran under the job group
        ``<op>:<phase>``."""
        group = f"{op}:{phase}"
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        rec = Counter(jobs=len(jobs))
        for sid in stage_ids:
            d = store.lastStageAttempt(sid)
            if d.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            n = d.numTasks()
            rec["stages"] += 1
            rec["tasks"] += n
            rec["single_task_stages"] += n == 1
            rec["task_run_s"] += d.executorRunTime() / 1e3
            rec["task_cpu_s"] += d.executorCpuTime() / 1e9
            rec["input_mb"] += d.inputBytes() / 1e6
            rec["input_rows"] += d.inputRecords()
            rec["output_mb"] += d.outputBytes() / 1e6
            rec["shuffle_read_mb"] += d.shuffleReadBytes() / 1e6
            rec["shuffle_write_mb"] += d.shuffleWriteBytes() / 1e6
            rec["spill_mb"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / 1e6
            rec["gc_s"] += d.jvmGcTime() / 1e3
        self.stages.append({"op": op, "phase": phase, **rec})

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "stages": self.stages}, f)


def cached_mb(spark) -> float:
    """Storage memory plus disk currently held by cached blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6
