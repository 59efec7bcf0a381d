"""Spans recorded from the benchmark's side of the package boundary.

``Tracer.install`` wraps public functions of the engine's modules (module or
class attributes, restored by ``uninstall``); nothing inside the package
changes. Spans stay in memory until the run ends. ``read_event_log`` pulls
shuffle and task-time figures out of the Spark event log of the traced
session.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Stand-in for untraced runs: spans are throwaway objects, nothing is
    recorded or wrapped."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield Span(name, 0.0, 0.0, None, dict(attrs))


class Tracer:
    """In-memory span recorder. ``span()`` is a context manager for the
    benchmark's own steps; ``install()`` wraps engine functions."""

    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        i = self._open(name, attrs)
        try:
            yield self.spans[i]
        finally:
            self._close(i)

    def _open(self, name, attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, dict(attrs)))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, i: int) -> None:
        self.spans[i].end = time.perf_counter()
        self._stack.pop()

    def wrap(self, owner, attr: str, name: str, on_return=None) -> None:
        """Replace ``owner.attr`` by a wrapper recording span ``name``;
        ``on_return(span_attrs, result, args)`` may add attributes."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            i = self._open(name, {})
            try:
                out = fn(*args, **kwargs)
                if on_return is not None:
                    on_return(self.spans[i].attrs, out, args)
                return out
            finally:
                self._close(i)

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the engine's layer-boundary functions."""
        from cassovary_spark import plans
        from cassovary_spark.checkpoint import CheckpointStore, StateScratch
        from cassovary_spark.operators import local_engine as LE

        def parts(attrs, out, _args):
            attrs["partitions"] = int(out)

        def transfer(attrs, out, _args):
            ids, si, di = out
            attrs["vertices"] = len(ids)
            attrs["edges"] = len(si)
            attrs["bytes"] = int(ids.nbytes + si.nbytes + di.nbytes)

        def kernel(attrs, out, args):
            ids, si = args[0], args[1]
            attrs["edges"] = len(si)
            attrs["vertices"] = len(ids)
            # PageRank/HITS/PPR kernels return an iteration count
            its = [x for x in (out if isinstance(out, tuple) else ()) if isinstance(x, int)]
            attrs["iterations"] = its[-1] if its else None

        def roundtrip(attrs, _out, args):
            attrs["bucketed"] = bool(args[0]._bucketing_ok)

        def save(attrs, _out, args):
            store, iteration = args[0], args[1]
            attrs["bytes"] = dir_bytes(store._iter_dir(iteration))

        self.wrap(plans, "choose_partitions", "plans.choose_partitions", parts)
        self.wrap(LE, "edges_to_numpy", "local_engine.transfer", transfer)
        for op, fn in KERNELS.items():
            self.wrap(LE, fn, f"local_engine.kernel.{op}", kernel)
        self.wrap(LE, "result_df", "local_engine.result")
        self.wrap(StateScratch, "roundtrip", "checkpoint.scratch_roundtrip", roundtrip)
        self.wrap(CheckpointStore, "save", "checkpoint.save", save)
        self.wrap(CheckpointStore, "latest", "checkpoint.latest")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def as_records(self) -> list[dict]:
        return [{"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                 **s.attrs} for s in self.spans]


KERNELS = {
    "pagerank": "pagerank_numpy",
    "ppr": "ppr_numpy",
    "hits": "hits_numpy",
    "cc": "connected_components_numpy",
    "lpa": "label_propagation_numpy",
}


class RoutingProbe:
    """Counts calls into the local engine's edge transfer, the one entry
    every local-engine operator path takes, so each step's routing can be
    checked in untraced runs too (a counter, no timing)."""

    def __init__(self):
        from cassovary_spark.operators import local_engine as LE

        self._le = LE
        self._orig = LE.edges_to_numpy
        self.calls = 0

        def counted(*args, **kwargs):
            self.calls += 1
            return self._orig(*args, **kwargs)

        LE.edges_to_numpy = counted

    def close(self) -> None:
        self._le.edges_to_numpy = self._orig


def dir_bytes(path, skip: tuple[str, ...] = ()) -> int:
    """Bytes of the files under ``path``, leaving out subdirectories named
    in ``skip``."""
    total = 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if d not in skip]
        for f in filenames:
            with contextlib.suppress(FileNotFoundError):
                total += os.lstat(os.path.join(dirpath, f)).st_size
    return total


def read_event_log(log_dir: str, groups: set[str]) -> dict:
    """Shuffle bytes/records written and per-stage task skew for the jobs
    of the given job groups, from the event log files under ``log_dir``
    (read after the session stopped, so they are flushed)."""
    stages: set[int] = set()
    tasks: dict[int, list[float]] = {}
    shuffle_bytes = shuffle_records = 0
    events = []
    wanted = ('"SparkListenerJobStart"', '"SparkListenerTaskEnd"')
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            events.extend(json.loads(line) for line in f
                          if any(w in line[:60] for w in wanted))
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group in groups:
                stages.update(ev.get("Stage IDs", []))
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd" or ev.get("Stage ID") not in stages:
            continue
        info = ev.get("Task Info", {})
        tasks.setdefault(ev["Stage ID"], []).append(
            (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
        )
        sw = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
        shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
        shuffle_records += sw.get("Shuffle Records Written", 0)
    skews = [
        max(d) / statistics.median(d)
        for d in tasks.values()
        if len(d) > 1 and statistics.median(d) > 0
    ]
    return {
        "shuffle_bytes": shuffle_bytes,
        "shuffle_records": shuffle_records,
        "task_skew": statistics.median(skews) if skews else 1.0,
        "stages": len(tasks),
    }
