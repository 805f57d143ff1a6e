"""Spans, a timing proxy for the catalog, and a process-tree memory
sampler.

Spans are recorded by the benchmark around its calls into each layer
(the program itself is not instrumented). A span's name is
``<layer>.<call>``; its layer is the part before the first dot.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from contextlib import contextmanager, nullcontext


class Tracer:
    """In-memory spans of one run, all under one trace id."""

    enabled = True

    def __init__(self) -> None:
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str, under: dict | None = None) -> list[float]:
        """Durations of the spans called ``name`` (below ``under``)."""
        ids = None if under is None else self._subtree(under["id"])
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and (ids is None or s["id"] in ids)]

    def _subtree(self, root: int) -> set[int]:
        ids = {root}
        for s in self.spans:  # parents are always recorded first
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def self_time_by_layer(self, root: dict) -> dict[str, float]:
        """Self time (duration minus the union of its children's
        intervals) summed per layer over the subtree of ``root``."""
        ids = self._subtree(root["id"])
        out: dict[str, float] = {}
        for s in self.spans:
            if s["id"] not in ids:
                continue
            kids = sorted((c["start"], c["end"]) for c in self.spans
                          if c["parent"] == s["id"])
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]
                                                - covered)
        return out

    def dump(self) -> dict:
        return {"trace_id": self.trace_id, "spans": self.spans}


class NullTracer:
    """Tracing off: spans cost one call and record nothing."""

    enabled = False

    def span(self, name: str):
        return nullcontext({})


class TimedCatalog:
    """Wraps a catalog so ``committed_batches`` and ``write_batch`` run
    inside spans; every other attribute is the wrapped catalog's."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def committed_batches(self, table):
        with self._tracer.span("catalog.committed_batches"):
            return self._inner.committed_batches(table)

    def write_batch(self, df, table, batch_id):
        with self._tracer.span("catalog.write_batch"):
            return self._inner.write_batch(df, table, batch_id)


def _tree_resident_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants, as the sum of
    their proportional set sizes: a page shared by several processes
    (forked Python workers, or a child the JVM is still spawning)
    counts once, not once per process."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields restart after ')'
        fields = stat[stat.rfind(b")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(entry))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                for line in fh:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class MemorySampler:
    """Background thread tracking the memory of this process tree
    (driver, JVM, Python workers) while jobs run: the peak resident
    memory outside the JVM's Java heap, plus the heap's live data, read
    after a full collection when the jobs are done. The committed heap
    is the live data plus the headroom G1 sizes adaptively, which
    varied twofold between runs of the same code; it is tracked on its
    own and left out of ``peak_bytes``."""

    def __init__(self, spark, interval_s: float = 0.05) -> None:
        self._heap = spark._jvm.java.lang.management.ManagementFactory \
            .getMemoryMXBean()
        self.interval_s = interval_s
        self.outside_heap_bytes = 0
        self.heap_live_bytes = 0
        self.heap_committed_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_bytes(self) -> int:
        return self.outside_heap_bytes + self.heap_live_bytes

    def _sample(self) -> None:
        committed = self._heap.getHeapMemoryUsage().getCommitted()
        self.heap_committed_bytes = max(self.heap_committed_bytes, committed)
        # the committed heap is resident: a job cycles its allocations
        # through every committed region
        self.outside_heap_bytes = max(
            self.outside_heap_bytes,
            _tree_resident_bytes(os.getpid()) - committed)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        if exc[0] is None:
            self._heap.gc()
            self.heap_live_bytes = self._heap.getHeapMemoryUsage().getUsed()
