"""Spans around calls into the package's layers, recorded from outside.

``Tracer.install()`` wraps the public functions listed in ``TRACED`` at
runtime, for the rest of the process. A function imported by value into another module (e.g.
``streaming.pipeline.load_batch``, ``plans.star_load.state_checkpoint``)
is replaced in every loaded package module that holds it, so each call
site records a span. Spans stay in memory until ``dump``.

Parent links: a span's parent is the innermost open span of its own
thread; a span opened on a thread with no open span (a foreachBatch
callback thread, a thread-pool worker) takes the most recently opened
span of another name that is still open on any thread.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import threading
import time

from metrics import layer_times, spark_counters

# (module, attribute path, span name)
TRACED = [
    ("etl__project_spark.plans.star_load", "load_batch", "star_load.load_batch"),
    ("etl__project_spark.plans.star_load", "index_fact_batch", "star_load.index_fact_batch"),
    ("etl__project_spark.plans.star_load", "gc_fact", "star_load.gc_fact"),
    ("etl__project_spark.plans.star_load", "read_fact_point", "star_load.read_path"),
    ("etl__project_spark.plans.star_load", "read_fact_range", "star_load.read_path"),
    ("etl__project_spark.plans.star_load", "read_fact_rect", "star_load.read_path"),
    ("etl__project_spark.plans.star_load", "read_range", "star_load.read_path"),
    ("etl__project_spark.plans.star_load", "ParquetWarehouse.fact_append", "star_load.fact_append"),
    ("etl__project_spark.plans.star_load", "ParquetWarehouse.publish_delta", "star_load.publish_delta"),
    ("etl__project_spark.plans.star_load", "ParquetWarehouse.publish_merged", "star_load.publish_merged"),
    ("etl__project_spark.plans.star_load", "ParquetWarehouse.compact_fact", "star_load.compact_fact"),
    ("etl__project_spark.plans.star_load", "ParquetWarehouse.read_fact", "star_load.read_fact"),
    ("etl__project_spark.session", "state_checkpoint", "session.state_checkpoint"),
    ("etl__project_spark.sources.tables", "load_table", "sources.load_table"),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open: list[int] = []
        # one clock pair so spans map onto the event log's epoch times
        self.t0_perf = time.perf_counter()
        self.t0_wall = time.time()

    # -- recording -------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> int:
        stack = self._stack()
        with self._lock:
            if stack:
                parent = stack[-1]
            else:
                parent = next(
                    (i for i in reversed(self._open) if self.spans[i]["name"] != name),
                    None,
                )
            self.spans.append(
                {
                    "name": name,
                    "start": time.perf_counter(),
                    "end": None,
                    "parent": parent,
                    "thread": threading.get_ident(),
                }
            )
            idx = len(self.spans) - 1
            self._open.append(idx)
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        end = time.perf_counter()
        with self._lock:
            self.spans[idx]["end"] = end
            self._open.remove(idx)
        self._stack().remove(idx)

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- patching --------------------------------------------------------

    def install(self) -> None:
        for mod_name, attr, name in TRACED:
            mod = importlib.import_module(mod_name)
            owner, leaf = mod, attr
            if "." in attr:
                cls, leaf = attr.split(".")
                owner = getattr(mod, cls)
            original = getattr(owner, leaf)
            wrapped = self.wrap(original, name)
            setattr(owner, leaf, wrapped)
            if owner is mod:
                # every by-value import of the same function object
                for other in list(sys.modules.values()):
                    if (
                        other is not mod
                        and getattr(other, "__name__", "").startswith("etl__project_spark")
                        and getattr(other, leaf, None) is original
                    ):
                        setattr(other, leaf, wrapped)

    # -- reporting -------------------------------------------------------

    def wall(self, t: float) -> float:
        return self.t0_wall + (t - self.t0_perf)

    def op_trees(self, op_name: str) -> list[list[dict]]:
        """Per ``op_name`` span, the op span and all its descendants, with
        parents re-indexed into the sub-list."""
        children: dict[int, list[int]] = {}
        for i, sp in enumerate(self.spans):
            if sp["parent"] is not None:
                children.setdefault(sp["parent"], []).append(i)
        trees = []
        for root, sp in enumerate(self.spans):
            if sp["name"] != op_name or sp["end"] is None:
                continue
            order, todo = [], [root]
            while todo:
                i = todo.pop()
                order.append(i)
                todo.extend(children.get(i, []))
            pos = {old: new for new, old in enumerate(order)}
            trees.append(
                [
                    {
                        **self.spans[i],
                        "end": self.spans[i]["end"] or self.spans[root]["end"],
                        "parent": pos.get(self.spans[i]["parent"]) if i != root else None,
                    }
                    for i in order
                ]
            )
        return trees

    def per_op(self, op_name: str, event_log: dict | None) -> list[dict]:
        """Per op: layer times, self-time accounting, and event-log counters."""
        out = []
        for tree in self.op_trees(op_name):
            root = tree[0]
            wall = root["end"] - root["start"]
            times = layer_times(tree)
            row = {"wall_s": wall, "layers": times}
            row["self_sum_s"] = sum(t["self_s"] for t in times.values())
            if event_log is not None:
                row["spark"] = spark_counters(
                    event_log, (self.wall(root["start"]), self.wall(root["end"]))
                )
            out.append(row)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(
                    json.dumps(
                        {
                            **sp,
                            "start": self.wall(sp["start"]),
                            "end": None if sp["end"] is None else self.wall(sp["end"]),
                        }
                    )
                    + "\n"
                )
