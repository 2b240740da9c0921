"""Per-layer spans and Spark job-group tags, installed from outside.

The traced run replaces the public functions of each layer with wrappers
that record a span (layer, start, end, parent) and tag every Spark job the
call launches with a job group unique to the call. The program itself is
not edited; the wrappers are removed again between untraced units.

Lazy DataFrames limit the attribution: a function that returns a plan
(``apply_cdc``, ``validate_pair``, ``incremental_dedup_indexed``) keeps
only its build time; the jobs that run the plan start inside the caller's
action and land in the caller's span.

Each span also carries the route it serves: the first two words of the
CLI call at the root of its call tree (``dedup probe``, ``sync``).
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from dataclasses import dataclass

from eventlog import length, merge, subtract

PKG = "database_migration_spark"

# layer -> public functions it wraps ("module:attr" or "module:Class.attr").
# ``cli`` is the route itself (``__main__.main``): jobs a route runs
# outside every wrapped function, such as its final row count.
LAYERS = {
    "sources": [
        f"{PKG}.sources.parquet_source:ParquetSource.scan_catalog",
        f"{PKG}.sources.parquet_source:ParquetSource.read",
    ],
    "plans": [f"{PKG}.runner:MigrationPlanner.plan"],
    "runner": [f"{PKG}.runner:MigrationRunner.execute"],
    "validate": [f"{PKG}.operators.validate:validate_pair"],
    "delta_sync": [
        f"{PKG}.operators.delta_sync:sync_table",
        f"{PKG}.operators.delta_sync:plan_sync",
        f"{PKG}.operators.delta_sync:apply_sync_plan",
    ],
    "cdc": [
        f"{PKG}.operators.cdc:cdc_counts",
        f"{PKG}.operators.cdc:apply_cdc",
    ],
    "io": [
        f"{PKG}.functions.io:publish_parquet",
        f"{PKG}.functions.io:publish_surgical",
        f"{PKG}.functions.io:affected_partitions",
        f"{PKG}.functions.io:resolve_partitions",
    ],
    "dedup": [
        f"{PKG}.operators.dedup:fingerprint_store",
        f"{PKG}.operators.dedup:incremental_dedup_indexed",
        f"{PKG}.operators.dedup:append_fingerprint_index",
    ],
    "cli": [f"{PKG}.__main__:main"],
}


@dataclass
class Span:
    layer: str
    group: str  # the job group of this call
    start: float
    end: float = 0.0
    parent: int = -1  # index into Tracer.spans, -1 for a root span
    route: str = ""


class Tracer:
    """Installs the layer wrappers and keeps the spans in memory."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list = []
        self._stack: list = []
        self._patches: list = []  # (owner, attr, original)

    # --- spans --------------------------------------------------------------

    def _enter(self, layer: str, args: tuple) -> int:
        idx = len(self.spans)
        group = f"{layer}#{idx}"
        parent = self._stack[-1] if self._stack else -1
        if parent >= 0:
            route = self.spans[parent].route
        elif args and isinstance(args[0], list):  # __main__.main(argv)
            route = " ".join(args[0][:2])
        else:
            route = layer
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.spans.append(Span(layer, group, time.time(), parent=parent,
                               route=route))
        self._stack.append(idx)
        return idx

    def _exit(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack.pop()
        prev = self.spans[self._stack[-1]].group if self._stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self._enter(layer, args)
            try:
                return fn(*args, **kwargs)
            finally:
                self._exit(idx)

        return traced

    # --- installing ---------------------------------------------------------

    def install(self) -> None:
        for layer, targets in LAYERS.items():
            for target in targets:
                mod_name, attr_path = target.split(":")
                owner = importlib.import_module(mod_name)
                *owner_path, attr = attr_path.split(".")
                for part in owner_path:
                    owner = getattr(owner, part)
                original = owner.__dict__[attr]
                wrapped = self.wrap(layer, original)
                self._patch(owner, attr, original, wrapped)
                if not owner_path:
                    # names bound by ``from module import fn`` at import time
                    for name, mod in list(sys.modules.items()):
                        if not name.startswith(PKG) or mod is owner:
                            continue
                        for gname, val in list(vars(mod).items()):
                            if val is original:
                                self._patch(mod, gname, original, wrapped)

    def _patch(self, owner, attr, original, wrapped) -> None:
        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # --- attribution --------------------------------------------------------

    def layer_totals(self, groups: dict) -> dict:
        """Per layer: calls, self/driver seconds and the task sums of the
        jobs tagged with its calls' groups (``groups`` from
        :func:`eventlog.reduce_events`)."""
        children: dict = {}
        for s in self.spans:
            if s.parent >= 0:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: dict = {}
        for i, s in enumerate(self.spans):
            own = subtract([(s.start, s.end)], children.get(i, []))
            g = groups.get(s.group)
            jobs = merge(g.job_spans) if g else []
            t = out.setdefault(s.layer, {
                "calls": 0, "self_s": 0.0, "driver_s": 0.0, "jobs": 0,
                "tasks": 0, "executor_run_s": 0.0, "gc_s": 0.0,
                "shuffle_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
                "output_bytes": 0,
            })
            t["calls"] += 1
            t["self_s"] += length(own)
            t["driver_s"] += length(subtract(own, jobs))
            if g:
                for k in ("jobs", "tasks", "executor_run_s", "gc_s",
                          "shuffle_bytes", "spill_bytes", "input_bytes",
                          "output_bytes"):
                    t[k] += getattr(g, k)
        return out
