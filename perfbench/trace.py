"""Layer tracing for the benchmark, installed from outside the library.

Two sources feed the per-layer numbers:

* Spans. ``Tracer.install`` wraps the public methods of ``Catalog``,
  ``HiveInput`` and ``HiveOutput`` and the module functions
  ``functions.reuse.reuse`` / ``run_concurrently`` (including the names
  other modules imported from it). Each call records (layer, name,
  thread, start, end, depth-in-layer). Spans stay in memory and are
  written out when the run ends. The benchmark opens an op span around
  each operator verb it calls; every layer span recorded while that op
  is open belongs to it (the loop is a single closed-loop client, so
  ops never overlap).
* Spark's event log, switched on uncompressed for the traced run. Jobs
  are attributed to ops by time window (submission time inside the op
  span), not by job group: ``run_concurrently`` submits from pool
  threads that do not inherit the caller's job group.

``Tracer.pause``/``resume`` switch both off and on again inside one
process, so the tracing overhead is measured against untraced calls of
the same code in the same session.
"""

from __future__ import annotations

import functools
import glob
import json
import math
import os
import threading
import time

from hive_io_experimental_spark import catalog as _catalog
from hive_io_experimental_spark import input as _input
from hive_io_experimental_spark import output as _output
from hive_io_experimental_spark.functions import reuse as _reuse

# Layer counters per op, with their units.
LAYER_UNITS = {
    "catalog.calls": "count", "catalog.busy_s": "s", "catalog.commits": "count",
    "input.plan_s": "s", "output.write_s": "s",
    "reuse.materializations": "count", "reuse.concurrent_legs": "count",
}
# Catalog methods that rewrite the catalog document (one metastore commit).
CATALOG_COMMITS = {
    "create_table", "drop_table", "add_partition", "drop_partition",
    "set_partition_ranges", "set_partition_blooms", "set_column_stats",
    "add_column", "drop_column", "commit_snapshot", "rollback_to_version",
    "expire_snapshots",
}
_WRAPPED_CLASSES = (
    ("catalog", _catalog.Catalog),
    ("input", _input.HiveInput),
    ("output", _output.HiveOutput),
)


class Tracer:
    """In-memory span recorder. ``install``/``uninstall`` patch the layers.

    ``jsc`` is the JVM SparkContext, whose event logger ``pause`` detaches
    from the listener bus and ``resume`` attaches again."""

    def __init__(self, jsc) -> None:
        self._jsc = jsc
        self._event_logger = jsc.eventLogger().get()
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op = None
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ----------------------------------------------------------

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _span(self, layer: str, name: str, fn, args, kwargs, extra=None):
        stack = self._stack()
        depth = stack.count(layer)
        stack.append(layer)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            span = {
                "op": self._op, "layer": layer, "name": name, "depth": depth,
                "thread": threading.get_ident(), "t0": t0, "t1": t1,
            }
            if extra:
                span.update(extra)
            with self._lock:
                self.spans.append(span)

    def begin_op(self, op: str, warm: bool) -> None:
        self._op = len(self.ops)
        self.ops.append({"op": op, "index": self._op, "warm": warm})

    def end_op(self, wall_s: float, epoch0: float, epoch1: float) -> None:
        self.ops[-1].update(wall_s=wall_s, epoch0=epoch0, epoch1=epoch1)
        self._op = None

    # -- patching -----------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def _method_wrapper(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            return tracer._span(layer, name, fn, args, kwargs)

        return wrapped

    def install(self) -> None:
        if self._patched:
            return
        for layer, cls in _WRAPPED_CLASSES:
            for name, fn in list(vars(cls).items()):
                if name.startswith("_") or not callable(fn):
                    continue
                if isinstance(fn, (staticmethod, classmethod)):
                    continue
                self._patch(cls, name, self._method_wrapper(layer, name, fn))
        orig_reuse, orig_conc = _reuse.reuse, _reuse.run_concurrently
        tracer = self

        @functools.wraps(orig_reuse)
        def reuse(df):
            return tracer._span("reuse", "reuse", orig_reuse, (df,), {})

        @functools.wraps(orig_conc)
        def run_concurrently(*thunks):
            return tracer._span(
                "reuse", "run_concurrently", orig_conc, thunks, {},
                extra={"legs": len(thunks)},
            )

        # modules that imported the functions by name hold their own binding
        import sys

        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("hive_io_experimental_spark"):
                continue
            if getattr(mod, "reuse", None) is orig_reuse:
                self._patch(mod, "reuse", reuse)
            if getattr(mod, "run_concurrently", None) is orig_conc:
                self._patch(mod, "run_concurrently", run_concurrently)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def pause(self) -> None:
        """No spans and no event log until ``resume``."""
        self.uninstall()
        bus = self._jsc.listenerBus()
        bus.waitUntilEmpty()  # log every event of the calls before the pause
        self._jsc.removeSparkListener(self._event_logger)

    def resume(self) -> None:
        bus = self._jsc.listenerBus()
        bus.waitUntilEmpty()  # the paused calls' events are not logged
        bus.addToEventLogQueue(self._event_logger)
        self.install()

    # -- per-op layer counters ------------------------------------------------

    def layer_counters(self) -> dict[int, dict]:
        """op index -> layer counters, from the outermost span of each layer."""
        out: dict[int, dict] = {}
        for op in self.ops:
            out[op["index"]] = {
                k: [] if unit == "s" else 0 for k, unit in LAYER_UNITS.items()
            }
        for s in self.spans:
            c = out.get(s["op"])
            if c is None or s["depth"]:
                continue
            iv = (s["t0"], s["t1"])
            if s["layer"] == "catalog":
                c["catalog.calls"] += 1
                c["catalog.busy_s"].append(iv)
                c["catalog.commits"] += s["name"] in CATALOG_COMMITS
            elif s["layer"] == "input" and s["name"] == "read_table":
                c["input.plan_s"].append(iv)
            elif s["layer"] == "output" and s["name"] in (
                "write_table", "write_dynamic", "append_table"
            ):
                c["output.write_s"].append(iv)
            elif s["name"] == "reuse":
                c["reuse.materializations"] += 1
            elif s["name"] == "run_concurrently":
                c["reuse.concurrent_legs"] += s["legs"]
        for c in out.values():
            for key in ("catalog.busy_s", "input.plan_s", "output.write_s"):
                c[key] = union_length(c[key])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"ops": self.ops, "spans": self.spans}, f)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark event log ----------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs with their stage and task totals from an uncompressed event log."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"start": ev["Submission Time"] / 1000.0, "end": None,
                             "stages": set()}
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                stages.setdefault(sid, _stage_totals())
                stages[sid]["completed"] = True
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _stage_totals())
                m = ev.get("Task Metrics") or {}
                st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                inm = m.get("Input Metrics") or {}
                st["input_b"] += inm.get("Bytes Read", 0)
                st["input_rows"] += inm.get("Records Read", 0)
                st["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid is not None and st["completed"]:
            jobs[jid]["stages"].add(sid)
    return {"jobs": jobs, "stages": stages}


def _stage_totals() -> dict:
    return {"task_s": 0.0, "input_b": 0, "input_rows": 0, "shuffle_b": 0,
            "completed": False}


def attribute_jobs(ops: list[dict], log: dict) -> dict[int, dict]:
    """op index -> Spark counters for the jobs submitted inside its window.

    ``driver_gap_s`` is the op's window not covered by any of its jobs and
    ``covered_s`` the part that is, so the two add up to the window (the
    op's wall time widened to whole milliseconds) by construction.
    """
    out = {
        o["index"]: {"jobs": 0, "stages": 0, "task_s": 0.0, "input_b": 0,
                     "input_rows": 0, "shuffle_b": 0, "iv": []}
        for o in ops
    }
    # the event log stamps whole milliseconds: widen each window to them
    windows = [(math.floor(o["epoch0"] * 1000) / 1000, math.ceil(o["epoch1"] * 1000) / 1000,
                o["index"]) for o in ops]
    for job in log["jobs"].values():
        for t0, t1, idx in windows:
            if t0 <= job["start"] <= t1:
                rec = out[idx]
                rec["jobs"] += 1
                rec["stages"] += len(job["stages"])
                for sid in job["stages"]:
                    st = log["stages"][sid]
                    rec["task_s"] += st["task_s"]
                    rec["input_b"] += st["input_b"]
                    rec["input_rows"] += st["input_rows"]
                    rec["shuffle_b"] += st["shuffle_b"]
                end = job["end"] if job["end"] is not None else t1
                rec["iv"].append((job["start"], end))
                break
    for t0, t1, idx in windows:
        rec = out[idx]
        covered = union_length([(s, min(e, t1)) for s, e in rec.pop("iv")])
        rec.update(driver_gap_s=max(0.0, (t1 - t0) - covered), covered_s=covered)
    return out
