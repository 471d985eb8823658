"""Traced-run instrumentation, kept entirely in the benchmark.

Spans are recorded around the package's public entry points by wrapping
them from here; the package source is never changed.  Spans live in
memory (name, layer, start, end, parent, request id) and are written to
a JSON file when the run ends.  A layer's self time is its spans'
duration minus the time covered by their child spans.

Spark-side work per request comes from two places: job and task counts
from the public ``StatusTracker`` by job group (each request runs in its
own group), and stage metrics (input records, shuffle bytes, executor
CPU, GC, spill, failed tasks) from Spark's JSON event log, which only
the traced run writes.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict

LAYERS = ("core", "geometry", "raster", "ipyleaflet_plugin", "sinks",
          "pipeline", "spark")


def layer_of_class(cls):
    """Layer of a block class: the package module it lives in."""
    parts = cls.__module__.split(".")
    if parts[1:2] == ["raster"] and parts[2:3] == ["sinks"]:
        return "sinks"
    return parts[1] if len(parts) > 1 and parts[1] in LAYERS else "core"


class Tracer:
    """In-memory span recorder.  ``enabled`` gates recording, so the
    wrappers can stay installed through an untraced stretch of a run."""

    def __init__(self):
        self.enabled = False
        self.spans = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name, layer, request=None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = {"id": next(self._ids), "name": name, "layer": layer,
                "parent": parent["id"] if parent else None,
                "request": request if request is not None else (
                    parent["request"] if parent else None),
                "start": time.perf_counter(), "end": None}
        stack.append(span)
        return span

    def end(self, span):
        span["end"] = time.perf_counter()
        self._stack().pop()
        with self._lock:
            self.spans.append(span)

    def wrap(self, fn, name, layer=None):
        """``fn`` recording a span per call; ``layer=None`` takes the
        layer from the class of the call's first argument."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            lay = layer or layer_of_class(
                args[0] if isinstance(args[0], type) else type(args[0]))
            span = self.begin(lay + "." + name, lay)
            try:
                out = fn(*args, **kwargs)
                if isinstance(out, list):       # collected rows
                    span["rows"] = len(out)
                return out
            finally:
                self.end(span)
        return traced

    def self_times(self):
        """{request: {layer: self seconds}}."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            out[s["request"]][s["layer"]] += (
                s["end"] - s["start"] - child[s["id"]])
        return out

    def dump(self, path):
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Tracing:
    """Per-request bookkeeping of a traced run: a job group and a span
    per request, and the request's StatusTracker counts."""

    def __init__(self, tracer):
        self.tracer = tracer
        # request id -> (kind, (jobs, tasks, failed tasks))
        self.requests = {}
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def request(self, spark, kind):
        if not self.tracer.enabled:
            yield
            return
        rid = "{}:{}".format(kind, next(self._ids))
        sc = spark.sparkContext
        sc.setJobGroup(rid, rid)
        span = self.tracer.begin("bench." + kind, "bench", request=rid)
        try:
            yield
        finally:
            self.tracer.end(span)
            self.requests[rid] = (kind, status_counts(sc, rid))


def install(tracer):
    """Wrap the package's public entry points (one span per call)."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from dask_geomodeling_spark import ipyleaflet_plugin
    from dask_geomodeling_spark.core import blocks
    from dask_geomodeling_spark.geometry.base import GeometryBlock
    from dask_geomodeling_spark.raster.base import RasterBlock
    from dask_geomodeling_spark.raster.sinks import RasterFileSink

    from_json = blocks.Block.from_json.__func__
    blocks.Block.from_json = classmethod(
        tracer.wrap(from_json, "from_json", "core"))
    blocks.construct = tracer.wrap(blocks.construct, "construct", "core")
    blocks.Block.plan = tracer.wrap(blocks.Block.plan, "plan")
    GeometryBlock.get_data = tracer.wrap(GeometryBlock.get_data, "get_data")
    RasterBlock.get_data = tracer.wrap(RasterBlock.get_data, "get_data")
    RasterFileSink.write = tracer.wrap(RasterFileSink.write, "write")
    for name in ("handle_get_map", "render_tile", "styled_tile_frame",
                 "_encode_png_rgba"):
        setattr(ipyleaflet_plugin, name,
                tracer.wrap(getattr(ipyleaflet_plugin, name),
                            name.lstrip("_"), "ipyleaflet_plugin"))
    DataFrame.collect = tracer.wrap(DataFrame.collect, "collect", "spark")
    DataFrameWriter.parquet = tracer.wrap(DataFrameWriter.parquet,
                                          "write", "spark")


def status_counts(sc, group):
    """(jobs, tasks, failed tasks) of one job group, from StatusTracker."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = failed = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks + stage.numFailedTasks
                failed += stage.numFailedTasks
    return len(jobs), tasks, failed


def _app_logs(log_dir):
    """{app: [event log files]}: an app logs to one file, or (the v2
    format) to a directory of rolled files."""
    apps = {}
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        apps[name] = ([os.path.join(path, f) for f in sorted(os.listdir(path))
                       if f.startswith("events_")]
                      if os.path.isdir(path) else [path])
    return apps


def eventlog_by_group(log_dir):
    """Stage metrics summed per job group from Spark JSON event logs."""
    stage_group = {}
    tasks = []
    for app, files in _app_logs(log_dir).items():
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id")
                        for sid in ev.get("Stage IDs", ()):
                            stage_group.setdefault((app, sid), group)
                    elif kind == "SparkListenerTaskEnd":
                        tasks.append((app, ev))
    out = defaultdict(lambda: defaultdict(float))
    for name, ev in tasks:
        group = stage_group.get((name, ev.get("Stage ID")))
        if group is None:
            continue
        agg = out[group]
        m = ev.get("Task Metrics") or {}
        agg["tasks"] += 1
        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            agg["failed_tasks"] += 1
        agg["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        agg["input_rows"] += (m.get("Input Metrics") or {}).get(
            "Records Read", 0)
        agg["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        agg["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
    return out
