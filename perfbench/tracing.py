"""Spans around the engine's layer entry points, for the traced run.

While a ``Tracer`` is installed, the public entry function of each layer
is replaced on its module by a wrapper that

* opens a span (name, start, end, parent) and gives it its own Spark job
  group, so the jobs the layer runs can be counted per span;
* materialises the layer's output at its boundary (persist + one count)
  and records counts there, so the span holds the layer's work instead of
  leaving it to whichever later action pulls the lazy DataFrame.

The engine calls these entries through module attributes (``build_tiles``
calls ``assign_minzoom_spark`` and ``cascade_all_zooms``; ``cli.main``
imports its layers when it runs), so nested spans form without touching
the engine.  The wrappers are removed when the tracer closes.

A span's self time is its duration minus the time its child spans cover.
Spark's own metrics (shuffle, spill, GC, task times) come from the event
log, which the traced run enables through the session's submit args.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import statistics
import time


def _materialise(df, tracer):
    df = df.persist()
    tracer.cached.append(df)
    return df


def _df_layer(tracer, rec, df):
    df = _materialise(df, tracer)
    rec["rows"] = df.count()
    return df


def _cascade_layer(tracer, rec, df):
    df = _materialise(df, tracer)
    by_z = {r["_z"]: r["count"] for r in df.groupBy("_z").count().collect()}
    rec["rows"] = sum(by_z.values())
    rec["rows_z0_4"] = sum(n for z, n in by_z.items() if z <= 4)
    return df


def _tiles_layer(tracer, rec, df):
    from pyspark.sql import functions as F

    df = _materialise(df, tracer)
    r = df.agg(F.count("*").alias("n"), F.sum(F.length("tile")).alias("b")).first()
    rec["tiles"] = r["n"]
    rec["tile_bytes"] = r["b"] or 0
    return df


def _action_layer(tracer, rec, result):
    return result


#: (module, function, span name, how the output is materialised)
LAYERS = [
    ("tippecanoe_spark.io.pages", "extract_features_df", "io.pages.extract", _df_layer),
    ("tippecanoe_spark.io.geojson", "geojson_files_df", "io.geojson.parse", _df_layer),
    ("tippecanoe_spark.operators.stats", "collect_layer_stats_spark", "operators.stats",
     _action_layer),
    ("tippecanoe_spark.pipeline", "assign_minzoom_spark", "pipeline.assign_minzoom_spark",
     _df_layer),
    ("tippecanoe_spark.pipeline", "cascade_all_zooms", "pipeline.cascade_all_zooms",
     _cascade_layer),
    ("tippecanoe_spark.pipeline", "build_tiles", "pipeline.build_tiles", _tiles_layer),
    ("tippecanoe_spark.io.mbtiles", "write_mbtiles_stream", "io.mbtiles.sink", _action_layer),
    ("tippecanoe_spark.streaming.maintenance", "SparkTileMaintainer.apply_batch",
     "streaming.maintenance.apply_batch", _action_layer),
]


class Tracer:
    """Records spans in memory; install() wraps the layer entries."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.t0 = time.perf_counter()
        self.spans: list = []
        self.stack: list = []
        self.cached: list = []
        self._restore: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self.stack[-1] if self.stack else None,
               "group": f"trace-{os.getpid()}-{len(self.spans)}"}
        self.spans.append(rec)
        self.stack.append(rec["id"])
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self.stack.pop()
            if self.stack:
                parent = self.spans[self.stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, fn, name, finish):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                return finish(tracer, rec, fn(*args, **kwargs))

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> None:
        for modname, attr, name, finish in LAYERS:
            owner = importlib.import_module(modname)
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            fn = getattr(owner, leaf)
            self._restore.append((owner, leaf, fn))
            setattr(owner, leaf, self._wrap(fn, name, finish))

    def close(self) -> None:
        for owner, leaf, fn in reversed(self._restore):
            setattr(owner, leaf, fn)
        self._restore.clear()
        for df in self.cached:
            df.unpersist()
        self.cached.clear()

    # -- reading the spans ------------------------------------------------

    def subtree(self, sid: int) -> list:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(r["id"] for r in self.spans if r["parent"] == s)
        return out

    def self_time(self, sid: int) -> float:
        rec = self.spans[sid]
        kids = sum(r["end"] - r["start"] for r in self.spans if r["parent"] == sid)
        return (rec["end"] - rec["start"]) - kids

    def by_name(self, name: str) -> list:
        return [r for r in self.spans if r["name"] == name]

    def job_stage_counts(self, sid: int) -> tuple:
        """(jobs, stages that ran tasks) of a span and its descendants, from
        the status tracker.  Call it right after the span: the tracker keeps
        a bounded history."""
        st = self.sc.statusTracker()
        jobs, stages = set(), set()
        for s in self.subtree(sid):
            jobs.update(st.getJobIdsForGroup(self.spans[s]["group"]))
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages.add(s)
        return len(jobs), len(stages)

    def dump(self) -> list:
        return [{k: r[k] for k in ("id", "name", "parent", "start", "end")}
                | {k: v for k, v in r.items() if k in ("rows", "rows_z0_4", "tiles", "tile_bytes")}
                for r in self.spans]


def submit_args(eventlog_dir: str) -> list:
    """spark-submit arguments that write an uncompressed event log."""
    return ["--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{eventlog_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false"]


class EventLog:
    """Task metrics of a finished application, grouped by job group."""

    def __init__(self, eventlog_dir: str):
        files = [f for f in glob.glob(os.path.join(eventlog_dir, "*"))
                 if not f.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log, found {files}")
        self.stage_group: dict = {}
        self.tasks: dict = {}   # stage id -> [task metrics]
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in ev.get("Stage IDs", ()):
                        # a stage runs in the first job that lists it
                        self.stage_group.setdefault(s, group)
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    self.tasks.setdefault(ev["Stage ID"], []).append(ev["Task Metrics"])

    def totals(self, groups: set) -> dict:
        mb = 1024.0 * 1024.0
        out = {"shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0}
        for stage, tasks in self.tasks.items():
            if self.stage_group.get(stage) not in groups:
                continue
            for m in tasks:
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                out["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0)) / mb
                out["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
                out["spill_mb"] += m.get("Disk Bytes Spilled", 0) / mb
                out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        return out

    def task_skew(self, groups: set) -> float:
        """max / median executor run time of the tasks of the busiest
        shuffle-reading stage among ``groups`` (the encode stage)."""
        best, skew = -1, 0.0
        for stage, tasks in self.tasks.items():
            if self.stage_group.get(stage) not in groups:
                continue
            sr = [m.get("Shuffle Read Metrics", {}) for m in tasks]
            if not any(r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                       + r.get("Total Records Read", 0) for r in sr):
                continue
            times = [m.get("Executor Run Time", 0) for m in tasks]
            med = statistics.median(times)
            if sum(times) > best and med > 0:
                best, skew = sum(times), max(times) / med
        return skew
