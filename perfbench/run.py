#!/usr/bin/env python3
"""Benchmark of the tippecanoe_spark tileset builds.

    python3 perfbench/run.py --workload pyramid_z9 --seed 42 --seconds 10 --trace 0

Run from the root of a checkout.  The engine runs on ``local[<cores>]``
inside this one driver process and is driven only through its public
functions; every time is taken here, around the call.

One run: start the Spark session, make the workload's inputs from the
seed (several times; the median counts), warm up with builds of the
workload's own config and size, compute the reference tileset with the
single-process runner, then repeat the build for ``--seconds`` seconds and
at least the workload's ``min_builds`` times, each time into a fresh output
path, and check every output against the reference.  ``setup_s`` is
session start + median input time + warm-up.  Peak RSS, split by process
kind, is reported by the traced run only; it is not an end-to-end metric
because the JVM's heap sizing makes it differ by a fifth between runs of
the same code.

``--trace 0`` reports the end-to-end metrics (medians over the builds of
the run); ``--trace 1`` alternates an untraced build with a traced one
(perfbench/tracing.py) and reports the per-layer metrics.  The last line
of standard output is one JSON object: correct, attempted, failed,
metrics.  Everything the run writes lives under ``.perfbench_work/`` in
the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import itertools
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import procstat  # noqa: E402

#: input materialisations per run; setup_s counts their median
INPUT_REPEATS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str, eventlog: str | None) -> None:
    """Keep every file Spark, the JVM and the workers write under ``work``.
    Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    args = ["--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if eventlog is not None:
        import tracing

        os.makedirs(eventlog)
        args += tracing.submit_args(eventlog)
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args) + " pyspark-shell"


def import_engine() -> None:
    """Import the engine from this checkout, and nowhere else."""
    sys.path.insert(0, ROOT)
    import tippecanoe_spark

    where = os.path.dirname(os.path.abspath(tippecanoe_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise ImportError(f"tippecanoe_spark found at {where}, not in {ROOT}")


def failure_class(e: BaseException) -> str:
    """Exception class, with the JVM exception class or Spark error
    condition where there is one."""
    name = type(e).__name__
    jexc = getattr(e, "java_exception", None)
    if jexc is not None:
        try:
            name += f"[{jexc.getClass().getName()}]"
        except Exception:  # the JVM side may already be unusable
            pass
    cond = getattr(e, "getCondition", None)
    if callable(cond):
        c = cond()
        if c:
            name += f"[{c}]"
    rc = getattr(e, "rc", None)
    if rc is not None:
        name += f"[rc={rc}]"
    return name


class Ops:
    """Outcome of every measured operation of a run."""

    def __init__(self):
        self.attempted = 0
        self.failures = collections.Counter()
        self.samples = collections.defaultdict(list)

    def fail(self, cls: str) -> None:
        self.failures[cls] += 1

    @property
    def failed(self) -> int:
        return sum(self.failures.values())

    @property
    def correct(self) -> bool:
        return self.failures["DigestMismatch"] == 0


def measured(fn, sample_rss: bool):
    """Run fn and return (wall seconds, CPU split by process kind, peak
    summed RSS or None) of the driver's process tree around it.  The RSS
    sampler scans /proc on a thread of this process every 0.1 s, so it runs
    only where asked: in the traced run, not around a timed build."""
    before = procstat.tree()
    with procstat.PeakRss() if sample_rss else contextlib.nullcontext() as rss:
        t = time.perf_counter()
        fn()
        wall = time.perf_counter() - t
    return wall, procstat.cpu_delta(before, procstat.tree()), rss


class Outputs:
    """Fresh output paths, removed once checked."""

    def __init__(self, work: str, suffix: str):
        self.dir = os.path.join(work, "out")
        os.makedirs(self.dir)
        self.suffix = suffix
        self.n = 0

    def fresh(self) -> str:
        self.n += 1
        return os.path.join(self.dir, f"{self.n:04d}{self.suffix}")

    @staticmethod
    def drop(path: str) -> None:
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)


def start_session():
    from tippecanoe_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(master=f"local[{cores()}]")
    spark.range(1).count()
    return spark, time.perf_counter() - t


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait for every process this run started."""
    from pyspark import SparkContext

    started = set(procstat.tree()) - {os.getpid()}
    if SparkContext._active_spark_context is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    # workers outlive the JVM briefly and are re-parented when it exits
    deadline = time.time() + 30
    while True:
        left = [p for p in started if procstat.alive(p)]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.1)


def make_inputs(wl, work: str) -> float:
    """Materialise the inputs INPUT_REPEATS times into fresh directories
    (the last one is used); returns the median time."""
    times = []
    for i in range(INPUT_REPEATS):
        d = os.path.join(work, f"inputs-{i}")
        t = time.perf_counter()
        wl.make_inputs(d)
        times.append(time.perf_counter() - t)
        if i + 1 < INPUT_REPEATS:
            shutil.rmtree(d)
    return statistics.median(times)


def summary(values: list) -> str:
    if not values:
        return "no samples"
    return f"median of {len(values)}: " + " ".join(f"{v:.4g}" for v in values)


# ---------------------------------------------------------------------------
# the two build workloads


def record(s, key: str, wall: float, cpu: dict, rss) -> None:
    """Samples of one measured build: wall time under ``key``, CPU and
    (when sampled) peak RSS of the process tree, each split by process kind."""
    mb = 1024.0 * 1024.0
    s[key].append(wall)
    s["cpu_s"].append(cpu["total"])
    s["proc.jvm_cpu_s"].append(cpu["jvm"])
    s["proc.python_cpu_s"].append(cpu["python"])
    if rss is None:
        return
    s["proc.peak_rss_mb"].append(rss.peak / mb)
    s["proc.jvm_peak_rss_mb"].append(rss.at_peak["jvm"] / mb)
    s["proc.python_peak_rss_mb"].append(rss.at_peak["python"] / mb)


def build_once(spark, wl, outs: Outputs, ops: Ops, ref: tuple, sample_rss: bool):
    """One measured build into a fresh path, checked against ref."""
    out = outs.fresh()
    ops.attempted += 1
    try:
        wall, cpu, rss = measured(lambda: wl.build(spark, out), sample_rss)
    except Exception as e:
        ops.fail(failure_class(e))
        outs.drop(out)
        return None
    got = wl.output_digest(spark, out)
    outs.drop(out)
    if got != ref:
        print(f"digest mismatch: got {got}, reference {ref}", file=sys.stderr)
        ops.fail("DigestMismatch")
        return None
    record(ops.samples, "build_s", wall, cpu, rss)
    return wall


def traced_once(spark, wl, outs: Outputs, ops: Ops, ref: tuple, untraced_s):
    """One build with the layer entries wrapped; records per-layer samples."""
    import tracing

    out = outs.fresh()
    ops.attempted += 1
    tr = tracing.Tracer(spark)
    tr.install()
    try:
        with tr.span("build") as root:
            wl.build(spark, out, span=tr.span)
        bt = tr.by_name("pipeline.build_tiles")
        counts = tr.job_stage_counts(bt[0]["id"]) if bt else (0, 0)
    except Exception as e:
        ops.fail(failure_class(e))
        outs.drop(out)
        return None
    finally:
        tr.close()
    got = wl.output_digest(spark, out)
    outs.drop(out)
    if got != ref:
        print(f"digest mismatch (traced): got {got}, reference {ref}", file=sys.stderr)
        ops.fail("DigestMismatch")
    s = ops.samples
    total = root["end"] - root["start"]
    if untraced_s is not None:
        s["trace.overhead_s"].append(total - untraced_s)
    layer_samples(tr, s)
    s["pipeline.build_tiles.spark_jobs"].append(counts[0])
    s["pipeline.build_tiles.spark_stages"].append(counts[1])
    return tr


def layer_samples(tr, s) -> None:
    """Per-layer times and counts of one traced operation; a layer that
    did not run reads 0."""
    def time_of(name):
        return sum(tr.self_time(r["id"]) for r in tr.by_name(name))

    def count_of(name, key):
        return sum(r.get(key, 0) for r in tr.by_name(name))

    s["io.pages.extract_s"].append(time_of("io.pages.extract"))
    s["io.pages.features"].append(count_of("io.pages.extract", "rows"))
    s["io.geojson.parse_s"].append(time_of("io.geojson.parse"))
    s["operators.stats.s"].append(time_of("operators.stats"))
    s["pipeline.assign_minzoom_spark.s"].append(time_of("pipeline.assign_minzoom_spark"))
    s["pipeline.cascade_all_zooms.s"].append(time_of("pipeline.cascade_all_zooms"))
    s["pipeline.cascade_all_zooms.rows"].append(count_of("pipeline.cascade_all_zooms", "rows"))
    s["pipeline.cascade_all_zooms.rows_z0_4"].append(
        count_of("pipeline.cascade_all_zooms", "rows_z0_4"))
    s["pipeline.build_tiles.encode_self_s"].append(time_of("pipeline.build_tiles"))
    s["pipeline.build_tiles.tiles"].append(count_of("pipeline.build_tiles", "tiles"))
    s["pipeline.build_tiles.tile_bytes"].append(count_of("pipeline.build_tiles", "tile_bytes"))
    s["io.mbtiles.sink_s"].append(time_of("io.mbtiles.sink"))
    s["io.parquet.sink_s"].append(time_of("io.parquet.sink"))


def spark_samples(eventlog: str, tracers: list, s) -> None:
    """Shuffle, spill, GC and encode-task skew of each traced operation,
    from the event log of the finished application."""
    import tracing

    log = tracing.EventLog(eventlog)
    for tr in tracers:
        groups = {r["group"] for r in tr.spans}
        for k, v in log.totals(groups).items():
            s[f"spark.{k}"].append(v)
        enc = {r["group"] for r in tr.by_name("pipeline.build_tiles")}
        s["spark.encode_task_skew"].append(log.task_skew(enc))


def print_spans(tracers: list) -> None:
    """One line per traced operation: its spans (seconds from the
    operation's start) with the counts recorded at their boundaries."""
    for i, tr in enumerate(tracers):
        print(json.dumps({"traced_operation": i, "spans": tr.dump()}))


def run_build_workload(args, spark, wl, work, session_s, eventlog):
    ops = Ops()
    outs = Outputs(work, ".mbtiles" if wl.name.startswith("densest_cli") else ".parquet")
    input_s = make_inputs(wl, work)
    warm = [outs.fresh() for _ in range(wl.warmup_builds)]
    t = time.perf_counter()
    for out in warm:
        wl.build(spark, out)
    warmup_s = time.perf_counter() - t
    setup_s = session_s + input_s + warmup_s

    t = time.perf_counter()
    ref, n_features = wl.reference()
    local_s = time.perf_counter() - t
    for out in warm:
        if wl.output_digest(spark, out) != ref:
            print("digest mismatch on a warm-up build", file=sys.stderr)
            ops.fail("DigestMismatch")
        outs.drop(out)

    # a traced round is an untraced and a traced build; one round is enough
    # for the per-layer metrics, which have no bound
    min_rounds = 1 if args.trace else wl.min_builds
    tracers = []
    t_begin = time.perf_counter()
    for i in itertools.count(1):
        wall = build_once(spark, wl, outs, ops, ref, sample_rss=bool(args.trace))
        if args.trace:
            tr = traced_once(spark, wl, outs, ops, ref, wall)
            if tr is not None:
                tracers.append(tr)
        if time.perf_counter() - t_begin >= args.seconds and i >= min_rounds:
            break
    stop_session(spark)
    if args.trace and tracers:
        spark_samples(eventlog, tracers, ops.samples)
        print_spans(tracers)

    info = {
        "setup": f"session {session_s:.3f} s + inputs {input_s:.3f} s "
                 f"(median of {INPUT_REPEATS}) + {wl.warmup_builds} warm-up builds "
                 f"{warmup_s:.3f} s",
        "reference": f"build_tiles_local {local_s:.3f} s, {ref[0]} tiles, "
                     f"{n_features} features (single process, not compared)",
    }
    return ops, {"setup_s": setup_s}, n_features, ref[0], info


# ---------------------------------------------------------------------------
# incremental maintenance


def run_crawl(args, spark, wl, work, session_s, eventlog):
    """Initial load (build_s) then update batches (update_s) on a fresh
    store per repetition; failures are counted by class."""
    import tracing

    from workloads import dict_digest

    ops = Ops()
    s = ops.samples
    input_s = make_inputs(wl, work)
    stores = Outputs(work, "-store")
    store_tiles = []
    failed_batches = 0

    def affected(m) -> None:
        s["streaming.maintenance.affected_tiles"].append(len(m.last_affected))
        s["streaming.maintenance.affected_buckets"].append(wl.bucket_count(m, m.last_affected))

    def repetition(measure: bool, trace: bool, expect: list | None):
        nonlocal failed_batches
        m = wl.maintainer(spark, stores.fresh())
        tracers = []
        for k in range(len(wl.dirs)):
            df = wl.batch_df(spark, k)
            m.last_affected = set()
            tr = tracing.Tracer(spark) if trace else None
            if tr is not None:
                tr.install()
            if measure:
                ops.attempted += 1
            try:
                wall, cpu, rss = measured(lambda: m.apply_batch(df),
                                           sample_rss=bool(args.trace))
            except Exception as e:
                if measure:
                    ops.fail(failure_class(e))
                    if k:
                        failed_batches += 1
                        affected(m)
                continue
            finally:
                if tr is not None:
                    tr.close()
                    tracers.append(tr)
            if not measure:
                continue
            got = dict_digest(m.tiles())
            if got != expect[k]:
                print(f"digest mismatch after batch {k}: got {got}, expected {expect[k]}",
                      file=sys.stderr)
                ops.fail("DigestMismatch")
                continue
            if k == 0:
                record(s, "build_s", wall, cpu, rss)
                store_tiles.append(got[0])
            else:
                s["update_s"].append(wall)
                affected(m)
                s["streaming.maintenance.rebuilt_share"].append(
                    len(m.last_affected) / max(got[0], 1))
        return tracers

    t = time.perf_counter()
    repetition(measure=False, trace=False, expect=None)
    warmup_s = time.perf_counter() - t
    setup_s = session_s + input_s + warmup_s

    t = time.perf_counter()
    ref, n_features = wl.reference()
    local_s = time.perf_counter() - t
    expect = [ref] + [wl.expected(spark, k) for k in range(1, len(wl.dirs))]

    tracers = []
    t_begin = time.perf_counter()
    while True:
        repetition(measure=True, trace=False, expect=expect)
        if args.trace:
            tracers += repetition(measure=False, trace=True, expect=None)
        if time.perf_counter() - t_begin >= args.seconds:
            break
    stop_session(spark)

    if args.trace:
        for tr in tracers:
            layer_samples(tr, s)
            for r in tr.by_name("streaming.maintenance.apply_batch"):
                s["streaming.maintenance.apply_batch_s"].append(r["end"] - r["start"])
        spark_samples(eventlog, tracers, s)
        print_spans(tracers)
    s["streaming.maintenance.failed_batches"] = [failed_batches]
    info = {
        "setup": f"session {session_s:.3f} s + inputs {input_s:.3f} s "
                 f"(median of {INPUT_REPEATS}) + warm-up repetition {warmup_s:.3f} s",
        "reference": f"build_tiles_local {local_s:.3f} s on the initial load, "
                     f"{ref[0]} tiles (single process, not compared)",
        "batches": f"initial {wl.n_pages} pages, then {len(wl.dirs) - 1} batches of "
                   f"{wl.batch_pages} pages per repetition; store holds "
                   f"{store_tiles[0] if store_tiles else 'no'} tiles after the initial load",
    }
    return ops, {"setup_s": setup_s}, n_features, ref[0], info


# ---------------------------------------------------------------------------

PER_LAYER = [
    ("io.pages.extract_s", "s"), ("io.pages.features", "count"),
    ("io.geojson.parse_s", "s"), ("operators.stats.s", "s"),
    ("pipeline.assign_minzoom_spark.s", "s"),
    ("pipeline.cascade_all_zooms.s", "s"), ("pipeline.cascade_all_zooms.rows", "count"),
    ("pipeline.cascade_all_zooms.rows_z0_4", "count"),
    ("pipeline.build_tiles.encode_self_s", "s"), ("pipeline.build_tiles.spark_jobs", "count"),
    ("pipeline.build_tiles.spark_stages", "count"), ("pipeline.build_tiles.tiles", "count"),
    ("pipeline.build_tiles.tile_bytes", "bytes"),
    ("io.mbtiles.sink_s", "s"), ("io.parquet.sink_s", "s"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.gc_s", "s"), ("spark.encode_task_skew", "ratio"),
    ("proc.jvm_cpu_s", "s"), ("proc.python_cpu_s", "s"), ("proc.peak_rss_mb", "MB"),
    ("proc.jvm_peak_rss_mb", "MB"), ("proc.python_peak_rss_mb", "MB"),
    ("trace.overhead_s", "s"),
]
MAINTENANCE = [
    ("streaming.maintenance.apply_batch_s", "s"),
    ("streaming.maintenance.affected_tiles", "count"),
    ("streaming.maintenance.affected_buckets", "count"),
    ("streaming.maintenance.rebuilt_share", "ratio"),
    ("streaming.maintenance.failed_batches", "count"),
]


def report(args, wl, ops, fixed, n_features, n_tiles, info) -> dict:
    s = ops.samples
    values, lines = {}, []

    def put(name, unit, samples, note=""):
        if samples:
            value = statistics.median(samples)
            values[name] = {"value": value, "unit": unit}
            lines.append(f"  {name:40s} {value:14.6g} {unit:6s} {summary(samples)}{note}")
        else:
            lines.append(f"  {name:40s} {'absent':>14s} {unit:6s} {note or 'no samples'}")

    if args.trace:
        names = PER_LAYER + (MAINTENANCE if wl.name == "incremental_crawl" else [])
        for name, unit in names:
            put(name, unit, s.get(name, []))
    else:
        put("setup_s", "s", [fixed["setup_s"]], "  (see setup above)")
        put("build_s", "s", s["build_s"])
        put("features_per_s", "1/s", [n_features / b for b in s["build_s"]],
            f"  ({n_features} features)")
        put("tiles_per_s", "1/s", [n_tiles / b for b in s["build_s"]], f"  ({n_tiles} tiles)")
        put("cpu_s", "s", s["cpu_s"], "  (JVM + python workers + driver)")
        if wl.name == "incremental_crawl":
            put("update_s", "s", s["update_s"],
                "" if s["update_s"] else "  no update batch completed")
            values["fail_ratio"] = {"value": ops.failed / ops.attempted, "unit": "ratio"}
            lines.append(f"  {'fail_ratio':40s} {values['fail_ratio']['value']:14.6g} ratio  "
                         f"{ops.failed} of {ops.attempted} operations")
    print(f"workload {wl.name} seed {args.seed} on local[{cores()}], "
          f"trace {args.trace}, {ops.attempted} operations, {ops.failed} failed")
    for k, v in info.items():
        print(f"  {k}: {v}")
    print("  failures by class: " + (json.dumps(dict(ops.failures)) if ops.failures else "none"))
    for line in lines:
        print(line)
    return values


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        eventlog = os.path.join(work, "eventlog") if args.trace else None
        prepare_env(work, eventlog)
        import_engine()
        import workloads

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"choose from {sorted(workloads.WORKLOADS)}")
        wl = workloads.WORKLOADS[args.workload](args.seed, 2 * cores())
        spark, session_s = start_session()
        try:
            run = run_crawl if args.workload == "incremental_crawl" else run_build_workload
            ops, fixed, n_features, n_tiles, info = run(args, spark, wl, work,
                                                        session_s, eventlog)
        except BaseException:
            stop_session(spark)
            raise
        if ops.attempted == ops.failed and args.workload != "incremental_crawl":
            print("every operation failed: " + json.dumps(dict(ops.failures)), file=sys.stderr)
            return 1
        metrics = report(args, wl, ops, fixed, n_features, n_tiles, info)
        print(json.dumps({"correct": ops.correct, "attempted": ops.attempted,
                          "failed": ops.failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
