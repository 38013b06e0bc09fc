"""The three workloads, their closed-loop runner and the traced replay.

One client sends the next operation only when the previous one has
returned (closed loop) on ``local[nproc]``. A run is: start the session,
build the seeded store, run the op mix as warm-up, then time operations
until ``seconds`` have passed. Every operation, warm-up included, is
checked against the numpy oracle in ``synth``.

A traced run alternates untraced and traced operations. A traced one runs
inside spans, its Spark jobs are counted through a job group, and
afterwards the executor-side layer calls it caused
(``read_window``/``window_to_arrow`` over the same ``ScanPlan``) are
replayed in this process, where the layer wrappers can see them.
"""

from __future__ import annotations

import math
import os
import shutil
import subprocess
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

import synth

# --------------------------------------------------------------------------
# Operations
# --------------------------------------------------------------------------


@dataclass
class Op:
    kind: str
    run: Callable[[], object]  # performs the op, returns what check needs
    check: Callable[[object], str | None]  # None when the answer is right
    cells: int  # cells the op scans, selects or appends
    # oracle positions of the cells read, per input dim (for the traced
    # replay's useful-chunk and rows-per-result ratios)
    positions: tuple
    replay: Callable[[], None]  # traced run only
    before: Callable[[], None] | None = None  # untimed preparation
    # per-op scratch: inputs made by ``before`` and sub-op latencies
    # (``state["parts"]``) reported by ``run``
    state: dict = field(default_factory=dict)


@dataclass
class Sample:
    kind: str
    latency_s: float
    cells: int
    traced: bool
    parts: dict = field(default_factory=dict)  # sub-op latencies


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it: the (n-10)-th smallest value. With fewer than 25
    samples that percentile would fall below p60, which is no tail, so the
    slowest sample is reported instead, as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n < 25:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def chunks_intersecting(positions: tuple) -> int:
    return math.prod(
        len(np.unique(np.asarray(p) // c)) for p, c in zip(positions, synth.CHUNKS)
    )


# --------------------------------------------------------------------------
# Workloads
# --------------------------------------------------------------------------


class Workload:
    name = ""
    warmup_ops: int  # ops run, and checked, before timing starts

    def __init__(self, spark, root: str, seed: int):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.tracer = None  # set by the runner for the traced phase only
        self.last_plan = None  # ScanPlan of the latest driver-side plan_scan

    def build(self) -> None:
        """The seeded 120-step store."""
        from cae_polars_tools_spark.sources.zarr_format import write_group

        self.data = synth.tas_steps(self.seed, 0, synth.STORE_STEPS)
        synth.write_store(write_group, self.root, self.data)

    def ops(self):
        """Endless iterator of Ops."""
        raise NotImplementedError

    def replay_last_plan(self) -> None:
        """Run the executor side of the latest ``scan_data`` op in this
        process: ``window_to_arrow`` over each of its partition windows."""
        from cae_polars_tools_spark.sources.zarr_reader import (
            DEFAULT_CHUNK_SIZE,
            partition_ranges,
            window_to_arrow,
        )

        plan = self.last_plan
        ranges = partition_ranges(plan.total_rows, DEFAULT_CHUNK_SIZE, plan.row_align)
        self.tracer.count("zarr_reader.partitions", len(ranges))
        with self.tracer.span("replay"):
            for s, e in ranges:
                window_to_arrow(plan, s, e)


def _global_mean_rows(spark, root: str):
    from pyspark.sql import functions as F

    from cae_polars_tools_spark.sources.zarr_scan import scan_data

    df = scan_data(spark, root, synth.ARRAY)
    out = df.groupBy("time").agg(F.avg("value").alias("m"), F.count("*").alias("n"))
    return [(r["time"], r["m"], r["n"]) for r in out.collect()]


class BulkScan(Workload):
    """Global-mean series over the whole 120-step store."""

    name = "bulk_scan"
    warmup_ops = 3  # the first scans also grow the JVM heap

    def ops(self):
        positions = tuple(np.arange(n) for n in self.data.shape)
        while True:
            yield Op(
                kind="scan",
                run=lambda: _global_mean_rows(self.spark, self.root),
                check=lambda rows: synth.check_global_mean(self.data, rows),
                cells=self.data.size,
                positions=positions,
                replay=self.replay_last_plan,
            )


class SelectiveQueries(Workload):
    """Box, pushdown and point queries on seeded regions, interleaved."""

    name = "selective_queries"
    warmup_ops = 6  # two passes of the mix

    def _box(self, region):
        from pyspark.sql import functions as F

        from cae_polars_tools_spark.sources.zarr_scan import scan_data

        df = scan_data(self.spark, self.root, synth.ARRAY, select_ranges=region.select_ranges())
        r = df.agg(F.avg("value").alias("m"), F.count("*").alias("n")).collect()[0]
        return r["m"], r["n"]

    def _pushdown(self, region):
        from pyspark.sql import functions as F

        df = (
            self.spark.read.format("zarr")
            .option("array", synth.ARRAY)
            .load(self.root)
            .where(region.where())
        )
        r = df.agg(F.avg("value").alias("m"), F.count("*").alias("n")).collect()[0]
        return r["m"], r["n"]

    def _point(self, ilat: int, ilon: int):
        from cae_polars_tools_spark.sources.zarr_scan import scan_data

        df = scan_data(self.spark, self.root, synth.ARRAY, select_dims={"lat": ilat, "lon": ilon})
        return [(r["time"], r["value"]) for r in df.collect()]

    def _replay_pushdown(self, region) -> None:
        """Plan the data-source read in this process with the filters
        Spark pushes for ``region.where()``, then replay its partitions."""
        from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

        from cae_polars_tools_spark.sources.zarr_datasource import ZarrDataSource

        filters = []
        for dim, lo, hi in (
            ("time", region.t_lo, region.t_hi),
            ("lat", region.lat_lo, region.lat_hi),
            ("lon", region.lon_lo, region.lon_hi),
        ):
            filters += [GreaterThanOrEqual((dim,), lo), LessThanOrEqual((dim,), hi)]
        t = self.tracer
        with t.span("zarr_datasource.pushdown_plan"):
            source = ZarrDataSource({"path": self.root, "array": synth.ARRAY})
            reader = source.reader(source.schema())
            returned = list(reader.pushFilters(filters))
            parts = reader.partitions()
        t.count("zarr_datasource.partitions", len(parts))
        t.count("zarr_datasource.filters_returned", len(returned))
        t.count("zarr_reader.partitions", len(parts))
        with t.span("replay"):
            for p in parts:
                for _ in reader.read(p):
                    pass

    def ops(self):
        from cae_polars_tools_spark.sources.zarr_scan import register_zarr_source

        register_zarr_source(self.spark)
        d = self.data
        for region in synth.regions(self.seed):
            box_pos = region.positions()
            yield Op(
                kind="box",
                run=lambda r=region: self._box(r),
                check=lambda got, r=region: synth.check_box(d, r, *got),
                cells=region.cells(),
                positions=box_pos,
                replay=self.replay_last_plan,
            )
            yield Op(
                kind="pushdown",
                run=lambda r=region: self._pushdown(r),
                check=lambda got, r=region: synth.check_box(d, r, *got),
                cells=region.cells(),
                positions=box_pos,
                replay=lambda r=region: self._replay_pushdown(r),
            )
            plat, plon = region.point()
            yield Op(
                kind="point",
                run=lambda a=plat, b=plon: self._point(a, b),
                check=lambda got, a=plat, b=plon: synth.check_point(d, a, b, got),
                cells=d.shape[0],
                positions=(np.arange(d.shape[0]), [plat], [plon]),
                replay=self.replay_last_plan,
            )


class IngestAppend(Workload):
    """Append 6 steps to a growing store, then read them back."""

    name = "ingest_append"
    warmup_ops = 2  # one plain append and one that rewrites a chunk

    def build(self) -> None:
        from cae_polars_tools_spark.sources.zarr_format import write_group

        base = synth.tas_steps(self.seed, 0, synth.INGEST_BASE_STEPS)
        synth.write_store(write_group, self.root, base)
        self.length = synth.INGEST_BASE_STEPS

    def _frame(self, start: int, new: np.ndarray):
        import pandas as pd

        steps = new.shape[0]
        plane = synth.N_LAT * synth.N_LON
        pdf = pd.DataFrame(
            {
                "time": np.repeat(synth.time_axis(start, start + steps), plane),
                "lat": np.tile(np.repeat(synth.lat_axis(), synth.N_LON), steps),
                "lon": np.tile(synth.lon_axis(), synth.N_LAT * steps),
                synth.ARRAY: new.reshape(-1),
            }
        )
        return self.spark.createDataFrame(pdf)

    def _cycle(self, state: dict):
        from pyspark.sql import functions as F

        from cae_polars_tools_spark.sources.zarr_scan import scan_data
        from cae_polars_tools_spark.sources.zarr_write import append_zarr

        start, stop = state["start"], state["stop"]
        t = self.tracer
        t0 = time.perf_counter()
        with t.span("zarr_write.append") if t is not None else nullcontext():
            summary = append_zarr(state["df"], self.root, "time", value_col=synth.ARRAY)
        if t is not None:
            t.count("zarr_write.chunks_written", summary["chunks_written"])
            t.count("zarr_write.bytes_written", summary["bytes"])
            t.count("zarr_write.user_bytes", summary["cells"] * state["new"].itemsize)
        t1 = time.perf_counter()
        df = scan_data(self.spark, self.root, synth.ARRAY, select_dims={"time": slice(start, stop)})
        r = df.agg(F.sum("value").alias("s"), F.count("*").alias("n")).collect()[0]
        state["parts"] = {"append": t1 - t0, "readback": time.perf_counter() - t1}
        self.length = stop
        return summary, r["s"], r["n"]

    def _check(self, state: dict, got) -> str | None:
        summary, total, count = got
        want_shape = (state["stop"], synth.N_LAT, synth.N_LON)
        if summary["appended"] != synth.APPEND_STEPS or tuple(summary["shape"]) != want_shape:
            return f"append summary {summary}"
        return synth.check_readback(state["new"], total, count)

    def ops(self):
        while True:
            start = self.length
            stop = start + synth.APPEND_STEPS
            state = {"start": start, "stop": stop}

            def prepare(state=state):
                state["new"] = synth.tas_steps(self.seed, state["start"], state["stop"])
                state["df"] = self._frame(state["start"], state["new"])

            cells = synth.APPEND_STEPS * synth.N_LAT * synth.N_LON
            yield Op(
                state=state,
                kind="append",
                before=prepare,
                run=lambda state=state: self._cycle(state),
                check=lambda got, state=state: self._check(state, got),
                cells=cells,
                positions=(np.arange(start, stop), np.arange(synth.N_LAT), np.arange(synth.N_LON)),
                replay=self.replay_last_plan,
            )


WORKLOADS = {w.name: w for w in (BulkScan, SelectiveQueries, IngestAppend)}


# --------------------------------------------------------------------------
# Process accounting
# --------------------------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(jvm_pid: int | None) -> dict[str, float]:
    """Peak resident sets (VmHWM) in MB of this process, the driver JVM
    and the Python workers below it."""
    workers = descendants(jvm_pid) if jvm_pid is not None else []
    return {
        "driver_python": _status_kb(os.getpid(), "VmHWM") / 1024.0,
        "jvm": _status_kb(jvm_pid, "VmHWM") / 1024.0 if jvm_pid is not None else 0.0,
        "workers": sum(_status_kb(p, "VmHWM") for p in workers) / 1024.0,
        "worker_processes": len(workers),
    }


# --------------------------------------------------------------------------
# Runner
# --------------------------------------------------------------------------


def start_session(nproc: int, work: str):
    """The engine's session on ``local[nproc]``; only where the JVM puts
    its scratch files is set here."""
    from cae_polars_tools_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.extraJavaOptions": f'-Djava.io.tmpdir="{tmp}" -XX:-UsePerfData',
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the driver JVM and its Python workers, and wait for
    every one of them to end."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    tree = descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    for pid in tree:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


class Runner:
    def __init__(self, name: str, seed: int, seconds: float, work: str, tracer=None):
        self.name = name
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.nproc = len(os.sched_getaffinity(0))
        self.samples: list[Sample] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.op_seq = 0

    # -- one op -------------------------------------------------------------
    def _execute(self, wl: Workload, op: Op, timed: bool, traced: bool) -> None:
        if op.before is not None:
            op.before()
        self.attempted += 1
        self.op_seq += 1
        t = self.tracer if traced else None
        if self.tracer is not None:
            self.tracer.enabled = traced
        wl.tracer = t
        sc = wl.spark.sparkContext
        group = f"perfbench-{self.op_seq}"
        if t is not None:
            t.op_id = self.op_seq
            sc.setJobGroup(group, op.kind)
        try:
            t0 = time.perf_counter()
            with t.span("spark.action") if t is not None else nullcontext():
                got = op.run()
            latency = time.perf_counter() - t0
            reason = op.check(got)
        except Exception as e:  # a failed op is counted, the run goes on
            reason = f"{type(e).__name__}: {e}"
        finally:
            if t is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
        if reason is not None:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{op.kind}: {reason}")
            return
        if timed:
            parts = dict(op.state.get("parts", {}))
            self.samples.append(Sample(op.kind, latency, op.cells, traced, parts))
        if t is not None:
            self._trace_op(wl, op, sc, group)

    def _trace_op(self, wl: Workload, op: Op, sc, group: str) -> None:
        t = self.tracer
        tracker = sc.statusTracker()
        tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else ():
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numTasks
        t.count("spark.tasks", tasks)
        t.count("ops", 1)
        t.count(f"ops.{op.kind}", 1)
        decoded0 = t.counts["zarr_format.chunks_decoded"]
        parts0 = t.counts["zarr_reader.partitions"]
        op.replay()
        decoded = t.counts["zarr_format.chunks_decoded"] - decoded0
        parts = t.counts["zarr_reader.partitions"] - parts0
        useful = chunks_intersecting(op.positions)
        t.count("zarr_format.chunks_useful", useful)
        t.count(f"zarr_format.chunks_useful.{op.kind}", useful)
        t.count(f"zarr_format.chunks_decoded.{op.kind}", decoded)
        t.count("zarr_reader.rows_kept", op.cells)
        # executor Python time of this op, spread over the cores it could use
        replayed = t.total_s("replay", op_id=self.op_seq)
        action = t.total_s("spark.action", op_id=self.op_seq)
        t.count("spark.residual_s", action - replayed / max(1, min(parts, self.nproc)))

    # -- tracing hooks --------------------------------------------------------
    def _install_wrappers(self, wl: Workload) -> None:
        from cae_polars_tools_spark.sources import coordinates, zarr_reader, zarr_store
        from cae_polars_tools_spark.sources import zarr_format

        t = self.tracer

        def on_get(tr, data, *args):
            if data is not None and tr.inside("replay"):
                tr.count("zarr_format.bytes_fetched", len(data))

        def on_chunk(tr, arr, *args):
            if tr.inside("replay"):
                tr.count("zarr_format.chunks_decoded", 1)

        def on_window(tr, batch, *args):
            if tr.inside("replay"):
                tr.count("zarr_reader.rows", batch.num_rows)

        def on_plan(tr, plan, *args):
            wl.last_plan = plan

        t.wrap(zarr_format.LocalByteStore, "get", "zarr_format.fetch", on_get)
        t.wrap(zarr_format.ZarrV2Array, "read_chunk", "zarr_format.read_chunk", on_chunk)
        t.wrap(zarr_store.ZarrStore, "open_zarr_group", "zarr_store.open")
        t.wrap(coordinates, "resolve_value_selection", "coordinates.resolve")
        t.wrap(coordinates, "coords_for_flat_range", "coordinates.expand")
        t.wrap(zarr_reader, "plan_scan", "zarr_reader.plan", on_plan)
        t.wrap(zarr_reader, "read_window", "zarr_reader.read_window")
        t.wrap(zarr_reader, "window_to_arrow", "zarr_reader.window_to_arrow", on_window)
        # the data source imported these by name
        from cae_polars_tools_spark.sources import zarr_datasource

        t.wrap(zarr_datasource, "plan_scan", "zarr_reader.plan")
        t.wrap(zarr_datasource, "window_to_arrow", "zarr_reader.window_to_arrow", on_window)

    # -- whole run ----------------------------------------------------------
    def run(self) -> dict:
        from cae_polars_tools_spark.sources import zarr_format

        t = self.tracer
        setup_t0 = time.perf_counter()
        if t is not None:
            with t.span("session.start"):
                spark = start_session(self.nproc, self.work)
            t.wrap(zarr_format, "write_group", "zarr_format.write_group")
        else:
            spark = start_session(self.nproc, self.work)
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        try:
            session_s = time.perf_counter() - setup_t0
            root = os.path.join(self.work, "store.zarr")
            wl = WORKLOADS[self.name](spark, root, self.seed)
            t0 = time.perf_counter()
            wl.build()
            build_s = time.perf_counter() - t0
            if t is not None:
                t.unwrap()
            ops = wl.ops()
            t0 = time.perf_counter()
            for _ in range(wl.warmup_ops):
                self._execute(wl, next(ops), timed=False, traced=False)
            warmup_s = time.perf_counter() - t0
            setup_s = session_s + build_s + warmup_s

            # a traced run alternates untraced and traced ops, so both see
            # the same stretch of the run
            end = time.perf_counter() + self.seconds
            if t is not None:
                self._install_wrappers(wl)
            try:
                i = 0
                while True:
                    self._execute(wl, next(ops), timed=True, traced=t is not None and i % 2 == 1)
                    i += 1
                    if time.perf_counter() >= end:
                        break
            finally:
                if t is not None:
                    t.unwrap()
            rss = peak_rss_mb(jvm.pid if jvm is not None else None)
        finally:
            stop_session(spark)
            shutil.rmtree(self.work, ignore_errors=True)
        return {
            "session_s": session_s,
            "build_s": build_s,
            "warmup_s": warmup_s,
            "setup_s": setup_s,
            "peak_rss_mb": rss["driver_python"] + rss["jvm"] + rss["workers"],
            "rss": rss,
        }
