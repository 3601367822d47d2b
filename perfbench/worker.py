"""One benchmark run inside one process: set up, time the workload's
ops, check their outputs, and write the result for ``run.py``.

Started by ``run.py`` (never directly) with the run's isolated
``TMPDIR``/``SPARK_LOCAL_DIRS``/working directory already in place.
The process is a single closed-loop client: each op starts after the
previous one, its checks and the status read have finished.
"""

from __future__ import annotations

import time

T_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
from checks import Oracle, check_archive, check_spec  # noqa: E402
from spans import Tracer  # noqa: E402
from status import InstrumentationError, StatusReader, Window  # noqa: E402

# Three of the 9 streaming-graded registry specs: the run budget holds no
# more (see README.md, "What the run budget left out").
STREAM_SPECS = [
    "users_triangles_streaming",
    "users_sig_edges_streaming",
    "streaming_dedup_archive",
]

# Read-only oracle-graded batch specs over the tables and the persisted
# state they build on first use.
ARCHIVE_SPECS = [
    "q12_priority_counts",
    "events_asof_join",
    "docs_bm25_search",
    "knn_ann_ivf",
    "docs_tfidf_incremental",
    "users_sig_edges_incremental",
]

DAYS_PER_PASS = 5
WARMUP_DAYS = 2

# The tables each archive spec reads (from its oracle query).  An op's
# input rows are their generated row counts, a number fixed by the
# inputs, so a plan that reads fewer records does not lower rows_per_s.
SPEC_TABLES = {
    "q12_priority_counts": ("lineitem", "orders"),
    "events_asof_join": ("events",),
    "docs_bm25_search": ("documents",),
    "knn_ann_ivf": ("embeddings",),
    "docs_tfidf_incremental": ("documents",),
    "users_sig_edges_incremental": ("events",),
}

# Every per-layer metric, with its unit, as BENCHMARK.json lists them.
# A metric a workload does not exercise reads 0.
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as _fh:
    PER_LAYER = {m["name"]: m["unit"] for m in json.load(_fh)["per_layer"]}


@dataclass
class Op:
    name: str
    wall: float
    error: str | None = None
    rows_in: int = 0
    layer: dict[str, float] = field(default_factory=dict)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


def parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Run:
    """State shared by the workloads of one run."""

    def __init__(self, spark, args, run_dir: str, tracer: Tracer) -> None:
        self.spark = spark
        self.seed = args.seed
        self.run_dir = run_dir
        self.tmp = os.environ["TMPDIR"]
        self.tracer = tracer
        self.status = StatusReader(spark)
        self.rng = random.Random(args.seed)
        self._phase_file = os.path.join(run_dir, "phase")

    @contextmanager
    def timed(self):
        """Marks the timed part of an op; run.py keeps the memory peak of
        these stretches only."""
        with open(self._phase_file, "w") as fh:
            fh.write("op")
        try:
            yield
        finally:
            with open(self._phase_file, "w") as fh:
                fh.write("idle")

    def heap_peak_mb(self) -> float:
        """Peak used MB of the JVM's long-lived heap (the pools other than
        eden, where cached frames and broadcast tables end up) since the
        previous call, which resets the peaks."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        peak = 0
        for pool in mf.getMemoryPoolMXBeans():
            if pool.getType().toString() == "Heap memory" and "Eden" not in pool.getName():
                peak += pool.getPeakUsage().getUsed()
            pool.resetPeakUsage()
        return peak / 1e6

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, "data", *parts)

    def spark_layer(self, op: Op, win: Window, t0: float, t1: float) -> None:
        op.layer.update(
            {
                "spark.jobs": win.n_jobs,
                "spark.stages": win.n_stages,
                "spark.tasks": win.n_tasks,
                "spark.task_s": win.task_s,
                "spark.gc_s": win.gc_s,
                "spark.shuffle_write_mb": win.shuffle_write_mb,
                "spark.spill_mb": win.spill_mb,
                "spark.bcast_builds": win.bcast_builds,
                "spark.driver_s": max(t1 - t0 - win.covered_s(t0, t1), 0.0),
                "tables.input_mb": win.input_mb,
                "jvm.old_gen_peak_mb": self.heap_peak_mb(),
            }
        )
        for j in win.jobs:
            s, e = j.get("submissionTime"), j.get("completionTime")
            if s is not None and e is not None:
                self.tracer.add(f"job:{j['jobId']}", s / 1e3, e / 1e3)
        if win.n_jobs == 0:
            raise InstrumentationError(f"op {op.name} shows 0 Spark jobs")

    def read_status(self) -> Window:
        with self.tracer.span("status"):
            return self.status.read()

    def release(self, op: Op) -> None:
        from updating_datasets_data_engineering_spark import caching

        with self.tracer.span("release"):
            op.layer["caching.frames_released"] = caching.release_tracked()


# ------------------------------------------------------------ workloads


class DailyCycle:
    """The reference's own job: per day, ``run_processing_job`` on the
    day's scraped records, then the in-place ``run_merge_job``."""

    def __init__(self, run: Run) -> None:
        self.run = run

    def setup(self) -> None:
        run = self.run
        self.days = gen.shot_days(run.seed, run.path("scrape"), DAYS_PER_PASS)
        warm = gen.shot_days(
            run.seed + 1_000_003, run.path("warm_scrape"), WARMUP_DAYS, games_per_day=2
        )
        for d, day_dir in enumerate(warm.day_dirs):
            self._cycle(day_dir, run.path("warm_delta", str(d)), run.path("warm_archive"), [])
        self.passes = 0

    def _cycle(self, day_dir: str, delta: str, archive: str, marks: list[float]) -> None:
        """Process then merge one day; appends the perf_counter time at
        which each of the two calls finished to ``marks``."""
        from updating_datasets_data_engineering_spark import jobs

        spark, tr = self.run.spark, self.run.tracer
        with tr.span("process"):
            jobs.run_processing_job(spark.read.text(day_dir), delta)
        marks.append(time.perf_counter())
        with tr.span("merge"):
            jobs.run_merge_job(spark, archive, delta, archive)
        marks.append(time.perf_counter())

    def ops(self):
        p = self.passes
        self.passes += 1
        archive = self.run.path(f"archive_{p}")
        for d, day_dir in enumerate(self.days.day_dirs):
            yield self._op(p, d, day_dir, archive)

    def _op(self, p: int, d: int, day_dir: str, archive: str):
        def op() -> Op:
            run = self.run
            delta = run.path(f"delta_{p}_{d}")
            had_archive = os.path.isdir(archive)
            marks: list[float] = []
            error = None
            run.heap_peak_mb()  # resets the peaks
            e0 = time.time()
            t0 = time.perf_counter()
            try:
                with run.timed(), run.tracer.span(f"op:day{d}"):
                    self._cycle(day_dir, delta, archive, marks)
            except Exception as exc:  # an engine failure is a failed op
                error = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            t_end = time.perf_counter()
            marks += [t_end] * (2 - len(marks))
            o = Op(f"day{d}", t_end - t0, error, rows_in=self.days.day_lines[d])
            win = run.read_status()
            run.spark_layer(o, win, e0, e0 + o.wall)
            proc_w, merge_w = win.split(e0 + marks[0] - t0)
            o.layer.update(
                {
                    "process.s": marks[0] - t0,
                    "process.task_s": proc_w.task_s,
                    "merge.s": marks[1] - marks[0],
                    "merge.jobs": merge_w.n_jobs,
                    "merge.shuffle_mb": merge_w.shuffle_write_mb,
                    "merge.bcast_builds": merge_w.bcast_builds,
                    "merge.written_mb": merge_w.written_mb,
                }
            )
            if os.path.isdir(delta):
                delta_bytes = dir_bytes(delta)
                o.layer["process.rows_out_per_in"] = parquet_rows(delta) / o.rows_in
                o.layer["merge.write_amp"] = merge_w.written_mb * 1e6 / max(delta_bytes, 1)
            if os.path.isdir(archive):
                o.layer["merge.archive_files"] = sum(
                    f.endswith(".parquet") for _, _, fs in os.walk(archive) for f in fs
                )
            if error is None and had_archive and merge_w.bcast_builds == 0:
                raise InstrumentationError(
                    f"daily merge {o.name} counted 0 broadcast builds; its delta "
                    f"anti-join is known to broadcast"
                )
            run.release(o)
            if error is None:
                with run.tracer.span("check"):
                    o.error = check_archive(archive, self.days.expected[d])
            return o

        return op


class SpecOps:
    """Registry specs as ops: build (``queries()[name]``), then force the
    returned frame with the ``noop`` sink.  The check collects the same
    frame again, outside the timed region, and compares it with the
    spec's DuckDB oracle."""

    names: list[str] = []
    streaming = False

    def __init__(self, run: Run) -> None:
        self.run = run

    def setup(self) -> None:
        from updating_datasets_data_engineering_spark import registry, tables

        run = self.run
        self.tables = run.path("tables")
        self.table_rows = gen.write_tables(run.seed, self.tables)
        self.builders = registry.queries()
        self.oracle_sql = registry.oracle_sql()
        self.oracle = Oracle(self.tables, os.path.join(run.tmp, "duckdb_spill"), tables.TABLE_NAMES)
        if self.streaming:
            from updating_datasets_data_engineering_spark.streaming.metrics import (
                attach_progress_recorder,
            )

            self.progress, _ = attach_progress_recorder(run.spark)
        self.warmup()

    def warmup(self) -> None:
        pass

    def ops(self):
        order = list(self.names)
        self.run.rng.shuffle(order)
        for name in order:
            yield self._op(name)

    def _op(self, name: str):
        def op() -> Op:
            run = self.run
            n_batches = len(self.progress.batches) if self.streaming else 0
            run.heap_peak_mb()  # resets the peaks
            e0 = time.time()
            t0 = time.perf_counter()
            error = df = None
            t_built = None
            try:
                with run.timed(), run.tracer.span(f"op:{name}"):
                    with run.tracer.span("build"):
                        df = self.builders[name](run.spark, self.tables)
                    t_built = time.perf_counter()
                    with run.tracer.span("force"):
                        force(df)
            except Exception as exc:  # an engine failure is a failed op
                error = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            t_end = time.perf_counter()
            o = Op(name, t_end - t0, error)
            win = run.read_status()
            if self.streaming:  # batch spans first, so job spans nest in them
                self._stream_layer(o, win, n_batches, e0)
            else:
                o.rows_in = sum(self.table_rows[t] for t in SPEC_TABLES[name])
            run.spark_layer(o, win, e0, e0 + o.wall)
            o.layer["queries.build_s"] = (t_built - t0) if t_built else 0.0
            o.layer["queries.exec_s"] = (t_end - t_built) if t_built else 0.0
            if error is None:
                with run.tracer.span("check"):
                    o.error = check_spec(self.oracle, name, self.oracle_sql[name], df.toPandas())
                run.status.skip()  # the check's own jobs belong to no op
            run.release(o)
            return o

        return op

    def _stream_layer(self, o: Op, win: Window, n_before: int, e0: float) -> None:
        batches = self.progress.batches[n_before:]
        if not batches and o.error is None:
            raise InstrumentationError(f"streaming op {o.name} recorded 0 micro-batches")
        durs = [b.duration_ms / 1e3 for b in batches]
        for b in batches:
            end = win.batch_end(b.query_id, b.batch_id)
            if end is not None:
                self.run.tracer.add(f"batch:{b.batch_id}", end - b.duration_ms / 1e3, end)
        o.rows_in = sum(b.num_input_rows for b in batches)
        o.layer.update(
            {
                "stream.batches": len(batches),
                "stream.batch_s_p50": statistics.median(durs) if durs else 0.0,
                "stream.batch_s_p90": percentile(durs, 90) if durs else 0.0,
                "stream.startup_s": max(o.wall - sum(durs), 0.0),
                "stream.jobs_per_batch": win.n_jobs / max(len(batches), 1),
                "stream.bcast_builds": win.bcast_builds,
                "stream.shuffle_mb": win.shuffle_write_mb,
                "stream.state_rows": max((b.state_rows for b in batches), default=0),
                "stream.state_mb": sum(
                    dir_bytes(os.path.join(self.run.tmp, d))
                    for d in os.listdir(self.run.tmp)
                    if d.startswith(("graft_stream_", "stream_q_"))
                    and os.path.getmtime(os.path.join(self.run.tmp, d)) >= e0
                )
                / 1e6,
            }
        )


class StreamMaintain(SpecOps):
    names = STREAM_SPECS
    streaming = True

    def ops(self):
        """A fixed order, not a seeded shuffle: the first maintainer run
        in a process also starts the stream machinery, and with three ops
        that cost would otherwise move op_s_p50 from seed to seed.  The
        triangle maintainer goes first: it also appends the sig-edges
        partials, so it warms the second op's code (measured 27 s for
        the pair in this order, 33-36 s in the other)."""
        for name in self.names:
            yield self._op(name)


class ArchiveQueries(SpecOps):
    names = ARCHIVE_SPECS

    def warmup(self) -> None:
        """Build every spec once: this lands the persisted indexes the
        probes read (state build) and compiles their code paths."""
        for name in self.names:
            with self.run.tracer.span(f"warmup:{name}"):
                force(self.builders[name](self.run.spark, self.tables))


WORKLOADS = {
    "daily_cycle": DailyCycle,
    "stream_maintain": StreamMaintain,
    "archive_queries": ArchiveQueries,
}


# ---------------------------------------------------------------- probes


def floor_probes(tmp: str) -> dict[str, float]:
    """Fixed-size machine-floor probes, without Spark (never a divisor):
    a CPU hash-partition-and-aggregate and a parquet write/read round
    trip."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(0)
    t0 = time.perf_counter()
    keys = rng.integers(0, 1 << 40, 4_000_000, dtype=np.uint64)
    part = (keys * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(61)  # 8 "reducers"
    order = np.argsort(part, kind="stable")
    np.bincount((keys[order] % np.uint64(1000)).astype(np.int64), minlength=1000)
    t1 = time.perf_counter()
    path = os.path.join(tmp, "floor_probe.parquet")
    table = pa.table({"id": np.arange(500_000), "s": np.arange(500_000).astype(str)})
    pq.write_table(table, path)
    pq.read_table(path).column("s")
    os.remove(path)
    t2 = time.perf_counter()
    return {"cpu_shuffle_s": t1 - t0, "parquet_rw_s": t2 - t1}


# ------------------------------------------------------------------ main


def summarize(passes: list[list[Op]], pass_walls: list[float]) -> dict:
    ops = [o for p in passes for o in p]
    walls = [o.wall for o in ops]
    return {
        "run_s": statistics.median(pass_walls),
        "op_s_p50": statistics.median(walls),
        "op_s_tail": percentile(walls, 90),
        "rows_per_s": statistics.median(
            sum(o.rows_in for o in p) / w for p, w in zip(passes, pass_walls)
        ),
        "attempted": len(ops),
        "failed": sum(o.error is not None for o in ops),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args()

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id, bool(args.trace))

    t0 = time.perf_counter()
    floor_before = floor_probes(os.environ["TMPDIR"])
    floor_s = time.perf_counter() - t0

    from updating_datasets_data_engineering_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("get_spark"):
        spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0

    run = Run(spark, args, args.run_dir, tracer)
    workload = WORKLOADS[args.workload](run)
    workload.setup()
    run.status.skip(strict=False)  # set-up jobs belong to no op
    setup_s = time.perf_counter() - T_PROCESS_START - floor_s

    timed_since = time.time()
    passes: list[list[Op]] = []
    pass_walls: list[float] = []
    timed_s = 0.0  # wall inside ops only: reads and checks are excluded
    while not passes or timed_s < args.seconds:
        done = [op() for op in workload.ops()]
        passes.append(done)
        pass_walls.append(sum(o.wall for o in done))
        timed_s += pass_walls[-1]

    t_timed_end = time.perf_counter()
    floor_after = floor_probes(os.environ["TMPDIR"])
    summary = summarize(passes, pass_walls)
    ops = [o for p in passes for o in p]
    layer = {k: 0.0 for k in PER_LAYER}
    for k in PER_LAYER:
        vals = [o.layer[k] for o in ops if k in o.layer]
        if vals:
            layer[k] = statistics.fmean(vals)
    layer["session.start_s"] = session_s
    layer["trace.run_s"] = summary["run_s"]
    layer["trace.spans"] = len(tracer.spans)
    for name, s in tracer.self_time(since=timed_since).items():
        if f"self.{name}_s" in layer:
            layer[f"self.{name}_s"] = s / len(passes)
    if args.trace and args.trace_out:
        tracer.dump(args.trace_out)
    result = {
        "setup_s": setup_s,
        **summary,
        "layer": {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()},
        "floor": {"before": floor_before, "after": floor_after},
        "phases_s": {
            "setup": setup_s,
            "timed_region": t_timed_end - T_PROCESS_START - floor_s - setup_s,
            "ops": sum(pass_walls),
            "total": time.perf_counter() - T_PROCESS_START,
        },
        "errors": sorted({f"{o.name}: {o.error}" for o in ops if o.error}),
        "ops": [{"name": o.name, "wall": o.wall, "ok": o.error is None} for o in ops],
    }
    with open(os.path.join(args.run_dir, "result.json"), "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except InstrumentationError as e:
        print(f"perfbench: instrumentation failure, run aborted: {e}", file=sys.stderr)
        sys.exit(3)
