#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload stream_maintain --seed 1 --seconds 5 --trace 0

Run from the repository root.  The run happens in a child process
(``worker.py``) with its own ``TMPDIR``, ``SPARK_LOCAL_DIRS``,
``java.io.tmpdir`` and working directory, all under
``perfbench/.runs/``, deleted afterwards.  This parent samples the
child's resident memory (the Python driver plus its JVM) from outside,
and prints, as the last line of standard output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics, and the run's spans are
written to ``perfbench/traces/<workload>-<seed>.jsonl``.
The line before it holds the machine-floor probes and any failed op.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "updating_datasets_data_engineering_spark"
WORKLOADS = ("daily_cycle", "stream_maintain", "archive_queries")
CHILD_TIMEOUT_S = 170
# The engine's session asks for an 8g driver heap; the benchmark's inputs
# need a fraction of that, and the host's memory is shared.
DRIVER_MEM = "2g"
# The heap is committed at full size but not pre-touched, and has a fixed
# young generation and a fixed marking threshold.  G1 then reuses the
# same few regions for eden and keeps the old generation near its live
# set, so the resident heap is the young generation plus the high-water
# mark of old data (what the engine keeps), not the outcome of adaptive
# heap sizing.
HEAP_OPTIONS = (
    f"-Xms{DRIVER_MEM} -Xmn256m -XX:-G1UseAdaptiveIHOP -XX:InitiatingHeapOccupancyPercent=30"
)
SAMPLE_EVERY_S = 0.2
PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                out += [int(c) for c in fh.read().split()]
        except OSError:
            pass
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    raise ValueError(f"no Pss line for {pid}")


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` and all its descendants.

    The JVM is read from ``/proc/<pid>/statm`` (constant cost: a PSS
    read walks the JVM's page tables and slows the run it measures).
    The Python processes are read as PSS, so the pages that
    ``pyspark.daemon`` shares with the workers it forks count once:
    their resident sizes would count the daemon again for each worker
    alive at the sample, a number set by task scheduling, not by memory
    use.

    A process the JVM is spawning runs the JVM's binary in the JVM's
    address space until it execs (posix_spawn), so it would count the
    JVM twice: a descendant running its parent's ``java`` binary is
    skipped."""
    total, todo = 0, [(pid, "")]
    while todo:
        p, parent_exe = todo.pop()
        try:
            exe = os.readlink(f"/proc/{p}/exe")
            if os.path.basename(exe) == "java":
                if exe == parent_exe:
                    continue
                with open(f"/proc/{p}/statm") as fh:
                    total += int(fh.read().split()[1]) * PAGE
            else:
                total += _pss_bytes(p)
            todo += [(c, exe) for c in _children(p)]
        except (OSError, ValueError):
            pass
    return total


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (steal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def group_members(pgid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                out.append(int(p))
    return out


def stop_group(pgid: int, timeout_s: float = 20.0) -> None:
    """SIGKILL what is left of the worker's process group and wait until
    every member is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + timeout_s
    while group_members(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


def isolated_env(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_INDEX_ROOT", None)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            # JVM temp files into the run dir; no hsperfdata under /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": f"--driver-java-options '{HEAP_OPTIONS}' pyspark-shell",
            "PYTHONPATH": os.pathsep.join([HERE, ROOT]),
            "PYTHONHASHSEED": "0",
        }
    )
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found beside perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cwd = os.path.join(run_dir, "cwd")
    os.makedirs(cwd)
    trace_out = None
    if args.trace:
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        trace_out = os.path.join(HERE, "traces", f"{args.workload}-{args.seed}.jsonl")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir,
    ] + (["--trace-out", trace_out] if trace_out else [])
    phase_file = os.path.join(run_dir, "phase")
    peak = 0
    cpu_before = cpu_times()
    child = subprocess.Popen(
        cmd, cwd=cwd, env=isolated_env(run_dir), stdout=sys.stderr, start_new_session=True
    )
    # a SIGTERM to this process still stops the worker's group (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        deadline = time.monotonic() + CHILD_TIMEOUT_S
        while child.poll() is None:
            if time.monotonic() > deadline:
                print("perfbench: run exceeded its time limit", file=sys.stderr)
                break
            rss = tree_rss_bytes(child.pid)
            try:
                with open(phase_file) as fh:
                    timed = fh.read() == "op"
            except OSError:
                timed = False
            if timed:
                peak = max(peak, rss)
            time.sleep(SAMPLE_EVERY_S)
    finally:
        # the worker stops its session; anything left of the tree (the
        # JVM after a crash or a timeout) is killed here
        if child.poll() is None:
            child.kill()
        child.wait()
        stop_group(child.pid)
        result_path = os.path.join(run_dir, "result.json")
        result = None
        if os.path.isfile(result_path):
            with open(result_path) as fh:
                result = json.load(fh)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".runs"))
        except OSError:
            pass
    if result is None or child.returncode != 0:
        print(f"perfbench: worker failed (exit {child.returncode})", file=sys.stderr)
        return 1

    attempted, failed = result["attempted"], result["failed"]
    if args.trace:
        metrics = result["layer"]
    else:
        values = {
            "setup_s": result["setup_s"],
            "run_s": result["run_s"],
            "op_s_p50": result["op_s_p50"],
            "op_s_tail": result["op_s_tail"],
            "rows_per_s": result["rows_per_s"],
            "peak_rss_mb": peak / 1e6,
            # add-one smoothed, so the share is never 0 (see README.md)
            "failed_frac": (failed + 1) / (attempted + 1),
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    result["floor"]["cpu_steal_share"] = steal_share(cpu_before, cpu_times())
    print(json.dumps({"floor": result["floor"], "phases_s": result["phases_s"], "errors": result["errors"], "ops": result["ops"]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
