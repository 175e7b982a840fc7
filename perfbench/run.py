"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. The command builds a SparkSession sized to
the machine (``local[nproc]``, driver heap a quarter of MemTotal),
generates the workload's inputs from the seed, sets up and warms the
engine, measures for ``--seconds``, checks the outputs, and prints, as
the last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the per-layer ones, from spans the benchmark records
around its calls into the engine (written to ``.perfbench-out/``).
Lines before the last one name the workload-specific figures and the
machine. Everything the run writes stays under the repository root, in
a fresh work directory that is removed at the end.
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
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def declared(kind: str) -> dict[str, str]:
    """The ``end_to_end`` or ``per_layer`` metrics BENCHMARK.json declares,
    name -> unit. A workload that bypasses a layer reports 0 for it."""
    with open(ROOT / "BENCHMARK.json") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def machine() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "java": java[0] if java else "unknown",
        "pyspark": pyspark.__version__,
    }


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
                out.append(int(entry))
    return out


def _cpu_ticks() -> tuple[int, int]:
    """Steal and total CPU ticks of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(t) for t in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def build_spark(work: Path, info: dict):
    """A SparkSession sized to this machine, writing only under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    from solana_etl_pipeline_spark.session import build_session, gc_java_opts

    heap_mb = max(1024, min(8192, info["mem_total_mb"] // 4))
    info["driver_heap_mb"] = heap_mb
    os.environ.update(
        {
            "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
            # a fixed-size heap: with a growable one, when the JVM expands
            # its heap (and so its resident memory) depends on GC timing
            "SPARK_DRIVER_JAVA_OPTS": f"{gc_java_opts()} -Xms{heap_mb}m -Djava.io.tmpdir={tmp}",
            "SPARK_LOCAL_DIRS": str(tmp),
            "TMPDIR": str(tmp),
            "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        }
    )
    spark = build_session(
        app_name="perfbench",
        master=f"local[{info['nproc']}]",
        shuffle_partitions=info["nproc"],
        extra_confs={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # pools share the task slots fairly; a single-threaded
            # workload runs in the default pool, first in first out
            "spark.scheduler.mode": "FAIR",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, jvms: list[int]) -> None:
    """Stop the session, then the JVM it ran in, and wait for it."""
    spark.stop()
    for pid in jvms:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            continue
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            try:
                if os.waitpid(pid, os.WNOHANG)[0]:
                    break
            except ChildProcessError:
                break
            time.sleep(0.1)
        else:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=("pipeline", "mix"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import solana_etl_pipeline_spark  # noqa: F401  (the engine must be present)
    except ImportError as exc:
        print(f"perfbench: engine not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench.mix import Mix
    from perfbench.pipeline import Pipeline
    from perfbench.trace import Tracer

    workloads = {"pipeline": Pipeline, "mix": Mix}
    info = machine()
    work = ROOT / ".perfbench-work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spark = None
    try:
        steal0, total0 = _cpu_ticks()
        t0 = time.perf_counter()
        spark = build_spark(work, info)
        jvms = _children(os.getpid())
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        load = workloads[args.workload](spark, str(work), args.seed, tracer)
        t1 = time.perf_counter()
        load.setup()
        warmup_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0

        t2 = time.perf_counter()
        load.run(args.seconds)
        attempted, failed = load.counts()
        t3 = time.perf_counter()
        problems = load.check()
        info["phases_s"] = {"session": session_s, "setup": warmup_s, "run": t3 - t2, "check": time.perf_counter() - t3}
        # time the hypervisor ran other guests on this machine's CPUs: a
        # slow phase of the host shows here, not in the program
        steal1, total1 = _cpu_ticks()
        info["cpu_steal_pct"] = 100 * (steal1 - steal0) / max(1, total1 - total0)
        peak_rss = _hwm_mb(os.getpid()) + sum(_hwm_mb(p) for p in jvms)
        measured = load.metrics()
        layers = load.layer_metrics() if args.trace else {}
    finally:
        if spark is not None:
            stop_spark(spark, jvms)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run is still using it

    for line in problems + load.errors:
        print(f"perfbench: {line}", file=sys.stderr)
    named = dict(measured.pop("named"))
    named["failed_ratio"] = (failed / attempted if attempted else 1.0, "ratio")
    named["setup_s"] = (setup_s, "s")
    named["peak_rss_mb"] = (peak_rss, "MB")
    print("machine " + json.dumps(info))
    for name, (value, unit) in named.items():
        print(f"{args.workload} {name} {value:.6g} {unit}")

    if args.trace:
        out_dir = ROOT / ".perfbench-out"
        out_dir.mkdir(exist_ok=True)
        tracer.dump(str(out_dir / f"spans-{args.workload}-{args.seed}.jsonl"))
        units = declared("per_layer")
        values = dict.fromkeys(units, 0)
        values.update(layers)
        values["session.build_s"] = session_s
        values["session.warmup_s"] = warmup_s
        values["spark.tasks_failed"] = tracer.failed_tasks()
        metrics = {n: {"value": values[n], "unit": units[n]} for n in units}
    else:
        values = dict(measured, setup_s=setup_s, peak_rss_mb=peak_rss)
        metrics = {n: {"value": values[n], "unit": u} for n, u in declared("end_to_end").items()}
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
