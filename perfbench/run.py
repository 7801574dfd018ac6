"""Benchmark command: one user-path workload, end to end or traced.

    python3 perfbench/run.py --workload {ingest,serve,curate} --seed N \\
        --seconds S --trace {0,1}

Run it from the repository root. With ``--trace 0`` it measures the
end-to-end metrics with tracing off; with ``--trace 1`` it runs the
workload once more layer by layer and reports the per-layer metrics (see
``perfbench/README.md`` for both lists and what each one should move).
The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The line before it carries the workload's named metrics (``detail``).
Every input is generated from ``--seed``; all files go under
``.perfbench/`` in the working directory and are removed at exit, except
the span log of traced runs.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "serve", "curate")


def pin_environment(work: str) -> int:
    """Fix everything the run depends on before Spark starts, and return
    the core count: ``local[nproc]``; the package importable by the Python
    workers however they are launched; Spark's scratch and temp files
    inside ``work`` and no JVM perf-data file in the system temp directory;
    no console progress bar on the terminal; a 2g driver heap (these inputs
    need far less than the library's 8g default, and the host is shared);
    a status tracker that keeps every job of a traced run."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    return cpus


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until it and every Python worker it started are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = _descendants(os.getpid())
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(map(_running, procs)) and time.monotonic() < deadline:
        time.sleep(0.1)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv: list[str] | None = None, size: str = "full") -> dict:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "vectordb_light_spark")):
        sys.exit(f"perfbench: no vectordb_light_spark/ package in {ROOT}")
    sys.path[:0] = [ROOT, HERE]
    from spans import Tracer
    from workloads import END_TO_END, PER_LAYER, Bench

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}"
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, run_id)
    cpus = pin_environment(work)
    from vectordb_light_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, a.workload, run_id, enabled=bool(a.trace))
        bench = Bench(spark, work, a.seed, a.seconds, size, tracer)
        getattr(bench, a.workload)()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        tracer.write(os.path.join(base, f"spans-{a.workload}-s{a.seed}.jsonl"))
        metrics = {k: {"value": bench.layers[k], "unit": u} for k, (u, _) in PER_LAYER.items()}
    else:
        bench.e2e["setup_s"] = bench.timed_from - T_START - bench.setup_discount
        metrics = {k: {"value": bench.e2e[k], "unit": u} for k, (u, _) in END_TO_END.items()}
        bench.detail["ops_failed_frac"] = (bench.failed / max(1, bench.attempted), "ratio")
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "nproc": cpus,
        "detail": {k: {"value": v, "unit": u} for k, (v, u) in bench.detail.items()},
    }))
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return result


if __name__ == "__main__":
    main()
