"""Genomics I/O benchmark for the hadoop_bam_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload region_queries --seed 1 --seconds 15 --trace 0

Workloads: region_queries and sort_write. The run generates and indexes its
seeded inputs under ``.perfbench_work/`` three times while Spark starts,
warms up, reports the median build time plus the warm-up time as
``setup_s``, then runs operations one at a time (closed loop, one client)
until they have taken ``--seconds``, checking each result after its timer
stops. The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1`` (spans are written to
``.perfbench_out/``). Spark and JVM output goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
SETUP_REPEATS = 3
DRIVER_MEM = "3g"


def configure_env(run_dir: str) -> int:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata files in /tmp: the run writes only inside the checkout
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })
    return cpus


def start_spark(run_dir: str):
    from hadoop_bam_spark.session import get_spark
    from hadoop_bam_spark.sources import register_all

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    register_all(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and through it the Python workers)
    to exit, so the run leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, run_dir: str, cpus: int) -> dict:
    from spans import NULL_TRACER, Tracer
    from workloads import WORKLOADS

    w = WORKLOADS[args.workload](args.seed, cpus)
    tracer = Tracer()
    failed = attempted = 0
    problems_seen: list[str] = []

    def checked(i, tr):
        nonlocal failed, attempted
        t0 = time.perf_counter()
        try:
            n, out = w.op(i, tr)
            wall = time.perf_counter() - t0
            problems = w.check(i, out)  # not timed
        except Exception as e:  # an operation that raises counts as failed
            wall = time.perf_counter() - t0
            n, problems = 0, [f"{type(e).__name__}: {e}"]
        attempted += 1
        if problems:
            failed += 1
            problems_seen.extend(problems[:2])
        return wall, n

    # The JVM starts in the background while the inputs are generated and
    # indexed SETUP_REPEATS times (the last copy is the one measured).
    started: dict = {}

    def start():
        t0 = time.perf_counter()
        try:
            started["spark"] = start_spark(run_dir)
        except BaseException as e:  # re-raised on the main thread below
            started["error"] = e
        started["seconds"] = time.perf_counter() - t0

    starter = threading.Thread(target=start)
    starter.start()
    builds = []
    try:
        for k in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            if w.dir:
                shutil.rmtree(w.dir)
            w.build(os.path.join(run_dir, f"input{k}"))
            builds.append(time.perf_counter() - t0)
    finally:
        starter.join()
    if "error" in started:
        raise started["error"]
    w.spark = spark = started["spark"]
    try:
        warm = sum(checked(i, NULL_TRACER)[0] for i in range(w.warmup_ops))

        walls, reads, traced_walls, untraced_walls = [], [], [], []
        i = w.warmup_ops
        # --seconds of timed operations; the untimed output checks come on top
        while sum(walls) < args.seconds or len(walls) < 3 or len(walls) % w.round_ops:
            # traced runs alternate traced and plain operations, so the
            # difference of their medians is the tracing overhead
            traced = bool(args.trace) and i % 2 == 0
            tr = tracer.op(i) if traced else NULL_TRACER
            wall, n = checked(i, tr)
            if traced:
                tracer.close_op(wall)
                traced_walls.append(wall)
            else:
                untraced_walls.append(wall)
            walls.append(wall)
            reads.append(n)
            i += 1

        if args.trace:
            from probes import layer_metrics

            metrics = layer_metrics(w, tracer, traced_walls, untraced_walls)
            metrics["session.start_s"] = (started["seconds"], "s")
            os.makedirs(OUT, exist_ok=True)
            tracer.dump(os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json"))
        else:
            metrics = {
                "setup_s": (statistics.median(builds) + warm, "s"),
                "reads_per_s": (sum(reads) / sum(walls), "1/s"),
                "op_p50_ms": (statistics.median(walls) * 1e3, "ms"),
                "bytes_per_read": (w.bytes_per_read(), "B"),
            }
    finally:
        stop_spark(spark)
    print(f"[perfbench] {args.workload} seed={args.seed}: {len(walls)} ops "
          f"{[round(x, 3) for x in walls]}, builds {[round(b, 3) for b in builds]}, "
          f"warm-up {warm:.3f} s, spark start {started['seconds']:.3f} s, "
          f"failed {failed}", file=sys.stderr)
    for p in problems_seen[:5]:
        print(f"[perfbench] problem: {p}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["region_queries", "sort_write"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hadoop_bam_spark", "__init__.py")):
        print("perfbench: engine sources (hadoop_bam_spark/) not found next to "
              "the benchmark directory", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    # Keep everything but the result line off stdout: the JVM and the Python
    # workers inherit fd 1, so point it at stderr and keep a private copy.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        cpus = configure_env(run_dir)
        result = run(args, run_dir, cpus)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
