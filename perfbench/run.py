"""Repeatable benchmark of centimators_spark: three seeded workloads
driven through the package's public API in one long-lived local
SparkSession, one client in a closed loop.

    python3 perfbench/run.py --workload panel_batch --seed 1 --seconds 8 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the same loop with layer tagging and the
Spark event log on and prints the per-layer metrics. The last line of
stdout is one JSON object: correct, attempted, failed, metrics.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))

# Fixed driver heap: local mode runs every executor thread in it. Its
# size is set once (-Xms = -Xmx) and not pre-touched, so peak_rss_mb
# counts the heap pages the program actually uses.
HEAP = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/events",
            "spark.eventLog.compress": "false",
        }
    return conf


def start_session(work: str, trace: bool):
    from centimators_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", cpus=cpus, extra_conf=spark_conf(work, trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for the driver JVM and the Python
    workers under it to exit; the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    from perfbench.tracing import process_tree, running

    gateway = spark.sparkContext._gateway
    tree = process_tree(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(running(p) for p in tree) and time.monotonic() < deadline:
        time.sleep(0.1)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_op(spark, workload, tr, op_id: int):
    """One timed operation: (wall seconds, problems; empty when correct)."""
    tr.begin_op(op_id)
    t0 = time.perf_counter()
    try:
        rows = workload.op(spark, tr, op_id)
    except Exception:  # an operation that raises counts as failed
        traceback.print_exc(file=sys.stderr)
        return time.perf_counter() - t0, ["raised"]
    wall = time.perf_counter() - t0
    return wall, workload.check(rows, op_id)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "centimators_spark", "__init__.py")):
        print("perfbench: run from the repository root; centimators_spark/ not found",
              file=sys.stderr)
        return 2
    # import the benchmark as a package from the root, never its
    # directory, whose module names could shadow others
    sys.path[:] = [root] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    from perfbench import workloads
    from perfbench.tracing import RssSampler, Tracer, Untraced, median, tail_stat

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    warnings.simplefilter("ignore")
    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "local", "events", "data"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher included, keeps its temporary
    # and perf-data files out of the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    spark = None
    try:
        wl = workloads.WORKLOADS[args.workload]()
        t = time.perf_counter()
        wl.generate(args.seed, os.path.join(work, "data"))
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.reference()
        ref_s = time.perf_counter() - t

        trace = bool(args.trace)
        t = time.perf_counter()
        spark = start_session(work, trace)
        start_s = time.perf_counter() - t
        sc = spark.sparkContext
        tracer = Tracer(sc, args.workload) if trace else None
        if tracer:
            tracer.install(type(spark.range(0)))
        untraced = Untraced()
        walls, traced_walls, untraced_walls = [], [], []
        rows_in: list[int] = []
        failed = attempted = 0

        def attempt(op_id: int, tr) -> float:
            nonlocal failed, attempted
            wall, problems = run_op(spark, wl, tr, op_id)
            attempted += 1
            if problems:
                failed += 1
                print(f"perfbench: op {op_id} failed: {problems[:3]}", file=sys.stderr)
            return wall

        with RssSampler(sc._gateway.proc.pid) as rss:
            # set-up: session start plus the cold first operation
            setup_s = start_s + attempt(0, tracer or untraced)
            # unmeasured warm-up operations, for workloads whose operation
            # time still falls over the first few warm operations
            first = 1 + wl.warmup_ops
            for op_id in range(1, first):
                attempt(op_id, untraced)
            deadline = time.perf_counter() + args.seconds
            op_id = first
            # traced runs alternate traced and untraced operations, at
            # least one of each, so the tracing overhead is measured in
            # the same session
            while time.perf_counter() < deadline or (trace and op_id < first + 2):
                tr = tracer if (tracer and op_id % 2 == first % 2) else untraced
                wall = attempt(op_id, tr)
                walls.append(wall)
                rows_in.append(wl.input_rows(op_id))
                (traced_walls if tr is tracer else untraced_walls).append(wall)
                op_id += 1
        peak_rss, peak_jvm = rss.peak, rss.peak_root

        metrics: dict[str, dict] = {}
        info: dict[str, object] = {"gen_s": gen_s, "ref_s": ref_s, "ops": len(walls),
                                   "session_start_s": start_s, **wl.properties}
        if trace:
            extra = wl.trace_counts(spark, tracer)
            tracer.uninstall()
            traced_ops = set(range(first, op_id, 2))
            stop_session(spark)
            spark = None
            from perfbench.layers import layer_metrics

            metrics = layer_metrics(
                os.path.join(work, "events"),
                os.path.join(root, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl"),
                tracer, traced_ops, start_s, extra,
                traced_walls, untraced_walls,
            )
        else:
            tail, pct, n = tail_stat(walls)
            p50 = median(walls)
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_p50_s": {"value": p50, "unit": "s"},
                "op_tail_s": {"value": tail, "unit": "s"},
                "rows_per_s": {"value": median([r / w for r, w in zip(rows_in, walls)]),
                               "unit": "1/s"},
                "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
            }
            info |= {"op_tail_pct": pct, "op_samples": n, "op_walls_s": walls,
                     "peak_jvm_rss_mb": peak_jvm / 2**20,
                     "failed_frac": failed / attempted}
        print("perfbench: " + json.dumps(info, default=float))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
