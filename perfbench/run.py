#!/usr/bin/env python3
"""Benchmark of the engine's two user paths, timed from outside.

Run from the repository root:

    python3 perfbench/run.py --workload lake_daily --seed 1 --seconds 10 --trace 0

One run is one fresh process with one Spark session at ``local[4]``. It
generates its inputs from ``--seed``, sets up and warms the session, then
runs the workload as a closed loop with one client for ``--seconds`` (and
at least the workload's ``min_iterations``). Every output is checked
against values computed without the engine. The last line of stdout is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The traced run wraps the same calls in spans
and reads Spark's status store; its spans and the run's stamps go to
``perfbench/runs/``.

Workloads (see ``workloads.py``): ``lake_daily`` and ``sql_analytics``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time is measured from here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "retail_aws_etl_pipeline_spark"
WIDTH = 4
HEAP = "2g"  # the driver JVM's heap

#: Per-layer metrics, in output order, with their units. Every traced run
#: prints all of them; a layer a workload does not exercise reads 0.
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.load_tables_s": "s",
    "sources.head_check_s": "s",
    "sources.read_s": "s",
    "validate.route_s": "s",
    "validate.reject_share": "ratio",
    "ingest.file_s": "s",
    "ingest.rows_per_s": "rows/s",
    "ingest.jobs_per_file": "count",
    "ingest.stages_per_file": "count",
    "ingest.tasks_per_file": "count",
    "ingest.silver_files_per_file": "count",
    "lake.batch_s": "s",
    "lake.storage_amp": "ratio",
    "lake.silver_bytes": "bytes",
    "lake.gold_bytes": "bytes",
    "lake.reject_bytes": "bytes",
    "lake.gold_files_per_date": "count",
    "compact.s": "s",
    "compact.rows_per_s": "rows/s",
    "compact.jobs": "count",
    "compact.stages": "count",
    "compact.tasks": "count",
    "compact.shuffle_write_mb": "MB",
    "compact.spill_mb": "MB",
    "compact.dup_removed_share": "ratio",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.shuffle_mb": "MB",
    "plans.spill_mb": "MB",
    "plans.busy_share": "ratio",
    "plans.failed_tasks": "count",
    "trace.mix_pass_s": "s",
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "mix_pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    from workloads import SQL_QUERIES

    units = dict(PER_LAYER_UNITS)
    for q in SQL_QUERIES:
        units[f"plans.{q}.s"] = "s"
        units[f"plans.{q}.tasks"] = "count"
    return units


def _parse(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _source_digest() -> str:
    """Digest of the engine's sources: identifies the code when the
    checkout is not a git repository."""
    h = hashlib.sha256()
    base = os.path.join(ROOT, PACKAGE)
    for root, dirs, names in os.walk(base):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                path = os.path.join(root, n)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _start_spark(work: str):
    from retail_aws_etl_pipeline_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    # Keep every scratch file of the JVMs (the launcher's and the Spark driver's)
    # inside the run's directory; HotSpot's perf-data file always goes to
    # /tmp, so it is switched off.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    return get_spark(
        app_name="perfbench",
        master=f"local[{WIDTH}]",
        shuffle_partitions=WIDTH,
        extra_conf={
            "spark.local.dir": local,
            # A fixed heap (initial = maximum) and a fixed young generation:
            # the driver's resident size then follows what the program keeps
            # live, not when the collector chose to grow the heap, which
            # moved peak RSS by a quarter between runs of the same work.
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Xmn256m",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _calibrate(spark) -> float:
    """bench.py's fixed pure-JVM workload, as a stamp of host speed."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id * 2 + 1)").collect()
    return time.perf_counter() - t0


def run(args, work: str) -> tuple[dict, dict]:
    import workloads as W
    from spans import StageCounters, Tracer
    from workloads import Ctx, median, tail

    stamps = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_sha": _git_sha(),
        "source_digest": _source_digest(),
        "python": platform.python_version(),
        "loadavg_start": list(os.getloadavg()),
    }
    t = time.perf_counter()
    spark = _start_spark(work)
    get_spark_s = time.perf_counter() - t
    try:
        sc = spark.sparkContext
        stamps.update(
            spark=spark.version,
            master=sc.master,
            default_parallelism=sc.defaultParallelism,
            shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
        )
        tracer = Tracer(bool(args.trace), StageCounters(spark) if args.trace else None)
        ctx = Ctx(spark, args.seed, work, tracer)

        workload = W.WORKLOADS[args.workload]()
        workload.setup(ctx)  # generates the inputs and checks the outputs once
        for i in range(workload.warmup_iterations):  # checked like every iteration
            ctx.tracer.iteration = -i
            workload.iterate(ctx, -i)
        setup_s = time.perf_counter() - T0 - ctx.oracle_s

        samples = []
        t_start = time.perf_counter()
        while len(samples) < workload.min_iterations or time.perf_counter() - t_start < args.seconds:
            ctx.tracer.iteration = len(samples) + 1
            with tracer.span("iteration"):
                samples.append(workload.iterate(ctx, len(samples) + 1))
        measured_s = time.perf_counter() - t_start

        jvm = getattr(sc._gateway, "proc", None)
        stamps["hwm_mb"] = {
            "python": _vm_hwm_kb(os.getpid()) / 1024,
            "jvm": _vm_hwm_kb(jvm.pid) / 1024 if jvm else 0.0,
        }
        rss_mb = sum(stamps["hwm_mb"].values())
        stamps["calib_s"] = _calibrate(spark)  # after the timed work, outside set-up
    finally:
        _stop_spark(spark)

    queries = [x for s in samples for x in s["query_s"]]
    tail_s, tail_pct = tail(queries)
    end_to_end = {
        "setup_s": setup_s,
        "mix_pass_s": median(s["pass_s"] for s in samples),
        "query_p50_s": median(queries),
        "query_tail_s": tail_s,
        "peak_rss_mb": rss_mb,
    }
    stamps.update(
        loadavg_end=list(os.getloadavg()),
        iterations=len(samples),
        pass_s=[s["pass_s"] for s in samples],
        op_s=[(o.name, round(o.seconds, 4)) for o in ctx.ops],
        measured_s=measured_s,
        query_samples=len(queries),
        query_tail_percentile=tail_pct,
        failures=ctx.failures,
    )
    record = {"stamps": stamps, "end_to_end": end_to_end}
    if args.trace:
        record["per_layer"] = per_layer(ctx, samples, get_spark_s, workload)
        record["spans"] = tracer.to_records()
    return record, {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
    }


def per_layer(ctx, samples: list[dict], get_spark_s: float, workload) -> dict:
    from workloads import LakeDaily, median

    m = {k: 0.0 for k in per_layer_units()}
    m["session.get_spark_s"] = get_spark_s
    m["trace.mix_pass_s"] = median(s["pass_s"] for s in samples)

    def counters(ops, key):
        return median(o.span.counters.get(key, 0) for o in ops if o.span is not None)

    # plans: per pass over the queries the iteration ran
    per_pass = [
        {
            k: sum(o.span.counters.get(k, 0) for o in s["queries"])
            for k in ("jobs", "stages", "tasks", "shuffle_read_mb", "spill_mb", "failed_tasks", "run_time_s")
        }
        for s in samples
    ]
    for k, src in (
        ("jobs", "jobs"),
        ("stages", "stages"),
        ("tasks", "tasks"),
        ("shuffle_mb", "shuffle_read_mb"),
        ("spill_mb", "spill_mb"),
        ("failed_tasks", "failed_tasks"),
    ):
        m[f"plans.{k}"] = median(p[src] for p in per_pass)
    busy = sum(p["run_time_s"] for p in per_pass)
    query_wall = sum(o.seconds for s in samples for o in s["queries"])
    m["plans.busy_share"] = busy / (query_wall * WIDTH) if query_wall else 0.0

    if isinstance(workload, LakeDaily):
        exp = workload.expect
        ingest = [o for s in samples for o in s["ingest_ops"]]
        compact = [s["compact"] for s in samples]
        probes = [s["probe"] for s in samples]
        m.update(
            {
                "sources.head_check_s": median(x for p in probes for x in p["head_s"]),
                "sources.read_s": median(x for p in probes for x in p["read_s"]),
                "validate.route_s": median(x for p in probes for x in p["route_s"]),
                "validate.reject_share": sum(p["reject_rows"] for p in probes)
                / max(sum(p["data_rows"] for p in probes), 1),
                "ingest.file_s": median(o.seconds for o in ingest),
                "ingest.rows_per_s": median(exp.raw_rows / s["ingest_s"] for s in samples),
                "ingest.jobs_per_file": counters(ingest, "jobs"),
                "ingest.stages_per_file": counters(ingest, "stages"),
                "ingest.tasks_per_file": counters(ingest, "tasks"),
                "ingest.silver_files_per_file": median(x for s in samples for x in s["silver_files"]),
                "lake.batch_s": median(s["batch_s"] for s in samples),
                "lake.storage_amp": median(
                    (s["silver_bytes"] + s["gold_bytes"] + s["reject_bytes"]) / exp.raw_bytes
                    for s in samples
                ),
                "lake.silver_bytes": median(s["silver_bytes"] for s in samples),
                "lake.gold_bytes": median(s["gold_bytes"] for s in samples),
                "lake.reject_bytes": median(s["reject_bytes"] for s in samples),
                "lake.gold_files_per_date": median(s["gold_files_per_date"] for s in samples),
                "compact.s": median(o.seconds for o in compact),
                "compact.rows_per_s": median(exp.silver_rows / o.seconds for o in compact),
                "compact.jobs": counters(compact, "jobs"),
                "compact.stages": counters(compact, "stages"),
                "compact.tasks": counters(compact, "tasks"),
                "compact.shuffle_write_mb": counters(compact, "shuffle_write_mb"),
                "compact.spill_mb": counters(compact, "spill_mb"),
            }
        )
        removed = [
            sum(r["duplicate_rows_removed"] for r in o.value["results"])
            / max(sum(r["total_rows_in_source_partition"] for r in o.value["results"]), 1)
            for o in compact
            if o.ok
        ]
        m["compact.dup_removed_share"] = median(removed)
    else:
        m["session.load_tables_s"] = workload.load.seconds
        for q in {o.name for s in samples for o in s["queries"]}:
            ops = [o for s in samples for o in s["queries"] if o.name == q]
            m[f"{q}.s"] = median(o.seconds for o in ops)
            m[f"{q}.tasks"] = counters(ops, "tasks")
    return m


def main(argv=None) -> int:
    args = _parse(argv)
    # Only the result line may reach stdout. Point fd 1 at stderr before the
    # JVM starts (it inherits fd 1), and write the result to the saved fd.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    for need in (os.path.join(ROOT, PACKAGE, "__init__.py"), os.path.join(ROOT, "tests", "oracle.py")):
        if not os.path.isfile(need):
            print(f"perfbench: {need} is missing; run from a full checkout", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    try:
        record, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = END_TO_END_UNITS if not args.trace else per_layer_units()
    values = record["end_to_end"] if not args.trace else record["per_layer"]
    result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    runs = os.path.join(HERE, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({**record, "result": result}, f, indent=1)
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
