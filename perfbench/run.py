"""Layered extraction benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload forms-uniform --seed 1 --seconds 15 --trace 0

One batch job at a time (a closed loop with one client) runs on one
warm SparkSession at ``local[<cpus>]``, repeated until ``--seconds`` of
job time is measured. Outputs are checked after every job, outside the
timed region. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json; with ``--trace 1`` the per-layer ones. The line before
it is a report with every measured number, the host and configuration
fingerprint, and the jobs, stages and plan hashes of every job.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import measure as M  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# a floor on the jobs behind each median, for runs shorter than a few jobs
MIN_JOBS = 3

# untimed full-size jobs after the small warm-up job: on a fresh JVM the
# first three full-size jobs ran 10-20% slower than the later ones
WARM_JOBS = 3

# printed in the report on the workloads they apply to; not in the
# result line, whose metrics must exist and be non-zero on every workload
REPORT_ONLY_UNITS = {"recover_s": "s", "err_frac": "ratio", "cpu_s": "s"}


def metric_units(root: str, kind: str) -> dict[str, str]:
    """name → unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def ship_package(spark, root: str, work_dir: str) -> None:
    """Zip the checkout's package and add it to every Python worker's
    path. (``__spark_entry__._ship_package`` does the same but zips into
    /tmp; a run writes only inside its checkout.)"""
    pkg = os.path.join(root, "pdf_parser_spark")
    zip_path = os.path.join(work_dir, "pdf_parser_spark.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for dirpath, _dirs, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    path = os.path.join(dirpath, fn)
                    zf.write(path, os.path.relpath(path, root))
    spark.sparkContext.addPyFile(zip_path)


def start_session(cores: int, work_dir: str, event_log_dir: str | None):
    from pdf_parser_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        # the whole heap is committed and touched at start: otherwise the
        # JVM's resident memory grows with every job G1 runs (about 100 MB
        # over eight jobs), and peak_rss_mb follows the run's length
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')} -Xms1g -XX:+AlwaysPreTouch"
        ),
        # the machine's memory is shared; the workloads need far less
        "spark.driver.memory": "1g",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }
    if event_log_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while len(M.descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def fingerprint(spark, seed: int, cores: int) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": cores,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "OMP_NUM_THREADS": os.environ.get("OMP_NUM_THREADS"),
        "python": platform.python_version(),
        "jdk": spark.sparkContext._jvm.System.getProperty("java.version"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "seed": seed,
    }


def run(
    workload: str,
    seed: int,
    seconds: float,
    trace: bool,
    cores: int,
    root: str,
    work_dir: str,
    scale: float = 1.0,
    spark=None,
) -> tuple[dict, dict]:
    """One benchmark run → (report, result line). With ``spark`` given
    the caller owns the session (its start is then not in setup_s)."""
    steal_start = M.cpu_times()
    wl = WORKLOADS[workload](seed, scale, work_dir)
    t = time.perf_counter()
    wl.generate()
    wl.expect()
    prepare_s = time.perf_counter() - t

    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work_dir, d), exist_ok=True)
    own_session = spark is None
    t = time.perf_counter()
    if own_session:
        spark = start_session(cores, work_dir, os.path.join(work_dir, "eventlog") if trace else None)
        ship_package(spark, root, work_dir)
    try:
        # one job over a small corpus of the workload's own: starts the
        # Python worker pool, imports the package there, compiles the plan;
        # then untimed full-size jobs while the JVM compiles their hot
        # paths, each checked like a timed one. The check also gives the
        # first timed job the same pause before it as every later one.
        wl.warm(spark)
        check_s = 0.0
        warm_attempted = warm_failed = 0
        for _ in range(WARM_JOBS):
            wl.before_iteration()
            wl.run_once(spark)
            c = time.perf_counter()
            a, f = wl.check()
            check_s += time.perf_counter() - c
            warm_attempted += a
            warm_failed += f
        setup_s = time.perf_counter() - t - check_s
        report = measure_jobs(spark, wl, seconds, trace, cores, work_dir)
        report["attempted"] += warm_attempted
        report["failed"] += warm_failed
        report["fingerprint"] = fingerprint(spark, seed, cores)
    finally:
        if own_session:
            stop_session(spark)
    report["fingerprint"]["steal_frac"] = M.steal_frac(steal_start, M.cpu_times())
    report.update(
        workload=workload,
        trace=int(trace),
        input_digest=wl.input_digest,
        docs=wl.n_docs,
        pages=wl.n_pages,
        prepare_s=prepare_s,
    )
    e2e = report["end_to_end"]
    e2e["setup_s"] = setup_s
    attempted, failed = report["attempted"], report["failed"]
    e2e["err_frac"] = failed / attempted
    e2e_units = metric_units(root, "end_to_end")
    if trace:
        # a layer the workload does not run reads 0
        layers = report["per_layer"]
        metrics = {
            k: {"value": layers.get(k, 0.0), "unit": u}
            for k, u in metric_units(root, "per_layer").items()
        }
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
    report["end_to_end_units"] = {**e2e_units, **REPORT_ONLY_UNITS}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return report, result


def measure_jobs(spark, wl, seconds, trace, cores, work_dir) -> dict:
    """The closed loop: jobs back to back until ``seconds`` of job time
    is measured and at least ``MIN_JOBS`` jobs ran, each checked after it
    ends. A traced run alternates untraced and traced jobs, so both see
    the same warm-up drift."""
    run_id = uuid.uuid4().hex[:8]
    tracer = M.Tracer(run_id) if trace else None
    sc = spark.sparkContext
    jobs = []
    attempted = failed = 0
    with M.MemorySampler(os.getpid()) as mem:
        measured = 0.0
        while measured < seconds or len(jobs) < MIN_JOBS or (trace and not jobs[-1]["traced"]):
            traced = trace and len(jobs) % 2 == 1
            wl.before_iteration()
            group = f"perfbench-{run_id}-{len(jobs)}"
            sc.setJobGroup(group, group)
            plans_before = M.sql_execution_count(spark)
            cpu = M.tree_cpu_s(os.getpid())
            steal = M.cpu_times()
            mem.active.set()
            t = time.perf_counter()
            extra = wl.run_once(spark, tracer if traced else None)
            wall = time.perf_counter() - t
            mem.active.clear()
            steal = M.steal_frac(steal, M.cpu_times())
            cpu = M.tree_cpu_s(os.getpid()) - cpu
            measured += wall
            n_jobs, n_stages = M.group_jobs_stages(spark, group)
            a, f = wl.check()
            attempted += a
            failed += f
            jobs.append(
                {
                    "wall_s": wall,
                    "cpu_s": cpu,
                    "steal_frac": steal,
                    "traced": traced,
                    "group": group,
                    "jobs": n_jobs,
                    "stages": n_stages,
                    "plans": M.sql_plan_hashes(spark, plans_before, work_dir),
                    "failed": f,
                    "extra": extra,
                }
            )
        peak_rss_mb = mem.peak_mb

    timed = [j for j in jobs if not j["traced"]]
    walls = [j["wall_s"] for j in timed]
    e2e = {
        "wall_s": statistics.median(walls),
        "cpu_s": statistics.median(j["cpu_s"] for j in timed),
        "docs_per_s": wl.n_docs / statistics.median(walls),
        "pages_per_s": wl.n_pages / statistics.median(walls),
        "peak_rss_mb": peak_rss_mb,
    }
    recover = [j["extra"]["recover_s"] for j in timed if "recover_s" in j["extra"]]
    if recover:
        e2e["recover_s"] = statistics.median(recover)

    report = {
        "end_to_end": e2e,
        "attempted": attempted,
        "failed": failed,
        "jobs": [
            {
                **{k: j[k] for k in ("wall_s", "cpu_s", "steal_frac", "traced", "jobs", "stages", "plans", "failed")},
                **{k: v for k, v in j["extra"].items() if isinstance(v, float)},
            }
            for j in jobs
        ],
    }
    if trace:
        report["per_layer"], a, f = per_layer(spark, wl, tracer, jobs, cores, work_dir)
        report["attempted"] += a
        report["failed"] += f
    return report


def per_layer(spark, wl, tracer, jobs, cores, work_dir) -> tuple[dict, int, int]:
    """Per-layer metrics of a traced run, with the outputs its isolation
    steps checked and found wrong."""
    traced = [j for j in jobs if j["traced"]]
    untraced = [j for j in jobs if not j["traced"]]
    # the session's own event log (a traced session is started with one)
    log_dir = spark.sparkContext.getConf().get("spark.eventLog.dir").removeprefix("file:")
    events = M.read_event_log(log_dir)
    stats = [M.group_task_stats(events, j["group"], j["wall_s"], cores) for j in traced]
    out = {
        f"spark.{k}": statistics.median(s[k] for s in stats)
        for k in stats[0]
    }
    out["spark.jobs"] = statistics.median(j["jobs"] for j in traced)
    out["spark.stages"] = statistics.median(j["stages"] for j in traced)
    out["trace.overhead_frac"] = statistics.median(j["wall_s"] for j in traced) / statistics.median(
        j["wall_s"] for j in untraced
    )
    out.update(wl.iteration_layers([j["extra"] for j in traced]))
    layers, attempted, failed = wl.layers(spark, tracer, cores)
    out.update(layers)
    tracer.dump(os.path.join(os.path.dirname(work_dir), "traces", f"{wl.name}-{tracer.run_id}.jsonl"))
    return out, attempted, failed


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pdf_parser_spark", "plans", "extract.py")):
        print(f"perfbench: no pdf_parser_spark package under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench")
    work_dir = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    # keep every temporary file of Python, the JVM and Spark in the checkout
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}"
    )
    cores = len(os.sched_getaffinity(0))
    try:
        report, result = run(
            args.workload, args.seed, args.seconds, bool(args.trace), cores, root, work_dir
        )
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps({"perfbench_report": report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
