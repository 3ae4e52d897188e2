"""webextract benchmark: one workload per invocation.

    python3 perfbench/run.py --workload extract_small --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. The run starts one local Spark
session on ``local[nproc]``, synthesizes the workload's inputs from the
seed, runs one untimed first job whose outputs it checks, then a closed
loop of one job at a time for ``--seconds`` seconds (at least the
workload's ``min_jobs`` jobs). The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
second, traced loop (see ``perfbench/METRICS.md``). The line before it
is a ``{"context": ...}`` object stamping the environment and inputs.
All scratch files live under ``.perfbench_work/`` in the checkout and
are removed at exit; traced runs leave their spans and counts in
``.perfbench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3      # input synthesis repeats; setup_s takes the median
FUNC_REPS = 5       # functions-layer passes; per-stage µs/page is the median
POOL_REPS = 3       # timed Pool maps; pool_pages_per_s is the median
DRIVER_MEM = "2g"
# Workloads kept out of BENCHMARK.json to fit its time budget: each one's
# layer (pipeline.* / query.*) is measured inside the traced run of the
# listed workload. Both still run on their own with --workload.
GUESTS = {"extract_small": ("corpus_ops",), "extract_heavy": ("pipeline_write",)}
GUEST_LAYERS = ("pipeline.", "query.")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the
    checkout importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the module caches the directory of its first call
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["WEBEXTRACT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path[:0] = [ROOT]


def start_spark(work: str, cores: int):
    from webextract.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata files outside the run's directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and end the JVM it launched; its Python workers
    are reaped by :func:`reap_children`."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # a later session in this process launches a fresh gateway
    SparkContext._gateway = None
    SparkContext._jvm = None


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt every orphaned descendant. PySpark's worker daemon runs in
    its own process group and exits right after signalling its forked
    workers, so they outlive it; as this process's children they are
    reaped by :func:`reap_children` instead of lingering after exit."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


@contextmanager
def children_reaped():
    """Run the block as a subreaper and leave it with no child process."""
    become_subreaper()
    try:
        yield
    finally:
        reap_children()


def reap_children(grace_s: float = 20.0) -> None:
    """Wait until this process has no child left, alive or exited,
    killing those still running after ``grace_s`` seconds (with the
    subreaper set, orphaned grandchildren become children here)."""
    import harvest

    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in harvest.descendants(os.getpid()):
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def warm_up(workload, ctx) -> None:
    """The untimed first job (its outputs are checked later), then
    ``settle_jobs`` discarded timed-path jobs while the JIT settles."""
    workload.warm_up(ctx)
    for _ in range(workload.settle_jobs):
        workload.job(ctx)


def job_loop(workload, ctx, seconds: float, min_jobs: int) -> list:
    """Closed loop: the next job starts when the previous one ended."""
    runs = []
    t_end = time.perf_counter() + seconds
    while len(runs) < min_jobs or time.perf_counter() < t_end:
        result, dt = timed(workload.job, ctx)
        result.parts.setdefault("wall", dt)
        runs.append(result)
    return runs


def median_of(runs: list, key: str) -> float:
    return statistics.median(r.parts[key] for r in runs)


def env_stamp(spark, cores: int, args, workload, ctx) -> dict:
    import pyarrow
    import pyspark

    conf = spark.conf
    return {
        "workload": workload.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores,
        "master": spark.sparkContext.master,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "max_records_per_batch": int(conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
        "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
        "sf_docs": getattr(workload, "n_docs", None),
        "replicas": getattr(workload, "replicas", None),
        "page_mix": workload.mix(ctx),
    }


def e2e_metrics(runs, setup_s: float, rss_kb: int, check) -> dict:
    wall = median_of(runs, "wall")
    return {
        "pages_per_s": runs[0].pages / wall,
        "html_mb_per_s": runs[0].html_bytes / 1e6 / wall,
        "wall_s": wall,
        "setup_s": setup_s,
        "worker_rss_peak_mb": rss_kb / 1024,
        "ok_ratio": (check.attempted - check.failed) / check.attempted,
    }


def traced_jobs(workload, ctx, tracer, cores: int, n_jobs: int) -> tuple[dict, list]:
    """Run ``n_jobs`` jobs with the plan listener registered, each under
    its own job group; per-layer numbers are medians over the jobs."""
    import harvest

    spark = ctx.spark
    sc = spark.sparkContext
    per_job: list[dict] = []
    runs = []
    with harvest.plan_listener(spark) as listener:
        for i in range(n_jobs):
            group = f"perfbench-{workload.name}-{i}"
            sc.setJobGroup(group, f"traced {workload.name} job {i}")
            with tracer.span(f"{workload.name}.job"):
                result, dt = timed(workload.job, ctx)
            sc.setLocalProperty("spark.jobGroup.id", None)
            result.parts.setdefault("wall", dt)
            runs.append(result)
            harvest.drain_listener_bus(spark)
            plan = listener.take()
            stages = harvest.stage_summary(spark, group)
            m = {
                "extract.python_total_ms": harvest.node_metric(plan, "", "pythonTotalTime"),
                "extract.boot_ms": harvest.node_metric(plan, "", "pythonBootTime"),
                "extract.init_ms": harvest.node_metric(plan, "", "pythonInitTime"),
                "extract.bytes_sent": harvest.node_metric(plan, "", "pythonDataSent"),
                "extract.bytes_received": harvest.node_metric(plan, "", "pythonDataReceived"),
                "scan.time_ms": harvest.node_metric(plan, "Scan parquet", "scanTime"),
                "scan.bytes": harvest.node_metric(plan, "Scan parquet", "filesSize"),
                "stage.tasks": stages.get("tasks", 0),
                "stage.core_busy_ratio": stages.get("run_ms", 0) / (result.parts["wall"] * 1000 * cores),
                "stage.gc_ms": stages.get("gc_ms", 0),
                "stage.spill_bytes": stages.get("spill_bytes", 0),
                "shuffle.write_bytes": stages.get("shuffle_write_bytes", 0),
                "shuffle.read_bytes": stages.get("shuffle_read_bytes", 0),
                **{f"stage.{k}": v for k, v in harvest.summarize_tasks(stages.get("task_ms", [])).items()},
                **{k: v for k, v in result.parts.items() if k.startswith("query.")},
            }
            per_job.append(m)
            tracer.count(f"{workload.name}.jobs")
            tracer.count(f"{workload.name}.pages", result.pages)
            for k in ("extract.bytes_sent", "shuffle.write_bytes", "stage.tasks"):
                tracer.count(f"{workload.name}.{k}", m[k])
        if listener.errors:
            raise RuntimeError(f"plan harvest failed: {listener.errors[:3]}")
    layers = {k: statistics.median(float(m[k]) for m in per_job) for k in per_job[0]}
    layers.update(getattr(workload, "layer", {}))
    return layers, runs


def functions_layer(workload, ctx, tracer, cores: int) -> dict:
    """Per-stage µs/page, page shape and the Pool ceiling over the
    workload's own sampled pages."""
    import funcpass

    layers = {}
    sample = workload.sample_htmls(ctx, workload.func_sample)
    with tracer.span("functions.stages"):
        layers.update(funcpass.stage_costs(sample, FUNC_REPS))
    with tracer.span("functions.shape"):
        layers.update(funcpass.page_shape(sample))
    pool_pages = workload.sample_htmls(ctx, workload.pool_sample)
    with tracer.span("functions.pool"):
        layers["functions.pool_pages_per_s"] = funcpass.pool_ceiling(pool_pages, cores, POOL_REPS)
    tracer.count("functions.pages", len(sample) * FUNC_REPS)
    return layers


def guest_layers(name: str, spark, work: str, seed: int, cores: int, tracer):
    """A workload left out of BENCHMARK.json (see GUESTS), run once
    inside another workload's traced run: its layer numbers and check."""
    from workloads import WORKLOADS, Ctx

    guest = WORKLOADS[name]()
    ctx = Ctx(spark, os.path.join(work, name), seed, cores)
    with tracer.span(f"{name}.setup"):
        guest.synthesize(ctx)
        guest.warm_up(ctx)
    layers, _ = traced_jobs(guest, ctx, tracer, cores, 1)
    return {k: v for k, v in layers.items() if k.startswith(GUEST_LAYERS)}, guest.check(ctx)


def run(args) -> tuple[dict, dict]:
    import harvest
    import spec
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload]()
    cores = nproc()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    tracer = harvest.Tracer()
    spark = None
    with harvest.WorkerRssSampler() as rss:
        try:
            spark, session_s = timed(start_spark, work, cores)
            ctx = Ctx(spark, os.path.join(work, "data"), args.seed, cores)
            synth = [timed(workload.synthesize, ctx)[1] for _ in range(SETUP_REPS)]
            _, warmup_s = timed(warm_up, workload, ctx)
            setup_s = session_s + statistics.median(synth) + warmup_s
            runs = job_loop(workload, ctx, args.seconds, workload.min_jobs)
            check = workload.check(ctx)
            values = e2e_metrics(runs, setup_s, rss.peak_kb, check)
            context = env_stamp(spark, cores, args, workload, ctx)
            context.update(
                job_walls=[r.parts["wall"] for r in runs],
                failed_ratio=check.failed / check.attempted,
                check_notes=check.notes[:20],
                setup_parts={"session_s": session_s, "synth_s": synth, "warmup_s": warmup_s},
            )
            if args.trace:
                e2e, values = values, {
                    "session.start_s": session_s,
                    "setup.synth_s": statistics.median(synth),
                    "setup.warmup_s": warmup_s,
                }
                layers, traced = traced_jobs(workload, ctx, tracer, cores, workload.min_jobs)
                values.update(layers)
                values["trace.overhead_ratio"] = median_of(traced, "wall") / e2e["wall_s"]
                if workload.extracts:
                    values.update(functions_layer(workload, ctx, tracer, cores))
                    values["extract.overhead_ratio"] = values["extract.python_total_ms"] * 1000 / (
                        traced[0].pages * values["functions.extract_page_us"]
                    )
                    values["engine_over_ceiling"] = e2e["pages_per_s"] / values["functions.pool_pages_per_s"]
                for name in GUESTS.get(workload.name, ()):
                    guest_values, guest_check = guest_layers(name, spark, work, args.seed, cores, tracer)
                    values.update(guest_values)
                    check.attempted += guest_check.attempted
                    check.failed += guest_check.failed
                    context["check_notes"] += guest_check.notes[:20]
        finally:
            if spark is not None:
                stop_spark(spark)
            shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        tracer.write(os.path.join(ROOT, ".perfbench_traces", f"{args.workload}-{args.seed}-{tracer.run_id}.json"))
    result = {
        "correct": check.failed == 0,
        "attempted": check.attempted,
        "failed": check.failed,
        "metrics": spec.render(values, bool(args.trace)),
    }
    return result, context


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "webextract", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(f"perfbench: {ROOT} holds no webextract source tree to measure", file=sys.stderr)
        return 2
    # a SIGTERM unwinds through the clean-up like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with children_reaped():
        result, context = run(args)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
